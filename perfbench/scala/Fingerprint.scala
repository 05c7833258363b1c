package graft.perfbench

import java.math.{MathContext, BigDecimal => JBigDecimal}

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.Row

/** Order-independent fingerprint of a query result: the row count plus
  * the wrapping 64-bit sum of one hash per row, so a result compares
  * equal however its rows are partitioned or ordered, and a lost,
  * extra or duplicated row changes it.
  *
  * Each value is first brought to a canonical text form:
  *  - null has its own marker, so (null, 1) and (1, null) differ;
  *  - -0.0 and 0.0 are one value, and every NaN is one value;
  *  - finite floating-point values are rounded to 10 significant
  *    digits, because a parallel sum's last bits depend on the order
  *    its partial sums are merged in;
  *  - integral values print the same whatever their width;
  *  - strings carry their length, so no separator can be forged;
  *  - arrays keep their order, maps are sorted by their canonical keys,
  *    structs recurse. */
object Fingerprint {

  final case class Print(rows: Long, hash: String) {
    def json: String = s"""{"rows":$rows,"hash":"$hash"}"""
  }

  private val digits = new MathContext(10)

  def canonDouble(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d.isInfinite) (if (d > 0) "+Inf" else "-Inf")
    else if (d == 0.0) "0" // also -0.0
    else new JBigDecimal(d).round(digits).stripTrailingZeros.toString

  def canon(v: Any): String = v match {
    case null => "∅"
    case d: Double => canonDouble(d)
    case f: Float => canonDouble(f.toDouble)
    case b: JBigDecimal =>
      if (b.signum == 0) "0" else b.round(digits).stripTrailingZeros.toString
    case b: scala.math.BigDecimal => canon(b.bigDecimal)
    case i @ (_: Int | _: Long | _: Short | _: Byte) => i.toString
    case b: Boolean => if (b) "true" else "false"
    case s: String => s"${s.length}:$s"
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate
    case i: java.time.Instant => "t" + (i.getEpochSecond * 1000000L + i.getNano / 1000)
    case l: java.time.LocalDateTime =>
      canon(l.toInstant(java.time.ZoneOffset.UTC))
    case l: java.time.LocalDate => "d" + l
    case a: Array[Byte] => "x" + a.map(b => f"${b & 0xff}%02x").mkString
    case r: Row => r.toSeq.map(canon).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => canon(k) -> canon(x) }.sorted
        .map { case (k, x) => s"$k=$x" }.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case a: Array[_] => a.toSeq.map(canon).mkString("[", ",", "]")
    case other => other.toString
  }

  def rowHash(r: Row): Long = {
    val s = r.toSeq.map(canon).mkString("\u0001")
    (MurmurHash3.stringHash(s, 0x5bd1e995).toLong << 32) |
      (MurmurHash3.stringHash(s, 0x1b873593).toLong & 0xffffffffL)
  }

  def of(rows: Array[Row]): Print = {
    var sum = 0L
    rows.foreach(r => sum += rowHash(r))
    Print(rows.length.toLong, f"$sum%016x")
  }
}

/** Checks of the canonical forms the fingerprint rests on. Run with
  * `python3 perfbench/run.py --self-test`; exits non-zero on failure. */
object FingerprintSelfTest {
  def main(args: Array[String]): Unit = {
    import Fingerprint._
    var failures = 0
    def check(name: String, ok: Boolean): Unit = {
      println(s"${if (ok) "ok  " else "FAIL"} $name")
      if (!ok) failures += 1
    }
    val a = Row("a", 1L, 0.5)
    val b = Row("b", 2L, null)
    check("row order does not matter", of(Array(a, b)) == of(Array(b, a)))
    check("a duplicate row changes the print", of(Array(a, a)) != of(Array(a)))
    check("row count is kept", of(Array(a, b)).rows == 2L)
    check("null is not the string 'null'", of(Array(Row(null))) != of(Array(Row("null"))))
    check("null position matters",
      of(Array(Row(null, 1))) != of(Array(Row(1, null))))
    check("null is not zero", canon(null) != canon(0))
    check("-0.0 equals 0.0", of(Array(Row(-0.0))) == of(Array(Row(0.0))))
    check("NaN payloads are one value",
      canon(java.lang.Double.longBitsToDouble(0x7ff8000000000001L)) == canon(Double.NaN))
    check("NaN is not null", canon(Double.NaN) != canon(null))
    check("last-bit float noise is absorbed", canon(0.1 + 0.2) == canon(0.3))
    check("real differences are kept", canon(1.0000001) != canon(1.0))
    check("float and double agree", canon(1.5f) == canon(1.5))
    check("int and long agree", canon(7) == canon(7L))
    check("strings cannot forge a separator",
      of(Array(Row("a,b", "c"))) != of(Array(Row("a", "b,c"))))
    check("arrays keep order", canon(Seq(1, 2)) != canon(Seq(2, 1)))
    check("maps ignore insertion order",
      canon(scala.collection.immutable.ListMap("x" -> 1, "y" -> 2)) ==
        canon(scala.collection.immutable.ListMap("y" -> 2, "x" -> 1)))
    check("timestamps keep microseconds", {
      val t1 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000001")
      val t2 = java.sql.Timestamp.valueOf("2020-01-01 00:00:00.000002")
      canon(t1) != canon(t2)
    })
    check("empty result prints zero rows", of(Array.empty[Row]) == Print(0L, "0000000000000000"))
    if (failures > 0) { println(s"$failures failed"); sys.exit(1) }
    println("all fingerprint checks passed")
  }
}

/** Prints `name rows hash` for query results stored as parquet, one
  * directory per query (the layout `graft.Verify` writes):
  * FingerprintFiles <dir of result dirs> <query>... */
object FingerprintFiles {
  def main(args: Array[String]): Unit = {
    val spark = org.apache.spark.sql.SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC").getOrCreate()
    args.drop(1).sorted.foreach { q =>
      val p = Fingerprint.of(spark.read.parquet(s"${args(0)}/$q").collect())
      println(s"$q ${p.rows} ${p.hash}")
    }
    spark.stop()
  }
}
