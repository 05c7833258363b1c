package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.core.PersistedMemo

/** The `catalog` workload: one client running the catalog queries in
  * process, each after the last, the way a Spark driver program does.
  *
  * Set-up is a fresh session plus one untimed pass over every query
  * (codegen, memo builds, first planning), repeated three times. The
  * last session then runs two more untimed passes, because the JIT is
  * still speeding passes up by a fifth after set-up. The timed part then
  * runs whole passes, each in its own seed-permuted order, until the
  * run's seconds are spent (at least three passes).
  * Each query is split into build (`SparkEntry.queries(q)(spark, dir)`),
  * plan (`queryExecution.executedPlan`) and execute (`collect()`, which
  * consumes every column of every row), and its rows are checked
  * against the stored fingerprint.
  *
  * Traced, every other pass runs with a scheduler listener attached and
  * spans recorded, and the pass-time gap between the two kinds of pass
  * is the tracing overhead. */
object CatalogRun {

  final case class Sample(query: String, pass: Int, traced: Boolean,
      buildMs: Double, planMs: Double, execMs: Double, ok: Boolean, error: String)

  val WarmPasses = 2

  def run(cfg: Host.Cfg): String = {
    val expected = cfg.fingerprints
    val names = expected.keys.toSeq.sorted
    val rnd = new java.util.Random(cfg.seed)
    def order(): Seq[String] = {
      val a = new java.util.ArrayList[String](names.size)
      names.foreach(a.add)
      java.util.Collections.shuffle(a, rnd)
      scala.jdk.CollectionConverters.ListHasAsScala(a).asScala.toSeq
    }
    val queries = graft.SparkEntry.queries
    val missing = names.filterNot(queries.contains)
    require(missing.isEmpty, s"catalog has no query named ${missing.mkString(", ")}")

    // ---- set-up, three times: fresh session + one untimed pass
    val setups = ArrayBuffer.empty[Double]
    val memoBuild = ArrayBuffer.empty[Double]
    val warmFailures = ArrayBuffer.empty[String]
    var spark: SparkSession = null
    for (round <- 1 to cfg.setupRounds) {
      if (spark != null) { PersistedMemo.clearAll(); spark.stop() }
      val built0 = PersistedMemo.buildReport().map(_._2).sum
      val t0 = System.nanoTime()
      spark = graft.ToolSession.build(cfg.dataDir, "perfbench-catalog")
      order().foreach { q =>
        try queries(q)(spark, cfg.dataDir).collect()
        catch { case NonFatal(e) => warmFailures += s"$q: $e" }
      }
      setups += (System.nanoTime() - t0) / 1e9
      memoBuild += PersistedMemo.buildReport().map(_._2).sum - built0
      Host.log(f"setup $round: ${setups.last}%.2f s")
    }

    // ---- warm-up: untimed passes in the session the timed passes use
    for (_ <- 1 to WarmPasses; q <- order()) {
      try queries(q)(spark, cfg.dataDir).collect()
      catch { case NonFatal(e) => warmFailures += s"$q: $e" }
    }

    // ---- timed passes
    val sc = spark.sparkContext
    val spans = new Spans(cfg.trace)
    val off = new Spans(false)
    val listener = new JobListener(spans)
    val samples = ArrayBuffer.empty[Sample]
    val passWall = ArrayBuffer.empty[(Boolean, Double)]
    val t0 = System.nanoTime()
    var pass = 0
    while (pass < 3 || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      pass += 1
      val traced = cfg.trace && pass % 2 == 1
      val s = if (traced) spans else off
      if (traced) sc.addSparkListener(listener)
      val p0 = System.nanoTime()
      order().foreach { q =>
        val group = s"q:$q:$pass"
        sc.setJobGroup(group, q)
        val qid = s.newId()
        val start = Clock.ms
        var df: DataFrame = null
        var rows: Array[org.apache.spark.sql.Row] = null
        var err = ""
        val tb = Clock.ms
        var tp = tb; var te = tb; var tx = tb
        try {
          df = queries(q)(spark, cfg.dataDir)
          tp = Clock.ms
          df.queryExecution.executedPlan
          te = Clock.ms
          rows = df.collect()
          tx = Clock.ms
        } catch { case NonFatal(e) => err = e.toString; tx = Clock.ms }
        s.add(qid, 0L, "query", group, start, tx)
        s.add(s.newId(), qid, "build", group, tb, tp)
        if (df != null) s.add(s.newId(), qid, "plan", group, tp, te)
        if (rows != null) s.add(s.newId(), qid, "execute", group, te, tx)
        val ok = rows != null && {
          val got = Fingerprint.of(rows)
          val want = expected(q)
          if (got != want) err = s"fingerprint ${got.json} != expected ${want.json}"
          got == want
        }
        if (!ok) Host.log(s"query $q pass $pass failed: $err")
        samples += Sample(q, pass, traced, tp - tb, te - tp, tx - te, ok, err)
      }
      sc.clearJobGroup()
      passWall += traced -> (System.nanoTime() - p0) / 1e9
      if (traced) { listener.settle(); sc.removeSparkListener(listener) }
    }
    val memoBytes = PersistedMemo.report().map(_._3).filter(_ > 0).sum
    val memoEntries = PersistedMemo.size
    val memMb = Host.retainedHeapMb()

    def sampleJson(x: Sample): String = Json(Map(
      "query" -> x.query, "pass" -> x.pass, "traced" -> x.traced,
      "build_ms" -> x.buildMs, "plan_ms" -> x.planMs, "exec_ms" -> x.execMs,
      "ok" -> x.ok, "error" -> x.error))
    if (cfg.trace) Host.writeSpans(cfg, spans)
    val json = Json(Map(
      "workload" -> "catalog",
      "cores" -> Host.cores,
      "setup_s" -> setups.toSeq,
      "warm_passes" -> WarmPasses,
      "memo_build_s" -> memoBuild.toSeq,
      "warm_failures" -> warmFailures.toSeq,
      "samples" -> Json.Raw(samples.map(sampleJson).mkString("[", ",\n", "]")),
      "pass_wall_s" -> passWall.map { case (t, w) => Json.Raw(Json(Map("traced" -> t, "s" -> w))) }.toSeq,
      "groups" -> listener.json,
      "memo_bytes" -> memoBytes,
      "memo_entries" -> memoEntries,
      "trace_hook_ms" -> spans.hookNanos.get / 1e6,
      "mem_mb" -> memMb))
    PersistedMemo.clearAll()
    spark.stop()
    json
  }
}
