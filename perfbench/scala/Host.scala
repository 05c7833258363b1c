package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The benchmark's side of the JVM: runs one workload against the
  * system in process and writes what it measured to a JSON file for
  * `run.py` to reduce. Pipeline workloads talk to `run.py` over
  * stdin/stdout lines (`@@ <event> <args>` out, one command per line in)
  * so that a separate generator process can be pointed at the ports
  * this side opens.
  *
  * Usage: Host workload=<name> seed=<n> seconds=<s> trace=<0|1>
  *   out=<result.json> run=<scratch dir> [data=<dir>] [prints=<file>] ... */
object Host {

  final case class Cfg(args: Map[String, String]) {
    def workload: String = args("workload")
    def seed: Long = args("seed").toLong
    def seconds: Double = args("seconds").toDouble
    def trace: Boolean = args.get("trace").contains("1")
    def out: String = args("out")
    def runDir: String = args("run")
    def dataDir: String = args("data")
    def setupRounds: Int = args.getOrElse("setup_rounds", "3").toInt
    def int(k: String): Int = args(k).toInt
    /** name -> expected print, from lines `name rows hash`. */
    def fingerprints: Map[String, Fingerprint.Print] =
      scala.io.Source.fromFile(args("prints"), "UTF-8").getLines()
        .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l => val Array(n, r, h) = l.split("\\s+"); n -> Fingerprint.Print(r.toLong, h) }
        .toMap
  }

  val cores: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  /** Sends one protocol line to run.py. */
  def emit(event: String, args: Any*): Unit = synchronized {
    println(("@@" +: event +: args.map(_.toString)).mkString(" "))
    Console.out.flush()
  }

  private lazy val stdin =
    new java.io.BufferedReader(new java.io.InputStreamReader(System.in, StandardCharsets.UTF_8))

  /** Blocks for run.py's next command line, split on spaces. */
  def command(): Seq[String] = {
    val l = stdin.readLine()
    require(l != null, "run.py closed the command channel")
    l.trim.split(" ").toSeq
  }

  /** Heap still in use after full collections. */
  def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    mem.getHeapMemoryUsage.getUsed / 1e6
  }

  def writeSpans(cfg: Cfg, spans: Spans): Unit =
    cfg.args.get("spans").foreach(p =>
      Files.write(Paths.get(p), spans.json.getBytes(StandardCharsets.UTF_8)))

  /** Ends this JVM if run.py goes away, so no run outlives run.py. */
  private def exitWithParent(): Unit = {
    val parent = ProcessHandle.current().parent()
    val t = new Thread(() => {
      while (parent.map[Boolean](_.isAlive).orElse(false)) Thread.sleep(500)
      Runtime.getRuntime.halt(3)
    }, "perfbench-parent-watch")
    t.setDaemon(true)
    t.start()
  }

  def main(argv: Array[String]): Unit = {
    exitWithParent()
    val cfg = Cfg(argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap)
    val json = cfg.workload match {
      case "catalog" => CatalogRun.run(cfg)
      case "lambda_serve" => PipelineRun.serve(cfg)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    Files.write(Paths.get(cfg.out), json.getBytes(StandardCharsets.UTF_8))
    emit("done")
    // streaming and HTTP threads are not all daemons
    System.exit(0)
  }
}
