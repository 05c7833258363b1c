package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Wall clock in epoch milliseconds with sub-millisecond resolution, on
  * the same base as Spark's event timestamps and the generator's stamps. */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms: Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

final case class Span(id: Long, parent: Long, name: String, req: String,
    start: Double, end: Double)

/** Spans kept in memory and written out when the run ends. Disabled, it
  * records nothing and hands out id 0. */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val buf = new ConcurrentLinkedQueue[Span]()
  val hookNanos = new AtomicLong(0)

  def newId(): Long = if (enabled) ids.incrementAndGet() else 0L

  def add(id: Long, parent: Long, name: String, req: String,
      start: Double, end: Double): Unit =
    if (enabled) buf.add(Span(id, parent, name, req, start, end))

  /** Times `body` as a span named `name`; `body` gets the span id so it
    * can parent children. */
  def time[T](name: String, req: String, parent: Long = 0L)(body: Long => T): T = {
    val id = newId()
    val t0 = Clock.ms
    try body(id) finally add(id, parent, name, req, t0, Clock.ms)
  }

  def all: Seq[Span] = buf.asScala.toSeq

  /** A span recorded with parent -1 (a Spark job, whose caller is only
    * known by job group) gets the innermost span of the same request
    * whose interval holds its start. */
  def resolved: Seq[Span] = {
    val spans = all
    val byReq = spans.groupBy(_.req)
    spans.map { s =>
      if (s.parent != -1L) s
      else {
        val holders = byReq.getOrElse(s.req, Nil).filter(h =>
          h.id != s.id && h.name != "job" && h.name != "stage" &&
            h.start - 1 <= s.start && s.start <= h.end + 1)
        s.copy(parent = if (holders.isEmpty) 0L else holders.minBy(h => h.end - h.start).id)
      }
    }
  }

  def json: String = resolved.sortBy(_.start).map { s =>
    s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
      s""""req":${Json.str(s.req)},"start":${Json.num(s.start)},"end":${Json.num(s.end)}}"""
  }.mkString("[", ",\n", "]")
}

/** Per job-group totals from Spark's own scheduler events. Every job a
  * call runs inherits the job group its thread set, so a group names
  * the call (a query, a refit, a `/` request) that caused the job. Jobs
  * and stages also become spans under the span registered for their
  * group. */
final class JobListener(spans: Spans,
    streamName: String => Option[String] = _ => None) extends SparkListener {
  final class Acc {
    val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
    val cpuNs = new AtomicLong; val gcMs = new AtomicLong
    val shuffleBytes = new AtomicLong; val spillBytes = new AtomicLong
    val scanBytes = new AtomicLong; val scanRows = new AtomicLong
  }
  val groups = new ConcurrentHashMap[String, Acc]()
  private val parentSpan = new ConcurrentHashMap[String, java.lang.Long]()
  private val stageOwner = new ConcurrentHashMap[Int, (String, Long)]()
  private val jobOwner = new ConcurrentHashMap[Int, (String, Long, Double)]()
  val jobsStarted = new AtomicLong
  val jobsEnded = new AtomicLong

  /** Parent span for the jobs of `group`. */
  def parentFor(group: String, spanId: Long): Unit = parentSpan.put(group, spanId)

  def acc(group: String): Acc = groups.computeIfAbsent(group, _ => new Acc)

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    try f finally spans.hookNanos.addAndGet(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobsStarted.incrementAndGet()
    // a micro-batch's jobs are named by their stream and batch id (their
    // job group is the query's run id)
    val g = Option(e.properties).flatMap { p =>
      (for {
        q <- Option(p.getProperty("sql.streaming.queryId"))
        name <- streamName(q)
        b <- Option(p.getProperty("streaming.sql.batchId"))
      } yield s"$name:$b").orElse(Option(p.getProperty("spark.jobGroup.id")))
    }.getOrElse("-")
    acc(g).jobs.incrementAndGet()
    val id = spans.newId()
    jobOwner.put(e.jobId, (g, id, e.time.toDouble))
    e.stageIds.foreach(s => stageOwner.putIfAbsent(s, (g, id)))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobsEnded.incrementAndGet()
    Option(jobOwner.remove(e.jobId)).foreach { case (g, id, t0) =>
      // -1: the parent is found at write time, by containment
      spans.add(id, Option(parentSpan.get(g)).map(_.longValue).getOrElse(-1L),
        "job", g, t0, e.time.toDouble)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val info = e.stageInfo
    Option(stageOwner.get(info.stageId)).foreach { case (g, jobSpan) =>
      acc(g).stages.incrementAndGet()
      for (s <- info.submissionTime; c <- info.completionTime)
        spans.add(spans.newId(), jobSpan, "stage", g, s.toDouble, c.toDouble)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val m = e.taskMetrics
    if (m != null) {
      val g = Option(stageOwner.get(e.stageId)).map(_._1).getOrElse("-")
      val a = acc(g)
      a.tasks.incrementAndGet()
      a.cpuNs.addAndGet(m.executorCpuTime)
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      a.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      a.scanBytes.addAndGet(m.inputMetrics.bytesRead)
      a.scanRows.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  /** Every group's totals, as JSON objects keyed by group. */
  def json: Json.Raw = Json.Raw(Json(scala.collection.immutable.ListMap(
    groups.asScala.toSeq.sortBy(_._1).map { case (g, a) => g -> Json.Raw(Json(Map(
      "jobs" -> a.jobs.get, "stages" -> a.stages.get, "tasks" -> a.tasks.get,
      "cpu_ns" -> a.cpuNs.get, "gc_ms" -> a.gcMs.get,
      "shuffle_bytes" -> a.shuffleBytes.get, "spill_bytes" -> a.spillBytes.get,
      "scan_bytes" -> a.scanBytes.get, "scan_rows" -> a.scanRows.get))) }: _*)))

  /** Waits until the asynchronous listener bus has delivered the end of
    * every job it delivered the start of. */
  def settle(maxMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    var quiet = 0
    while (quiet < 3 && System.currentTimeMillis() < deadline) {
      Thread.sleep(50)
      if (jobsStarted.get == jobsEnded.get) quiet += 1 else quiet = 0
    }
  }
}

/** One streaming micro-batch as its progress event reports it. */
final case class Batch(stream: String, batchId: Long, startMs: Double,
    durationMs: Long, rows: Long, startOffset: Long, endOffset: Long,
    durations: Map[String, Long], stateRows: Long)

/** Structured Streaming progress events, captured for every query a
  * pipeline starts (the stream name is looked up by query id). */
final class ProgressListener(spans: Spans) extends StreamingQueryListener {
  import StreamingQueryListener._
  val names = new ConcurrentHashMap[java.util.UUID, String]()
  val batches = new ConcurrentLinkedQueue[Batch]()
  @volatile var failures: List[String] = Nil

  private def offset(s: String): Long =
    Option(s).map(_.trim).filter(_.matches("-?\\d+")).map(_.toLong).getOrElse(-1L)

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
    e.exception.foreach(x => synchronized { failures = x :: failures })
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val t0 = System.nanoTime()
    val p = e.progress
    val name = Option(names.get(p.id)).getOrElse("other")
    if (p.numInputRows > 0 || p.batchDuration > 0) {
      val src = p.sources.headOption
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val durations = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val b = Batch(name, p.batchId, start, p.batchDuration, p.numInputRows,
        src.map(s => offset(s.startOffset)).getOrElse(-1L),
        src.map(s => offset(s.endOffset)).getOrElse(-1L),
        durations, p.stateOperators.headOption.map(_.numRowsTotal).getOrElse(0L))
      batches.add(b)
      if (spans.enabled) {
        // the batch span, with one child per phase Spark timed inside it,
        // laid out in the order MicroBatchExecution runs them
        val id = spans.newId()
        spans.add(id, 0L, s"$name.batch", s"$name:${p.batchId}", start, start + p.batchDuration)
        var cursor = start
        Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
          .foreach { k => durations.get(k).filter(_ > 0).foreach { d =>
            spans.add(spans.newId(), id, s"$name.$k", s"$name:${p.batchId}", cursor, cursor + d)
            cursor += d
          } }
      }
    }
    spans.hookNanos.addAndGet(System.nanoTime() - t0)
  }

  /** Highest end offset the stream has committed (-1 before its first batch). */
  def committed(stream: String): Long =
    batches.asScala.filter(_.stream == stream).map(_.endOffset).foldLeft(-1L)(math.max)
}

/** Minimal JSON writing for the run's result file. */
object Json {
  def str(s: String): String = "\"" + Option(s).getOrElse("").flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null"
    else java.lang.String.format(java.util.Locale.ROOT, "%.6f", Double.box(d))
  def apply(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case i: Int => i.toString
    case l: Long => l.toString
    case b: Boolean => b.toString
    case Raw(s) => s
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(apply).mkString("[", ",", "]")
    case o => str(o.toString)
  }
  final case class Raw(s: String)
}
