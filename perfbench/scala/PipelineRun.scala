package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try
import scala.util.control.NonFatal

import org.apache.spark.ml.classification.RandomForestClassificationModel
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.core.{Entry, SensorMeta}
import graft.ml.AnomalyForest
import graft.operators.Anomaly
import graft.serve.HttpShim
import graft.sources.broker.{Broker, BrokerSourceProvider, MiniBroker, MqttBridge}
import graft.streaming.{AnalysisStream, EntryLogCompactor, IngestStream, Serving, SnapshotStore}

/** The `lambda_serve` workload: the reference dataflow assembled from the
  * system's public pieces, fed over MQTT and read over HTTP by the
  * generator process that `run.py` points at the ports opened here.
  * Everything the benchmark learns about a layer it learns by timing
  * its calls from out here, from the streams' own progress events, and,
  * traced, from the scheduler's job events. */
object PipelineRun {

  val Topic = "sensors/power"

  final case class Call(phase: String, name: String, start: Double, end: Double,
      n: Long = 0L)

  /** Everything the background loops observe, across all rounds. */
  final class Recorder {
    @volatile var phase = "setup1"
    val calls = new ConcurrentLinkedQueue[Call]()
    val lag = new ConcurrentLinkedQueue[(String, String, Long)]()
    val snapshotUs = new ConcurrentLinkedQueue[java.lang.Double]()
    val errors = new ConcurrentLinkedQueue[String]()
    def call(name: String, start: Double, n: Long = 0L): Unit =
      calls.add(Call(phase, name, start, Clock.ms, n))
  }

  /** The live models, shipped inside each micro-batch's tasks: a refit
    * takes effect from the next micro-batch on. */
  final class Models extends Serializable {
    @volatile var current = Map.empty[String, RandomForestClassificationModel]
  }

  def scorerOf(ref: Models): String => Option[Double => Double] = s =>
    ref.current.get(s).map(m => (v: Double) =>
      m.predictProbability(org.apache.spark.ml.linalg.Vectors.dense(v))(1))

  def session(cfg: Host.Cfg): SparkSession = {
    val cores = Host.cores
    // FAIR with a background pool, as a serving deployment runs it:
    // micro-batches and HTTP work must not queue behind refit stages
    val pools = Paths.get(cfg.runDir, "pools.xml")
    Files.write(pools,
      s"""<?xml version="1.0"?>
         |<allocations>
         |  <pool name="default"><schedulingMode>FAIR</schedulingMode><weight>4</weight><minShare>${math.max(1, cores / 2)}</minShare></pool>
         |  <pool name="background"><schedulingMode>FIFO</schedulingMode><weight>1</weight><minShare>0</minShare></pool>
         |</allocations>""".stripMargin.getBytes(StandardCharsets.UTF_8))
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${cfg.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.scheduler.mode", "FAIR")
      .config("spark.scheduler.allocation.file", pools.toUri.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One live instance of the dataflow under `root`: ingest, the speed
    * layer, the history writer, the refit and compaction loops and the
    * HTTP shim. */
  final class Pipeline(spark: SparkSession, val root: String,
      progress: ProgressListener, jobs: Option[JobListener], spans: Spans,
      rec: Recorder, refitWindow: Int, refitGapMs: Long, tickGapMs: Long) {
    private val sc = spark.sparkContext
    private val tag = Paths.get(root).getFileName.toString
    Broker.clear()
    SnapshotStore.clear()
    val broker = new MiniBroker
    private val bridge = MqttBridge.start("127.0.0.1", broker.port, Topic)
    val entryDir = s"$root/entries"
    private def named(q: StreamingQuery, name: String): StreamingQuery = {
      progress.names.put(q.id, name); q
    }
    private val ingest = named(IngestStream.start(
      spark.readStream.format(classOf[BrokerSourceProvider].getName).load(),
      entryDir, s"$root/ingest_ckpt", compactLog = true), "ingest")
    val compactor = new EntryLogCompactor(spark, entryDir, s"$root/compacted",
      foldThreshold = 8, layoutPartitionBy = Seq("sensor"))

    private val modelRef = new Models
    def models: Map[String, RandomForestClassificationModel] = modelRef.current
    @volatile private var stopped = false
    @volatile private var live = false
    /** Goes live (a warm-up cycle before the timed window): compaction
      * ticks and the refit gap count from here. */
    def goLive(): Unit = live = true
    private val threads = ArrayBuffer.empty[Thread]
    private def loop(name: String, pool: String)(body: => Unit): Unit = {
      val t = new Thread(() => {
        if (pool != null) sc.setLocalProperty("spark.scheduler.pool", pool)
        while (!stopped) {
          try body
          catch { case NonFatal(e) => if (!stopped) {
            rec.errors.add(s"$name: $e")
            Host.log(s"$name failed: $e")
            nap(500)
          } }
        }
      }, s"perfbench-$name")
      t.setDaemon(true)
      t.start()
      threads += t
    }
    private def nap(ms: Long): Unit = {
      var left = ms
      while (left > 0 && !stopped) { val s = math.min(left, 20L); Thread.sleep(s); left -= s }
    }

    /** The speed layer reads the topic itself, as the reference's
      * consumer does; stamps are taken at this consumer like ingest's. */
    private def topicEntries() = {
      import spark.implicits._
      graft.functions.GraftFunctions.register(spark)
      spark.readStream.format(classOf[BrokerSourceProvider].getName).load()
        .withColumn("ts", timestamp_micros(expr(
          "graft_record_stamp(unix_micros(current_timestamp()))")))
        .select($"sensor", $"ts", $"value", $"anomaly")
        .as[Entry]
    }
    private val scorer = scorerOf(modelRef)

    private val streams: Seq[StreamingQuery] = Seq(ingest,
      named(AnalysisStream.start(topicEntries(), s"$root/analysis", s"$root/analysis_ckpt",
        recentN = 200, scorer = scorer,
        trigger = Trigger.ProcessingTime("1 second")), "analysis"),
      named(AnalysisStream.startTx(topicEntries(), s"$root/analysis_tx", s"$root/history_ckpt",
        recentN = 200, scorer = scorer, trigger = Trigger.ProcessingTime("5 seconds"),
        updateSnapshot = false), "history"))

    private val refits = new AtomicLong
    /** One refit over the compacted log, recorded as a call and a span. */
    def refit(window: Int): Map[String, RandomForestClassificationModel] = {
      val group = s"refit:$tag:${refits.incrementAndGet()}"
      sc.setJobGroup(group, "refit")
      val t0 = Clock.ms
      try spans.time("refit", group) { id =>
        jobs.foreach(_.parentFor(group, id))
        val m = AnomalyForest.train(compactor.read(), fullWindow = window)
        rec.call("refit", t0, m.size.toLong)
        Host.log(f"refit ${(Clock.ms - t0) / 1000}%.2f s, ${m.size} models")
        m
      } finally sc.clearJobGroup()
    }

    /** One refit that replaces the live models; returns how many it made. */
    def refitNow(): Int = {
      val m = refit(refitWindow)
      if (m.nonEmpty) modelRef.current = m
      m.size
    }

    private val ticks = new AtomicLong
    def tick(): Int = {
      val group = s"compact:$tag:${ticks.incrementAndGet()}"
      sc.setJobGroup(group, "compact")
      val t0 = Clock.ms
      try spans.time("compact", group) { id =>
        jobs.foreach(_.parentFor(group, id))
        val n = compactor.tick()
        rec.call("compact", t0, n.toLong)
        n
      } finally sc.clearJobGroup()
    }

    private val fulls = new AtomicLong
    /** The `/` route: the reference's on-demand full analysis over the
      * compacted log, scored with the current models, timed in the same
      * build / plan / execute phases as a catalog query. */
    private def fullAnalysis(): Seq[SensorMeta] = {
      import spark.implicits._
      val group = s"full:$tag:${fulls.incrementAndGet()}"
      sc.setJobGroup(group, "full")
      try {
        val tb = Clock.ms
        val entries = compactor.read()
        val fast = Anomaly.fastAnalysis(Anomaly.recentWindow(entries, 200))
        val latest = entries.groupBy(col("sensor"))
          .agg(max_by(col("value"), col("ts")).as("value"))
        val df = Anomaly.analysis(fast, AnomalyForest.scoreLatest(models, latest)).as[SensorMeta]
        val tp = Clock.ms
        df.queryExecution.executedPlan
        val te = Clock.ms
        val metas = df.collect().toSeq
        val tx = Clock.ms
        val id = spans.newId()
        spans.add(id, 0L, "full", group, tb, tx)
        Seq(("build", tb, tp), ("plan", tp, te), ("execute", te, tx)).foreach {
          case (phase, a, b) =>
            spans.add(spans.newId(), id, phase, group, a, b)
            rec.calls.add(Call(rec.phase, s"full.$phase", a, b))
        }
        rec.calls.add(Call(rec.phase, "full", tb, tx))
        metas
      } finally sc.clearJobGroup()
    }

    private val shim = new HttpShim(fullAnalyze = () => fullAnalysis(),
      history = n => SnapshotStore.all.take(n))
    val httpPort: Int = shim.start()

    // broker lag per consumer, sampled in every mode
    loop("lag", null) {
      val size = Broker.size.toLong
      Seq("ingest", "analysis").foreach(s => rec.lag.add((rec.phase, s, size - math.max(0L, progress.committed(s)))))
      nap(100)
    }
    // refits until the first model exists, then once per refit gap
    // counted from going live
    loop("refit", "background") {
      if (progress.committed("ingest") <= 0) nap(20)
      else {
        val m = refit(refitWindow)
        if (m.nonEmpty) {
          modelRef.current = m
          while (!live && !stopped) nap(20)
          nap(refitGapMs)
        }
      }
    }
    // compaction ticks from going live on (serve runs the tick just
    // before it), as a deployment starts it after its first
    // data: a tick whose range holds only the empty micro-batch files
    // ingest can commit writes a tick dir with no rows, and every later
    // compactor.read() then fails to infer a schema
    loop("compact", "background") {
      if (!live) nap(20)
      else {
        nap(tickGapMs)
        if (!stopped) tick()
      }
    }
    if (spans.enabled) loop("snapshot", null) {
      val t0 = System.nanoTime()
      Serving.serveSnapshot()
      rec.snapshotUs.add((System.nanoTime() - t0) / 1e3)
      nap(20)
    }

    def mqttPort: Int = broker.port

    /** Stops the loops and the HTTP shim; streams keep running. */
    def quiesce(): Unit = {
      stopped = true
      threads.foreach(_.join(60000))
      shim.stop()
    }

    def close(): Unit = {
      quiesce()
      streams.foreach { q => Try(q.stop()); progress.names.remove(q.id) }
      Try(bridge.disconnect())
      Try(broker.close())
      Try(compactor.close())
      Broker.clear()
      SnapshotStore.clear()
    }
  }

  /** Every reading the generator sent (file lines
    * `offset send_ms sensor value_hex anomaly`) must sit in the entry
    * log exactly once. */
  def exactlyOnce(spark: SparkSession, entryDir: String, sentFile: String): Map[String, Any] = {
    val sent = mutable.HashMap.empty[(String, Long, Int), Int]
    val sentPerSensor = mutable.HashMap.empty[String, Long]
    scala.io.Source.fromFile(sentFile, "UTF-8").getLines().filter(_.nonEmpty).foreach { l =>
      val f = l.split(' ')
      val k = (f(2), java.lang.Double.doubleToLongBits(java.lang.Double.parseDouble(f(3))), f(4).toInt)
      sent(k) = sent.getOrElse(k, 0) + 1
      sentPerSensor(f(2)) = sentPerSensor.getOrElse(f(2), 0L) + 1
    }
    val got = mutable.HashMap.empty[(String, Long, Int), Int]
    val gotPerSensor = mutable.HashMap.empty[String, Long]
    spark.read.parquet(entryDir).select("sensor", "value", "anomaly").collect().foreach { r =>
      val k = (r.getString(0), java.lang.Double.doubleToLongBits(r.getDouble(1)), r.getInt(2))
      got(k) = got.getOrElse(k, 0) + 1
      gotPerSensor(k._1) = gotPerSensor.getOrElse(k._1, 0L) + 1
    }
    val lost = sent.map { case (k, n) => math.max(0, n - got.getOrElse(k, 0)) }.sum
    val extra = got.map { case (k, n) => math.max(0, n - sent.getOrElse(k, 0)) }.sum
    val sensorsOff = (sentPerSensor.keySet ++ gotPerSensor.keySet)
      .count(s => sentPerSensor.getOrElse(s, 0L) != gotPerSensor.getOrElse(s, 0L))
    Map("sent" -> sent.values.sum, "logged" -> got.values.sum, "lost" -> lost,
      "duplicates" -> extra, "sensors_mismatched" -> sensorsOff)
  }

  private def await(what: String, maxMs: Long)(ok: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (!ok) {
      require(System.currentTimeMillis() < deadline, s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  private def instruments(spark: SparkSession, cfg: Host.Cfg) = {
    val spans = new Spans(cfg.trace)
    val progress = new ProgressListener(spans)
    spark.streams.addListener(progress)
    val jobs = if (cfg.trace) Some(new JobListener(spans,
      id => Option(progress.names.get(java.util.UUID.fromString(id))))) else None
    jobs.foreach(spark.sparkContext.addSparkListener)
    (spans, progress, jobs)
  }

  /** `lambda_serve`: set-up is a fresh pipeline until the first snapshot
    * and the first model exist, three times. The generator then feeds the
    * last pipeline until its topic holds the backlog and pauses; once
    * ingest has drained it, one refit and one compaction tick run, so
    * every run goes live from the same logged data, the same model set
    * (every micro-batch and `/` costs more with more models) and the same
    * point of the tick cycle. It goes live 300 ms before a wall-clock
    * multiple of 5 s, where the streams' triggers (200 ms, 1 s, 5 s)
    * fire together; the generator resumes for a warm-up cycle and then
    * the run's seconds. */
  def serve(cfg: Host.Cfg): String = {
    val spark = session(cfg)
    val (spans, progress, jobs) = instruments(spark, cfg)
    val rec = new Recorder
    val setups = ArrayBuffer.empty[Double]
    var p: Pipeline = null
    for (round <- 1 to cfg.setupRounds) {
      rec.phase = s"setup$round"
      progress.batches.clear()
      val t0 = Clock.ms
      p = new Pipeline(spark, s"${cfg.runDir}/pipe$round", progress, jobs,
        spans, rec, refitWindow = cfg.int("refit_window"),
        refitGapMs = cfg.int("refit_gap_ms").toLong, tickGapMs = cfg.int("tick_gap_ms").toLong)
      Host.emit("ready", round, p.mqttPort)
      await("the first snapshot and model", 120000)(
        SnapshotStore.all.nonEmpty && p.models.nonEmpty)
      setups += (Clock.ms - t0) / 1000
      Host.log(f"setup $round: ${setups.last}%.2f s")
      Host.emit("setup", round)
      // `next`: the generator has let go of this round's broker;
      // `next <n>` (last round): it has paused after n readings
      val next = Host.command()
      if (round < cfg.setupRounds) p.close()
      else {
        rec.phase = "backlog"
        val backlog = next(1).toLong
        await("ingest to drain the backlog", 60000)(progress.committed("ingest") >= backlog)
        val made = p.refitNow()
        require(made >= cfg.int("models"),
          s"the backlog refit made $made models, not ${cfg.int("models")}")
        p.tick()
      }
    }
    // 300 ms before the triggers fire, so that the window's last readings
    // reach the history stream's batch that starts as the window ends
    Thread.sleep((4700 - System.currentTimeMillis() % 5000 + 5000) % 5000)
    rec.phase = "live"
    p.goLive()
    Host.emit("live", p.mqttPort, p.httpPort)
    val cmd = Host.command() // stop <readings sent this round> <sent file>
    val total = cmd(1).toLong
    await("the streams to drain", 60000)(
      Seq("ingest", "analysis", "history").forall(progress.committed(_) >= total))
    rec.phase = "drain"
    p.quiesce()
    val rawFiles = p.compactor.rawFileCount()
    val check = exactlyOnce(spark, p.entryDir, cmd(2))
    p.close()
    val memMb = Host.retainedHeapMb()
    jobs.foreach(_.settle())
    if (cfg.trace) Host.writeSpans(cfg, spans)
    val json = Json(Map(
      "workload" -> cfg.workload,
      "cores" -> Host.cores,
      "setup_s" -> setups.toSeq,
      "batches" -> progress.batches.asScala.toSeq.sortBy(b => (b.stream, b.batchId)).map { b =>
        Json.Raw(Json(Map("stream" -> b.stream, "batch" -> b.batchId, "start" -> b.startMs,
          "duration_ms" -> b.durationMs, "rows" -> b.rows, "start_offset" -> b.startOffset,
          "end_offset" -> b.endOffset, "state_rows" -> b.stateRows,
          "durations" -> b.durations)))
      },
      "calls" -> rec.calls.asScala.toSeq.map(c => Json.Raw(Json(Map(
        "phase" -> c.phase, "name" -> c.name, "start" -> c.start, "end" -> c.end, "n" -> c.n)))),
      "lag" -> rec.lag.asScala.toSeq.map { case (ph, s, l) => Json.Raw(Json(Seq(ph, s, l))) },
      "snapshot_us" -> rec.snapshotUs.asScala.map(_.doubleValue).toSeq,
      "groups" -> jobs.map(_.json).getOrElse(Json.Raw("{}")),
      "errors" -> (rec.errors.asScala.toSeq ++ progress.failures),
      "trace_hook_ms" -> spans.hookNanos.get / 1e6,
      "check" -> check, "raw_files_end" -> rawFiles, "mem_mb" -> memMb))
    spark.stop()
    json
  }
}
