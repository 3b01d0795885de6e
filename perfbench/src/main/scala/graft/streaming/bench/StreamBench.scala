package graft.streaming.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerTaskEnd}
import org.apache.spark.sql.{Dataset, Encoders, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.streaming._
import graft.streaming.ValidationJob.EpochCommitLog

/** The Kafka source row shape (`includeHeaders = true`), fed through MemoryStream. */
final case class KafkaRow(
    key: Array[Byte],
    value: Array[Byte],
    topic: String,
    partition: Int,
    offset: Long,
    timestamp: Timestamp,
    timestampType: Int,
    headers: Seq[HriHeader])

/** Spark-engine counters from a SparkListener. */
final class EngineLog extends SparkListener {
  val jobs = new AtomicLong
  val tasks = new AtomicLong
  val runMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  def reset(): Unit = Seq(jobs, tasks, runMs, shuffleBytes).foreach(_.set(0))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

/** StreamingQueryProgress of every executed trigger. */
final class ProgressLog extends StreamingQueryListener {
  val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (e.progress.durationMs.containsKey("addBatch")) progress.add(e.progress)
  def all: Seq[StreamingQueryProgress] = progress.asScala.toSeq.sortBy(_.batchId)
}

/** One running copy of the production wiring of `ValidationJob.startKafka`
  * with Kafka left out: two MemoryStreams of Kafka-shaped rows →
  * recordEvents / notificationEvents → union → the single-level or salted
  * pipeline → foreachBatch with the EpochCommitLog and writeOutputs (K1–K4)
  * on the production 1 s processing-time trigger. */
final class Harness(spec: Spec, nproc: Int, dir: File) {
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$nproc]")
    .appName("perfbench")
    .config("spark.sql.shuffle.partitions", nproc.toString)
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.local.dir", new File(dir, "spark-local").getPath)
    .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")

  val engine = new EngineLog
  val progress = new ProgressLog
  spark.sparkContext.addSparkListener(engine)
  spark.streams.addListener(progress)

  private val enc = Encoders.product[KafkaRow]
  val records: MemoryStream[KafkaRow] = MemoryStream(spark, nproc)(enc)
  // one partition, like a single-partition notification topic (without a
  // partition count MemoryStream makes one input partition per addData call)
  val notes: MemoryStream[KafkaRow] = MemoryStream(spark, 1)(enc)
  val topics: Topics = Topics(Spec.InTopic)
  private val recOffset = new AtomicLong
  private val noteOffset = new AtomicLong

  private val validator = new TimedValidator(
    if (spec.schema) new ObservationValidator else PassthroughValidator)
  private val lookup = new BenchLookup
  private val mgmt = new BenchMgmt
  private val ckpt = new File(dir, "ckpt").getPath

  /** epoch id → (span id, start, end) of each foreachBatch call. */
  val epochs = new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long, Long)]()

  def addNotes(ns: Seq[(BatchNotification, Long)]): Unit = if (ns.nonEmpty) {
    val rows = ns.map { case (n, wallMs) =>
      KafkaRow(n.id.getBytes(UTF_8), NotificationJson.render(n).getBytes(UTF_8), topics.notification,
        0, noteOffset.getAndIncrement(), new Timestamp(wallMs), 0, Nil)
    }
    addNoteRows(rows)
  }

  /** MemoryStream.addData encodes rows with one shared serializer, so the
    * generator and the echo (on the stream thread) must not call it at once. */
  private def addNoteRows(rows: Seq[KafkaRow]): Unit = notes.synchronized(notes.addData(rows))

  private def echo(rows: Seq[(Array[Byte], Array[Byte])]): Unit = if (rows.nonEmpty) {
    val now = System.currentTimeMillis()
    addNoteRows(rows.map { case (k, v) =>
      KafkaRow(k, v, topics.notification, 0, noteOffset.getAndIncrement(), new Timestamp(now), 0, Nil)
    })
  }

  def recordRow(gen: Gen, e: Ev, createdNs: Long, sample: Boolean, wallMs: Long): KafkaRow = {
    val off = recOffset.getAndIncrement()
    val created = java.nio.ByteBuffer.allocate(8).putLong(createdNs).array()
    KafkaRow(e.key.getBytes(UTF_8), gen.payloadOf(e).bytes, topics.in, (off % nproc).toInt, off,
      new Timestamp(wallMs), 0,
      Seq(HriHeader("batchId", e.batch.getBytes(UTF_8)), HriHeader("created", created),
        HriHeader("sample", Array(if (sample) 1.toByte else 0.toByte))))
  }

  private val sink = new MemSink(topics.out, topics.invalid, echo)

  /** Data added before this call is read by the query's first trigger. */
  lazy val query: StreamingQuery = {
    val events = ValidationJob.recordEvents(records.toDF())
      .union(ValidationJob.notificationEvents(notes.toDF()))
    val outputs =
      if (spec.salts > 1)
        SaltedPipeline.pipeline(events, validator, lookup, topics.tenant, Spec.CompletionDelayMs, spec.salts)
      else
        ValidationJob.pipeline(events,
          new BatchTracker(validator, lookup, topics.tenant, Spec.CompletionDelayMs))
    val commitDir = s"$ckpt/sink-commits"
    outputs.writeStream
      .outputMode("append")
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.ProcessingTime(s"${Spec.TriggerMs} milliseconds"))
      .foreachBatch { (batch: Dataset[Output], epochId: Long) =>
        val t0 = System.nanoTime()
        val id = Probe.newSpanId()
        MemSink.epochSpan = id
        val s = batch.sparkSession
        def commitLog[T](body: => T): T = {
          val c0 = System.nanoTime()
          try body finally MemSink.stepSpan("commit_log", c0, System.nanoTime())
        }
        if (epochId > commitLog(EpochCommitLog.lastCommitted(s, commitDir))) {
          ValidationJob.writeOutputs(batch, topics, sink, Some(mgmt), epochId, commitDir)
          MemSink.takeK4().foreach { case (k0, k1) => MemSink.stepSpan("k4", k0, k1) }
          commitLog(EpochCommitLog.commit(s, commitDir, epochId))
        } else batch.foreach(_ => ())
        val t1 = System.nanoTime()
        Probe.record(id, -1L, "epoch", t0, t1)
        epochs.put(epochId, (id, t0, t1))
        ()
      }
      .start()
  }

  def stop(): Unit = {
    if (query.isActive) query.stop()
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** Runs one workload and prints the result line.
  *
  * {{{
  * StreamBench --workload <name> --seed <n> --seconds <s> --trace <0|1> --dir <work dir> [--spans <file>]
  * }}}
  */
object StreamBench {
  val SetupRepeats = 3

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val spec = Spec(args("workload"))
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val dir = new File(args("dir"))
    val nproc = Runtime.getRuntime.availableProcessors()
    val calibrationMs = Calibration.probeMs()
    System.err.println(s"perfbench: JVM up ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime} ms, calibrated")

    val gen = new Gen(spec, seed)
    val openPhase = gen.openLoop(seconds * 0.8)
    val run = new Run(spec, gen, nproc, dir)

    // set-up, several times: session start, query start and a warm-up
    // backlog up to its last consumed record; all but the last are torn down
    val setups = (1 to SetupRepeats).map { i =>
      val t0 = System.nanoTime()
      run.start(new File(dir, s"setup-$i"))
      run.warmUp()
      val s = (System.nanoTime() - t0) / 1e9
      if (i < SetupRepeats) run.stop()
      s
    }
    run.log(s"set-up done: ${setups.map(s => f"$s%.2f").mkString(", ")} s")
    run.prime()
    run.beginMeasure()
    val drains = run.throughputPhase(seconds * 0.2, trace)
    run.log("throughput phase done")
    val genStats = run.openLoop(openPhase, trace)
    run.log("open loop done")
    run.settle()
    run.log("settled")
    val report = run.report(setups, drains, genStats, openPhase, trace, seconds, calibrationMs)
    run.stop()
    run.log("stopped")
    Json.printLines(report, trace, args.get("spans").filter(_ => trace).map(new File(_)))
    System.out.flush()
    // Spark is stopped and run.py removes the work directory: skip the
    // shutdown hooks' second clean-up
    Runtime.getRuntime.halt(0)
  }
}

/** Generator-side figures of the open-loop phase. */
final case class GenStats(lagMs: Array[Double], offered: Long, seconds: Double, active: Array[Double],
    scDueNs: Map[String, Long], backlogEnd: Long)

/** One benchmark run: set-up, the throughput phase (backlog drains), the
  * open-loop phase, the correctness gate, and the report. */
final class Run(spec: Spec, gen: Gen, nproc: Int, dir: File) {
  var h: Harness = _
  private val expects = mutable.LinkedHashMap.empty[String, Expect]
  private val backlogSizes = ArrayBuffer.empty[Int]
  private var measureStartNs = 0L
  private var lateRecords = 0
  private var unknownRecords = 0

  def start(d: File): Unit = { h = new Harness(spec, nproc, d) }

  /** A progress line on stderr. */
  def log(msg: String): Unit = System.err.println(f"perfbench ${(System.nanoTime() - Run.t0) / 1e9}%.2fs: $msg")
  def stop(): Unit = if (h != null) { h.stop(); h = null }

  private def register(p: Phase): Unit =
    p.mgmtKnown.foreach(n => Probe.mgmtStore.put(n.id, NotificationJson.render(n)))

  private def awaitUntil(timeoutMs: Long)(pred: => Boolean): Boolean = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!pred && System.currentTimeMillis() < deadline) Thread.sleep(2)
    pred
  }

  /** Consumed record rows so far. */
  private def consumed: Long = Probe.rowsValid.get + Probe.rowsInvalid.get

  private def terminalsSeen(p: Phase): Boolean =
    p.expect.values.forall(e => e.notifs.isEmpty || Probe.notifs.containsKey(e.batch) &&
      Probe.puts.containsKey(e.batch))

  /** Adds the `started` notifications of a backlog's batches. They are
    * processed by the next trigger, before the backlog is released. */
  def addStarts(p: Phase): Long = {
    register(p)
    val now = System.currentTimeMillis()
    h.addNotes(p.events.flatMap(_.notif).filter(_.status == BatchStatus.Started).map(_ -> now))
    now
  }

  /** Releases a backlog whose starts were added at `startsAt`: the records
    * become available at once and the remaining notifications follow 30 ms
    * later. Returns when every record row was consumed, with the drain time
    * in seconds: from the start of the trigger that read the backlog to the
    * consumption of its last record row. */
  def release(p: Phase, startsAt: Long): Double = {
    awaitTriggerAfter(startsAt)
    val rest = p.events.filterNot(_.notif.exists(_.status == BatchStatus.Started))
    val recs = rest.filter(_.isRecord)
    val t = System.currentTimeMillis()
    val rows = recs.map(e => h.recordRow(gen, e, System.nanoTime(), sample = false, t))
    val before = consumed
    val triggersBefore = h.progress.all.size
    h.records.addData(rows)
    Thread.sleep(30)
    h.addNotes(rest.flatMap(_.notif).map(_ -> System.currentTimeMillis()))
    require(awaitUntil(120000)(consumed - before >= recs.size), s"backlog not drained: ${consumed - before}/${recs.size}")
    val end = Probe.lastConsumeNs.get
    require(awaitUntil(10000)(h.progress.all.drop(triggersBefore).exists(readsBacklog(_, recs.size))),
      "no trigger read the backlog")
    val trig = h.progress.all.drop(triggersBefore).find(readsBacklog(_, recs.size)).get
    val startNs = StreamBenchClock.nanoAtWall(java.time.Instant.parse(trig.timestamp).toEpochMilli)
    log(f"drain: ${recs.size} records in ${(end - startNs) / 1e9}%.3f s")
    (end - startNs) / 1e9
  }

  /** Waits until every batch of a backlog has its terminal notification. */
  def finish(p: Phase): Unit =
    require(awaitUntil(Spec.CompletionDelayMs + 20000)(terminalsSeen(p)), "backlog batches did not finish")

  private def readsBacklog(pr: StreamingQueryProgress, n: Int): Boolean =
    pr.sources.exists(_.numInputRows >= n)

  private val warmup = gen.backlog(-3, spec.backlogRecords / 5)

  /** The set-up's query start and warm-up: a small backlog, in place before
    * the query starts so its first trigger reads all of it, up to its last
    * consumed record. */
  def warmUp(): Unit = {
    Probe.reset()
    register(warmup)
    val t = System.currentTimeMillis()
    h.addNotes(warmup.events.flatMap(_.notif).filter(_.status == BatchStatus.Started).map(_ -> t))
    val recs = warmup.events.filter(_.isRecord)
    h.records.addData(recs.map(e => h.recordRow(gen, e, System.nanoTime(), sample = false, t)))
    h.addNotes(warmup.events.flatMap(_.notif).filter(_.status != BatchStatus.Started).map(_ -> (t + 1)))
    h.query
    require(awaitUntil(120000)(consumed >= recs.size), "warm-up not drained")
  }

  private var firstStartsAt = 0L
  private var primingRps = Seq.empty[Double]

  /** Priming drains: full-size backlogs drained before measuring, since
    * the first drains at that size still pay for compilation. The warm-up
    * batches finish meanwhile; each next backlog's starts go in before the
    * previous batches finish. */
  def prime(): Unit = {
    var startsAt = addStarts(gen.backlog(-2))
    Seq(-2, -1).foreach { i =>
      val p = gen.backlog(i)
      primingRps :+= p.records / release(p, startsAt)
      startsAt = addStarts(gen.backlog(if (i == -1) 1 else -1))
      finish(warmup)
      finish(p)
      HeapWatch.collect() // every drain starts on a collected heap
    }
    firstStartsAt = startsAt
  }

  def beginMeasure(): Unit = {
    Probe.reset()
    MemSink.steps.values.foreach(_.reset())
    h.engine.reset()
    h.progress.progress.clear()
    h.epochs.clear()
    HeapWatch.reset()
    measureStartNs = System.nanoTime()
  }

  /** Drains backlogs while another fits in `seconds`, at least three. A
    * traced run alternates untraced and traced drains (untraced, traced,
    * untraced, ...) to measure the tracing overhead. Returns (drain
    * seconds, traced, records) per drain. */
  def throughputPhase(seconds: Double, trace: Boolean): Seq[(Double, Boolean, Int)] = {
    val t0 = System.nanoTime()
    val out = ArrayBuffer.empty[(Double, Boolean, Int)]
    val minDrains = 3
    var i = 1
    var p = gen.backlog(i)
    var startsAt = firstStartsAt
    var more = true
    while (more) {
      val traced = trace && i % 2 == 0
      Probe.tracing = traced
      p.expect.foreach { case (b, e) => expects(b) = e }
      backlogSizes += p.records
      unknownRecords += unknownIn(p)
      val t1 = System.nanoTime()
      out += ((release(p, startsAt), traced, p.records))
      // another drain if it fits; its starts are processed while this one finishes
      val perDrain = (System.nanoTime() - t1) / 1e9
      more = out.size < minDrains || (System.nanoTime() - t0) / 1e9 + perDrain < seconds
      val done = p
      if (more) { i += 1; p = gen.backlog(i); startsAt = addStarts(p) }
      finish(done)
      // outside the timed drains. The epoch that emitted the last terminal
      // notification may still hold its cached output (a hot backlog's
      // worth); the sample waits for the next trigger, as settle() does.
      if (more) HeapWatch.collect()
      else { awaitTriggerAfter(System.currentTimeMillis()); HeapWatch.sample() }
    }
    Probe.tracing = trace
    out.toSeq
  }

  private def unknownIn(p: Phase): Int =
    p.expect.values.map(_.routes.collect {
      case (r, (n, _)) if r == s"invalid:${BatchTracker.UnknownBatchMessage}" => n.toInt
    }.sum).sum

  /** The open loop: events are sent on their schedule regardless of how the
    * job keeps up, every 5 ms tick; records carry their due time as the
    * creation stamp, so a stall counts against every record it delays. A
    * late record is sent once its batch's `completed` was observed. */
  def openLoop(p: Phase, trace: Boolean): GenStats = {
    register(p)
    p.expect.foreach { case (b, e) => expects(b) = e }
    lateRecords += p.lateRecords
    unknownRecords += unknownIn(p)
    val tickNs = 5000000L
    val startNs = System.nanoTime() + 50000000L
    val startWall = StreamBenchClock.wallMsAt(startNs)
    val lag = ArrayBuffer.empty[Double]
    val active = ArrayBuffer.empty[Double]
    val firstAt = mutable.HashMap.empty[String, Long]
    val lastAt = mutable.HashMap.empty[String, Long]
    p.events.foreach { e =>
      if (!firstAt.contains(e.batch)) firstAt(e.batch) = e.atUs
      if (!e.late) lastAt(e.batch) = e.atUs
    }
    val scDue = p.events.collect {
      case e if e.notif.exists(_.status == BatchStatus.SendCompleted) => e.batch -> (startNs + e.atUs * 1000)
    }.toMap
    val pendingLate = ArrayBuffer.empty[Ev]
    val consumedAtStart = consumed
    var backlogEnd = -1L
    var idx = 0
    var k = 1L
    var offered = 0L
    val endUs = p.events.lastOption.map(_.atUs).getOrElse(0L)
    val giveUpNs = startNs + endUs * 1000 + (Spec.CompletionDelayMs + 15000) * 1000000L
    while ((idx < p.events.size || pendingLate.nonEmpty) && System.nanoTime() < giveUpNs) {
      val due = startNs + k * tickNs
      val sleepNs = due - System.nanoTime()
      if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      val t = System.nanoTime()
      if (idx < p.events.size) lag += (t - due) / 1e6
      val horizonUs = (due - startNs) / 1000
      val notesOut = ArrayBuffer.empty[(BatchNotification, Long)]
      val recsOut = ArrayBuffer.empty[KafkaRow]
      while (idx < p.events.size && p.events(idx).atUs <= horizonUs) {
        val e = p.events(idx)
        val wall = startWall + e.atUs / 1000
        e.notif match {
          case Some(n) => notesOut += (n -> wall)
          case None if e.late => pendingLate += e
          case None =>
            recsOut += h.recordRow(gen, e, startNs + e.atUs * 1000, sample = true, wall)
            offered += 1
        }
        idx += 1
      }
      val ready = pendingLate.filter(e => Probe.terminalNs.containsKey(e.batch))
      if (ready.nonEmpty) {
        pendingLate --= ready
        val w = System.currentTimeMillis()
        ready.foreach(e => recsOut += h.recordRow(gen, e, System.nanoTime(), sample = false, w))
      }
      val a0 = System.nanoTime()
      h.addNotes(notesOut.toSeq)
      if (recsOut.nonEmpty) h.records.addData(recsOut.toSeq)
      Probe.span(-1L, "gen.add_data", a0, System.nanoTime())
      if (idx < p.events.size)
        active += firstAt.count { case (b, f) => f <= horizonUs && lastAt(b) >= horizonUs }.toDouble
      else if (backlogEnd < 0) backlogEnd = offered - (consumed - consumedAtStart)
      k += 1
    }
    GenStats(lag.toArray, offered, endUs / 1e6, active.toArray, scDue, math.max(0L, backlogEnd))
  }

  /** Waits until every expected record row and notification was observed
    * (or a deadline passes: the gate then reports what is missing). */
  def settle(): Unit = {
    val rows = expects.values.map(_.routes.values.map(_._1).sum).sum
    awaitUntil(Spec.CompletionDelayMs + 20000) {
      consumed >= rows && expects.values.forall(e => e.notifs.isEmpty ||
        Probe.puts.containsKey(e.batch) && Probe.puts.get(e.batch).size >= e.notifs.size)
    }
    awaitTriggerAfter(System.currentTimeMillis())
    HeapWatch.sample()
  }

  /** Waits for a trigger that started after `wallMs` to finish, so it read
    * everything added before then. (processAllAvailable never returns
    * here: a processing-time timeout makes every trigger run a batch.) */
  private def awaitTriggerAfter(wallMs: Long): Unit =
    require(awaitUntil(30000)(h.progress.all.exists(p =>
      java.time.Instant.parse(p.timestamp).toEpochMilli > wallMs)), "no trigger ran")

  def report(setups: Seq[Double], drains: Seq[(Double, Boolean, Int)], g: GenStats, open: Phase,
      trace: Boolean, seconds: Double, calibrationMs: Double): Report = {
    val measuredS = (System.nanoTime() - measureStartNs) / 1e9
    val seen = Gate.Observed(
      Probe.routes.asScala.map { case (k, a) => k -> ((a(0), a(1))) }.toMap,
      Probe.notifs.asScala.map { case (k, v) => k -> v.toSeq }.toMap,
      Probe.puts.asScala.map { case (k, v) => k -> v.toSeq }.toMap)
    val gate = Gate.check(expects.values, seen)

    val untraced = drains.filterNot(_._2)
    val rates = untraced.map { case (s, _, n) => n / s }
    val lat = Probe.latencySamples.map(_ / 1e6).sorted
    val completion = open.expect.values.toSeq
      .filter(e => e.notifs.headOption.exists(_._1 == BatchStatus.Completed))
      .flatMap(e => Option(Probe.terminalNs.get(e.batch)).map(t =>
        (t - g.scDueNs(e.batch)) / 1e6 - Spec.CompletionDelayMs))
      .sorted.toArray
    val heapMb = HeapWatch.peakBytes / 1048576.0

    val problems = ArrayBuffer.empty[String]
    def pct(xs: Array[Double], p: Double, what: String): Double =
      if (xs.isEmpty) { problems += s"$what: no samples"; 0.0 }
      else {
        if (!Stats.reportable(xs.length, p)) problems += s"$what: p$p needs ${math.ceil(1000.0 / (100 - p))} samples, have ${xs.length}"
        Stats.percentile(xs, p)
      }
    val e2e = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("throughput_rps", Stats.median(rates), "1/s"),
      ("record_latency_p50_ms", pct(lat, 50, "record latency"), "ms"),
      ("record_latency_p99_ms", pct(lat, 99, "record latency"), "ms"),
      ("completion_latency_p50_ms", pct(completion, 50, "completion latency"), "ms"),
      ("completion_latency_p99_ms", pct(completion, 99, "completion latency"), "ms"),
      ("peak_heap_mb", heapMb, "MB"))

    val layerReport = new LayerReport(h, spec)
    val spans = if (trace) layerReport.triggerSpans(h.progress.all) else Nil
    val layers = layerReport.metrics(g, drains, spans)
    val plan = expects.values.toSeq
    val perBatch = plan.filterNot(_.routes.keys.exists(_.endsWith(BatchTracker.UnknownBatchMessage)))
      .map(_.routes.values.map(_._1).sum.toDouble).sorted.toArray
    val totalRecords = plan.map(_.routes.values.map(_._1).sum).sum.toDouble
    val invalidRows = Probe.rowsInvalid.get.toDouble
    val traffic = Seq(
      "invalid_share" -> invalidRows / math.max(1.0, invalidRows + Probe.rowsValid.get),
      "unknown_batch_share" -> unknownRecords / math.max(1.0, totalRecords),
      "late_record_share" -> lateRecords / math.max(1.0, totalRecords),
      "records_per_batch_p50" -> (if (perBatch.isEmpty) 0.0 else Stats.percentile(perBatch, 50)),
      "records_per_batch_max" -> perBatch.lastOption.getOrElse(0.0),
      "active_batches_p50" -> (if (g.active.isEmpty) 0.0 else Stats.percentile(g.active.sorted, 50)),
      "active_batches_max" -> (if (g.active.isEmpty) 0.0 else g.active.max))
    val meta = Seq[(String, Any)](
      "workload" -> spec.name, "seed" -> gen.seed, "seconds" -> seconds, "nproc" -> nproc,
      "spark" -> h.spark.version, "jvm" -> System.getProperty("java.version"),
      "scala" -> scala.util.Properties.versionNumberString,
      "calibration_ms" -> calibrationMs,
      "offered_rps" -> spec.offeredRps, "backlog_records" -> backlogSizes.headOption.getOrElse(0),
      "priming_drain_rps" -> primingRps, "drain_rps" -> drains.map { case (s, _, n) => n / s }, "completion_delay_ms" -> Spec.CompletionDelayMs,
      "trigger_interval_ms" -> Spec.TriggerMs, "salts" -> spec.salts,
      "validator" -> (if (spec.schema) "schema" else "passthrough"),
      "probe_batches_per_s" -> spec.probeBatchesPerSec,
      "record_latency_samples" -> lat.length, "completion_latency_samples" -> completion.length,
      "record_latency_tail" -> Stats.tail(lat).map { case (p, v) => s"p$p=$v" }.getOrElse("none"),
      "completion_latency_tail" -> Stats.tail(completion).map { case (p, v) => s"p$p=$v" }.getOrElse("none"),
      "heap_samples_mb" -> HeapWatch.samples.asScala.toSeq, "measured_s" -> measuredS, "tracing" -> trace)
    Report(meta, traffic, e2e, layers, gate, problems.toSeq, spans)
  }
}

object Run { val t0: Long = System.nanoTime() }

/** Peak retained heap: heap in use right after a full collection, taken
  * when a drain's batches have finished and when the run has settled, the
  * largest of these since `reset()`. Forced collections run outside every
  * timed window. (Raw heap usage, or usage after young collections, follows
  * the heap size and collector timing rather than the workload.) */
object HeapWatch {
  import java.lang.management.ManagementFactory
  private val peak = new AtomicLong
  @volatile var active = false

  def reset(): Unit = { peak.set(0); active = true }
  /** Two full collections with a pause between them, so that blocks
    * Spark's ContextCleaner frees after the first are gone by the second. */
  def collect(): Long = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
  }
  val samples = new java.util.concurrent.ConcurrentLinkedQueue[Double]()
  def sample(): Unit = if (active) {
    val used = collect()
    samples.add(used / 1048576.0)
    peak.accumulateAndGet(used, math.max)
  }
  def peakBytes: Long = peak.get
}

object StreamBenchClock {
  private val wall0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()
  def wallMsAt(ns: Long): Long = wall0 + (ns - nano0) / 1000000L
  def nanoAtWall(ms: Long): Long = nano0 + (ms - wall0) * 1000000L
}

/** A fixed CPU probe: FNV-1a over a 16 MiB buffer, eight passes, median
  * of three timings. Comparing it across hosts gives the calibration ratio
  * for any speed-up claim. */
object Calibration {
  def probeMs(): Double = {
    val buf = Array.tabulate[Byte](16 << 20)(i => (i * 31 + 7).toByte)
    val times = (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      var h = 0L
      (0 until 8).foreach(_ => h ^= Fnv.hash(buf))
      if (h == 42) println("") // uses the hash, so the loop cannot be dropped
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(times)
  }
}
