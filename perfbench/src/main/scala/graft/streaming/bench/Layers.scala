package graft.streaming.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow

import graft.streaming.{BatchLookup, BatchLookupException, BatchNotification, HriRecord, MgmtClient,
  NotificationJson, Validator}
import graft.streaming.ValidationJob.OutputSink

/** A busy-time and call counter for one layer the benchmark wraps. */
final class Meter {
  val calls = new AtomicLong
  val busyNs = new AtomicLong
  val misses = new AtomicLong
  def reset(): Unit = { calls.set(0); busyNs.set(0); misses.set(0) }
  @inline def time[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally { calls.incrementAndGet(); busyNs.addAndGet(System.nanoTime() - t0) }
  }
}

/** One traced interval. `parent` is the id of the span that caused it, or -1. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Everything the benchmark observes, held in this JVM. Spark runs in
  * local mode, so executor tasks and the driver share these objects: the
  * sink tasks, the validator and lookup wrappers and the Management API
  * double all report here. `reset()` starts a new measurement. */
object Probe {
  val validator = new Meter
  val lookup = new Meter
  val mgmt = new Meter
  val validatorInvalid = new AtomicLong

  /** Rows consumed per topic step, and the time the last one was consumed. */
  val rowsValid = new AtomicLong
  val rowsInvalid = new AtomicLong
  val rowsNotification = new AtomicLong
  val lastConsumeNs = new AtomicLong
  val sinkBytes = new AtomicLong

  /** (batch, route) → (rows, fingerprint sum), route = `valid` or `invalid:<message>`. */
  val routes = new ConcurrentHashMap[(String, String), Array[Long]]()
  /** batch → notifications written to the notification topic, in order. */
  val notifs = new ConcurrentHashMap[String, ArrayBuffer[(String, Option[Int])]]()
  /** batch → Management API PUTs, in order. */
  val puts = new ConcurrentHashMap[String, ArrayBuffer[(String, Option[Int])]]()
  /** batch → consumption time of its first terminal notification. */
  val terminalNs = new ConcurrentHashMap[String, java.lang.Long]()
  /** The Management API's batch records: the K4 writeback updates them, the
    * state-miss lookup reads them (the production pairing of
    * HttpMgmtClient and HttpBatchLookup). */
  val mgmtStore = new ConcurrentHashMap[String, String]()

  private val latencies = new AtomicReference(new LongBuf)

  @volatile var tracing = false
  private val spans = new ConcurrentHashMap[Long, Span]()
  private val nextSpan = new AtomicLong

  /** A span id to record later (-1 when not tracing), so children can
    * name their parent before the parent's interval is known. */
  def newSpanId(): Long = if (tracing) nextSpan.incrementAndGet() else -1L

  def record(id: Long, parent: Long, name: String, startNs: Long, endNs: Long): Unit =
    if (id >= 0) spans.put(id, Span(id, parent, name, startNs, endNs))

  def span(parent: Long, name: String, startNs: Long, endNs: Long): Long = {
    val id = newSpanId()
    record(id, parent, name, startNs, endNs)
    id
  }

  def allSpans: Seq[Span] = spans.values.asScala.toSeq.sortBy(_.id)

  def recordLatencies(buf: LongBuf): Unit = if (buf.size > 0) latencies.get.synchronized(latencies.get.addAll(buf))
  def latencySamples: Array[Long] = latencies.get.synchronized(latencies.get.toArray)

  def reset(): Unit = {
    Seq(validator, lookup, mgmt).foreach(_.reset())
    Seq(validatorInvalid, rowsValid, rowsInvalid, rowsNotification, sinkBytes).foreach(_.set(0))
    routes.clear(); notifs.clear(); puts.clear(); terminalNs.clear()
    latencies.set(new LongBuf)
    spans.clear()
  }

  def addRoute(batch: String, route: String, n: Long, fp: Long): Unit = {
    val a = routes.computeIfAbsent((batch, route), _ => new Array[Long](2))
    a.synchronized { a(0) += n; a(1) += fp }
  }

  def appendTo(m: ConcurrentHashMap[String, ArrayBuffer[(String, Option[Int])]], batch: String,
      v: (String, Option[Int])): Unit = {
    val b = m.computeIfAbsent(batch, _ => ArrayBuffer.empty)
    b.synchronized(b += v)
  }
}

/** A growable primitive long buffer. */
final class LongBuf {
  private var a = new Array[Long](1024)
  var size = 0
  def +=(v: Long): Unit = {
    if (size == a.length) a = java.util.Arrays.copyOf(a, size * 2)
    a(size) = v; size += 1
  }
  def addAll(o: LongBuf): Unit = { var i = 0; while (i < o.size) { this += o.a(i); i += 1 } }
  def toArray: Array[Long] = java.util.Arrays.copyOf(a, size)
}

/** The validator, counted and timed around each call. */
final class TimedValidator(inner: Validator) extends Validator {
  override def isValid(record: HriRecord): (Boolean, Option[String]) = {
    val v = Probe.validator.time(inner.isValid(record))
    if (!v._1) Probe.validatorInvalid.incrementAndGet()
    v
  }
}

/** The state-miss lookup against the in-memory Management API: a known
  * batch parses back from its stored JSON (as HttpBatchLookup parses a 200
  * body); an unknown one fails with 404. */
final class BenchLookup extends BatchLookup {
  override def getBatchId(tenantId: String, batchId: String): Try[BatchNotification] =
    Probe.lookup.time {
      Option(Probe.mgmtStore.get(batchId)) match {
        case Some(json) => Success(NotificationJson.parse(json.getBytes(UTF_8)))
        case None =>
          Probe.lookup.misses.incrementAndGet()
          Failure(new BatchLookupException("Not found", 404))
      }
    }
}

/** The K4 writeback target: stores the batch record and logs the PUT. */
final class BenchMgmt extends MgmtClient {
  override def putStatus(tenantId: String, batchId: String, notificationJson: String): Try[Unit] = {
    val t0 = System.nanoTime()
    val r = Probe.mgmt.time(Try {
      Probe.mgmtStore.put(batchId, notificationJson)
      val n = NotificationJson.parse(notificationJson.getBytes(UTF_8))
      Probe.appendTo(Probe.puts, batchId, (n.status, n.recordCount))
    })
    MemSink.k4Span(t0, System.nanoTime())
    r
  }
}

/** The in-memory stand-in for the Kafka writer. Record topics are consumed
  * the way Spark's Kafka writer consumes them: `queryExecution.toRdd`
  * partitions iterated on the executors, each row's key, value and headers
  * read and checksummed. Each row is attributed to its batch (header
  * `batchId`) and route (topic, plus the failure message of an invalid
  * row) for the correctness gate, and a row stamped as an open-loop
  * sample yields one latency sample. The notification topic is collected
  * on the driver, recorded, and echoed into the notification input stream,
  * which is what the production job does by subscribing to its own
  * notification topic. */
final class MemSink(validTopic: String, invalidTopic: String,
    @transient echo: Seq[(Array[Byte], Array[Byte])] => Unit) extends OutputSink {

  override def write(df: DataFrame, topic: String): Unit = {
    val t0 = System.nanoTime()
    val step = if (topic == validTopic) "k1" else if (topic == invalidTopic) "k2" else "k3"
    if (step == "k3") {
      val rows = df.collect().map(r => (r.getAs[Array[Byte]]("key"), r.getAs[Array[Byte]]("value")))
      val now = System.nanoTime()
      rows.foreach { case (k, v) =>
        Probe.sinkBytes.addAndGet(k.length.toLong + v.length)
        val n = NotificationJson.parse(v)
        Probe.appendTo(Probe.notifs, n.id, (n.status, n.recordCount))
        Probe.terminalNs.putIfAbsent(n.id, now)
      }
      Probe.rowsNotification.addAndGet(rows.length)
      echo(rows.toSeq)
    } else {
      val invalid = step == "k2"
      df.queryExecution.toRdd.foreachPartition((it: Iterator[InternalRow]) => MemSink.consume(it, invalid))
    }
    MemSink.stepSpan(step, t0, System.nanoTime())
  }
}

object MemSink {
  private val mapper = new ObjectMapper()

  /** Time spent in each sink step, summed over epochs (driver-side). */
  val steps: Map[String, Meter] = Seq("k1", "k2", "k3", "k4", "commit_log").map(_ -> new Meter).toMap

  /** The span of the epoch whose sink steps are running (driver-side). */
  @volatile var epochSpan: Long = -1L
  private val k4 = new AtomicReference[(Long, Long)](null)

  def stepSpan(step: String, t0: Long, t1: Long): Unit = {
    steps(step).calls.incrementAndGet()
    steps(step).busyNs.addAndGet(t1 - t0)
    Probe.span(epochSpan, step, t0, t1)
  }

  /** K4 is a loop of PUTs inside writeOutputs; its span covers the first
    * PUT's start to the last PUT's end of the epoch. */
  def k4Span(t0: Long, t1: Long): Unit =
    k4.updateAndGet(prev => if (prev == null) (t0, t1) else (prev._1, t1))

  def takeK4(): Option[(Long, Long)] = Option(k4.getAndSet(null))

  def consume(it: Iterator[InternalRow], invalid: Boolean): Unit = {
    val perRoute = mutable.HashMap.empty[(String, String), Array[Long]]
    val lat = new LongBuf
    var n = 0L; var bytes = 0L; var checksum = 0L
    while (it.hasNext) {
      val row = it.next()
      val key = row.getBinary(0)
      val value = row.getBinary(1)
      val headers = row.getArray(2)
      var batch = ""; var created = 0L; var sample = false
      var i = 0
      while (i < headers.numElements()) {
        val h = headers.getStruct(i, 2)
        val hk = h.getUTF8String(0).toString
        val hv = h.getBinary(1)
        bytes += hv.length; checksum += Fnv.hash(hv)
        hk match {
          case "batchId" => batch = new String(hv, UTF_8)
          case "created" => created = java.nio.ByteBuffer.wrap(hv).getLong
          case "sample"  => sample = hv.length > 0 && hv(0) == 1
          case _         => ()
        }
        i += 1
      }
      val route = if (!invalid) "valid" else "invalid:" + mapper.readTree(value).path("failure").asText("")
      val a = perRoute.getOrElseUpdate((batch, route), new Array[Long](2))
      a(0) += 1; a(1) += Fnv.row(key, value)
      bytes += key.length + value.length
      if (sample) lat += System.nanoTime() - created
      n += 1
    }
    perRoute.foreach { case ((b, r), a) => Probe.addRoute(b, r, a(0), a(1)) }
    Probe.recordLatencies(lat)
    Probe.sinkBytes.addAndGet(bytes + (checksum & 1)) // keep the checksum live
    (if (invalid) Probe.rowsInvalid else Probe.rowsValid).addAndGet(n)
    Probe.lastConsumeNs.accumulateAndGet(System.nanoTime(), math.max)
  }
}
