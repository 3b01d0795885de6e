package graft.streaming.bench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.Random

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import graft.streaming.{BatchNotification, BatchStatus, BatchTracker, Validator, HriRecord}

/** 64-bit FNV-1a, the benchmark's row fingerprint. The generator sums it
  * over the rows it expects on each route of a batch, the sink sums it over
  * the rows it consumed, and the gate compares the sums: a dropped or a
  * duplicated row changes the sum even when another fault keeps the count. */
object Fnv {
  def hash(b: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < b.length) { h = (h ^ (b(i) & 0xff)) * 0x100000001b3L; i += 1 }
    h
  }
  def row(key: Array[Byte], value: Array[Byte]): Long =
    hash(key) ^ java.lang.Long.rotateLeft(hash(value), 17)
}

/** A record payload with its fingerprint and the verdict the benchmark's
  * validator must reach on it (None = valid, Some(message) = invalid). */
final case class Payload(bytes: Array[Byte], hash: Long, failure: Option[String])

/** Field rules of the schema validator used by the hot-batch workloads: an
  * observation document (a few KB of JSON) must carry these fields. The
  * first rule that fails names the message. The generator builds invalid
  * payloads by breaking exactly one rule, so it knows each message
  * beforehand. */
object ObservationRules {
  val Components = 10
  private val Statuses = Set("final", "amended", "preliminary")

  val BadResourceType = "resourceType: expected Observation"
  val MissingId = "id: missing"
  val BadStatus = "status: not one of final, amended, preliminary"
  val BadSubject = "subject.reference: not a Patient reference"
  val EmptyCoding = "code.coding: empty"
  val ValueOutOfRange = "valueQuantity.value: out of range"
  def badComponent(i: Int): String = s"component[$i].valueQuantity.value: not a number"

  def check(root: JsonNode): Option[String] = {
    if (root.path("resourceType").asText("") != "Observation") return Some(BadResourceType)
    if (root.path("id").asText("").isEmpty) return Some(MissingId)
    if (!Statuses.contains(root.path("status").asText(""))) return Some(BadStatus)
    if (!root.path("subject").path("reference").asText("").startsWith("Patient/"))
      return Some(BadSubject)
    val coding = root.path("code").path("coding")
    if (!coding.isArray || coding.size == 0 ||
        coding.get(0).path("code").asText("").isEmpty) return Some(EmptyCoding)
    val v = root.path("valueQuantity").path("value")
    if (!v.isNumber || v.asDouble < 0 || v.asDouble > 10000) return Some(ValueOutOfRange)
    val comps = root.path("component")
    var i = 0
    while (i < comps.size) {
      if (!comps.get(i).path("valueQuantity").path("value").isNumber) return Some(badComponent(i))
      i += 1
    }
    None
  }
}

/** The benchmark's schema validator: parses each payload with Jackson and
  * applies [[ObservationRules]]. An unparsable payload is invalid too. */
final class ObservationValidator extends Validator {
  @transient private lazy val mapper = new ObjectMapper()
  override def isValid(record: HriRecord): (Boolean, Option[String]) =
    (try ObservationRules.check(mapper.readTree(record.value))
     catch { case _: java.io.IOException => Some("payload: not JSON") }) match {
      case None    => (true, None)
      case Some(m) => (false, Some(m))
    }
}

/** Deterministic payload pools. */
object Payloads {
  private val Loinc = Array(
    ("8480-6", "Systolic blood pressure", "mm[Hg]"), ("8462-4", "Diastolic blood pressure", "mm[Hg]"),
    ("8867-4", "Heart rate", "/min"), ("9279-1", "Respiratory rate", "/min"),
    ("8310-5", "Body temperature", "Cel"), ("2708-6", "Oxygen saturation", "%"),
    ("29463-7", "Body weight", "kg"), ("8302-2", "Body height", "cm"))
  private val Words = Array("stable", "patient", "reports", "mild", "discomfort", "after",
    "exercise", "no", "acute", "distress", "follow", "up", "in", "two", "weeks", "reviewed")

  private def coding(r: Random, sb: StringBuilder): Unit = {
    val (code, display, _) = Loinc(r.nextInt(Loinc.length))
    sb.append("""{"coding":[{"system":"http://loinc.org","code":"""").append(code)
      .append("""","display":"""").append(display).append("\"}]}")
  }

  /** One observation document, about 2.5 KB. `broken` selects the rule to
    * break (-1 = none); rule 6 breaks component `comp`. */
  def observation(r: Random, broken: Int, comp: Int): String = {
    val sb = new StringBuilder(3072)
    sb.append("""{"resourceType":"""").append(if (broken == 0) "Observatoin" else "Observation")
    sb.append("""","id":"""").append(if (broken == 1) "" else s"obs-${r.nextInt(1 << 30)}")
    sb.append("""","status":"""").append(if (broken == 2) "unknown" else "final")
    sb.append("""","subject":{"reference":"""")
      .append(if (broken == 3) s"Group/${r.nextInt(1000)}" else s"Patient/${r.nextInt(1 << 20)}")
    sb.append("""","display":"Patient """).append(r.nextInt(100000)).append("\"},")
    sb.append(""""effectiveDateTime":"2020-04-0""").append(1 + r.nextInt(9))
      .append("T0").append(r.nextInt(10)).append(":15:00Z\",")
    sb.append(""""code":""")
    if (broken == 4) sb.append("""{"coding":[]}""") else coding(r, sb)
    val value = if (broken == 5) 20000.5 + r.nextInt(100) else r.nextInt(20000) / 10.0
    sb.append(""","valueQuantity":{"value":""").append(value)
      .append(""","unit":"mg/dL","system":"http://unitsofmeasure.org"},"component":[""")
    var i = 0
    while (i < ObservationRules.Components) {
      if (i > 0) sb.append(',')
      val (_, _, unit) = Loinc(r.nextInt(Loinc.length))
      sb.append("""{"code":"""); coding(r, sb)
      sb.append(""","valueQuantity":{"value":""")
      if (broken == 6 && i == comp) sb.append("\"n/a\"") else sb.append(r.nextInt(3000) / 10.0)
      sb.append(""","unit":"""").append(unit).append("\"}}")
      i += 1
    }
    sb.append("""],"note":[{"text":"""")
    (0 until 40).foreach(j => sb.append(if (j > 0) " " else "").append(Words(r.nextInt(Words.length))))
    sb.append("\"}]}")
    sb.toString
  }

  def message(broken: Int, comp: Int): String = broken match {
    case 0 => ObservationRules.BadResourceType
    case 1 => ObservationRules.MissingId
    case 2 => ObservationRules.BadStatus
    case 3 => ObservationRules.BadSubject
    case 4 => ObservationRules.EmptyCoding
    case 5 => ObservationRules.ValueOutOfRange
    case _ => ObservationRules.badComponent(comp)
  }

  private def payload(s: String, failure: Option[String]): Payload = {
    val b = s.getBytes(UTF_8)
    Payload(b, Fnv.hash(b), failure)
  }

  /** (valid pool, invalid pool) of observation documents. */
  def observations(seed: Long, valid: Int, invalid: Int): (Array[Payload], Array[Payload]) = {
    val r = new Random(seed * 31 + 7)
    val v = Array.fill(valid)(payload(observation(r, -1, 0), None))
    val inv = Array.fill(invalid) {
      val broken = r.nextInt(7)
      val comp = r.nextInt(ObservationRules.Components)
      payload(observation(r, broken, comp), Some(message(broken, comp)))
    }
    (v, inv)
  }

  /** Small opaque payloads for the passthrough workload (~150 B each). */
  def small(seed: Long, n: Int): Array[Payload] = {
    val r = new Random(seed * 31 + 11)
    Array.fill(n) {
      payload(s"""{"device":"dev-${r.nextInt(100000)}","reading":${r.nextInt(100000) / 100.0},""" +
        s""""tags":["${Words(r.nextInt(Words.length))}","${Words(r.nextInt(Words.length))}"],""" +
        s""""ts":"2020-04-08T03:${10 + r.nextInt(50)}:${10 + r.nextInt(50)}Z"}""", None)
    }
  }
}

/** One generated input event. `atUs` is the due time, in microseconds from
  * the start of its phase; a record has `payload >= 0` and no notification.
  * A `late` record is sent only once its batch's `completed` was observed. */
final case class Ev(
    atUs: Long,
    batch: String,
    notif: Option[BatchNotification],
    key: String,
    payload: Int,
    invalid: Boolean,
    late: Boolean) {
  def isRecord: Boolean = notif.isEmpty
}

/** What the generator's model of the contract expects one batch to produce:
  * per route (`valid`, or `invalid:<message>`) a row count and fingerprint
  * sum, and the notification sequence (status, recordCount) written to the
  * notification topic and PUT to the Management API. */
final class Expect(val batch: String) {
  val routes = mutable.Map.empty[String, (Long, Long)]
  val notifs = ArrayBuffer.empty[(String, Option[Int])]
  def add(route: String, fp: Long): Unit = {
    val (n, h) = routes.getOrElse(route, (0L, 0L))
    routes(route) = (n + 1, h + fp)
  }
}

/** The lifecycle shapes the many-batches mix exercises. */
object Kind extends Enumeration {
  val Complete, Late, Terminate, Overcount, Undercount, MgmtKnown, Unknown = Value
}

/** One phase of input: events in due order, the batches they belong to,
  * and the batches the Management API knows before the stream sees them. */
final case class Phase(events: IndexedSeq[Ev], expect: Map[String, Expect], mgmtKnown: Seq[BatchNotification]) {
  def records: Int = events.count(e => e.isRecord && !e.late)
  def lateRecords: Int = events.count(_.late)
}

/** Workload parameters. Rates are frozen: `offeredRps` is about half the
  * throughput the seed measured on a 4-core host (see perfbench/README.md). */
final case class Spec(
    name: String,
    salts: Int,
    schema: Boolean,
    offeredRps: Int,
    backlogRecords: Int,
    hotBatchRecords: Int,
    probeBatchesPerSec: Int)

object Spec {
  val CompletionDelayMs = 1500L
  val TriggerMs = 1000L
  val Tenant = "bench"
  val InTopic = s"ingest.$Tenant.load.in"

  val all: Seq[Spec] = Seq(
    Spec("stream_many_batches", salts = 1, schema = false, offeredRps = 4000,
      backlogRecords = 40000, hotBatchRecords = 0, probeBatchesPerSec = 0),
    Spec("stream_hot_batch", salts = 1, schema = true, offeredRps = 600,
      backlogRecords = 15000, hotBatchRecords = 15000, probeBatchesPerSec = 170),
    Spec("stream_hot_batch_salted", salts = 8, schema = true, offeredRps = 600,
      backlogRecords = 15000, hotBatchRecords = 15000, probeBatchesPerSec = 170))

  def apply(name: String): Spec =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}"))
}

/** The input generator: every phase is a pure function of (workload, seed,
  * phase index, duration). Payload bytes come from seeded pools; the only
  * run-time values added at send time are the creation stamp header and the
  * Kafka log timestamp. */
final class Gen(val spec: Spec, val seed: Long) {
  import BatchStatus._
  import Kind._

  val (pool, invalidPool): (Array[Payload], Array[Payload]) =
    if (spec.schema) Payloads.observations(seed, 2048, 256)
    else (Payloads.small(seed, 1024), Array.empty[Payload])

  def payloadOf(e: Ev): Payload = if (e.invalid) invalidPool(e.payload) else pool(e.payload)

  /** Share of hot-batch records whose payload breaks a field rule. */
  val InvalidShare = 0.05

  private val TickUs = 40000L // notification ↔ record spacing: ≥ 2 generator ticks

  def notification(batch: String, status: String, expected: Option[Int] = None): BatchNotification =
    BatchNotification(batch, s"$batch-name", status, "observation",
      "2020-04-08T03:02:23Z", "2020-04-11T16:02:44Z", expected, Spec.InTopic,
      metadata = Some(s"""{"source":"perfbench","batch":"$batch"}"""))

  private def rng(phase: String): Random = new Random(seed * 1000003L + phase.hashCode)

  /** Pick a record payload; the record's route follows from the payload. */
  private def pick(r: Random): (Int, Boolean) =
    if (spec.schema && r.nextDouble() < InvalidShare) (r.nextInt(invalidPool.length), true)
    else (r.nextInt(pool.length), false)

  private final class Builder(prefix: String) {
    val events = ArrayBuffer.empty[Ev]
    val expect = mutable.LinkedHashMap.empty[String, Expect]
    val known = ArrayBuffer.empty[BatchNotification]
    def exp(b: String): Expect = expect.getOrElseUpdate(b, new Expect(b))
    def notif(at: Long, b: String, status: String, expected: Option[Int] = None): Unit =
      events += Ev(at, b, Some(notification(b, status, expected)), "", -1, invalid = false, late = false)
    /** A record routed by the validator verdict unless `route` overrides
      * it; true when the model counts it as a valid record of its batch. */
    def record(at: Long, b: String, i: Int, r: Random, route: Option[String] = None, late: Boolean = false): Boolean = {
      val (p, inv) = pick(r)
      val e = Ev(at, b, None, s"$prefix$b-$i", p, inv, late)
      events += e
      val pl = payloadOf(e)
      route match {
        case Some(msg) => exp(b).add(s"invalid:$msg", Fnv.row(e.key.getBytes(UTF_8), Gen.failureJson(msg)))
        case None =>
          pl.failure match {
            case None    => exp(b).add("valid", Fnv.row(e.key.getBytes(UTF_8), pl.bytes))
            case Some(m) => exp(b).add(s"invalid:$m", Fnv.row(e.key.getBytes(UTF_8), Gen.failureJson(m)))
          }
      }
      route.isEmpty && pl.failure.isEmpty
    }
    def phase: Phase = Phase(events.sortBy(_.atUs).toIndexedSeq, expect.toMap, known.toSeq)
  }

  /** A small batch of one lifecycle kind, starting at `t0` µs with `n`
    * records spread over `lifeUs`. Returns the due time of its last event. */
  private def smallBatch(bd: Builder, r: Random, b: String, kind: Kind.Value, t0: Long, n: Int, lifeUs: Long): Long = {
    val step = lifeUs / math.max(1, n)
    def records(from: Int, until: Int, start: Long, route: Option[String] = None): (Int, Long) = {
      var valid = 0; var at = start
      (from until until).foreach { i =>
        if (bd.record(at, b, i, r, route)) valid += 1
        at += step
      }
      (valid, at - step)
    }
    kind match {
      case Unknown =>
        records(0, n, t0, Some(BatchTracker.UnknownBatchMessage))._2
      case Terminate =>
        bd.notif(t0, b, Started)
        val k = n / 2
        val (_, last) = records(0, k, t0 + TickUs)
        bd.notif(last + TickUs, b, Terminated)
        records(k, n, last + 2 * TickUs, Some(BatchTracker.TerminatedBatchMessage))._2
      case _ =>
        if (kind == MgmtKnown) bd.known += notification(b, Started)
        else bd.notif(t0, b, Started)
        val (valid, last) = records(0, n, t0 + TickUs)
        val expected = kind match {
          case Overcount  => valid - 1 - r.nextInt(3)
          case Undercount => valid + 1 + r.nextInt(3)
          case _          => valid
        }
        val sc = last + TickUs
        bd.notif(sc, b, SendCompleted, Some(expected))
        val status = if (expected == valid) Completed else Failed
        bd.exp(b).notifs += ((status, Some(valid)))
        if (kind == Late) (0 until 1 + r.nextInt(2)).foreach { j =>
          bd.record(sc, b, n + j, r, Some(BatchTracker.CompletedBatchMessage), late = true)
        }
        sc
    }
  }

  private def kindOf(r: Random): Kind.Value = {
    val x = r.nextInt(100)
    if (x < 70) Complete else if (x < 78) Late else if (x < 85) Terminate
    else if (x < 90) Overcount else if (x < 94) Undercount else if (x < 98) MgmtKnown else Unknown
  }

  /** The throughput backlog of drain `i`: it becomes available at once.
    * Lifecycle kinds that need an ordered follow-up (terminate, late) are
    * left out of the backlog. */
  def backlog(i: Int, records: Int = spec.backlogRecords): Phase = {
    val r = rng(s"backlog-$i")
    val bd = new Builder(s"d$i-")
    if (spec.hotBatchRecords > 0) {
      smallBatch(bd, r, s"hot-d$i-$seed", Complete, 0, records, 0)
    } else {
      var total = 0; var j = 0
      while (total < records) {
        val kind = kindOf(r) match { case Terminate | Late => Complete; case k => k }
        val n = 5 + r.nextInt(51)
        smallBatch(bd, r, s"b-d$i-$seed-$j", kind, 0, n, 0)
        total += n; j += 1
      }
    }
    bd.phase
  }

  /** The open-loop phase of `seconds`: records offered at `spec.offeredRps`. */
  def openLoop(seconds: Double, tag: String = "o"): Phase = {
    val r = rng(s"open-$tag")
    val bd = new Builder(s"$tag-")
    val durUs = (seconds * 1e6).toLong
    if (spec.hotBatchRecords > 0) {
      // one hot batch at a time, records evenly spaced at the offered rate
      val stepUs = 1000000L / spec.offeredRps
      val total = (durUs / stepUs).toInt
      var sent = 0; var h = 0
      while (sent < total) {
        val b = s"hot-$tag$h-$seed"
        val n = math.min(spec.hotBatchRecords, total - sent)
        val t0 = sent * stepUs
        bd.notif(math.max(0, t0 - TickUs), b, Started)
        var valid = 0
        (0 until n).foreach { i => if (bd.record(t0 + i * stepUs, b, i, r)) valid += 1 }
        bd.notif(t0 + (n - 1) * stepUs + TickUs, b, SendCompleted, Some(valid))
        bd.exp(b).notifs += ((Completed, Some(valid)))
        sent += n; h += 1
      }
      // probe batches: small, concurrent with the hot batch; their
      // completion latency shows how long the hot batch holds up everyone else
      val probeStep = 1000000L / spec.probeBatchesPerSec
      var t = 0L; var p = 0
      while (t + 4 * TickUs < durUs) {
        smallBatch(bd, r, s"probe-$tag$p-$seed", Complete, t, 2, TickUs)
        t += probeStep; p += 1
      }
    } else {
      // many small batches: starts spaced so records arrive at offeredRps
      val meanRecords = 12.0
      val startStepUs = (1e6 * meanRecords / spec.offeredRps).toLong
      var t = 0L; var j = 0
      while (t < durUs) {
        val kind = kindOf(r)
        val n = 4 + r.nextInt(17)
        val life = 800000L + r.nextInt(1200000)
        // late records wait for their batch's `completed`: only batches that
        // end early enough get them, so the phase does not outlast its schedule
        val k = if (kind == Late && t + life > durUs - 3000000L) Complete else kind
        if (t + life + 3 * TickUs < durUs) smallBatch(bd, r, s"b-$tag$j-$seed", k, t, n, life)
        t += startStepUs; j += 1
      }
    }
    bd.phase
  }
}

object Gen {
  private val mapper = new ObjectMapper()
  /** The body `HriRecord.asInvalid` writes for a failure message. */
  def failureJson(message: String): Array[Byte] = {
    val root = mapper.createObjectNode()
    root.put("failure", message)
    mapper.writeValueAsString(root).getBytes(UTF_8)
  }
}
