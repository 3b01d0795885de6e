package graft.streaming.bench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** A metric value with its unit. */
final case class Metric(name: String, value: Double, unit: String)

final case class Report(
    meta: Seq[(String, Any)],
    traffic: Seq[(String, Double)],
    endToEnd: Seq[(String, Double, String)],
    layers: Seq[Metric],
    gate: Gate.Result,
    problems: Seq[String],
    spans: Seq[Span])

/** Per-layer metrics of one run, read from the StreamingQueryProgress log,
  * the SparkListener, and the benchmark's own meters and spans. */
final class LayerReport(h: Harness, spec: Spec) {
  private def ms(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private def p50(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Stats.median(xs)

  /** Trigger spans rebuilt from the progress log: phase durations come from
    * StreamingQueryProgress.durationMs; addBatch is anchored at the start
    * of the trigger's foreachBatch epoch span, the phases before it are
    * laid out back to back in execution order and commitOffsets after it. */
  def triggerSpans(ps: Seq[StreamingQueryProgress]): Seq[Span] = {
    val spans = Probe.allSpans
    val byId = spans.map(s => s.id -> s).toMap
    val reparented = collection.mutable.Map.empty[Long, Span]
    var next = spans.map(_.id).foldLeft(0L)(math.max) + 1
    val built = ps.flatMap { p =>
      Option(h.epochs.get(p.batchId)).filter(_._1 >= 0).toSeq.flatMap { case (eid, e0, _) =>
        val pre = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning").map(k => k -> ms(p, k))
        val trigStart = e0 - (pre.map(_._2).sum * 1e6).toLong
        val tid = next; next += 1
        val trig = Span(tid, -1L, "trigger", trigStart, trigStart + (ms(p, "triggerExecution") * 1e6).toLong)
        var at = trigStart
        val phases = pre.map { case (k, d) =>
          val s = Span(next, tid, k, at, at + (d * 1e6).toLong); next += 1; at = s.endNs; s
        }
        val add = Span(next, tid, "add_batch", e0, e0 + (ms(p, "addBatch") * 1e6).toLong); next += 1
        val commit = Span(next, tid, "commitOffsets", add.endNs, add.endNs + (ms(p, "commitOffsets") * 1e6).toLong)
        next += 1
        byId.get(eid).foreach(s => reparented(eid) = s.copy(parent = add.id))
        Seq(trig, add, commit) ++ phases
      }
    }
    spans.map(s => reparented.getOrElse(s.id, s)) ++ built
  }

  def metrics(g: GenStats, drains: Seq[(Double, Boolean, Int)], spans: Seq[Span]): Seq[Metric] = {
    val ps = h.progress.all
    val ops = ps.map(_.stateOperators.toSeq)
    // the salted plan unions stage A (salt router) before stage B (tracker)
    val trackerIdx = if (spec.salts > 1) 1 else 0
    def op(i: Int): Seq[org.apache.spark.sql.streaming.StateOperatorProgress] = ops.flatMap(_.lift(i))
    val tracker = op(trackerIdx)
    val salt = if (spec.salts > 1) op(0) else Nil
    val exec = ps.map(ms(_, "triggerExecution"))
    val epochMs = h.epochs.values.asScala.map { case (_, a, b) => (b - a) / 1e6 }.toSeq
    val step = MemSink.steps.map { case (k, m) => k -> m.busyNs.get / 1e6 }
    val lag = g.lagMs.sorted

    val base = Seq(
      Metric("gen.lag_p99_ms", if (lag.isEmpty) 0.0 else Stats.percentile(lag, 99), "ms"),
      Metric("gen.offered_rps", g.offered / math.max(1e-9, g.seconds), "1/s"),
      Metric("trigger.count", ps.size, "count"),
      Metric("trigger.no_data_count", ps.count(_.numInputRows == 0), "count"),
      Metric("trigger.exec_ms_p50", p50(exec), "ms"),
      Metric("trigger.exec_ms_max", if (exec.isEmpty) 0.0 else exec.max, "ms"),
      Metric("trigger.add_batch_ms_p50", p50(ps.map(ms(_, "addBatch"))), "ms"),
      Metric("trigger.fixed_ms_p50", p50(ps.map(p => ms(p, "triggerExecution") - ms(p, "addBatch"))), "ms"),
      Metric("trigger.query_planning_ms_p50", p50(ps.map(ms(_, "queryPlanning"))), "ms"),
      Metric("trigger.wal_commit_ms_p50", p50(ps.map(ms(_, "walCommit"))), "ms"),
      Metric("trigger.commit_offsets_ms_p50", p50(ps.map(ms(_, "commitOffsets"))), "ms"),
      Metric("source.input_rows", ps.map(_.numInputRows).sum.toDouble, "count"),
      Metric("source.backlog_end", g.backlogEnd.toDouble, "count"),
      Metric("state.rows_end", tracker.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      Metric("state.rows_updated", tracker.map(_.numRowsUpdated).sum.toDouble, "count"),
      Metric("state.rows_removed", tracker.map(_.numRowsRemoved).sum.toDouble, "count"),
      Metric("state.memory_mb_max", (tracker.map(_.memoryUsedBytes) :+ 0L).max / 1048576.0, "MB"),
      Metric("state.updates_ms", tracker.map(_.allUpdatesTimeMs).sum.toDouble, "ms"),
      Metric("state.removals_ms", tracker.map(_.allRemovalsTimeMs).sum.toDouble, "ms"),
      Metric("state.commit_ms", tracker.map(_.commitTimeMs).sum.toDouble, "ms"),
      Metric("validator.calls", Probe.validator.calls.get.toDouble, "count"),
      Metric("validator.busy_s", Probe.validator.busyNs.get / 1e9, "s"),
      Metric("validator.invalid", Probe.validatorInvalid.get.toDouble, "count"),
      Metric("lookup.calls", Probe.lookup.calls.get.toDouble, "count"),
      Metric("lookup.misses", Probe.lookup.misses.get.toDouble, "count"),
      Metric("sink.epochs", h.epochs.size.toDouble, "count"),
      Metric("sink.epoch_ms_p50", p50(epochMs), "ms"),
      Metric("sink.k1_ms", step("k1"), "ms"),
      Metric("sink.k2_ms", step("k2"), "ms"),
      Metric("sink.k3_ms", step("k3"), "ms"),
      Metric("sink.k4_ms", step("k4"), "ms"),
      Metric("sink.commit_log_ms", step("commit_log"), "ms"),
      Metric("sink.rows.valid", Probe.rowsValid.get.toDouble, "count"),
      Metric("sink.rows.invalid", Probe.rowsInvalid.get.toDouble, "count"),
      Metric("sink.rows.notification", Probe.rowsNotification.get.toDouble, "count"),
      Metric("mgmt.puts", Probe.mgmt.calls.get.toDouble, "count"),
      Metric("salt.state.rows_end", salt.lastOption.map(_.numRowsTotal.toDouble).getOrElse(0.0), "count"),
      Metric("salt.state.updates_ms", salt.map(_.allUpdatesTimeMs).sum.toDouble, "ms"),
      Metric("salt.state.commit_ms", salt.map(_.commitTimeMs).sum.toDouble, "ms"),
      Metric("salt.shuffle_mb", if (spec.salts > 1) h.engine.shuffleBytes.get / 1048576.0 else 0.0, "MB"),
      Metric("spark.jobs", h.engine.jobs.get.toDouble, "count"),
      Metric("spark.tasks", h.engine.tasks.get.toDouble, "count"),
      Metric("spark.task_s", h.engine.runMs.get / 1000.0, "s"),
      Metric("spark.shuffle_write_mb", h.engine.shuffleBytes.get / 1048576.0, "MB"))

    val self = Stats.selfByName(spans)
    // drain seconds per record, traced against the untraced drains around them
    val traced = drains.filter(_._2).map { case (s, _, n) => s / n }
    val untraced = drains.filterNot(_._2).map { case (s, _, n) => s / n }
    val overhead =
      if (traced.isEmpty || untraced.isEmpty) 0.0
      else (Stats.median(traced) / (untraced.sum / untraced.size) - 1) * 100
    val spanMetrics = LayerReport.SelfTimed.map { case (metric, name) =>
      Metric(s"span.$metric.self_ms", self.getOrElse(name, 0.0), "ms")
    } ++ Seq(
      Metric("trace.spans", spans.size.toDouble, "count"),
      Metric("trace.overhead_pct", overhead, "%"))
    base ++ spanMetrics
  }
}

object LayerReport {
  /** (metric infix, span name) of the spans whose self time is reported. */
  val SelfTimed: Seq[(String, String)] = Seq(
    "gen_add_data" -> "gen.add_data", "trigger" -> "trigger", "latest_offset" -> "latestOffset",
    "wal_commit" -> "walCommit", "query_planning" -> "queryPlanning", "add_batch" -> "add_batch",
    "commit_offsets" -> "commitOffsets", "epoch" -> "epoch", "k1" -> "k1", "k2" -> "k2",
    "k3" -> "k3", "k4" -> "k4", "commit_log" -> "commit_log")
}

/** Minimal JSON rendering for the result lines. */
object Json {
  def render(v: Any): String = v match {
    case s: String            => quote(s)
    case b: Boolean           => b.toString
    case d: Double            => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int               => i.toString
    case l: Long              => l.toString
    case kv: Seq[_] if kv.forall(_.isInstanceOf[(_, _)]) && kv.nonEmpty =>
      kv.map { case (k, x) => s"${quote(k.toString)}: ${render(x)}" }.mkString("{", ", ", "}")
    case xs: Iterable[_]      => xs.map(render).mkString("[", ", ", "]")
    case other                => quote(other.toString)
  }

  private def quote(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"'  => sb.append("\\\"")
      case '\\' => sb.append("\\\\")
      case '\n' => sb.append("\\n")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c    => sb.append(c)
    }
    sb.append('"').toString
  }

  private def metricMap(ms: Seq[(String, Double, String)]): Seq[(String, Any)] =
    ms.map { case (n, v, u) => n -> Seq("value" -> v, "unit" -> u) }

  /** Prints the information lines, then the result line last. */
  def printLines(r: Report, trace: Boolean, spansFile: Option[File]): Unit = {
    spansFile.foreach { f =>
      f.getParentFile.mkdirs()
      val body = r.spans.map(s => render(Seq("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "start_ns" -> s.startNs, "end_ns" -> s.endNs))).mkString("[\n", ",\n", "\n]\n")
      Files.write(f.toPath, body.getBytes(UTF_8))
    }
    val layers = r.layers.map(m => (m.name, m.value, m.unit))
    println(render(Seq("meta" -> r.meta)))
    println(render(Seq("traffic" -> r.traffic)))
    println(render(Seq("gate" -> Seq("attempted" -> r.gate.attempted, "failed" -> r.gate.failed,
      "failed_share" -> r.gate.failed.toDouble / math.max(1, r.gate.attempted),
      "failures" -> r.gate.failures.take(20).map { case (b, why) => s"$b: $why" }),
      "problems" -> r.problems)))
    if (trace) println(render(Seq("end_to_end" -> metricMap(r.endToEnd))))
    else println(render(Seq("per_layer" -> metricMap(layers))))
    val result = Seq(
      "correct" -> (r.gate.failed == 0 && r.problems.isEmpty),
      "attempted" -> r.gate.attempted,
      "failed" -> r.gate.failed,
      "metrics" -> metricMap(if (trace) layers else r.endToEnd))
    println(render(result))
  }
}
