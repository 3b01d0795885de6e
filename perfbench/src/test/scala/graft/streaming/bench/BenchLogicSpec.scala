package graft.streaming.bench

import java.nio.charset.StandardCharsets.UTF_8

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{BatchStatus, BatchTracker, NotificationJson}

/** The benchmark's own logic: generator purity, the percentile rule, span
  * self time, and the correctness gate's response to injected faults. */
class BenchLogicSpec extends AnyFunSuite {

  /** Everything a phase feeds the job, and everything it expects back. */
  private def fingerprint(g: Gen, p: Phase): String = {
    val events = p.events.map { e =>
      val body = e.notif.map(n => NotificationJson.render(n)).getOrElse(
        s"${e.key}:${Fnv.hash(g.payloadOf(e).bytes)}")
      s"${e.atUs}|${e.batch}|$body|${e.late}"
    }
    val expect = p.expect.toSeq.sortBy(_._1).map { case (b, x) =>
      s"$b:${x.routes.toSeq.sorted}:${x.notifs}"
    }
    val known = p.mgmtKnown.map(_.id)
    Fnv.hash((events ++ expect ++ known).mkString("\n").getBytes(UTF_8)).toHexString
  }

  private def phases(name: String, seed: Long): Seq[String] = {
    val g = new Gen(Spec(name), seed)
    Seq(g.backlog(0), g.backlog(1, 5000), g.openLoop(3.0)).map(fingerprint(g, _))
  }

  test("generator output is a pure function of (workload, seed)") {
    Spec.all.foreach { s =>
      assert(phases(s.name, 7) == phases(s.name, 7), s.name)
      assert(phases(s.name, 7) != phases(s.name, 8), s.name)
    }
    assert(phases("stream_hot_batch", 3) == phases("stream_hot_batch_salted", 3),
      "the salted workload gets the same generated input as the single-level one")
  }

  test("the schema validator reaches the verdict the generator expects") {
    val g = new Gen(Spec("stream_hot_batch"), 5)
    val v = new ObservationValidator
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    (g.pool ++ g.invalidPool).foreach { p =>
      assert(ObservationRules.check(mapper.readTree(p.bytes)) == p.failure)
    }
    assert(g.invalidPool.map(_.failure.get).distinct.size > 5)
    assert(v.isValid(graft.streaming.HriRecord(Nil, Array.emptyByteArray, g.pool(0).bytes, "t", 0, 0))._1)
  }

  test("percentile rule: reported only with at least ten samples beyond it") {
    assert(Stats.reportable(1000, 99) && !Stats.reportable(999, 99))
    assert(Stats.reportable(20, 50) && !Stats.reportable(19, 50))
    assert(Stats.reportable(10000, 99.9) && !Stats.reportable(9999, 99.9))
    val xs = (1 to 1000).map(_.toDouble).toArray
    assert(Stats.tail(xs) == Some((99.0, Stats.percentile(xs, 99))))
    assert(Stats.tail((1 to 150).map(_.toDouble).toArray).map(_._1) == Some(90.0))
    assert(Stats.tail(Array(1.0, 2.0)).isEmpty)
    assert(Stats.percentile(Array(1.0, 2.0, 3.0, 4.0), 50) == 2.5)
    assert(Stats.percentile(Array(10.0, 20.0, 30.0), 100) == 30.0)
  }

  test("span self time subtracts the union of its children, clipped to it") {
    val parent = Span(1, -1, "p", 0, 100)
    val kids = Seq(Span(2, 1, "a", 10, 30), Span(3, 1, "b", 20, 50),
      Span(4, 1, "c", 90, 120), Span(5, 1, "d", 200, 300))
    assert(Stats.selfNs(parent, kids) == 50) // covered: [10,50] + [90,100]
    assert(Stats.selfNs(parent, Nil) == 100)
    assert(Stats.selfNs(parent, Seq(Span(2, 1, "a", -5, 105))) == 0)
    val all = parent +: kids :+ Span(6, 2, "a", 12, 15)
    val self = Stats.selfByName(all)
    assert(self("p") == 50 / 1e6)
    assert(self("a") == (17 + 3) / 1e6) // a: 20 minus its 3 ns child, plus that child's own 3
    assert(self("d") == 100 / 1e6)
  }

  /** The observation a flawless run of `phase` produces. */
  private def perfect(p: Phase): Gate.Observed = Gate.Observed(
    p.expect.values.flatMap(e => e.routes.map { case (r, v) => (e.batch, r) -> v }).toMap,
    p.expect.values.map(e => e.batch -> e.notifs.toSeq).toMap,
    p.expect.values.map(e => e.batch -> e.notifs.toSeq).toMap)

  test("the gate passes a flawless run and flags each injected fault") {
    val g = new Gen(Spec("stream_many_batches"), 11)
    val p = g.openLoop(4.0)
    val seen = perfect(p)
    assert(Gate.check(p.expect.values, seen) == Gate.Result(p.expect.size, Nil))

    val completed = p.expect.values.find(_.notifs.headOption.exists(_._1 == BatchStatus.Completed)).get
    val b = completed.batch
    val (n, h) = seen.routes((b, "valid"))
    val fp = 0x5bd1e995L
    val faults = Map(
      "dropped record" -> seen.copy(routes = seen.routes.updated((b, "valid"), (n - 1, h - fp))),
      "duplicated record" -> seen.copy(routes = seen.routes.updated((b, "valid"), (n + 1, h + fp))),
      "misrouted record" -> seen.copy(routes = seen.routes.updated((b, "valid"), (n - 1, h - fp))
        .updated((b, s"invalid:${BatchTracker.CompletedBatchMessage}"), (1L, fp))),
      "missing completed" -> seen.copy(notifs = seen.notifs.updated(b, Nil)),
      "replaced record" -> seen.copy(routes = seen.routes.updated((b, "valid"), (n, h + 1))))
    faults.foreach { case (what, obs) =>
      val r = Gate.check(p.expect.values, obs)
      assert(r.failures.map(_._1) == Seq(b), what)
      assert(r.failed == 1 && r.attempted == p.expect.size, what)
    }
    val noPut = seen.copy(puts = seen.puts.updated(b, Nil))
    assert(Gate.check(p.expect.values, noPut).failures.map(_._1) == Seq(b))
  }

  test("the many-batches mix covers every lifecycle kind it claims") {
    val g = new Gen(Spec("stream_many_batches"), 2)
    val p = g.openLoop(6.0)
    val routes = p.expect.values.flatMap(_.routes.keys).toSet
    Seq(BatchTracker.UnknownBatchMessage, BatchTracker.TerminatedBatchMessage,
      BatchTracker.CompletedBatchMessage).foreach(m => assert(routes(s"invalid:$m"), m))
    val statuses = p.expect.values.flatMap(_.notifs.map(_._1)).toSet
    assert(statuses == Set(BatchStatus.Completed, BatchStatus.Failed))
    assert(p.mgmtKnown.nonEmpty && p.lateRecords > 0)
  }
}
