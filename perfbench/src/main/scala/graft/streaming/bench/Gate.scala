package graft.streaming.bench

/** The correctness gate: compares, batch by batch, what the generator's
  * model expects with what the sink and the Management API observed. A
  * batch fails on any difference in a route's row count or fingerprint sum
  * (a dropped, duplicated or misrouted record, or a wrong invalid message),
  * in its notification sequence, or in its Management API PUTs. */
object Gate {
  type Notes = Seq[(String, Option[Int])]

  final case class Observed(
      routes: Map[(String, String), (Long, Long)],
      notifs: Map[String, Notes],
      puts: Map[String, Notes])

  final case class Result(attempted: Int, failures: Seq[(String, String)]) {
    def failed: Int = failures.size
  }

  def check(expect: Iterable[Expect], seen: Observed): Result = {
    val byBatch = seen.routes.groupBy(_._1._1).map { case (b, m) => b -> m.map { case ((_, r), v) => r -> v } }
    val failures = expect.toSeq.flatMap { e =>
      val got = byBatch.getOrElse(e.batch, Map.empty[String, (Long, Long)])
      val routeFaults = (e.routes.keySet ++ got.keySet).toSeq.sorted.flatMap { r =>
        val want = e.routes.getOrElse(r, (0L, 0L))
        val have = got.getOrElse(r, (0L, 0L))
        if (want == have) None
        else if (want._1 != have._1) Some(s"$r: expected ${want._1} rows, saw ${have._1}")
        else Some(s"$r: ${want._1} rows but a different set of records")
      }
      val want = e.notifs.toSeq
      val notifFault =
        if (seen.notifs.getOrElse(e.batch, Nil) == want) None
        else Some(s"notifications: expected $want, saw ${seen.notifs.getOrElse(e.batch, Nil)}")
      val putFault =
        if (seen.puts.getOrElse(e.batch, Nil) == want) None
        else Some(s"mgmt PUTs: expected $want, saw ${seen.puts.getOrElse(e.batch, Nil)}")
      val faults = routeFaults ++ notifFault ++ putFault
      if (faults.isEmpty) None else Some(e.batch -> faults.mkString("; "))
    }
    Result(expect.size, failures)
  }
}
