package perfbench

/** Output checks. Each returns how many outputs it attempted to verify and
  * how many of them were wrong or missing; the run's `attempted` and
  * `failed` are the sums. Kept free of Spark so each can be tested with an
  * output planted wrong. */
object Checks {

  final case class Tally(attempted: Long, failed: Long, notes: Seq[String]) {
    def +(o: Tally): Tally =
      Tally(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
  }

  private def note(what: String, bad: Iterable[Any]): Seq[String] =
    if (bad.isEmpty) Nil
    else Seq(s"$what: ${bad.size} wrong, e.g. ${bad.take(3).mkString("; ")}")

  /** Risk: every generated event is emitted exactly once, with the `line`
    * its own fields give. `seen(i)` counts emissions of event i,
    * `lineHash(i)` is the hash of the last line emitted for it, and
    * `foreign` counts emitted ids no generated event has. */
  def risk(n: Int, seen: Array[Byte], lineHash: Array[Int], foreign: Long,
           expectedLineHash: Int => Int): Tally = {
    val bad = Seq.newBuilder[String]
    var failed = foreign
    var i = 0
    while (i < n) {
      val problem =
        if (seen(i) == 0) "missing"
        else if (seen(i) > 1) s"emitted ${seen(i)} times"
        else if (lineHash(i) != expectedLineHash(i)) "wrong line"
        else null
      if (problem != null) { failed += 1; bad += s"event $i $problem" }
      i += 1
    }
    val fNote = if (foreign > 0) Seq(s"risk: $foreign unknown ids") else Nil
    Tally(n.toLong + foreign, failed, note("risk", bad.result()) ++ fNote)
  }

  /** One closed window as the metrics pipeline emits it. */
  final case class Window(start: Long, end: Long, cnt: Long, success: Long,
                          failure: Long, avgAmount: Double, avgRate: Double,
                          minAmount: Double, maxAmount: Double, line: String)

  /** Metrics: the windows the sink wrote equal the same pipeline run in
    * batch over the same input, and their counts match the generator's own
    * tally (start -> (count, success, failure)). Every expected window is
    * one output. */
  def metrics(sunk: Seq[Window], batch: Seq[Window],
              tally: Map[Long, (Long, Long, Long)]): Tally = {
    val got = sunk.groupBy(_.start)
    val want = batch.map(w => w.start -> w).toMap
    val starts = (want.keySet ++ got.keySet ++ tally.keySet).toSeq.sorted
    val bad = starts.flatMap { s =>
      val g = got.getOrElse(s, Nil)
      val problem =
        if (g.isEmpty) "missing from the sink"
        else if (g.size > 1) s"written ${g.size} times"
        else if (!want.get(s).contains(g.head)) "differs from the batch run"
        else if (!tally.get(s).contains((g.head.cnt, g.head.success, g.head.failure)))
          "counts differ from the generator"
        else null
      Option(problem).map(p => s"window $s $p")
    }
    Tally(starts.size.toLong, bad.size.toLong, note("metrics", bad))
  }

  /** Senders: the final running totals equal a batch group-by. Counts
    * must match exactly; amounts are sums of the same doubles in another
    * order, so they match to a relative 1e-9. */
  def senders(state: Map[String, (Double, Long)],
              batch: Map[String, (Double, Long)]): Tally = {
    val keys = (state.keySet ++ batch.keySet).toSeq.sorted
    val bad = keys.flatMap { k =>
      (state.get(k), batch.get(k)) match {
        case (Some((a, c)), Some((ea, ec)))
            if c == ec && math.abs(a - ea) <= 1e-9 * math.max(1.0, math.abs(ea)) => None
        case (got, want) => Some(s"sender $k: got $got, want $want")
      }
    }
    Tally(keys.size.toLong, bad.size.toLong, note("senders", bad))
  }

  /** Board: each key's output digest equals the one recorded for it. A
    * key that failed to run has no digest. */
  def board(got: Map[String, String], recorded: Map[String, String]): Tally = {
    val bad = recorded.keys.toSeq.sorted.flatMap { k =>
      got.get(k) match {
        case Some(d) if d == recorded(k) => None
        case Some(d) => Some(s"$k digest $d, recorded ${recorded(k)}")
        case None => Some(s"$k produced no output")
      }
    }
    Tally(recorded.size.toLong, bad.size.toLong, note("board", bad))
  }
}
