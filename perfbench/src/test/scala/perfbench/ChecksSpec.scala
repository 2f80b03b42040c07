package perfbench

import org.scalatest.funsuite.AnyFunSuite

/** Each output check accepts a correct output and rejects one planted
  * wrong, counting exactly the planted outputs as failed. */
class ChecksSpec extends AnyFunSuite {

  private val gen = new Gen(seed = 7, rate = 1000, baseMs = 1700000000000L)

  test("generator ids map back to their event; other ids do not") {
    (0L until 2000L).foreach(i => assert(gen.indexOf(gen.transactionId(i)) == i))
    assert(new Gen(8, 1000, 0L).indexOf(gen.transactionId(5)) == -1)
    assert(gen.indexOf("not-an-id") == -1)
    val flipped = gen.transactionId(5).updated(3, if (gen.transactionId(5)(3) == '0') '1' else '0')
    assert(gen.indexOf(flipped) == -1)
  }

  test("the same seed gives the same events") {
    val again = new Gen(seed = 7, rate = 1000, baseMs = 1700000000000L)
    def wire(g: Gen) = { val sb = new java.lang.StringBuilder; (0L until 50L).foreach(i => g.json(i, g.dueMs(i), sb)); sb.toString }
    assert(wire(gen) == wire(again))
    assert(wire(gen) != wire(new Gen(seed = 8, rate = 1000, baseMs = 1700000000000L)))
  }

  private def riskSeen(n: Int) = {
    val seen = Array.fill[Byte](n)(1)
    val hash = Array.tabulate(n)(i => gen.riskLine(i.toLong).hashCode)
    (seen, hash)
  }
  private val expected: Int => Int = i => gen.riskLine(i.toLong).hashCode

  test("risk: every event once with its own line passes") {
    val (seen, hash) = riskSeen(100)
    assert(Checks.risk(100, seen, hash, 0, expected) == Checks.Tally(100, 0, Nil))
  }

  test("risk: a missing, a duplicated, a wrong line and a foreign id each fail") {
    val (seen, hash) = riskSeen(100)
    seen(3) = 0
    seen(10) = 2
    hash(20) = "TxId=x, Amount=0.00, Risk=SAFE".hashCode
    val t = Checks.risk(100, seen, hash, foreign = 1, expected)
    assert(t.attempted == 101)
    assert(t.failed == 4)
    assert(t.notes.exists(_.contains("event 3 missing")))
    assert(t.notes.exists(_.contains("event 10 emitted 2 times")))
    assert(t.notes.exists(_.contains("event 20 wrong line")))
  }

  private def w(start: Long, cnt: Long, ok: Long, amount: Double) = Checks.Window(
    start, start + 10000, cnt, ok, cnt - ok, amount, 1.0, 0.5, amount * 2, s"line $start")
  private val windows = Seq(w(0, 10, 8, 3.5), w(10000, 7, 7, 2.25), w(20000, 1, 0, 0.0))
  private val tally = windows.map(x => x.start -> (x.cnt, x.success, x.failure)).toMap

  test("metrics: the sink equal to the batch run and the tally passes") {
    assert(Checks.metrics(windows, windows, tally) == Checks.Tally(3, 0, Nil))
  }

  test("metrics: a changed value, a missing and a doubled window each fail") {
    val changed = windows.updated(1, windows(1).copy(avgAmount = 2.2500000001))
    assert(Checks.metrics(changed, windows, tally).failed == 1)
    assert(Checks.metrics(windows.take(2), windows, tally).failed == 1)
    assert(Checks.metrics(windows :+ windows.head, windows, tally).failed == 1)
  }

  test("metrics: counts that agree with the batch run but not the generator fail") {
    val wrongTally = tally.updated(0L, (11L, 9L, 2L))
    val t = Checks.metrics(windows, windows, wrongTally)
    assert(t.failed == 1 && t.notes.head.contains("counts differ from the generator"))
  }

  private val totals = Map("SENDER-1" -> (1234.5, 3L), "SENDER-2" -> (0.25, 1L))

  test("senders: equal totals pass, also with last-bit amount differences") {
    assert(Checks.senders(totals, totals) == Checks.Tally(2, 0, Nil))
    val reordered = totals.updated("SENDER-1", (1234.5 + 1e-10, 3L))
    assert(Checks.senders(reordered, totals).failed == 0)
  }

  test("senders: a wrong count, a wrong amount and a missing sender each fail") {
    assert(Checks.senders(totals.updated("SENDER-1", (1234.5, 4L)), totals).failed == 1)
    assert(Checks.senders(totals.updated("SENDER-2", (0.26, 1L)), totals).failed == 1)
    assert(Checks.senders(totals - "SENDER-2", totals).failed == 1)
    assert(Checks.senders(totals + ("SENDER-9" -> (1.0, 1L)), totals).failed == 1)
  }

  test("board: recorded digests pass; a changed digest and a failed key fail") {
    val rec = Map("q1" -> "5:123", "q2" -> "0:0")
    assert(Checks.board(rec, rec) == Checks.Tally(2, 0, Nil))
    assert(Checks.board(rec.updated("q1", "5:124"), rec).failed == 1)
    assert(Checks.board(rec - "q2", rec).failed == 1)
  }
}
