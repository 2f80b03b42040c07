package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.Locale

/** The benchmark's remittance load generator.
  *
  * Every field of event `i` is a pure function of (seed, i), so the same
  * seed gives the same events, and a checker can recompute any expected
  * output from an index alone. Event `i` is due at `baseMs + i * 1000 /
  * rate`; its `timestamp` (event time) is that due time, as the
  * reference producer stamps events when it creates them.
  *
  * The wire form is the reference's Kafka JSON payload, one event per line,
  * read by the engine through the text file source.
  */
final class Gen(val seed: Long, val rate: Int, val baseMs: Long) {
  import Gen._

  private def h(i: Long, k: Int): Long =
    mix(seed * 0x9E3779B97F4A7C15L + i * 0xD1B54A32D192ED03L + k)

  def dueMs(i: Long): Long = baseMs + i * 1000L / rate

  /** 16 hex digits of hash, a dash, then the index in 12 hex digits, so a
    * sink can map an emitted id back to its event without a lookup table. */
  def transactionId(i: Long): String = {
    val s = new java.lang.StringBuilder(29)
    hex(s, h(i, 0), 16); s.append('-'); hex(s, i, 12)
    s.toString
  }

  def sender(i: Long): String = "SENDER-" + java.lang.Long.remainderUnsigned(h(i, 1), Senders)
  def receiver(i: Long): String = "RECEIVER-" + java.lang.Long.remainderUnsigned(h(i, 2), Senders)
  def amount(i: Long): Double = (h(i, 3) >>> 11) * (1.0 / (1L << 53)) * 10000.0
  def currency(i: Long): Int = java.lang.Long.remainderUnsigned(h(i, 4), Fx.length.toLong).toInt
  def rateOf(i: Long): Double = Fx(currency(i))._2

  def json(i: Long, ts: Long, sb: java.lang.StringBuilder): Unit = {
    sb.append("{\"transactionId\":\"").append(transactionId(i))
      .append("\",\"senderId\":\"").append(sender(i))
      .append("\",\"receiverId\":\"").append(receiver(i))
      .append("\",\"amount\":").append(amount(i))
      .append(",\"currency\":\"").append(Fx(currency(i))._1)
      .append("\",\"exchangeRate\":").append(rateOf(i))
      .append(",\"timestamp\":").append(ts).append("}\n")
  }

  /** The risk pipeline's `line` for event `i` (RiskLabeler.formatted). */
  def riskLine(i: Long): String = {
    val a = amount(i)
    String.format(Locale.US, "TxId=%s, Amount=%.2f, Risk=%s",
      transactionId(i), Double.box(a), if (a > RiskThreshold) "RISK" else "SAFE")
  }

  /** Index encoded in an id, or -1 when the id is not one this generator
    * made for that index. */
  def indexOf(id: String): Long =
    if (id == null || id.length != 29 || id.charAt(16) != '-') -1L
    else try {
      val i = java.lang.Long.parseLong(id.substring(17), 16)
      if (java.lang.Long.parseUnsignedLong(id.substring(0, 16), 16) == h(i, 0)) i
      else -1L
    } catch { case _: NumberFormatException => -1L }

  /** Writes events [from, until) as one file, atomically: written under
    * `stage`, then renamed into `dir`, so a file source never lists a
    * half-written file. `ts` gives each event's timestamp. */
  def writeFile(stage: Path, dir: Path, name: String, from: Long, until: Long,
                ts: Long => Long): Long = {
    val sb = new java.lang.StringBuilder(((until - from) * 200).toInt.max(256))
    var i = from
    while (i < until) { json(i, ts(i), sb); i += 1 }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val tmp = stage.resolve(name)
    Files.write(tmp, bytes)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    bytes.length.toLong
  }
}

object Gen {
  val Senders = 100000L
  val RiskThreshold = 1000.0
  val WindowMs = 10000L
  /** The reference generator's FX table, CNY -> 0.0 being the failure
    * population (same values as graft.core.Schemas.fxRates). */
  val Fx: Array[(String, Double)] = Array(
    "USD" -> 1.0, "NPR" -> 133.5, "INR" -> 133.0,
    "CNY" -> 0.0, "AUD" -> 1.54, "EUR" -> 0.92)

  def mix(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  private def hex(sb: java.lang.StringBuilder, v: Long, digits: Int): Unit = {
    var k = digits - 1
    while (k >= 0) {
      sb.append(Character.forDigit(((v >>> (4 * k)) & 0xf).toInt, 16)); k -= 1
    }
  }
}
