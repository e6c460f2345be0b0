package perfbench

/** Seeded wire-JSON station generator.
  *
  * Distributions follow the reference station (humidity 10-100,
  * temperature 32-110, wind 0-60, battery low/medium/high at 30/40/30, a
  * 10 % pre-send drop after the sequence number is assigned) plus the
  * transport faults `graft.sources.WireSource` injects: ~1/13 malformed
  * frames and ~1/17 invalid battery enums. Every draw is a hash of
  * (seed, station, sequence), so a row's content does not depend on when it
  * is written. Each station sends `hz` times a second at its own seeded
  * phase.
  */
final class WireGen(seed: Long, val stations: Int, hz: Int) {
  import WireGen._

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  private def u(s: Long, q: Long, salt: Long): Double =
    (mix(mix(mix(seed) ^ s) ^ (q * 31L + salt)) >>> 11) * (1.0 / (1L << 53))

  val periodMs: Int = 1000 / hz

  /** Send phase of each station within its period, ms (index = station id). */
  val phaseMs: Array[Int] = Array.tabulate(stations + 1)(s =>
    if (s == 0) 0 else (u(s, 0, 7) * periodMs).toInt)

  def kind(s: Int, q: Long): Int =
    if (u(s, q, 5) < 0.1) Dropped
    else if (u(s, q, 6) < 1.0 / 13) Malformed
    else if (u(s, q, 8) < 1.0 / 17) BadEnum
    else Valid

  def battery(s: Int, q: Long): String = {
    val r = u(s, q, 1)
    if (r < 0.3) "LOW" else if (r < 0.7) "MEDIUM" else "HIGH"
  }
  def humidity(s: Int, q: Long): Int = 10 + (u(s, q, 2) * 91).toInt
  def temperature(s: Int, q: Long): Int = 32 + (u(s, q, 3) * 79).toInt
  def windSpeed(s: Int, q: Long): Int = (u(s, q, 4) * 61).toInt

  /** The wire line for a sent (not dropped) reading. */
  def line(s: Int, q: Long, tsMs: Long, k: Int): String =
    if (k == Malformed) s"""{"stationId":$s,"sequenceNumber":$q,"battery"""
    else {
      val bat = if (k == BadEnum) "BROKEN" else battery(s, q)
      s"""{"stationId":$s,"sequenceNumber":$q,"batteryStatus":"$bat",""" +
        s""""statusTimestamp":$tsMs,"weather":{"humidity":${humidity(s, q)},""" +
        s""""temperature":${temperature(s, q)},"wind_speed":${windSpeed(s, q)}}}"""
    }
}

object WireGen {
  val Dropped = 0
  val Malformed = 1
  val BadEnum = 2
  val Valid = 3
}

/** One file the generator lands: its lines and each line's scheduled send
  * time (epoch ms), in line order.
  */
final class WireFile(val name: String, val dueMs: Long,
    val lines: Array[String], val sentMs: Array[Long]) {
  def bytes: Array[Byte] =
    lines.mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)
}

/** What the program must end up holding for the rows generated so far:
  * lake rows, alert rows and each station's event-time latest reading.
  */
final class Expected(gen: WireGen) {
  var lines = 0L
  var valid = 0L
  var alerts = 0L
  val seq = Array.fill(gen.stations + 1)(-1L)
  val ts = Array.fill(gen.stations + 1)(Long.MinValue)

  /** Build a file of the readings (station, seq, send time), recording the
    * valid ones.
    */
  def file(name: String, dueMs: Long,
      readings: Iterator[(Int, Long, Long)]): WireFile = {
    val ls = Array.newBuilder[String]
    val sent = Array.newBuilder[Long]
    readings.foreach { case (s, q, t) =>
      val k = gen.kind(s, q)
      if (k != WireGen.Dropped) {
        ls += gen.line(s, q, t, k); sent += t; lines += 1
        if (k == WireGen.Valid) {
          valid += 1
          if (gen.humidity(s, q) > 70) alerts += 1
          if (t > ts(s) || (t == ts(s) && q > seq(s))) { ts(s) = t; seq(s) = q }
        }
      }
    }
    new WireFile(name, dueMs, ls.result(), sent.result())
  }

  /** Mismatches between a served latest table and the expectation. */
  def latestMismatches(rows: Seq[(Long, Long, String, Long, Int, Int, Int)])
      : Seq[String] = {
    val want = (1 to gen.stations).filter(seq(_) >= 0)
    val got = rows.map(r => r._1 -> r).toMap
    val missing = want.filterNot(s => got.contains(s.toLong))
      .map(s => s"station $s missing from latest table")
    val extra = got.keys.filter(s => s < 1 || s > gen.stations || seq(s.toInt) < 0)
      .map(s => s"unexpected station $s in latest table")
    val wrong = want.flatMap { s =>
      got.get(s.toLong).flatMap { case (_, q, bat, t, h, tp, w) =>
        val exp = (seq(s), gen.battery(s, seq(s)).toLowerCase, ts(s),
          gen.humidity(s, seq(s)), gen.temperature(s, seq(s)),
          gen.windSpeed(s, seq(s)))
        if ((q, bat, t, h, tp, w) == exp) None
        else Some(s"station $s latest ${(q, bat, t, h, tp, w)} != expected $exp")
      }
    }
    (missing ++ extra ++ wrong).toSeq
  }
}
