package perfbench

import java.time.{DayOfWeek, LocalDate}

/** One field of a grouped-daily record: `value` is in the field's unit
  * (prices in ten-thousandths of a dollar, volume in shares); `token` says
  * how the payload renders it.
  */
final case class Field(value: Long, token: Int) {
  /** What the engine should parse the field to: the value, or NULL for the
    * `""` / `NULL` / `NaN` tokens and for a missing key.
    */
  def parsed: Option[Long] = if (token == Field.Value) Some(value) else None
}

object Field {
  val Value = 0
  val Empty = 1   // ""
  val NullTok = 2 // "NULL"
  val NaN = 3     // "NaN"
  val Missing = 4 // key absent from the record
}

/** One record of a grouped-daily payload. `symbol` is the canonical ticker;
  * `rendered` is how the payload spells it (lower-case and/or padded).
  */
final case class Bar(symbol: String, rendered: String, open: Field,
    high: Field, low: Field, close: Field, volume: Field)

/** A deterministic US-equity-shaped market: every value derives from
  * (seed, ticker index, trade date, revision) through a stateless hash, so
  * the transport (on executor threads), the workloads and the output checks
  * all compute the same records without sharing state. Dates before `since`
  * draw from [[Market.HistorySeed]] instead of `seed`, so one deep history
  * serves runs of every seed; ticker symbols never depend on the seed.
  *
  * Reference-shaped dirt: lower-case and whitespace-padded symbols, `""` /
  * `NULL` / `NaN` tokens and missing fields on prices and volume, ~2 % of
  * tickers absent on any day, and weekends with an empty payload. A
  * revision (`rev > 0`, a FORCE reload) revises every close and repeats
  * ~5 % of the records verbatim.
  */
final case class Market(seed: Long, tickers: Int, since: LocalDate = LocalDate.MIN) {
  import Market._

  def symbol(i: Int): String = {
    // bijective on [0, 26^4): 7919 is coprime with 26
    var n = Math.floorMod(i.toLong * 7919L + 104729L, Space)
    val cs = new Array[Char](4)
    var k = 3
    while (k >= 0) { cs(k) = ('A' + (n % 26).toInt).toChar; n /= 26; k -= 1 }
    new String(cs)
  }

  /** A hash of `parts` under the seed that draws `d`'s values. */
  private def pick(d: LocalDate, mod: Long, parts: Long*): Long = {
    val s = if (d.isBefore(since)) HistorySeed else seed
    Math.floorMod(parts.foldLeft(mix(s))((acc, p) => mix(acc ^ p)), mod)
  }

  def present(i: Int, d: LocalDate): Boolean = pick(d, 100, i, d.toEpochDay, 11) >= 2

  private def field(v: Long, i: Int, d: LocalDate, rev: Int, salt: Long): Field = {
    val r = pick(d, 1000, i, d.toEpochDay, rev, salt)
    Field(v, if (r < 10) Field.Empty else if (r < 20) Field.NullTok
      else if (r < 30) Field.NaN else if (r < 40) Field.Missing else Field.Value)
  }

  def bar(i: Int, d: LocalDate, rev: Int): Bar = {
    val day = d.toEpochDay
    val base = 100000L + pick(d, 4900000L, i, 1)           // $10 .. $500
    val close0 = base * (900 + pick(d, 200, i, day, 2)) / 1000
    val close = if (rev == 0) close0 else close0 + 1 + pick(d, 5000, i, day, rev, 3)
    val open = base * (900 + pick(d, 200, i, day, 4)) / 1000
    val high = math.max(open, close) + pick(d, 2000, i, day, 5)
    val low = math.max(1L, math.min(open, close) - pick(d, 2000, i, day, 6))
    val volume = 1000L + pick(d, 5000000L, i, day, 7)
    val sym = symbol(i)
    val rendered = pick(d, 10, i, day, rev, 8) match {
      case 0 => sym.toLowerCase
      case 1 => s"  $sym "
      case 2 => s" ${sym.toLowerCase}"
      case _ => sym
    }
    Bar(sym, rendered, field(open, i, d, rev, 20), field(high, i, d, rev, 21),
      field(low, i, d, rev, 22), field(close, i, d, rev, 23),
      field(volume, i, d, rev, 24))
  }

  /** The records of a date's payload in payload order, repeats included. */
  def records(d: LocalDate, rev: Int): IndexedSeq[Bar] =
    if (!isTradingDay(d)) IndexedSeq.empty
    else (0 until tickers).filter(present(_, d)).flatMap { i =>
      val b = bar(i, d, rev)
      if (rev > 0 && pick(d, 20, i, d.toEpochDay, rev, 9) == 0) Seq(b, b) else Seq(b)
    }

  /** The distinct bars of a date — what CORE and FACT must hold for it. */
  def distinctBars(d: LocalDate, rev: Int): IndexedSeq[Bar] =
    if (!isTradingDay(d)) IndexedSeq.empty
    else (0 until tickers).filter(present(_, d)).map(bar(_, d, rev))

  /** A grouped-daily JSON payload in Polygon's shape. */
  def payload(d: LocalDate, rev: Int): String = {
    val recs = records(d, rev)
    if (recs.isEmpty) """{"status":"OK","queryCount":0,"resultsCount":0,"adjusted":true}"""
    else {
      val sb = new StringBuilder(recs.size * 96)
      sb.append(s"""{"status":"OK","queryCount":${recs.size},"resultsCount":${recs.size},"adjusted":true,"results":[""")
      var first = true
      recs.foreach { b =>
        if (!first) sb.append(','); first = false
        sb.append("{\"T\":\"").append(b.rendered).append('"')
        appendField(sb, "o", b.open, price = true)
        appendField(sb, "h", b.high, price = true)
        appendField(sb, "l", b.low, price = true)
        appendField(sb, "c", b.close, price = true)
        appendField(sb, "v", b.volume, price = false)
        sb.append('}')
      }
      sb.append("]}").toString
    }
  }
}

object Market {
  private val Space = 26L * 26 * 26 * 26
  /** The seed of every date before a market's `since`. */
  val HistorySeed = 0L

  def mix(x: Long): Long = { // SplitMix64 finalizer
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def isTradingDay(d: LocalDate): Boolean =
    d.getDayOfWeek != DayOfWeek.SATURDAY && d.getDayOfWeek != DayOfWeek.SUNDAY

  /** `n` consecutive trading days starting at `from` (inclusive). */
  def tradingDays(from: LocalDate, n: Int): IndexedSeq[LocalDate] =
    Iterator.iterate(from)(_.plusDays(1)).filter(isTradingDay).take(n).toIndexedSeq

  /** A seed-dependent Monday in 2024, so seeds also vary the calendar. */
  def startDate(seed: Long): LocalDate =
    LocalDate.of(2024, 1, 1).plusWeeks(Math.floorMod(seed, 40L))

  /** A value in ten-thousandths as a decimal literal (`1234567` → `123.4567`). */
  def px(v: Long): String = java.math.BigDecimal.valueOf(v, 4).toPlainString

  private def appendField(sb: StringBuilder, key: String, f: Field, price: Boolean): Unit =
    f.token match {
      case Field.Missing => ()
      case Field.Empty => sb.append(",\"").append(key).append("\":\"\"")
      case Field.NullTok => sb.append(",\"").append(key).append("\":\"NULL\"")
      case Field.NaN => sb.append(",\"").append(key).append("\":\"NaN\"")
      case _ => sb.append(",\"").append(key).append("\":")
        .append(if (price) px(f.value) else f.value.toString)
    }
}
