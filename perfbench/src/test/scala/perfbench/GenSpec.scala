package perfbench

import java.time.LocalDate

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {
  private val monday = LocalDate.of(2024, 3, 4)

  test("the same seed gives the same payloads; another seed does not") {
    val a = Market(7, 300)
    val b = Market(7, 300)
    val c = Market(8, 300)
    assert(a.payload(monday, 0) == b.payload(monday, 0))
    assert(a.payload(monday, 2) == b.payload(monday, 2))
    assert(a.payload(monday, 0) != c.payload(monday, 0))
    assert(a.payload(monday, 0) != a.payload(monday.plusDays(1), 0))
    assert(Market.startDate(7) == Market.startDate(7))
  }

  test("dates before `since` draw from the history seed whatever the run's seed") {
    val a = Market(7, 300, monday.plusDays(1))
    val b = Market(8, 300, monday.plusDays(1))
    assert(a.payload(monday, 0) == Market(Market.HistorySeed, 300).payload(monday, 0))
    assert(a.payload(monday, 1) == b.payload(monday, 1))
    assert(a.payload(monday.plusDays(1), 0) == Market(7, 300).payload(monday.plusDays(1), 0))
    assert(a.payload(monday.plusDays(1), 0) != b.payload(monday.plusDays(1), 0))
    assert((0 until 300).map(a.symbol) == (0 until 300).map(b.symbol))
  }

  test("symbols are distinct four-letter tickers") {
    val m = Market(3, 5000)
    val syms = (0 until m.tickers).map(m.symbol)
    assert(syms.distinct.size == syms.size)
    assert(syms.forall(_.matches("[A-Z]{4}")))
  }

  test("payloads carry the reference's dirt and weekends are empty") {
    val m = Market(11, 2000)
    val recs = m.records(monday, 0)
    val fields = recs.flatMap(b => Seq(b.open, b.high, b.low, b.close, b.volume))
    Seq(Field.Empty, Field.NullTok, Field.NaN, Field.Missing, Field.Value)
      .foreach(t => assert(fields.exists(_.token == t), s"token $t never drawn"))
    assert(recs.exists(b => b.rendered != b.symbol && b.rendered.trim == b.symbol.toLowerCase))
    assert(recs.exists(b => b.rendered != b.rendered.trim))
    assert(recs.size < m.tickers, "some tickers are absent on any day")
    val sat = monday.plusDays(5)
    assert(m.records(sat, 0).isEmpty)
    assert(!m.payload(sat, 0).contains("\"results\""))
    val body = m.payload(monday, 0)
    Seq("\":\"\"", "\":\"NULL\"", "\":\"NaN\"").foreach(t => assert(body.contains(t), t))
  }

  test("a revision revises closes and repeats records verbatim") {
    val m = Market(5, 1000)
    val r0 = m.distinctBars(monday, 0)
    val r1 = m.distinctBars(monday, 1)
    assert(r0.map(_.symbol) == r1.map(_.symbol))
    assert(r0.zip(r1).forall { case (a, b) => a.close.value != b.close.value })
    val recs = m.records(monday, 1)
    assert(recs.size > r1.size, "a FORCE reload repeats some records")
    assert(recs.distinct.size == r1.size)
    assert(m.records(monday, 0).size == r0.size, "a first load has no repeats")
  }

  test("the transport serves the generator's payload and counts requests") {
    SeededDayTransport.configure(Market(9, 50, monday.plusDays(1)))
    SeededDayTransport.setRevision(monday.toString, 2)
    val before = SeededDayTransport.requests.get()
    val r = new SeededDayTransport().fetch(monday.toString)
    assert(r.status == 200)
    assert(r.body == Market(9, 50, monday.plusDays(1)).payload(monday, 2))
    assert(new SeededDayTransport().fetch(monday.plusDays(1).toString).body ==
      Market(9, 50).payload(monday.plusDays(1), 0))
    assert(SeededDayTransport.requests.get() - before == 2)
  }
}
