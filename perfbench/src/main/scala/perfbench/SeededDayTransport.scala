package perfbench

import java.util.concurrent.atomic.AtomicLong

import graft.source.{DayTransport, RestFetch}

/** The benchmark's offline REST transport. `EodDsv2` instantiates it by
  * class name on executor threads, so it has a no-arg constructor and reads
  * its configuration from system properties (local mode is one JVM):
  *
  *  - `perfbench.tickers`, `perfbench.seed`, `perfbench.since`: the [[Market]];
  *  - `perfbench.revisions`: `date:rev,…`, the dates a FORCE reload revises.
  *
  * Every call is counted, so a lost checkpoint that re-fetches a day shows
  * in `source.requests`.
  */
class SeededDayTransport extends DayTransport {
  override def fetch(date: String): RestFetch.Response = {
    val t0 = System.nanoTime()
    val d = java.time.LocalDate.parse(date)
    val body = SeededDayTransport.market.payload(d, SeededDayTransport.revision(date))
    SeededDayTransport.requests.incrementAndGet()
    SeededDayTransport.fetchNanos.addAndGet(System.nanoTime() - t0)
    RestFetch.Response(200, body)
  }
}

object SeededDayTransport {
  val requests = new AtomicLong()
  val fetchNanos = new AtomicLong()

  def configure(m: Market): Unit = {
    sys.props("perfbench.tickers") = m.tickers.toString
    sys.props("perfbench.seed") = m.seed.toString
    sys.props("perfbench.since") = m.since.toString
    sys.props("perfbench.revisions") = ""
  }

  def setRevision(date: String, rev: Int): Unit = {
    val cur = revisions - date
    sys.props("perfbench.revisions") =
      (cur + (date -> rev)).map { case (k, v) => s"$k:$v" }.mkString(",")
  }

  def market: Market =
    Market(sys.props("perfbench.seed").toLong, sys.props("perfbench.tickers").toInt,
      java.time.LocalDate.parse(sys.props("perfbench.since")))

  private def revisions: Map[String, Int] =
    sys.props.getOrElse("perfbench.revisions", "").split(",").filter(_.nonEmpty)
      .map { kv => val Array(k, v) = kv.split(":"); k -> v.toInt }.toMap

  def revision(date: String): Int = revisions.getOrElse(date, 0)
}
