package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.model.Schemas
import graft.pipeline.{EodPipeline, PipelineReport}
import graft.source.{EodDsv2, EodSource}

/** The two workloads that drive the daily ELT (`EodPipeline`): a bulk
  * `backfill` through the executor-parallel REST scan, and a `nightly`
  * closed loop of one-day runs with FORCE-reload restatements.
  */
abstract class PipelineWorkload(val tickers: Int) extends Workload {
  protected val transport: String = classOf[SeededDayTransport].getName
  protected var market: Market = _
  protected var pipeline: EodPipeline = _
  protected var warehouse: String = _
  protected var bronze: String = _
  /** Bronze bytes landed by the measured operations. */
  protected var bronzeLanded = 0L

  protected def freshWarehouse(rs: RunState, tag: String, m: Market): Unit = {
    market = m
    SeededDayTransport.configure(market)
    val root = s"${rs.work}/$tag"
    Fs.delete(new java.io.File(root))
    warehouse = s"$root/warehouse"
    bronze = s"$root/bronze"
    pipeline = new EodPipeline(warehouse)
  }

  /** One report against what the generator says the date must produce. */
  protected def checkReport(rs: RunState, r: PipelineReport, d: LocalDate,
      rev: Int, restated: Boolean): Unit = {
    val distinct = market.distinctBars(d, rev).size.toLong
    val c = rs.checks
    c.expectEq(r.tradeDate, d.toString, "report date")
    c.expectEq(r.rawRows, market.records(d, rev).size.toLong, s"$d raw rows")
    c.expectEq(r.coreRows, distinct, s"$d core rows")
    c.expectEq(r.factRows, distinct, s"$d fact rows")
    c.expect(r.rowParity, s"$d row parity")
    c.expectEq(r.estInserts, if (restated) 0L else distinct, s"$d est_inserts")
    c.expectEq(r.estUpdates, if (restated) distinct else 0L, s"$d est_updates")
  }

  /** FACT closes for the dates given, against the generator's values. */
  protected def checkCloses(rs: RunState, dates: Map[LocalDate, Int]): Unit = {
    val spark = rs.spark
    val got = spark.read.schema(Schemas.factDailyPrice).parquet(pipeline.factPath)
      .filter(col("trade_date").isin(dates.keys.map(d => java.sql.Date.valueOf(d)).toSeq: _*))
      .groupBy(col("trade_date"))
      .agg(sum(col("close")).as("s"), count(col("close")).as("n"))
      .collect().map(r => r.getDate(0).toLocalDate -> (r.getDecimal(1), r.getLong(2))).toMap
    dates.foreach { case (d, rev) =>
      val closes = market.distinctBars(d, rev).flatMap(_.close.parsed)
      val (s, n) = got.getOrElse(d, (null, 0L))
      rs.checks.expectEq(n, closes.size.toLong, s"$d non-null closes")
      rs.checks.expect(s != null &&
        s.compareTo(java.math.BigDecimal.valueOf(closes.sum, 4)) == 0,
        s"$d close sum: got $s, expected ${java.math.BigDecimal.valueOf(closes.sum, 4)}")
    }
  }

  /** Both dims against the symbols and dates loaded so far. */
  protected def checkDims(rs: RunState, dates: Iterable[LocalDate]): Unit = {
    val syms = dates.flatMap(d => market.distinctBars(d, 0).map(_.symbol)).toSet
    rs.checks.expectEq(pipeline.dimSecurity(rs.spark).count(), syms.size.toLong, "dim_security rows")
    rs.checks.expectEq(pipeline.dimDate(rs.spark).count(), dates.size.toLong, "dim_date rows")
  }

  override def spaceAmp(rs: RunState): Double =
    Fs.bytes(warehouse).toDouble / math.max(1L, Fs.bytes(bronze))

  override def sourceBronzeBytes: Long = bronzeLanded
  override def tables: String = warehouse
}

/** `backfill`: `EodPipeline.backfillFromRest` from an empty warehouse over
  * a two-week window (ten trading days and two empty weekends) at
  * US-equity breadth. Each operation is one whole backfill into a fresh
  * warehouse; the windows move forward so no two operations share inputs.
  */
final class Backfill extends PipelineWorkload(Backfill.Tickers) {
  val name = "backfill"
  val primary = "backfill"
  val secondary = "backfill"
  private var windows = 0
  private var rows = 0L

  private def window(k: Int, days: Int): (LocalDate, LocalDate) = {
    val start = Market.startDate(market.seed).plusWeeks(3L * k)
    (start, start.plusDays(days - 1L))
  }

  private def backfill(rs: RunState, k: Int, days: Int): Unit = {
    val (from, to) = window(k, days)
    val stage = s"$bronze/stage"
    val reports = rs.span("pipeline", "backfill") {
      pipeline.backfillFromRest(rs.spark, from.toString, to.toString, transport, stage)
    }
    rs.checks.op {
      val dates = Iterator.iterate(from)(_.plusDays(1)).takeWhile(!_.isAfter(to))
        .filter(Market.isTradingDay).toSeq
      rs.checks.expectEq(reports.map(_.tradeDate), dates.map(_.toString), "backfilled dates")
      reports.zip(dates).foreach { case (r, d) => checkReport(rs, r, d, 0, restated = false) }
      checkDims(rs, dates)
      checkCloses(rs, dates.map(_ -> 0).toMap)
    }
    rows += reports.map(_.rawRows).sum
    bronzeLanded += Fs.bytes(stage)
  }

  def setup(rs: RunState, rep: Int): Unit = {
    freshWarehouse(rs, s"setup-$rep", Market(rs.seed, tickers))
    backfill(rs, 100 + rep, Backfill.WarmupDays)
    rows = 0; bronzeLanded = 0
  }

  def step(rs: RunState): Unit = {
    freshWarehouse(rs, s"op-$windows", Market(rs.seed, tickers)) // earlier ops' files stay: no deletes between walks
    rs.timeOp("backfill")(backfill(rs, windows, Backfill.WindowDays))
    windows += 1
  }

  def named(rs: RunState): Seq[(String, Double, String)] = {
    val t = rs.ops("backfill")
    Seq(("backfill_s", Stats.median(t.toSeq), "s"),
      ("backfill_rows_per_s", rows / t.sum, "1/s"),
      ("backfill_windows", t.size.toDouble, "count"),
      ("backfill_rows_per_window", rows.toDouble / t.size, "count"))
  }

  override def sourceRowsParsed: Long = rows
  override def sourceDays: Long = windows.toLong * Backfill.WindowDays
}

object Backfill {
  val Tickers = 5000
  val WindowDays = 14 // two calendar weeks: ten trading days
  val WarmupDays = 1
}

/** `nightly`: one caller runs the reference DAG's day, one trading day per
  * operation — `EodDsv2.readRange(d, d)` lands bronze through
  * `EodSource.writeBronzeCsv`, then `EodPipeline.runDate` — on top of
  * [[Nightly.HistoryDays]] days of history, so day-D costs that grow with
  * history show. Every third operation instead FORCE-reloads an earlier date
  * with revised closes and verbatim repeats, which drives the MERGE update
  * path.
  *
  * The history is one `backfillFromRest` over the first eight weeks of the
  * calendar, drawn from [[Market.HistorySeed]]. It is built once per source
  * state into the cache directory and copied into each set-up; the run's
  * own seed draws every later date.
  */
final class Nightly extends PipelineWorkload(Nightly.Tickers) {
  import Nightly._

  val name = "nightly"
  val primary = "day"
  val secondary = "restate"
  private val days = Market.tradingDays(Market.startDate(Market.HistorySeed), 2000)
  private var next = 0
  private var stepNo = 0
  private val revs = mutable.Map.empty[LocalDate, Int]
  private var rows = 0L
  private var fetchedDays = 0L
  private val depthOf = mutable.Map.empty[Int, Int]

  private def history(rs: RunState) = s"${rs.cache}/nightly-history-$HistoryDays"

  private def runDay(rs: RunState, d: LocalDate, rev: Int, timed: Boolean = true): Unit = {
    val ds = d.toString
    if (rev > 0) SeededDayTransport.setRevision(ds, rev)
    val path = s"$bronze/$ds.r$rev"
    def op = {
      rs.span("source", "land") {
        EodSource.writeBronzeCsv(EodDsv2.readRange(rs.spark, ds, ds, transport), path)
      }
      rs.span("pipeline", "runDate")(pipeline.runDate(rs.spark, path, ds))
    }
    val report = if (timed) rs.timeOp(if (rev == 0) "day" else "restate")(op) else op
    if (timed) {
      fetchedDays += 1
      rows += report.rawRows
      bronzeLanded += Fs.bytes(path)
    }
    rs.checks.op {
      checkReport(rs, report, d, rev, restated = rev > 0)
      if (rev > 0) checkCloses(rs, Map(d -> rev))
    }
  }

  /** Builds the history once: a set-up copies it, so set-ups stay short. */
  override def prepare(rs: RunState): Unit = {
    val dir = history(rs)
    if (new java.io.File(dir, "_COMPLETE").isFile) return
    val t0 = System.nanoTime()
    freshWarehouse(rs, "history", Market(Market.HistorySeed, tickers))
    val hist = days.take(HistoryDays)
    val reports = pipeline.backfillFromRest(rs.spark, hist.head.toString, hist.last.toString,
      transport, s"$bronze/history")
    rs.checks.op {
      rs.checks.expectEq(reports.map(_.tradeDate), hist.map(_.toString), "history dates")
      reports.zip(hist).foreach { case (r, d) => checkReport(rs, r, d, 0, restated = false) }
      checkDims(rs, hist)
      checkCloses(rs, hist.map(_ -> 0).toMap)
    }
    if (rs.checks.failed == 0) {
      val built = new java.io.File(s"${rs.work}/history")
      java.nio.file.Files.createFile(new java.io.File(built, "_COMPLETE").toPath)
      val target = new java.io.File(dir)
      Fs.delete(target)
      target.getParentFile.mkdirs()
      java.nio.file.Files.move(built.toPath, target.toPath)
    }
    System.err.println(f"[perfbench] built $HistoryDays%d days of history in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  def setup(rs: RunState, rep: Int): Unit = {
    freshWarehouse(rs, s"setup-$rep", Market(rs.seed, tickers, days(HistoryDays)))
    Fs.copy(new java.io.File(history(rs), "warehouse"), new java.io.File(warehouse))
    Fs.copy(new java.io.File(history(rs), "bronze"), new java.io.File(bronze))
    revs.clear(); next = HistoryDays; stepNo = 0
    // the first set-up also warms the JIT and codegen caches up
    (0 until InitialDays + (if (rep == 0) WarmupDays else 0)).foreach { _ =>
      runDay(rs, days(next), 0); next += 1
    }
    rows = 0; fetchedDays = 0; bronzeLanded = 0
  }

  /** A run always makes one restatement. */
  override def minOps: Int = RestateEvery

  def step(rs: RunState): Unit = {
    if (stepNo % RestateEvery == RestateEvery - 1) {
      val h = Market.mix(rs.seed ^ stepNo.toLong)
      val d = days(Math.floorMod(h, (next - 1).toLong).toInt) // never today's date
      val rev = revs.getOrElse(d, 0) + 1
      revs(d) = rev
      runDay(rs, d, rev)
    } else {
      depthOf(rs.opIndex) = next
      runDay(rs, days(next), 0)
      next += 1
    }
    stepNo += 1
  }

  /** Checks the dims; a traced run then loads [[AnchorDays]] more days into
    * an empty warehouse, whose shallow depths anchor the per-stage slopes.
    */
  override def finish(rs: RunState): Unit = {
    rs.checks.op(checkDims(rs, days.take(next)))
    if (rs.traced) {
      val (p, b) = (pipeline, bronze)
      val root = s"${rs.work}/anchor"
      pipeline = new EodPipeline(s"$root/warehouse")
      bronze = s"$root/bronze"
      try (0 to AnchorDays).foreach { k =>
        if (k > 0) depthOf(rs.opIndex) = k // the first day creates the tables
        runDay(rs, days(k), 0, timed = false)
        rs.opIndex += 1
      } finally { pipeline = p; bronze = b }
    }
  }

  def named(rs: RunState): Seq[(String, Double, String)] = {
    val d = rs.ops("day").toSeq
    val r = rs.ops("restate").toSeq
    Seq(("day_p50_s", Stats.median(d), "s"),
      ("day_p90_s", Stats.percentile(d, 90), "s"),
      ("day_samples", d.size.toDouble, "count"),
      ("restate_p50_s", Stats.median(r), "s"),
      ("restate_samples", r.size.toDouble, "count"),
      ("history_days", next.toDouble, "count"))
  }

  override def sourceRowsParsed: Long = rows
  override def sourceDays: Long = fetchedDays
  override def historyDepth: Map[Int, Int] = depthOf.toMap
}

object Nightly {
  val Tickers = 1000
  /** Eight calendar weeks: ROADMAP item 1 asks about day-D cost at 20–60 days. */
  val HistoryDays = 40
  val InitialDays = 1
  val WarmupDays = 2
  val RestateEvery = 3
  val AnchorDays = 3
}
