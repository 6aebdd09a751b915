package perfbench

import java.time.LocalDate

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.analytics.Measures
import graft.source.GraftCatalog

/** `lakehouse_sql`: one client against the reference star schema held as
  * `GraftCatalog` tables — FACT on the `log` layout, the dims on the
  * `versioned` layout — at the breadth of `nightly` ([[Nightly.Tickers]]
  * securities) over [[Lakehouse.History]] days of history. Each operation
  * is one simulated day: the two dim insert-missing MERGEs and the FACT
  * MERGE (the shape of `merge_facts_daily.sql`), then seven dashboard
  * reads — the DAX measures, `LAG` daily change %, a 7-day `RANGE` frame,
  * and one-day, one-week and full-history slices. Reads dominate, and no
  * pipeline layer runs. Every security trades every day: the generator's
  * absences and dirty tokens are the pipeline's concern, not the star
  * schema's.
  *
  * Known gap: the catalog reader refuses DECIMAL precision above 18, so
  * `volume` is DECIMAL(18,0) here where the reference declares NUMBER(38,0).
  */
final class Lakehouse extends Workload {
  import Lakehouse._

  val name = "lakehouse_sql"
  val primary = "day"
  val secondary = "writes"

  private final case class Vals(open: Long, high: Long, low: Long, close: Long, volume: Long)

  private var market: Market = _
  private var days: IndexedSeq[LocalDate] = _
  private var cat: String = _
  private var root: String = _
  private val model = mutable.Map.empty[(Int, LocalDate), Vals]
  private var day = 0
  private var stepNo = 0
  private var spaceAmpAtDays = 0.0
  private var inputBytes = 0L
  private var returned = 0L

  private def fact = s"$cat.eod.fact_daily_price"
  private def dimSec = s"$cat.eod.dim_security"
  private def dimDate = s"$cat.eod.dim_date"

  private def vals(i: Int, d: LocalDate, rev: Int): Vals = {
    val b = market.bar(i, d, rev)
    Vals(b.open.value, b.high.value, b.low.value, b.close.value, b.volume.value)
  }

  private def dec(v: Long, scale: Int) = java.math.BigDecimal.valueOf(v, scale)

  /** Stages `(i, date, values)` rows as the temp views the statements read;
    * counts their bronze-CSV size as the workload's input bytes.
    */
  private def stage(spark: SparkSession, rows: Seq[(Int, LocalDate, Vals)], dates: Seq[LocalDate]): Unit = {
    val bars = rows.map { case (i, d, v) =>
      inputBytes += s"$d,${market.symbol(i)},${Market.px(v.open)},${Market.px(v.high)},${Market.px(v.low)},${Market.px(v.close)},${v.volume}\n".length
      Row(i + 1L, market.symbol(i), java.sql.Date.valueOf(d), dec(v.open, 4), dec(v.high, 4),
        dec(v.low, 4), dec(v.close, 4), dec(v.volume, 0))
    }
    spark.createDataFrame(java.util.Arrays.asList(bars: _*), BarSchema)
      .createOrReplaceTempView("pb_bars")
    spark.sql(s"""SELECT explode(array(${dates.map(d => s"DATE'$d'").mkString(",")})) AS d""")
      .selectExpr("CAST(date_format(d, 'yyyyMMdd') AS INT) AS date_sk", "d AS cal_date",
        "year(d) AS year_num", "quarter(d) AS quarter_num", "month(d) AS month_num",
        "date_format(d, 'MMMM') AS month_name", "day(d) AS day_num",
        "date_format(d, 'EEEE') AS day_name", "dayofweek(d) - 1 AS day_of_week",
        "weekofyear(d) AS week_of_year", "dayofweek(d) IN (1, 7) AS is_weekend")
      .createOrReplaceTempView("pb_dates")
  }

  def setup(rs: RunState, rep: Int): Unit = {
    val spark = rs.spark
    market = Market(rs.seed, Securities)
    days = Market.tradingDays(Market.startDate(rs.seed), History + 400)
    cat = s"pb_lh$rep"
    root = s"${rs.work}/lh$rep"
    Fs.delete(new java.io.File(root))
    spark.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.root", root)
    spark.sql(s"CREATE NAMESPACE $cat.eod")
    spark.sql(s"CREATE TABLE $dimSec (security_id BIGINT, symbol STRING)")
    spark.sql(s"""CREATE TABLE $dimDate (date_sk INT, cal_date DATE, year_num INT,
      |quarter_num INT, month_num INT, month_name STRING, day_num INT, day_name STRING,
      |day_of_week INT, week_of_year INT, is_weekend BOOLEAN)""".stripMargin)
    spark.sql(s"""CREATE TABLE $fact (security_id BIGINT, date_sk INT, trade_date DATE,
      |open DECIMAL(18,6), high DECIMAL(18,6), low DECIMAL(18,6), close DECIMAL(18,6),
      |volume DECIMAL(18,0), load_ts TIMESTAMP) TBLPROPERTIES ('layout' = 'log')""".stripMargin)
    model.clear(); inputBytes = 0; returned = 0
    day = History - 1
    val hist = days.take(History)
    val rows = for (d <- hist; i <- 0 until Securities) yield (i, d, vals(i, d, 0))
    rows.foreach { case (i, d, v) => model((i, d)) = v }
    stage(spark, rows, hist)
    spark.sql(s"INSERT INTO $dimSec SELECT DISTINCT security_id, symbol FROM pb_bars")
    spark.sql(s"INSERT INTO $dimDate SELECT * FROM pb_dates")
    spark.sql(s"""INSERT INTO $fact SELECT security_id,
      |CAST(date_format(trade_date, 'yyyyMMdd') AS INT), trade_date, open, high, low,
      |close, volume, current_timestamp() FROM pb_bars""".stripMargin)
    // codegen and JIT warm-up, checked like any operation; the first set-up
    // also simulates whole days to warm the MERGE path
    if (rep == 0) (0 until WarmupDays).foreach(_ => simulateDay(rs, timed = false))
    dashboard(rs, timed = false).foreach(check => rs.checks.op(check()))
    stepNo = 0
  }

  /** A run always loads [[SpaceDays]] days: `space_amp` is taken after
    * them, so it does not depend on how many operations fit in the run.
    */
  override def minOps: Int = SpaceDays

  def step(rs: RunState): Unit = {
    simulateDay(rs, timed = true)
    stepNo += 1
    if (stepNo == SpaceDays) spaceAmpAtDays = Fs.bytes(root).toDouble / inputBytes
  }

  /** One simulated day: the MERGEs, then the dashboard; the output checks
    * run after the timed part.
    */
  private def simulateDay(rs: RunState, timed: Boolean): Unit = {
    def op = { loadDay(rs, timed); dashboard(rs, timed) }
    val pending = if (timed) rs.timeOp("day")(op) else op
    rs.checks.op(checkModelDay(rs, days(day)))
    pending.foreach(check => rs.checks.op(check()))
  }

  private def loadDay(rs: RunState, timed: Boolean): Unit = {
    val spark = rs.spark
    day += 1
    val d = days(day)
    val today = (0 until Securities).map(i => (i, d, vals(i, d, 0)))
    stage(spark, today, Seq(d))
    def writes = {
      merge(rs, timed, s"""MERGE INTO $dimSec t USING (SELECT DISTINCT security_id, symbol FROM pb_bars) s
        |ON t.symbol = s.symbol
        |WHEN NOT MATCHED THEN INSERT (security_id, symbol) VALUES (s.security_id, s.symbol)""".stripMargin)
      merge(rs, timed, s"""MERGE INTO $dimDate t USING pb_dates s ON t.date_sk = s.date_sk
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      merge(rs, timed, s"""MERGE INTO $fact t USING (
        |  SELECT s.security_id, CAST(date_format(b.trade_date, 'yyyyMMdd') AS INT) AS date_sk,
        |    b.trade_date, b.open, b.high, b.low, b.close, b.volume, current_timestamp() AS load_ts
        |  FROM pb_bars b JOIN $dimSec s ON b.symbol = s.symbol) src
        |ON t.security_id = src.security_id AND t.date_sk = src.date_sk
        |WHEN MATCHED THEN UPDATE SET open = src.open, high = src.high, low = src.low,
        |  close = src.close, volume = src.volume, load_ts = src.load_ts
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    if (timed) rs.timeOp("writes")(writes) else writes
    today.foreach { case (i, dd, v) => model((i, dd)) = v }
  }

  private def merge(rs: RunState, timed: Boolean, sql: String): Unit = {
    def run = rs.span("catalog", "merge")(rs.spark.sql(sql).collect())
    if (timed) rs.timeOp("merge")(run) else run
  }

  private def query(rs: RunState, timed: Boolean)(df: => DataFrame): Array[Row] = {
    def run = rs.span("catalog", "scan")(df.collect())
    val rows = if (timed) rs.timeOp("query")(run) else run
    if (timed) returned += rows.length
    rows
  }

  /** The rows the model holds for `d`, keyed by security index. */
  private def rowsOn(d: LocalDate): Seq[(Int, Vals)] =
    (0 until Securities).flatMap(i => model.get((i, d)).map(i -> _))

  private def checkModelDay(rs: RunState, d: LocalDate): Unit = {
    val n = rs.spark.sql(s"SELECT count(*) FROM $fact WHERE trade_date = DATE'$d'").head().getLong(0)
    rs.checks.expectEq(n, rowsOn(d).size.toLong, s"fact rows on $d after MERGE")
  }

  /** The dashboard: seven reads. Returns one check per read, each against
    * the model, to run once the timed part is over.
    */
  private def dashboard(rs: RunState, timed: Boolean): Seq[() => Unit] = {
    val spark = rs.spark
    val c = rs.checks
    val d = days(day)
    lazy val today = rowsOn(d)
    val tracked = query(rs, timed)(spark.sql(s"SELECT count(DISTINCT symbol) FROM $dimSec"))
    val measures = query(rs, timed)(spark.table(fact)
      .filter(col("trade_date") === lit(java.sql.Date.valueOf(d)))
      .agg(Measures.avgExact(col("close")), Measures.totalVolume(col("volume")),
        Measures.totalValue(col("volume"), col("close")), count(lit(1))))
    val change = query(rs, timed)(spark.sql(s"""SELECT security_id, pct FROM (
      |  SELECT security_id, trade_date,
      |    CASE WHEN prev IS NULL OR prev = 0 THEN 0D
      |      ELSE (CAST(close AS DOUBLE) - CAST(prev AS DOUBLE)) / CAST(prev AS DOUBLE) END AS pct
      |  FROM (SELECT security_id, trade_date, close,
      |      LAG(close) OVER (PARTITION BY security_id ORDER BY trade_date) AS prev
      |    FROM $fact WHERE trade_date BETWEEN DATE'${d.minusDays(14)}' AND DATE'$d'))
      |WHERE trade_date = DATE'$d'""".stripMargin))
    val avgVol = query(rs, timed)(spark.sql(s"""SELECT security_id, avg_vol FROM (
      |  SELECT security_id, trade_date,
      |    CAST(SUM(volume) OVER w AS DOUBLE) / COUNT(volume) OVER w AS avg_vol
      |  FROM $fact WHERE trade_date BETWEEN DATE'${d.minusDays(13)}' AND DATE'$d'
      |  WINDOW w AS (PARTITION BY security_id ORDER BY unix_date(trade_date)
      |    RANGE BETWEEN 6 PRECEDING AND CURRENT ROW))
      |WHERE trade_date = DATE'$d'""".stripMargin))
    val week = query(rs, timed)(spark.sql(s"""SELECT dd.cal_date, count(*), sum(f.close)
      |FROM $fact f JOIN $dimDate dd ON f.date_sk = dd.date_sk
      |WHERE f.trade_date BETWEEN DATE'${d.minusDays(6)}' AND DATE'$d'
      |GROUP BY dd.cal_date ORDER BY dd.cal_date""".stripMargin))
    val top = query(rs, timed)(spark.sql(s"""SELECT s.symbol, f.close, f.volume
      |FROM $fact f JOIN $dimSec s ON f.security_id = s.security_id
      |WHERE f.trade_date = DATE'$d'
      |ORDER BY f.volume DESC, s.symbol LIMIT 5""".stripMargin))
    val full = query(rs, timed)(spark.sql(
      s"SELECT count(*), count(DISTINCT security_id), sum(volume), sum(close) FROM $fact"))
    Seq(
      () => c.expectEq(tracked.head.getLong(0), Securities.toLong, "securities tracked"),
      { () =>
        val m = measures.head
        val closeSum = today.map(_._2.close).sum
        c.expectEq(m.getLong(3), today.size.toLong, "day rows")
        c.expectClose(m.getDouble(0), dec(closeSum, 4).doubleValue / today.size, "average close")
        c.expect(m.getDecimal(1).compareTo(dec(today.map(_._2.volume).sum, 0)) == 0,
          s"total volume ${m.getDecimal(1)}")
        c.expect(m.getDecimal(2).compareTo(dec(today.map(r => r._2.volume * r._2.close).sum, 4)) == 0,
          s"total value ${m.getDecimal(2)}")
      },
      { () =>
        val got = change.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        c.expectEq(got.size, today.size, "daily change % rows")
        today.foreach { case (i, v) =>
          val p = days.take(day).reverse.find(pd => !pd.isBefore(d.minusDays(14)) && model.contains((i, pd)))
            .map(pd => dec(model((i, pd)).close, 4).doubleValue)
          val cur = dec(v.close, 4).doubleValue
          val want = p.filter(_ != 0d).map(pv => (cur - pv) / pv).getOrElse(0d)
          c.expectClose(got.getOrElse(i + 1L, Double.NaN), want, s"daily change % of ${i + 1}")
        }
      },
      { () =>
        val got = avgVol.map(r => r.getLong(0) -> r.getDouble(1)).toMap
        c.expectEq(got.size, today.size, "7-day average rows")
        today.foreach { case (i, _) =>
          val vols = (0 to 6).flatMap(k => model.get((i, d.minusDays(k.toLong)))).map(_.volume)
          c.expectClose(got.getOrElse(i + 1L, Double.NaN), vols.sum.toDouble / vols.size,
            s"7-day average volume of ${i + 1}")
        }
      },
      { () =>
        val got = week.map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getDecimal(2))).toSeq
        val want = (0 to 6).map(k => d.minusDays(6L - k)).filter(Market.isTradingDay)
          .map { wd => val rs = rowsOn(wd); (wd, rs.size.toLong, rs.map(_._2.close).sum) }
        c.expectEq(got.map(g => (g._1, g._2)), want.map(w => (w._1, w._2)), "week slice counts")
        got.zip(want).foreach { case (g, w) =>
          c.expect(g._3.compareTo(dec(w._3, 4)) == 0, s"week slice close sum on ${g._1}: ${g._3}")
        }
      },
      { () =>
        val got = top.map(r => (r.getString(0), r.getDecimal(1).unscaledValue.longValue / 100,
          r.getDecimal(2).longValue)).toSeq
        val want = today.map { case (i, v) => (market.symbol(i), v.close, v.volume) }
          .sortBy(t => (-t._3, t._1)).take(5)
        c.expectEq(got, want, "top volume of the day")
      },
      { () =>
        val r = full.head
        val all = model.values
        c.expectEq(r.getLong(0), all.size.toLong, "history rows")
        c.expectEq(r.getLong(1), Securities.toLong, "history securities")
        c.expect(r.getDecimal(2).compareTo(dec(all.map(_.volume).sum, 0)) == 0, s"history volume ${r.getDecimal(2)}")
        c.expect(r.getDecimal(3).compareTo(dec(all.map(_.close).sum, 4)) == 0, s"history close sum ${r.getDecimal(3)}")
      })
  }

  def named(rs: RunState): Seq[(String, Double, String)] = {
    val q = rs.ops("query").toSeq
    val m = rs.ops("merge").toSeq
    Seq(("sql_query_p50_s", Stats.median(q), "s"),
      ("sql_query_p90_s", Stats.percentile(q, 90), "s"),
      ("sql_query_samples", q.size.toDouble, "count"),
      ("sql_merge_p50_s", Stats.median(m), "s"),
      ("sql_merge_samples", m.size.toDouble, "count"),
      ("sql_day_p50_s", Stats.median(rs.ops("day").toSeq), "s"),
      ("fact_rows", model.size.toDouble, "count"))
  }

  def spaceAmp(rs: RunState): Double = spaceAmpAtDays
  def tables: String = root
  override def rowsReturned: Long = returned
  override def logFiles: Int =
    Fs.count(s"$root/eod/fact_daily_price/_log", f => f.isFile && !f.getName.endsWith(".crc"))
}

object Lakehouse {
  val Securities: Int = Nightly.Tickers
  val History = 60
  val SpaceDays = 3
  val WarmupDays = 1

  val BarSchema: StructType = StructType(Seq(
    StructField("security_id", LongType), StructField("symbol", StringType),
    StructField("trade_date", DateType),
    StructField("open", DecimalType(18, 6)), StructField("high", DecimalType(18, 6)),
    StructField("low", DecimalType(18, 6)), StructField("close", DecimalType(18, 6)),
    StructField("volume", DecimalType(18, 0))))
}
