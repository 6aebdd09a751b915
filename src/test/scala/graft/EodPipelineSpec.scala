package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._
import graft.pipeline.EodPipeline

/** End-to-end daily lifecycle (SURVEY §3.1): two days + a FORCE-reload rerun
  * over reference-shaped bronze CSVs; star-schema invariants after each run.
  */
class EodPipelineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def writeCsv(dir: String, date: String, rows: Seq[String]): String = {
    val f = new java.io.File(dir, s"eod_prices_$date.csv")
    val w = new java.io.PrintWriter(f)
    ("trade_date,symbol,open,high,low,close,volume" +: rows).foreach(w.println)
    w.close()
    f.toString
  }

  test("two-day run + rerun: upsert idempotence, surrogate stability, V5 parity") {
    val bronze = TestSpark.tmpDir("bronze")
    val wh = TestSpark.tmpDir("wh")
    val pipe = new EodPipeline(wh, minTickers = 1)

    val day1 = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,msft ,421.1,425.0,419.8,424.3,18345678", // normalized to MSFT
      "2026-08-10,MSFT,421.1,425.0,419.8,424.9,18345679")) // dup key: later file row wins? same ts -> src tiebreak
    val r1 = pipe.runDate(spark, day1, "2026-08-10")
    assert(r1.rawRows === 3)
    assert(r1.coreRows === 2, "UPPER(TRIM()) collapses msft/MSFT, W1 dedups")
    assert(r1.rowParity, "V5: core == fact for the date")

    val core1 = spark.read.parquet(pipe.corePath)
    assert(core1.count() === 2)
    val dim1 = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim1 === Array((1L, "AAPL"), (2L, "MSFT")))

    // Day 2: AAPL changes close (update), GOOG appears (insert).
    val day2 = writeCsv(bronze, "2026-08-11", Seq(
      "2026-08-11,AAPL,190.0,194.0,189.0,193.0,61234567",
      "2026-08-11,GOOG,141.0,143.5,140.2,142.9,9876543",
      "2026-08-11,MSFT,424.0,429.0,423.1,428.8,17345678"))
    val r2 = pipe.runDate(spark, day2, "2026-08-11")
    assert(r2.coreRows === 3 && r2.rowParity)
    val dim2 = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim2 === Array((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")),
      "existing surrogate keys stable, new member appended after max")

    val fact = spark.read.parquet(pipe.factPath)
    assert(fact.count() === 5, "2 facts day1 + 3 facts day2")
    assert(fact.select("security_id", "date_sk").distinct().count() === 5,
      "PK (security_id, date_sk) unique")

    // FORCE=TRUE rerun of day 2 with a revised close: update-in-place,
    // no duplicate keys, dims untouched.
    val day2b = writeCsv(bronze, "2026-08-11b", Seq(
      "2026-08-11,AAPL,190.0,194.0,189.0,195.5,61234567",
      "2026-08-11,GOOG,141.0,143.5,140.2,142.9,9876543",
      "2026-08-11,MSFT,424.0,429.0,423.1,428.8,17345678"))
    val r3 = pipe.runDate(spark, day2b, "2026-08-11")
    assert(r3.estUpdates === 3 && r3.estInserts === 0, "V4 forecast: pure update run")
    val fact2 = spark.read.parquet(pipe.factPath)
    assert(fact2.count() === 5, "rerun does not duplicate")
    val aaplDay2 = spark.read.parquet(pipe.corePath)
      .filter($"symbol" === "AAPL" && $"trade_date" === "2026-08-11").head()
    assert(aaplDay2.getDecimal(aaplDay2.fieldIndex("close")).toPlainString === "195.500000",
      "rerun refreshed the close")
    assert(pipe.dimSecurity(spark).count() === 3)

    // Date dimension accumulated both dates exactly once.
    val dimDate = pipe.dimDate(spark)
    assert(dimDate.count() === 2)
    assert(dimDate.filter($"date_sk" === 20260810).head().getAs[Int]("day_of_week") === 1)
  }

  test("lookback: newest-first, first non-empty day wins (holiday scenario)") {
    val bronze = TestSpark.tmpDir("bronze3")
    val wh = TestSpark.tmpDir("wh3")
    val pipe = new EodPipeline(wh, minTickers = 1)
    // Friday has data; Saturday's file is empty (no trading); Sunday never landed.
    val friday = writeCsv(bronze, "2026-08-07", Seq(
      "2026-08-07,AAPL,189.5,191.2,188.9,190.4,51234567"))
    val saturday = writeCsv(bronze, "2026-08-08", Seq.empty)
    val paths = Map("2026-08-07" -> friday, "2026-08-08" -> saturday)

    val report = pipe.runWithLookback(spark, "2026-08-09", lookbackDays = 3)(paths.get)
    assert(report.map(_.tradeDate) === Some("2026-08-07"),
      "Sunday missing, Saturday empty -> Friday runs")
    assert(spark.read.parquet(pipe.corePath).count() === 1)

    val none = pipe.runWithLookback(spark, "2026-08-20", lookbackDays = 2)(paths.get)
    assert(none.isEmpty, "whole window empty -> None, nothing written")
  }

  test("backfill: 3-day gap replayed oldest-first, empty day skipped (V2)") {
    val bronze = TestSpark.tmpDir("bronze4")
    val wh = TestSpark.tmpDir("wh4")
    val pipe = new EodPipeline(wh, minTickers = 1)
    val d1 = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.3,18345678"))
    val d2 = writeCsv(bronze, "2026-08-11", Seq.empty) // holiday
    val d3 = writeCsv(bronze, "2026-08-12", Seq(
      "2026-08-12,AAPL,190.0,194.0,189.0,193.0,61234567",
      "2026-08-12,GOOG,141.0,143.5,140.2,142.9,9876543"))
    val paths = Map("2026-08-10" -> d1, "2026-08-11" -> d2, "2026-08-12" -> d3)

    // dates passed out of order: runRange must still replay causally
    val reports = pipe.runRange(spark,
      Seq("2026-08-12", "2026-08-10", "2026-08-11"))(paths.get)
    assert(reports.map(_.tradeDate) === Seq("2026-08-10", "2026-08-12"),
      "oldest-first, empty day skipped")
    assert(reports.forall(_.rowParity))
    val dim = pipe.dimSecurity(spark)
      .orderBy("security_id").as[(Long, String)].collect()
    assert(dim === Array((1L, "AAPL"), (2L, "MSFT"), (3L, "GOOG")),
      "surrogate keys reflect first-seen (causal) order")
    assert(spark.read.parquet(pipe.factPath).count() === 4)
  }

  test("V1 gate: below-threshold batch fails fast (eod_data_downloader.py:138-145)") {
    val bronze = TestSpark.tmpDir("bronze2")
    val wh = TestSpark.tmpDir("wh2")
    val pipe = new EodPipeline(wh, minTickers = 100)
    val tiny = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,1,1,1,1,1"))
    val e = intercept[IllegalArgumentException] {
      pipe.runDate(spark, tiny, "2026-08-10")
    }
    assert(e.getMessage.contains("expected >= 100"))
  }

  test("V1 gate on a FORCE reload rolls back only its own RAW files") {
    val bronze = TestSpark.tmpDir("bronze5")
    val wh = TestSpark.tmpDir("wh5")
    val pipe = new EodPipeline(wh, minTickers = 2)
    def rawDay = spark.read.parquet(s"${pipe.rawPath}/trade_date=2026-08-10")
    val first = writeCsv(bronze, "2026-08-10", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.4,51234567",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.3,18345678"))
    assert(pipe.runDate(spark, first, "2026-08-10").rawRows === 2)

    val short = writeCsv(bronze, "2026-08-10-short", Seq(
      "2026-08-10,AAPL,1,1,1,1,1"))
    intercept[IllegalArgumentException] { pipe.runDate(spark, short, "2026-08-10") }
    assert(rawDay.count() === 2, "the earlier load's RAW rows survive the rollback")
    assert(rawDay.filter($"close" === 1).isEmpty, "the refused load left no rows")

    val revised = writeCsv(bronze, "2026-08-10-b", Seq(
      "2026-08-10,AAPL,189.5,191.2,188.9,190.9,51234567",
      "2026-08-10,MSFT,421.1,425.0,419.8,424.8,18345678"))
    val r = pipe.runDate(spark, revised, "2026-08-10")
    assert(r.estUpdates === 2 && r.estInserts === 0 && r.rowParity)
    assert(rawDay.count() === 4, "RAW keeps both accepted loads (append-only lineage)")
  }

  test("O(day): a run lists only its day's partitions, flat in history") {
    val bronze = TestSpark.tmpDir("bronze6")
    val wh = TestSpark.tmpDir("wh6")
    val pipe = new EodPipeline(wh, minTickers = 1)
    // threshold 1: listing more than one partition dir becomes a counted job
    val key = "spark.sql.sources.parallelPartitionDiscovery.threshold"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "1")
    try {
      def filesListed(date: String): Long = {
        val csv = writeCsv(bronze, date, Seq(
          s"$date,AAPL,189.5,191.2,188.9,190.4,51234567",
          s"$date,MSFT,421.1,425.0,419.8,424.3,18345678"))
        HiveCatalogMetrics.reset()
        pipe.runDate(spark, csv, date)
        HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
      }
      filesListed("2026-08-10")
      val day2 = filesListed("2026-08-11")
      filesListed("2026-08-12")
      val day4 = filesListed("2026-08-13")
      assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount === 0,
        "no listing job: no read opened a table root")
      assert(day4 <= day2, s"files listed grew with history: day 2 $day2, day 4 $day4")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
}
