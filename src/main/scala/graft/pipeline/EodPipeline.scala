package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.model.Schemas
import graft.ops._
import graft.source.EodSource

/** One daily run's outcome — the reference's XCom metadata + V4/V5 metric
  * rows collapsed into plain Scala values (SURVEY §3.1: "XCom becomes plain
  * Scala values").
  */
final case class PipelineReport(
    tradeDate: String,
    rawRows: Long,
    estInserts: Long,
    estUpdates: Long,
    coreRows: Long,
    factRows: Long,
    rowParity: Boolean)

/** The daily ELT lifecycle of the reference
  * (`polygon_modern_elt_v2`, dags/get_securities_data.py:71-233) as one Spark
  * driver program: bronze CSV → RAW (append, lineage) → CORE (dedup + MERGE)
  * → DIM_SECURITY ∥ DIM_DATE (insert-only MERGEs, key-disjoint — planned as
  * two independent writes exactly like the reference's parallel fan-out) →
  * FACT (dims join + MERGE) → reconciliation metrics.
  *
  * Storage layout: warehouse-rooted parquet, RAW/CORE/FACT hive-partitioned
  * by `trade_date`; the reference's date-equality predicate (merge_core.sql:12
  * etc.) is a read of that day's partition directory, so a daily run lists,
  * reads and rewrites one partition per table — O(day), not O(history). (A
  * filter on the table root would list every partition before pruning.) At
  * 100 TB that partition discipline *is* the pipeline's scalability story.
  */
final class EodPipeline(warehouse: String, minTickers: Long = 100L) {

  val rawPath = s"$warehouse/raw_eod_prices"
  val corePath = s"$warehouse/core_eod_prices"
  val dimSecurityPath = s"$warehouse/dim_security"
  val dimDatePath = s"$warehouse/dim_date"
  val factPath = s"$warehouse/fact_daily_price"

  /** Dims are [[VersionedTable]]s (pointer-resolved immutable snapshots) —
    * read them through these accessors, not `spark.read.parquet(path)`.
    */
  def dimSecurity(spark: SparkSession): DataFrame =
    VersionedTable.read(spark, dimSecurityPath)
  def dimDate(spark: SparkSession): DataFrame =
    VersionedTable.read(spark, dimDatePath)

  /** One day's partition, listed and read alone (`basePath` keeps
    * `trade_date` a column); empty when absent. Heals first: a crash between
    * snapshotWrite's renames leaves the partition absent, its old copy intact.
    */
  private def readDay(spark: SparkSession, table: String, tradeDate: String,
      schema: StructType): DataFrame = {
    val p = new Path(s"$table/trade_date=$tradeDate")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    Upsert.recoverSnapshot(fs, p)
    if (fs.exists(p)) spark.read.schema(schema).option("basePath", table).parquet(p.toString)
    else spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
  }

  /** Single-date partition upsert: read only the affected partition, merge,
    * swap that partition's directory. The rest of the table is untouched
    * (never listed, read or rewritten). `source` carries the table's schema.
    */
  private def upsertDatePartition(spark: SparkSession, tablePath: String,
      tradeDate: String, source: DataFrame, keys: Seq[String]): Unit = {
    val target = readDay(spark, tablePath, tradeDate, source.schema).drop("trade_date")
    Upsert.snapshotWrite(Upsert.merge(target, source.drop("trade_date"), keys),
      s"$tablePath/trade_date=$tradeDate")
  }

  /** Stage 2-3 of the lifecycle: bronze CSV for one date → RAW append with
    * the V1 row-count gate evaluated by `observe` ON the write pass (one
    * scan, not two). A failing gate compensates by deleting the files the
    * write added, keeping earlier loads of the date — at scale the saved
    * re-read of the bronze batch outweighs the rare rollback delete.
    */
  def loadRaw(spark: SparkSession, bronzeCsv: String, tradeDate: String): Long = {
    val part = new Path(s"$rawPath/trade_date=$tradeDate")
    val fs = part.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def files(): Set[String] =
      if (fs.exists(part)) fs.listStatus(part).map(_.getPath.getName).toSet else Set.empty
    val before = files()
    val obs = org.apache.spark.sql.Observation(s"v1-gate-$tradeDate")
    val bronze = EodSource.readBronzeCsv(spark, bronzeCsv)
      .withColumn("trade_date", to_date(lit(tradeDate)))
      .observe(obs, count(lit(1)).as("rows"))
    bronze.write.mode(SaveMode.Append).partitionBy("trade_date").parquet(rawPath)
    val n = obs.get("rows").asInstanceOf[Long]
    if (n < minTickers) { // V1 (eod_data_downloader.py:138-145), compensating
      (files() -- before).foreach(f => fs.delete(new Path(part, f), false))
      if (before.isEmpty) fs.delete(part, true)
      throw new IllegalArgumentException(
        s"bronze $tradeDate: expected >= $minTickers rows, got $n")
    }
    n
  }

  /** True when a bronze file exists for the date AND parses to >= 1 row —
    * the reference's "data is None or empty" probe
    * (eod_data_downloader.py:134-136, get_securities_data.py:109-112).
    */
  private def hasData(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && Quality.nonEmpty(EodSource.readBronzeCsv(spark, path))
  }

  /** Late-data lookback (eod_data_downloader.py:22-55): probe `endDate`,
    * `endDate-1`, … `endDate-lookbackDays` NEWEST-FIRST and run the first
    * date whose bronze data exists and is non-empty — the reference's
    * "holidays and weekends have no grouped-daily payload" semantics. Returns
    * None when the whole window is empty (a market closure longer than the
    * lookback — the caller's alerting decision, not ours).
    *
    * @param bronzeFor resolves a trade date to its bronze CSV path, None when
    *                  the file never landed
    */
  def runWithLookback(spark: SparkSession, endDate: String, lookbackDays: Int)
      (bronzeFor: String => Option[String]): Option[PipelineReport] = {
    val end = java.time.LocalDate.parse(endDate)
    (0 to lookbackDays).iterator
      .map(off => end.minusDays(off.toLong).toString)
      .flatMap(d => bronzeFor(d).filter(hasData(spark, _)).map(p => runDate(spark, p, d)))
      .nextOption()
  }

  /** Backfill a date range OLDEST-FIRST (dims and facts must accumulate in
    * causal order so surrogate keys and V4 forecasts match a day-by-day
    * history), skipping missing/empty days with V2 semantics. Each day is one
    * partition-scoped run — a 3-year backfill touches each partition once and
    * never rewrites the table.
    */
  def runRange(spark: SparkSession, dates: Seq[String])
      (bronzeFor: String => Option[String]): Seq[PipelineReport] =
    dates.sorted.flatMap(d =>
      bronzeFor(d).filter(hasData(spark, _)).map(p => runDate(spark, p, d)))

  /** Backfill a date range through the DataSource V2 REST source: the WHOLE
    * window is fetched in one executor-parallel scan (one input partition
    * per trading date — the fetch parallelism a driver-side loop can't give
    * a multi-year backfill), staged to per-date bronze CSVs (the reference's
    * S3 landing layer), then replayed oldest-first with the usual V2
    * empty-day skip. Days whose payload has no records (weekends/holidays)
    * produce no bronze file and are skipped.
    */
  def backfillFromRest(spark: SparkSession, startDate: String, endDate: String,
      transportClass: String, bronzeStage: String): Seq[PipelineReport] = {
    import graft.source.EodDsv2
    // ONE parallel fetch; localCheckpoint so the staging write and the date
    // listing re-read the fetched rows, not the REST source
    val typed = EodDsv2.readRange(spark, startDate, endDate, transportClass)
      .localCheckpoint()
    // ONE partitioned write stages every day — a per-date filter+write loop
    // would rescan the whole window once per date (O(dates²) task launches
    // on a multi-year backfill). Rows route through a DUPLICATED partition
    // column (`pdate`) so the FILES keep the reference bronze layout
    // (trade_date first — readBronzeCsv binds its schema positionally).
    // overwrite: the stage is a scratch landing area owned by this backfill;
    // a restarted run re-stages the whole window (idempotent by design).
    typed.select(
        col("trade_date").cast("string").as("trade_date"), col("symbol"),
        col("open").cast("string"), col("high").cast("string"),
        col("low").cast("string"), col("close").cast("string"),
        col("volume").cast("string"),
        col("trade_date").cast("string").as("pdate"))
      .write.mode(SaveMode.Overwrite).partitionBy("pdate")
      .option("header", "true").option("emptyValue", "").csv(bronzeStage)
    val dates = typed.select(col("trade_date").cast("string")).distinct()
      .collect().map(_.getString(0)).sorted // bounded: one row per trading day
    val paths = dates.map(dt => dt -> s"$bronzeStage/pdate=$dt").toMap
    runRange(spark, dates.toIndexedSeq)(paths.get)
  }

  /** The full daily run (stages 4-8). `bronzeCsv` may contain duplicate rows
    * (FORCE=TRUE reload semantics) — W1 dedup keeps the latest by
    * (_ingest_ts, _src_file) exactly like merge_core.sql:13-16.
    */
  def runDate(spark: SparkSession, bronzeCsv: String, tradeDate: String): PipelineReport = {
    val rawRows = loadRaw(spark, bronzeCsv, tradeDate)

    // CORE: incremental slice of RAW → normalize → dedup-latest → MERGE.
    val raw = readDay(spark, rawPath, tradeDate, Schemas.raw)
      .withColumn("symbol", Normalize.normKey(col("symbol")))
    val deduped = Dedup.latestBy(raw,
      Seq(col("symbol"), col("trade_date")),
      Seq(col("_ingest_ts"), col("_src_file")))
    val coreExisting = readDay(spark, corePath, tradeDate, Schemas.core)
    val premerge = Quality.premergeMetrics(
      raw.select(col("symbol"), col("trade_date")),
      coreExisting.select(col("symbol"), col("trade_date")),
      Seq("symbol", "trade_date")).head()
    val coreBatch = Normalize.withLoadTs(deduped)
      .select(Schemas.core.fieldNames.map(col).toIndexedSeq: _*)
    upsertDatePartition(spark, corePath, tradeDate, coreBatch, Seq("symbol"))

    // DIM_SECURITY ∥ DIM_DATE — key-disjoint insert-only merges. Dims are
    // whole-table snapshots with a single writer, so they use the
    // VersionedTable pointer flip: the merged frame lazily reads the live
    // version dir, which is IMMUTABLE — the write lands in the next version
    // and readers never see a missing or partial dim even if this run dies
    // mid-write (the reference gets this from Snowflake's transactional
    // MERGE, merge_dim_security.sql / merge_dim_date.sql). One file per dim
    // version: each day's union would otherwise add a file to every read.
    val coreDay = readDay(spark, corePath, tradeDate, Schemas.core)
    val dimSec0 = VersionedTable.readOrEmpty(spark, dimSecurityPath, Schemas.dimSecurity)
    val newSyms = coreDay.select(col("symbol")).distinct()
      .join(dimSec0, Seq("symbol"), "left_anti")
    val dimSec = dimSec0.unionByName(
      SurrogateKeys.assign(newSyms, "security_id",
          SurrogateKeys.maxKey(dimSec0, "security_id"), Seq("symbol"))
        .select(col("security_id"), col("symbol")))
    VersionedTable.write(dimSec.coalesce(1), dimSecurityPath)
    VersionedTable.gc(spark, dimSecurityPath)

    val dimDate0 = VersionedTable.readOrEmpty(spark, dimDatePath, Schemas.dimDate)
    val newDates = DateDim.fromDates(coreDay, col("trade_date"))
      .join(dimDate0.select(col("date_sk")), Seq("date_sk"), "left_anti")
    VersionedTable.write(dimDate0.unionByName(newDates).coalesce(1), dimDatePath)
    VersionedTable.gc(spark, dimDatePath)

    // FACT: dims are broadcast-sized; join through surrogate keys.
    val dimSecNow = VersionedTable.readOrEmpty(spark, dimSecurityPath, Schemas.dimSecurity)
    val factBatch = Normalize.withLoadTs(
      coreDay.join(broadcast(dimSecNow), Seq("symbol"))
        .withColumn("date_sk", date_format(col("trade_date"), "yyyyMMdd").cast("int")))
      .select(Schemas.factDailyPrice.fieldNames.map(col).toIndexedSeq: _*)
    upsertDatePartition(spark, factPath, tradeDate, factBatch, Seq("security_id", "date_sk"))

    // V5 reconciliation for the date.
    val factDay = readDay(spark, factPath, tradeDate, Schemas.factDailyPrice)
    val parity = Quality.postmergeParity(coreDay, factDay).head()

    PipelineReport(tradeDate, rawRows,
      premerge.getAs[Long]("est_inserts"), premerge.getAs[Long]("est_updates"),
      parity.getAs[Long]("core_rows"), parity.getAs[Long]("fact_rows"),
      parity.getAs[Boolean]("row_parity"))
  }
}
