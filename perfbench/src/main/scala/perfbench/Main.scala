package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** One benchmark workload. `setup` builds fresh state and is run several
  * times (the last one's state is measured); `step` is one measured
  * operation with its output checks.
  */
trait Workload {
  def name: String
  /** The op kind whose median is `op_p50_s`. */
  def primary: String
  /** The write op kind whose median is `write_p50_s`. */
  def secondary: String
  /** One-time work whose result later runs reuse (a cache); not timed. */
  def prepare(rs: RunState): Unit = ()
  def setup(rs: RunState, rep: Int): Unit
  def step(rs: RunState): Unit
  /** Operations a run always makes, however long they take. */
  def minOps: Int = 1
  def finish(rs: RunState): Unit = ()
  /** The workload's own end-to-end figures, printed by name. */
  def named(rs: RunState): Seq[(String, Double, String)]
  def spaceAmp(rs: RunState): Double
  /** Root directory of the tables the measured operations use. */
  def tables: String
  // inputs of the per-layer report; 0 or empty where the layer is unused
  def sourceRowsParsed: Long = 0
  def sourceDays: Long = 0
  def sourceBronzeBytes: Long = 0
  /** History depth (days already loaded) of each plain day, by op index. */
  def historyDepth: Map[Int, Int] = Map.empty
  def rowsReturned: Long = 0
  def logFiles: Int = 0
}

/** `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cache <dir>`: sets up the workload, runs its closed loop
  * for the given seconds, checks every output, and prints one JSON object as
  * the last line of stdout — the end-to-end metrics untraced, the per-layer
  * metrics traced. Exits 1 on any output mismatch.
  */
object Main {
  val SetupReps = 3

  def workload(name: String): Workload = name match {
    case "backfill" => new Backfill
    case "nightly" => new Nightly
    case "lakehouse_sql" => new Lakehouse
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master("local[4]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/tmp")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.plans.GraftRules.register(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val w = workload(opt("workload"))
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt.getOrElse("trace", "0") == "1"
    val work = opt("work")
    val spark = session(work)
    val rs = new RunState(spark, work, opt("cache"), seed, traced)

    w.prepare(rs)
    val setups = (0 until SetupReps).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rs, rep)
      (System.nanoTime() - t0) / 1e9
    }
    rs.ops.clear(); rs.spans.clear()
    val setupErrors = rs.checks.failed

    val req0 = SeededDayTransport.requests.get()
    val fetch0 = SeededDayTransport.fetchNanos.get()
    var before = if (traced) rs.bookkeeping(tableFiles(work)) else Map.empty[String, (Long, Long)]
    var filesWritten = 0L
    var bytesWritten = 0L
    var bytesGrown = 0L
    // the loop stops before an operation that would likely end past the
    // deadline, so a run measures about `seconds` whatever an op costs
    val t0 = System.nanoTime()
    def fits: Boolean =
      (System.nanoTime() - t0) * (rs.opIndex + 1.0) / rs.opIndex <= seconds * 1e9
    var crashed: Option[Throwable] = None
    while (crashed.isEmpty && rs.checks.failed == setupErrors &&
        (rs.opIndex < w.minOps || fits)) {
      try w.step(rs)
      catch { case e: Throwable => crashed = Some(e); rs.checks.attempted += 1; rs.checks.failed += 1 }
      rs.opIndex += 1
      if (traced) rs.bookkeeping {
        val after = tableFiles(work)
        val fresh = after.filter { case (p, st) => !before.get(p).contains(st) }
        filesWritten += fresh.size
        bytesWritten += fresh.values.map(_._1).sum
        bytesGrown += after.values.map(_._1).sum - before.values.map(_._1).sum
        before = after
      }
    }
    // a traced run's `finish` may add ops that only feed the slopes
    val measured = rs.opIndex
    val requests = SeededDayTransport.requests.get() - req0
    val fetchNanos = SeededDayTransport.fetchNanos.get() - fetch0
    if (crashed.isEmpty) {
      try w.finish(rs)
      catch { case e: Throwable => crashed = Some(e); rs.checks.attempted += 1; rs.checks.failed += 1 }
    }
    rs.ops.foreach { case (k, ts) =>
      System.err.println(s"[perfbench] $k: ${ts.map(t => f"$t%.3f").mkString(" ")}")
    }
    System.err.println(s"[perfbench] setup: ${setups.map(t => f"$t%.3f").mkString(" ")}")
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach { gc =>
      System.err.println(s"[perfbench] gc ${gc.getName}: ${gc.getCollectionCount} collections, ${gc.getCollectionTime} ms")
    }
    crashed.foreach(e => System.err.println(s"[perfbench] operation failed: $e"))
    rs.checks.errors.foreach(e => System.err.println(s"[perfbench] mismatch: $e"))

    val n = math.max(1, measured).toDouble
    val correct = rs.checks.failed == 0
    val metrics: Seq[(String, Double, String)] =
      if (!traced) {
        val named = if (correct) w.named(rs) else Nil
        val e2e = Seq(
          ("setup_s", Stats.median(setups), "s"),
          ("op_p50_s", if (correct) Stats.median(rs.ops(w.primary).toSeq) else 0.0, "s"),
          ("write_p50_s", if (correct) Stats.median(rs.ops(w.secondary).toSeq) else 0.0, "s"),
          ("space_amp", if (correct) w.spaceAmp(rs) else 0.0, "ratio"),
          ("peak_rss_mb", Fs.peakRssMb(), "MB"))
        val all = e2e ++ named :+
          (("failed_op_ratio", rs.checks.failed.toDouble / math.max(1, rs.checks.attempted), "ratio"))
        println(s"""{"workload":"${w.name}","named":${render(all)}}""")
        e2e
      } else {
        val l = rs.listener.get
        val drain0 = System.nanoTime()
        org.apache.spark.PerfbenchBus.drain(spark.sparkContext, 30000L)
        val drainNanos = System.nanoTime() - drain0
        val overhead = (rs.bookkeepingNanos + l.handlerNanos + drainNanos) / 1e9 / n
        val commits = Seq(
          ("commit.files_written", filesWritten / n, "count"),
          ("commit.bytes_written", bytesWritten / n, "bytes"),
          ("commit.write_amp", bytesWritten.toDouble / math.max(1L, bytesGrown), "ratio"),
          ("commit.versions_live", Fs.count(w.tables, f => f.isDirectory && f.getName.startsWith("_v-")).toDouble, "count"))
        val source = Seq(
          ("source.fetch_s", fetchNanos / 1e9 / n, "s"),
          ("source.rows_parsed", w.sourceRowsParsed / n, "count"),
          ("source.requests", requests / n, "count"),
          ("source.requests_per_day",
            if (w.sourceDays == 0) 0.0 else requests.toDouble / w.sourceDays, "ratio"))
        val report = TraceReport.build(rs, l, w, anchorsFromSource(), measured)
        (source ++ report.metrics(n, w) ++ commits :+ (("trace.overhead_s", overhead, "s")))
          .sortBy(m => PerLayer.indexOf(m._1))
      }
    val missing = (if (traced) PerLayer else EndToEnd).filterNot(m => metrics.exists(_._1 == m))
    require(missing.isEmpty, s"metrics not produced: $missing")
    println(s"""{"correct":$correct,"attempted":${math.max(1, rs.checks.attempted)},""" +
      s""""failed":${rs.checks.failed},"metrics":${render(metrics)}}""")
    System.out.flush()
    spark.stop()
    sys.exit(if (correct) 0 else 1)
  }

  /** The end-to-end metrics every untraced run prints, in order. */
  val EndToEnd: Seq[String] = Seq("setup_s", "op_p50_s", "write_p50_s", "space_amp", "peak_rss_mb")

  /** The per-layer metrics every traced run prints, in order. */
  val PerLayer: Seq[String] =
    Seq("source.fetch_s", "source.land_s", "source.rows_parsed", "source.bronze_bytes",
      "source.requests", "source.requests_per_day") ++
      Attribution.Stages.flatMap(s => Seq(s"pipeline.${s}_s", s"pipeline.${s}_jobs")) ++
      Attribution.Stages.map(s => s"pipeline.${s}_slope_ms") ++
      Seq("commit.files_written", "commit.bytes_written", "commit.write_amp", "commit.versions_live",
        "catalog.scan_s", "catalog.scan_bytes", "catalog.rows_read_per_row_returned",
        "catalog.merge_s", "catalog.merge_jobs", "catalog.log_files",
        "source.job_s", "pipeline.job_s", "commit.job_s", "catalog.job_s", "other.job_s",
        "spark.jobs", "spark.tasks", "spark.job_s", "driver.gap_s", "trace.wall_s",
        "spark.input_bytes", "spark.output_bytes", "spark.shuffle_bytes", "spark.sql_executions",
        "trace.overhead_s")

  /** Every file of the tables under `work`; bronze landing files are
    * inputs, not commits, so they are left out.
    */
  private def tableFiles(work: String): Map[String, (Long, Long)] =
    Fs.files(work).filter { case (p, _) => !p.contains("/bronze/") && !p.contains("/spark-local/") }

  private def anchorsFromSource(): Option[Attribution.Anchors] = {
    val f = new java.io.File("src/main/scala/graft/pipeline/EodPipeline.scala")
    val a = if (!f.isFile) None else {
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try Attribution.anchors(src.getLines().toIndexedSeq) finally src.close()
    }
    if (a.isEmpty) System.err.println(
      "[perfbench] EodPipeline.runDate stage markers not found; its jobs count as pipeline.other")
    a
  }

  def render(ms: Seq[(String, Double, String)]): String =
    ms.map { case (k, v, u) =>
      val num = if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
      s""""$k":{"value":$num,"unit":"$u"}"""
    }.mkString("{", ",", "}")
}

/** The traced run's attribution of jobs and wall time to layers and stages. */
final class TraceReport(
    wall: Double, busy: Double, gap: Double,
    layerBusy: Map[String, Double], stageWall: Map[String, Double],
    stageJobs: Map[String, Int], slopes: Map[String, Double],
    sourceLand: Double, bronzeBytes: Long,
    scanWall: Double, scanBytes: Long, scanRecords: Long,
    mergeWall: Double, mergeJobs: Int,
    jobs: Seq[JobRec], sqlExecutions: Int) {

  def metrics(n: Double, w: Workload): Seq[(String, Double, String)] =
    Seq(("source.land_s", sourceLand / n, "s"),
      ("source.bronze_bytes", bronzeBytes / n, "bytes")) ++
      Attribution.Stages.flatMap(s => Seq(
        (s"pipeline.${s}_s", stageWall.getOrElse(s, 0.0) / n, "s"),
        (s"pipeline.${s}_jobs", stageJobs.getOrElse(s, 0) / n, "count"),
        (s"pipeline.${s}_slope_ms", slopes.getOrElse(s, 0.0), "ms/day"))) ++
      Seq(("catalog.scan_s", scanWall / n, "s"),
        ("catalog.scan_bytes", scanBytes / n, "bytes"),
        ("catalog.rows_read_per_row_returned",
          if (w.rowsReturned == 0) 0.0 else scanRecords.toDouble / w.rowsReturned, "ratio"),
        ("catalog.merge_s", mergeWall / n, "s"),
        ("catalog.merge_jobs", mergeJobs / n, "count"),
        ("catalog.log_files", w.logFiles.toDouble, "count")) ++
      Seq("source", "pipeline", "commit", "catalog", "other").map(l =>
        (s"$l.job_s", layerBusy.getOrElse(l, 0.0) / n, "s")) ++
      Seq(("spark.jobs", jobs.size / n, "count"),
        ("spark.tasks", jobs.map(_.tasks).sum / n, "count"),
        ("spark.job_s", busy / n, "s"),
        ("driver.gap_s", gap / n, "s"),
        ("trace.wall_s", wall / n, "s"),
        ("spark.input_bytes", jobs.map(_.inputBytes).sum / n, "bytes"),
        ("spark.output_bytes", jobs.map(_.outputBytes).sum / n, "bytes"),
        ("spark.shuffle_bytes", jobs.map(_.shuffleBytes).sum / n, "bytes"),
        ("spark.sql_executions", sqlExecutions / n, "count"))
}

object TraceReport {
  /** Spans of the first `measured` ops make the per-op figures; the spans of
    * later ops (a traced `nightly`'s shallow anchor days) only add points to
    * the slopes.
    */
  def build(rs: RunState, l: LayerListener, w: Workload,
      anchors: Option[Attribution.Anchors], measured: Int): TraceReport = {
    val (allJobs, execs) = l.snapshot()
    val spans = rs.spans.toSeq.sortBy(_.start)
    def within(s: Span, t: Long) = t >= s.start && t <= s.end
    val layerBusy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stageWall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val stageJobs = mutable.Map.empty[String, Int].withDefaultValue(0)
    val perDay = mutable.Map.empty[String, mutable.ArrayBuffer[(Double, Double)]]
    val depth = w.historyDepth
    var wall, busy, gap, sourceLand, scanWall, mergeWall = 0.0
    var scanBytes, scanRecords = 0L
    var mergeJobs, sqlExecutions = 0
    val counted = mutable.ArrayBuffer.empty[JobRec]
    val taken = mutable.Set.empty[Int]
    def byStage(s: Span, js: Seq[JobRec], ms: Seq[(Long, String)]): Segments =
      Attribution.segment(s.start, s.end,
        js.map(j => Interval(j.start, j.end, Attribution.stageOf(j.site, anchors))) ++
          ms.map(e => Interval(e._1, e._1, Attribution.stageOf(e._2, anchors))))
    def addPoints(s: Span, stages: Segments): Unit =
      if (s.kind == "runDate") depth.get(s.op).foreach { x =>
        Attribution.Stages.foreach { st =>
          perDay.getOrElseUpdate(st, mutable.ArrayBuffer.empty) +=
            ((x.toDouble, stages.wall.getOrElse(st, 0.0)))
        }
      }
    spans.foreach { s =>
      val js = allJobs.filter(j => within(s, j.start) && !taken(j.id))
      js.foreach(j => taken += j.id)
      val ms = execs.filter(e => within(s, e._1))
      if (s.op >= measured) {
        if (s.layer == "pipeline") addPoints(s, byStage(s, js, ms))
      } else {
        counted ++= js
        sqlExecutions += ms.size
        val len = (s.end - s.start).toDouble
        wall += len
        val byLayer = Attribution.segment(s.start, s.end,
          js.map(j => Interval(j.start, j.end, Attribution.layerOf(s.layer, j.site, anchors))) ++
            ms.map(e => Interval(e._1, e._1, Attribution.layerOf(s.layer, e._2, anchors))))
        busy += byLayer.busyTotal
        gap += byLayer.gapTotal
        byLayer.busy.foreach { case (k, v) => layerBusy(k) += v }
        s.layer match {
          case "pipeline" =>
            js.foreach(j => stageJobs(Attribution.stageOf(j.site, anchors)) += 1)
            val stages = byStage(s, js, ms)
            stages.wall.foreach { case (k, v) => stageWall(k) += v }
            sourceLand += stages.wall.getOrElse("source", 0.0)
            addPoints(s, stages)
          case "source" => sourceLand += len
          case "catalog" if s.kind == "scan" =>
            scanWall += len
            scanBytes += js.map(_.inputBytes).sum
            scanRecords += js.map(_.inputRecords).sum
          case "catalog" =>
            mergeWall += len
            mergeJobs += js.size
          case _ => ()
        }
      }
    }
    val slopes = perDay.map { case (st, pts) => st -> Stats.slope(pts.toSeq) }.toMap
    new TraceReport(wall / 1e3, busy / 1e3, gap / 1e3, layerBusy.toMap.map { case (k, v) => k -> v / 1e3 },
      stageWall.toMap.map { case (k, v) => k -> v / 1e3 }, stageJobs.toMap, slopes,
      sourceLand / 1e3, w.sourceBronzeBytes, scanWall / 1e3, scanBytes, scanRecords, mergeWall / 1e3, mergeJobs,
      counted.toSeq, sqlExecutions)
  }
}
