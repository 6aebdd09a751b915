package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

/** A span the benchmark puts around one public call. `layer` is the module
  * the call enters (`source`, `pipeline`, `catalog`); `kind` names the call
  * (`land`, `runDate`, `backfill`, `scan`, `merge`); times are epoch
  * milliseconds, the clock of Spark's listener events.
  */
final case class Span(op: Int, layer: String, kind: String, start: Long, end: Long)

/** One Spark job as the listener saw it; `site` is the driver call stack the
  * job is attributed by.
  */
final case class JobRec(id: Int, start: Long, end: Long, site: String,
    tasks: Long, inputBytes: Long, inputRecords: Long, outputBytes: Long,
    shuffleBytes: Long)

/** A labelled stretch of time: a job's run, or (end == start) a marker such
  * as the start of a SQL execution.
  */
final case class Interval(start: Long, end: Long, label: String)

/** Wall time of one span split by label. `busy` is time some job ran,
  * `gap` the rest (driver-side work); wall = busy + gap per span.
  */
final case class Segments(wall: Map[String, Double], busy: Map[String, Double],
    busyTotal: Double, gapTotal: Double)

/** Pure attribution rules: which pipeline stage and which layer a job's
  * call stack belongs to, and how a span's wall time splits between them.
  */
object Attribution {

  val Stages: Seq[String] = Seq("raw", "core", "dims", "fact", "reconcile")

  /** Line ranges of the stages inside `EodPipeline.runDate`, found from the
    * stage comments of the method body (`// CORE`, `// DIM_`, `// FACT`,
    * `// V5`); lines before `// CORE` are the RAW load.
    */
  final case class Anchors(start: Int, end: Int, core: Int, dims: Int,
      fact: Int, reconcile: Int) {
    def stageAt(line: Int): String =
      if (line < start || line > end) "other"
      else if (line >= reconcile) "reconcile"
      else if (line >= fact) "fact"
      else if (line >= dims) "dims"
      else if (line >= core) "core"
      else "raw"
  }

  def anchors(source: Seq[String]): Option[Anchors] = {
    val start = source.indexWhere(_.contains("def runDate(")) + 1
    if (start == 0) None
    else {
      // the method ends at the next member definition at its own indent
      val indent = source(start - 1).takeWhile(_ == ' ')
      val after = source.indexWhere(l => l.startsWith(indent + "def ") ||
        l.startsWith(indent + "private def ") || l == "}", start)
      val end = if (after < 0) source.size else after
      def marker(tag: String) = {
        val i = source.indexWhere(_.trim.startsWith(s"// $tag"), start)
        if (i < 0 || i >= end) None else Some(i + 1)
      }
      for (c <- marker("CORE"); d <- marker("DIM_"); f <- marker("FACT");
           r <- marker("V5") if c < d && d < f && f < r)
      yield Anchors(start, end, c, d, f, r)
    }
  }

  private val PipelineFrame = """graft\.pipeline\.EodPipeline\.(\w+)\(EodPipeline\.scala:(\d+)\)""".r

  /** The pipeline stage of a call stack: the RAW load methods by name, the
    * rest of `runDate` by line, and the part of a backfill before its
    * replay (the REST scan and the staging write) as `source`.
    */
  def stageOf(site: String, anchors: Option[Anchors]): String = {
    val frames = PipelineFrame.findAllMatchIn(site).map(m => (m.group(1), m.group(2).toInt)).toSeq
    if (frames.isEmpty) "other"
    else if (frames.exists { case (m, _) => m == "loadRaw" || m == "hasData" }) "raw"
    else frames.collectFirst { case ("runDate", line) => line } match {
      case Some(line) => anchors.map(_.stageAt(line)).getOrElse("other")
      case None =>
        if (frames.exists(_._1 == "backfillFromRest") &&
            !frames.exists { case (m, _) => m == "runRange" }) "source"
        else "other"
    }
  }

  private val CommitFrames = Seq("graft.ops.Upsert.snapshotWrite(",
    "graft.ops.VersionedTable.write(", "graft.ops.VersionedTable.gc(",
    "graft.ops.ActionLog.", "graft.ops.Occ.commit(")

  /** Scala objects show as `Name$` in a stack; compare by source name. */
  def isCommit(site: String): Boolean = {
    val s = site.replace("$.", ".")
    CommitFrames.exists(s.contains)
  }

  /** The layer a job's time is charged to: a commit protocol wherever it is
    * called from, else the layer of the span it ran in (with a backfill's
    * REST scan and staging write charged to `source`).
    */
  def layerOf(spanLayer: String, site: String, anchors: Option[Anchors]): String =
    if (isCommit(site)) "commit"
    else if (spanLayer == "pipeline" && stageOf(site, anchors) == "source") "source"
    else spanLayer

  /** Split `[start, end]` by label: while jobs run, their labels share the
    * time equally; a gap goes to the next job or marker to start (the
    * driver is preparing it), and a trailing gap to the last label seen.
    */
  def segment(start: Long, end: Long, intervals: Seq[Interval]): Segments = {
    val clipped = intervals.map(i => Interval(math.max(i.start, start),
      math.min(math.max(i.end, i.start), end), i.label))
      .filter(i => i.start <= end && i.end >= start)
    val running = clipped.filter(i => i.end > i.start)
    val events = clipped.sortBy(_.start)
    val bounds = (Seq(start, end) ++ clipped.flatMap(i => Seq(i.start, i.end)))
      .distinct.sorted
    val wall = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val busy = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var busyTotal = 0.0
    var gapTotal = 0.0
    bounds.zip(bounds.tail).foreach { case (a, b) =>
      val len = (b - a).toDouble
      val on = running.filter(i => i.start <= a && i.end >= b)
      if (on.nonEmpty) {
        on.foreach { i => wall(i.label) += len / on.size; busy(i.label) += len / on.size }
        busyTotal += len
      } else {
        val label = events.find(_.start >= b).orElse(events.filter(_.start <= a).lastOption)
          .map(_.label).getOrElse("other")
        wall(label) += len
        gapTotal += len
      }
    }
    Segments(wall.toMap, busy.toMap, busyTotal, gapTotal)
  }
}

/** Records every job, task and SQL execution of the session; a traced run
  * attributes them to spans afterwards. Jobs that Spark runs on its
  * broadcast and subquery threads carry no engine frame in their own call
  * site, so a job inside a SQL execution takes the execution's call site.
  */
final class LayerListener extends SparkListener {
  private final class Acc(val id: Int, val start: Long, val site: String) {
    var end = -1L
    var tasks, inputBytes, inputRecords, outputBytes, shuffleBytes = 0L
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Acc]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execSites = mutable.Map.empty[Long, String]
  private val execStarts = mutable.ArrayBuffer.empty[(Long, String)]
  @volatile var handlerNanos = 0L

  private def timed(body: => Unit): Unit = synchronized {
    val t0 = System.nanoTime()
    body
    handlerNanos += System.nanoTime() - t0
  }

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart => timed {
      execSites(e.executionId) = e.details
      execStarts += ((e.time, e.details))
    }
    case _ => ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .flatMap(s => scala.util.Try(s.toLong).toOption)
    val own = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).details
    val site = exec.flatMap(execSites.get).filter(_.nonEmpty).getOrElse(own)
    jobs(e.jobId) = new Acc(e.jobId, e.time, site)
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    for (j <- stageJob.get(e.stageId); acc <- jobs.get(j)) {
      acc.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        acc.inputBytes += m.inputMetrics.bytesRead
        acc.inputRecords += m.inputMetrics.recordsRead
        acc.outputBytes += m.outputMetrics.bytesWritten
        acc.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
          m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def snapshot(): (Seq[JobRec], Seq[(Long, String)]) = synchronized {
    (jobs.values.map(a => JobRec(a.id, a.start, if (a.end < 0) a.start else a.end,
      a.site, a.tasks, a.inputBytes, a.inputRecords, a.outputBytes,
      a.shuffleBytes)).toSeq, execStarts.toSeq)
  }
}
