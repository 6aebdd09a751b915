package perfbench

import org.scalatest.funsuite.AnyFunSuite

class AttributionSpec extends AnyFunSuite {
  import Attribution._

  private val source = Seq(
    "final class EodPipeline(warehouse: String) {",  // 1
    "  def loadRaw(spark: SparkSession): Long = {",   // 2
    "    1L",                                          // 3
    "  }",                                             // 4
    "  def runDate(spark: SparkSession): Report = {",  // 5
    "    val rawRows = loadRaw(spark)",                // 6
    "    // CORE: dedup + MERGE",                      // 7
    "    val premerge = metrics.head()",               // 8
    "    // DIM_SECURITY ∥ DIM_DATE",                  // 9
    "    VersionedTable.write(dimSec, dimSecurityPath)", // 10
    "    // FACT: dims join + MERGE",                  // 11
    "    upsert(factPath)",                            // 12
    "    // V5 reconciliation for the date.",          // 13
    "    val parity = postmergeParity(core, fact).head()", // 14
    "    Report()",                                    // 15
    "  }",                                             // 16
    "}")                                               // 17

  private def frame(method: String, line: Int) =
    s"graft.pipeline.EodPipeline.$method(EodPipeline.scala:$line)"

  test("stage anchors come from the stage comments of runDate") {
    val a = anchors(source).get
    assert(a == Anchors(start = 5, end = 16, core = 7, dims = 9, fact = 11, reconcile = 13))
    assert(Seq(6, 8, 10, 12, 14).map(a.stageAt) == Seq("raw", "core", "dims", "fact", "reconcile"))
    assert(a.stageAt(3) == "other")
    assert(anchors(source.filterNot(_.contains("// FACT"))).isEmpty)
    assert(anchors(source.filterNot(_.contains("def runDate"))).isEmpty)
  }

  test("the engine's own runDate carries every stage marker") {
    val f = scala.io.Source.fromFile("../src/main/scala/graft/pipeline/EodPipeline.scala", "UTF-8")
    try assert(anchors(f.getLines().toIndexedSeq).isDefined) finally f.close()
  }

  test("a job's stage comes from its pipeline frames") {
    val a = anchors(source)
    val head = "org.apache.spark.sql.Dataset.head(Dataset.scala:3300)\n"
    assert(stageOf(head + frame("runDate", 8), a) == "core")
    assert(stageOf(head + frame("runDate", 14), a) == "reconcile")
    assert(stageOf("graft.ops.Upsert$.snapshotWrite(Upsert.scala:98)\n" +
      frame("upsertDatePartition", 70) + "\n" + frame("runDate", 12), a) == "fact")
    assert(stageOf(frame("loadRaw", 3) + "\n" + frame("runDate", 6), a) == "raw")
    assert(stageOf(frame("hasData", 99) + "\n" + frame("runRange", 120), a) == "raw")
    assert(stageOf(frame("backfillFromRest", 150), a) == "source")
    assert(stageOf(frame("runRange", 120) + "\n" + frame("backfillFromRest", 170), a) == "other")
    // a job on Spark's broadcast thread has no engine frame of its own
    assert(stageOf("java.util.concurrent.FutureTask.run(FutureTask.java:264)", a) == "other")
    assert(stageOf(head + frame("runDate", 8), None) == "other")
  }

  test("commit protocols are charged to the commit layer wherever they run") {
    val commit = "graft.ops.VersionedTable$.write(VersionedTable.scala:251)\n" + frame("runDate", 10)
    assert(isCommit(commit))
    assert(isCommit("graft.ops.ActionLog$.appendOcc(ActionLog.scala:400)"))
    assert(!isCommit(frame("runDate", 8)))
    val a = anchors(source)
    assert(layerOf("pipeline", commit, a) == "commit")
    assert(layerOf("pipeline", frame("runDate", 8), a) == "pipeline")
    assert(layerOf("pipeline", frame("backfillFromRest", 150), a) == "source")
    assert(layerOf("catalog", "graft.source.GraftCatalog.loadTable(GraftCatalog.scala:1)", a) == "catalog")
  }

  test("segments split wall time into job time and driver gaps") {
    // span 0..100: gap 0-10 (before a), a 10-40, gap 40-50, b and c overlap 50-70,
    // c alone 70-80, trailing gap 80-100
    val s = segment(0, 100, Seq(Interval(10, 40, "a"), Interval(50, 70, "b"),
      Interval(50, 80, "c")))
    assert(s.busyTotal == 60.0 && s.gapTotal == 40.0)
    assert(s.wall.values.sum == 100.0)
    assert(s.wall("a") == 10 + 30.0)
    assert(s.wall("b") == 10 + 10.0)       // gap before, then half of the overlap
    assert(s.wall("c") == 10.0 + 10 + 20)  // half of the overlap, alone, trailing gap
    assert(s.busy("b") == 10.0 && s.busy("c") == 20.0)
  }

  test("markers label the driver time that prepares them") {
    val s = segment(0, 50, Seq(Interval(20, 20, "plan"), Interval(30, 40, "job")))
    assert(s.wall("plan") == 20.0)
    assert(s.wall("job") == 10.0 + 10 + 10)
    assert(s.busyTotal == 10.0 && s.gapTotal == 40.0)
    assert(segment(0, 10, Nil).wall == Map("other" -> 10.0))
    // jobs reaching outside the span are clipped to it
    assert(segment(10, 20, Seq(Interval(0, 30, "x"))).busy == Map("x" -> 10.0))
  }
}
