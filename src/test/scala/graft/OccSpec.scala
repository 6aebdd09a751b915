package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{Occ, VersionedTable}

/** The optimistic-concurrency protocol, interleaved at every instant a
  * writer can die or race:
  *  - two DISJOINT writers racing: both land, the loser via rebase
  *  - a TRUE conflict: the loser throws and leaves zero torn state
  *  - crash before claim / after claim before rename / after rename before
  *    pointer flip: each recovered by sweepStages/finalizePending roll-forward
  *  - threaded race without orchestration: both writers land
  */
class OccSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def seed(dir: String): Unit = {
    val base = (1 to 100).map(i => (i.toLong, "base")).toDF("k", "tag")
    Occ.commit(spark, dir, Set("*"))(_ => base)
    ()
  }

  private def live(dir: String): DataFrame = VersionedTable.read(spark, dir)

  private def tagOf(dir: String, k: Long): String =
    live(dir).filter(col("k") === k).select("tag").head().getString(0)

  private def mutateRange(lo: Long, hi: Long, tag: String)(
      snap: Option[DataFrame]): DataFrame =
    snap.get.withColumn("tag",
      when(col("k").between(lo, hi), lit(tag)).otherwise(col("tag")))

  test("disjoint writers race: loser rebases, both changes land") {
    val dir = TestSpark.tmpDir("occ-disjoint")
    seed(dir)
    // writer A stages, then (hook, first attempt only) writer B commits
    // first; A must rebase
    var fired = false
    val a = Occ.commit(spark, dir, Set("lo"))(
      mutateRange(1, 10, "A"),
      hook = () => if (!fired) {
        fired = true
        Occ.commit(spark, dir, Set("hi"))(mutateRange(90, 100, "B")); ()
      })
    assert(a.rebased == 1, "A lost the race and must have rebased exactly once")
    assert(VersionedTable.currentVersion(spark, dir).contains(3L)) // seed, B, A
    assert(tagOf(dir, 5) == "A" && tagOf(dir, 95) == "B" && tagOf(dir, 50) == "base")
  }

  test("overlapping writers: loser fails cleanly with no torn state") {
    val dir = TestSpark.tmpDir("occ-conflict")
    seed(dir)
    val before = live(dir).collect().toSet
    intercept[Occ.CommitConflictException] {
      Occ.commit(spark, dir, Set("lo"))(
        mutateRange(1, 10, "A"),
        hook = () => { Occ.commit(spark, dir, Set("lo"))(mutateRange(5, 15, "B")); () })
    }
    // B's commit is the live one; A left nothing behind
    assert(VersionedTable.currentVersion(spark, dir).contains(2L))
    assert(tagOf(dir, 10) == "B" && tagOf(dir, 20) == "base")
    assert(Occ.sweepStages(spark, dir) == 0, "loser must have deleted its own stage")
    assert(live(dir).collect().toSet != before)
  }

  test("wildcard write set conflicts with everything") {
    val dir = TestSpark.tmpDir("occ-star")
    seed(dir)
    intercept[Occ.CommitConflictException] {
      Occ.commit(spark, dir, Set("lo"))(
        mutateRange(1, 10, "A"),
        hook = () => { Occ.commit(spark, dir, Set("*"))(mutateRange(50, 60, "B")); () })
    }
    intercept[Occ.CommitConflictException] {
      Occ.commit(spark, dir, Set("*"))(
        mutateRange(1, 10, "A2"),
        hook = () => { Occ.commit(spark, dir, Set("zz"))(mutateRange(70, 80, "C")); () })
    }
  }

  test("crash before claim leaves only an orphan stage; sweepStages reclaims it") {
    val dir = TestSpark.tmpDir("occ-crash1")
    seed(dir)
    val boom = new RuntimeException("die before claim")
    intercept[RuntimeException] {
      Occ.commit(spark, dir, Set("lo"))(mutateRange(1, 10, "A"),
        hook = () => throw boom)
    }
    assert(VersionedTable.currentVersion(spark, dir).contains(1L), "table unchanged")
    assert(Occ.sweepStages(spark, dir) == 1, "exactly the orphan stage")
    // next writer is unaffected
    Occ.commit(spark, dir, Set("lo"))(mutateRange(1, 10, "A"))
    assert(tagOf(dir, 5) == "A")
  }

  test("crash after claim: finalizePending rolls the commit forward") {
    val dir = TestSpark.tmpDir("occ-crash2")
    seed(dir)
    // construct the crashed-winner state by hand: staged dir + marker, no
    // version dir, stale pointer — the instant right after the atomic claim
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageName = "_stage-crashed-winner"
    mutateRange(1, 10, "A")(Some(live(dir)))
      .write.parquet(s"$dir/$stageName")
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_commit-00000002"), false)
    out.write(s"$stageName\nlo".getBytes("UTF-8")); out.close()
    assert(VersionedTable.currentVersion(spark, dir).contains(1L), "not yet visible")
    // a single-writer commit must not build version 2 over the claimed one
    intercept[IllegalArgumentException](VersionedTable.write(live(dir), dir))
    Occ.finalizePending(spark, dir)
    assert(VersionedTable.currentVersion(spark, dir).contains(2L))
    assert(tagOf(dir, 5) == "A")
    // a conflicting later writer still sees version 2's write set
    intercept[Occ.CommitConflictException] {
      Occ.commit(spark, dir, Set("lo"))(
        mutateRange(1, 5, "B"),
        hook = () => {
          // re-wind: pretend THIS writer read base=1 by racing against v2 —
          // simplest equivalent: a fresh conflicting commit in the hook
          Occ.commit(spark, dir, Set("lo"))(mutateRange(6, 9, "C")); ()
        })
    }
  }

  test("crash after rename, before pointer flip: version already readable, flip rolls forward") {
    val dir = TestSpark.tmpDir("occ-crash3")
    seed(dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    mutateRange(1, 10, "A")(Some(live(dir)))
      .write.parquet(s"$dir/_v-00000002")
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_commit-00000002"), false)
    out.write("_stage-already-renamed\nlo".getBytes("UTF-8")); out.close()
    // visibility comes at the pointer flip: until then readers stay on v1
    // (the marker is the DURABILITY point, not the visibility point)
    assert(VersionedTable.currentVersion(spark, dir).contains(1L))
    Occ.finalizePending(spark, dir)
    assert(VersionedTable.currentVersion(spark, dir).contains(2L))
    // pointer caught up: the ptr file itself names v2 now
    val in = fs.open(new org.apache.hadoop.fs.Path(dir, "_ptr"))
    val ptr = try scala.io.Source.fromInputStream(in).mkString.trim finally in.close()
    assert(ptr.toLong == 2L)
    assert(tagOf(dir, 5) == "A")
  }

  test("gc after commits: final markers are never rolled forward again") {
    val dir = TestSpark.tmpDir("occ-gc")
    seed(dir)
    // a single-writer exactly-once commit on the same table: its txn
    // marker must ride every later Occ commit
    VersionedTable.writeCommitted(live(dir), dir, "app", 0L)
    Occ.commit(spark, dir, Set("lo"))(mutateRange(1, 10, "A"))
    Occ.commit(spark, dir, Set("hi"))(mutateRange(90, 100, "B"))
    // versions 1 and 2 go; the markers of commits 1, 3 and 4 stay behind
    assert(VersionedTable.gc(spark, dir, keep = 2) == 2)
    val c = Occ.commit(spark, dir, Set("mid"))(mutateRange(40, 60, "C"))
    assert(c.version == 5L)
    assert(tagOf(dir, 5) == "A" && tagOf(dir, 95) == "B" && tagOf(dir, 50) == "C")
    assert(VersionedTable.lastBatchId(spark, dir, "app").contains(0L))
  }

  test("capture under rebase: the loser's feed is recomputed against the winner's snapshot") {
    import graft.ops.ChangeFeed
    val dir = TestSpark.tmpDir("occ-capture")
    val keys = Some(Seq("k"))
    val base = (1 to 100).map(i => (i.toLong, "base")).toDF("k", "tag")
    Occ.commit(spark, dir, Set("*"), keys)(_ => base)
    var fired = false
    val a = Occ.commit(spark, dir, Set("lo"), keys)(
      mutateRange(1, 10, "A"),
      hook = () => if (!fired) {
        fired = true
        Occ.commit(spark, dir, Set("hi"), keys)(mutateRange(90, 100, "B")); ()
      })
    assert(a.rebased == 1 && a.version == 3L)
    // every version carries its capture, and the REBASED v3 capture is the
    // diff against the WINNER's v2 (10 update pairs), not the stale v1 diff
    for (v <- 2L to 3L)
      assert(ChangeFeed.tableChanges(spark, dir, v - 1, v, Seq("k"))
        .drop(ChangeFeed.CommitVersion)
        .exceptAll(ChangeFeed.snapshotDiff(spark, dir, v, Seq("k"))).isEmpty,
        s"v$v capture must equal its snapshot diff")
    // feed completeness across the whole race: v1 + changes == live
    val replayed = ChangeFeed.apply(Some(VersionedTable.readVersion(spark, dir, 1L)),
      ChangeFeed.tableChanges(spark, dir, 1L, 3L, Seq("k")), Seq("k"))
    assert(replayed.exceptAll(live(dir)).isEmpty && live(dir).exceptAll(replayed).isEmpty)
  }

  test("capture survives a crashed finalization: roll-forward carries the change files") {
    import graft.ops.ChangeFeed
    val dir = TestSpark.tmpDir("occ-capture-crash")
    val base = (1 to 50).map(i => (i.toLong, "base")).toDF("k", "tag")
    Occ.commit(spark, dir, Set("*"), Some(Seq("k")))(_ => base)
    // crashed-winner state: staged dir WITH its _cdf + marker, no rename
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stageName = "_stage-crashed-capture"
    val staged = mutateRange(1, 5, "A")(Some(live(dir)))
    staged.write.parquet(s"$dir/$stageName")
    ChangeFeed.diff(Some(live(dir)), spark.read.parquet(s"$dir/$stageName"), Seq("k"))
      .write.parquet(s"$dir/$stageName/_cdf")
    val out = fs.create(new org.apache.hadoop.fs.Path(dir, "_commit-00000002"), false)
    out.write(s"$stageName\nlo".getBytes("UTF-8")); out.close()
    Occ.finalizePending(spark, dir)
    assert(VersionedTable.currentVersion(spark, dir).contains(2L))
    val cap = ChangeFeed.tableChanges(spark, dir, 1L, 2L, Seq("k"))
    assert(cap.filter(col(ChangeFeed.ChangeType) === "update_postimage").count() == 5L,
      "the rolled-forward version must carry its staged capture")
  }

  test("threaded disjoint writers: both land without orchestration") {
    val dir = TestSpark.tmpDir("occ-threads")
    seed(dir)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ts = Seq(
      new Thread(() => try { Occ.commit(spark, dir, Set("lo"))(mutateRange(1, 10, "A")); () }
        catch { case t: Throwable => errs.add(t) }),
      new Thread(() => try { Occ.commit(spark, dir, Set("hi"))(mutateRange(90, 100, "B")); () }
        catch { case t: Throwable => errs.add(t) }))
    ts.foreach(_.start()); ts.foreach(_.join())
    assert(errs.isEmpty, s"no writer may fail on a disjoint race: ${errs}")
    assert(VersionedTable.currentVersion(spark, dir).contains(3L))
    assert(tagOf(dir, 5) == "A" && tagOf(dir, 95) == "B" && tagOf(dir, 50) == "base")
  }
}
