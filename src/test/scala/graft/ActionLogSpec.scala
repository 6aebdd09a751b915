package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.ops.ActionLog

/** Action-log protocol edges: commit claim, orphan data files, loud
  * corruption, checkpointed replay bounds.
  */
class ActionLogSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def df(ks: Long*) = ks.toSeq.toDF("k")

  test("a crashed data write leaves orphans no version references") {
    val dir = TestSpark.tmpDir("al1")
    ActionLog.append(df(1L, 2L), dir)
    // simulate a crash: data file landed, log record never did
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val orphan = new org.apache.hadoop.fs.Path(s"$dir/data/v9-0.parquet")
    df(99L).coalesce(1).write.parquet(s"$dir/.orphan")
    val part = fs.listStatus(new org.apache.hadoop.fs.Path(s"$dir/.orphan"))
      .find(_.getPath.getName.startsWith("part-")).get.getPath
    fs.rename(part, orphan)
    // the orphan is invisible: reads replay the log, not the directory
    assert(ActionLog.read(spark, dir).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
  }

  test("an occupied version slot is never overwritten — appends mint the next") {
    val dir = TestSpark.tmpDir("al2")
    ActionLog.append(df(1L), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a slot landed by another writer between our list and our claim
    val slot = new org.apache.hadoop.fs.Path(s"$dir/_log/00000002.json")
    val planted = """{"a":"add","p":"v1-0.parquet"}"""
    val out = fs.create(slot, false)
    out.write(planted.getBytes("UTF-8")); out.close()
    val v = ActionLog.append(df(2L), dir)
    assert(v == 3L, "the new commit must take the NEXT free slot")
    // the planted record is byte-intact — no silent overwrite path exists
    val in = fs.open(slot)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    assert(text == planted)
  }

  test("removing an unreferenced file fails the replay loudly") {
    val dir = TestSpark.tmpDir("al3")
    ActionLog.append(df(1L), dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val slot = new org.apache.hadoop.fs.Path(s"$dir/_log/00000002.json")
    val out = fs.create(slot, false)
    out.write("""{"a":"remove","p":"never-added.parquet"}""".getBytes("UTF-8"))
    out.close()
    val ex = intercept[Exception] { ActionLog.read(spark, dir).collect() }
    assert(ex.getMessage.contains("unreferenced"))
  }

  test("checkpoint survives a compaction and keeps old reads alive") {
    val dir = TestSpark.tmpDir("al4")
    ActionLog.append(df(1L, 2L), dir)
    ActionLog.append(df(3L), dir)
    ActionLog.checkpoint(spark, dir)
    ActionLog.rewrite(ActionLog.read(spark, dir), dir, numFiles = 1)
    assert(ActionLog.read(spark, dir).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L, 3L))
    assert(ActionLog.read(spark, dir, asOf = 1L).as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    val (files, _, ckpt) = ActionLog.resolve(spark, dir, 3L)
    assert(ckpt.contains(2L) && files.size == 1)
  }

  test("an all-NULL stats band commits stats-less and range reads admit it") {
    val dir = TestSpark.tmpDir("al5")
    ActionLog.append(df(1L, 2L, 3L).coalesce(1), dir, statsCol = Some("k"))
    val band = Seq(Option.empty[Long], None).toDF("k").coalesce(1)
    val v = ActionLog.append(band, dir, statsCol = Some("k"))
    assert(ActionLog.resolve(spark, dir, v)._1.size == 2)
    // the band's rows are live, NULL keys and all
    assert(ActionLog.read(spark, dir).count() == 5L)
    // pruning keeps the stats-less file (conservative) and the residual
    // predicate still answers exactly
    val (hit, kept, total) = ActionLog.readWhere(spark, dir, "k", 2L, 3L)
    assert(kept == 2 && total == 2)
    assert(hit.as[Long].collect().sorted.toSeq == Seq(2L, 3L))
    assert(ActionLog.rowCountFromLog(spark, dir).isEmpty)
  }
}
