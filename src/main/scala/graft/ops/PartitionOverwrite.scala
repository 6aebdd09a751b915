package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Dynamic partition overwrite — Spark's `partitionOverwriteMode=dynamic`
  * and Delta's `replaceWhere`, on the `_v-N` layout: a batch replaces ONLY
  * the partitions it actually carries rows for; every untouched partition
  * is carried into the next immutable version as a DIRECTORY-LEVEL raw
  * copy, never re-encoded. This is the idempotent daily-reload shape at
  * 100 TB — reprocessing one day rewrites one partition dir, not the
  * table, and a re-run of the same batch converges to the same state.
  *
  * `expect` is the `replaceWhere` guard: when set, EVERY incoming row must
  * satisfy it, or the write is rejected with the table untouched — the
  * fence that stops a miswired batch from silently replacing partitions it
  * was never scoped to.
  *
  * Layout: Hive-style `col=value` partition dirs directly inside each
  * version dir, written with `partitionBy`, so a plain read of the version
  * dir rediscovers the partition column and partition pruning works
  * unchanged. The incoming batch's partition list is one distinct-collect,
  * bounded by the partition count — never O(rows).
  */
object PartitionOverwrite {

  final class ReplaceWhereViolation(msg: String) extends RuntimeException(msg)

  /** Bootstrap the partitioned table (version 1). */
  def init(df: DataFrame, dir: String, partCol: String): Long = {
    require(VersionedTable.currentVersion(df.sparkSession, dir).isEmpty,
      s"PartitionOverwrite.init($dir): table exists")
    VersionedTable.commit(df.sparkSession, dir) { vd =>
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(vd.toString)
    }._1
  }

  /** Replace exactly the partitions present in `df`; carry the rest.
    * Returns (newVersion, replaced partition dir names, carried count).
    */
  def overwrite(df: DataFrame, dir: String, partCol: String,
      expect: Option[Column] = None): (Long, Seq[String], Int) = {
    val spark = df.sparkSession
    val fs = VersionedTable.fsOf(spark, dir)
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"PartitionOverwrite.overwrite($dir): no complete snapshot"))
    expect.foreach { e =>
      val bad = df.filter(!coalesce(e, lit(false))).count()
      if (bad > 0) throw new ReplaceWhereViolation(
        s"PartitionOverwrite.overwrite($dir): $bad incoming rows violate the " +
          s"replaceWhere guard — the batch is scoped wrong; table untouched")
    }
    val incoming = df.select(col(partCol).cast("string")).distinct()
      .collect().map(_.getString(0)).toSet // bounded by the partition count
    def partDirs(vd: Path) = fs.listStatus(vd).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith(s"$partCol="))
    val (next, (replaced, carried)) = VersionedTable.commit(spark, dir) { vd =>
      df.write.mode(SaveMode.Overwrite).partitionBy(partCol).parquet(vd.toString)
      val replaced = partDirs(vd).map(_.getPath.getName)
      require(replaced.map(_.stripPrefix(s"$partCol=")).toSet == incoming,
        s"PartitionOverwrite: written dirs $replaced != incoming $incoming")
      // carry the untouched partition dirs whole
      val carried = partDirs(VersionedTable.verDir(dir, cur))
        .filterNot(st => replaced.contains(st.getPath.getName))
      VersionedTable.carry(spark, carried, vd)
      (replaced, carried.size)
    }
    (next, replaced.sorted, carried)
  }

  /** Read the live snapshot (partition column rediscovered from dirs). */
  def read(spark: SparkSession, dir: String): DataFrame =
    VersionedTable.read(spark, dir)
}
