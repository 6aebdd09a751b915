package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** MERGE semantics on plain DataFrames / Parquet snapshots (SURVEY §2.4 J5-J8).
  *
  * The reference upserts with Snowflake `MERGE` (merge_core.sql:5-33,
  * merge_facts_daily.sql:5-38: matched → UPDATE all non-key cols, not matched →
  * INSERT) and insert-only `MERGE` for dimensions (merge_dim_security.sql,
  * merge_dim_date.sql). Plain Parquet has no row-level update, so the physical
  * plan is the same one Delta's MERGE compiles to: anti-join the target against
  * the source keys, union the refreshed source, swap the snapshot.
  *
  * Scale notes:
  *  - The anti join shuffles both sides on the merge keys unless the source is
  *    broadcast-sized — a daily increment almost always is, so Spark picks a
  *    broadcast anti join and the TB-sized target never shuffles.
  *  - With a date-partitioned target and a single-date source, callers should
  *    read and rewrite only the affected partition — see
  *    `EodPipeline.upsertDatePartition`. Read the partition directory itself,
  *    not the table root with a date filter: Spark prunes partitions only
  *    after listing every one of them. Rewriting 1 partition of 3650 is what
  *    makes the daily run O(day) instead of O(history).
  */
object Upsert {

  /** Key-match upsert: source row wins on key collision, target row survives
    * otherwise. Column set is taken from the target.
    */
  def merge(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val srcKeys = source.select(keys.map(col): _*).distinct()
    val survivors = target.join(srcKeys, keys, "left_anti")
    survivors.unionByName(source.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Insert-only merge (WHEN NOT MATCHED THEN INSERT): append source rows whose
    * key is absent from the target (merge_dim_security.sql:5-14).
    */
  def insertMissing(target: DataFrame, source: DataFrame, keys: Seq[String]): DataFrame = {
    val fresh = source.join(target.select(keys.map(col): _*).distinct(), keys, "left_anti")
    target.unionByName(fresh.select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Apply a CDC changefeed — ops I(nsert)/U(pdate)/D(elete), each change
    * stamped with a monotone per-key sequence — to a target snapshot: the
    * full MERGE shape (Debezium feed → Delta `MERGE WHEN MATCHED [AND
    * op='D'] THEN DELETE`), one step past [[merge]]'s upsert-only form.
    *
    * Latest change per key wins (seq desc, so late re-deliveries and
    * superseded intermediates collapse BEFORE touching the target — the
    * changefeed compaction every CDC consumer does); a winning D removes
    * the key, a winning I/U upserts its payload. One window shuffle over
    * the (small) changefeed + the same anti-join the upsert path uses: the
    * TB-sized target still never shuffles when the feed is broadcast-sized.
    */
  def applyCdc(target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    val latest = Dedup.latestBy(changes, keys.map(col), Seq(col(seqCol)))
    val survivors = target.join(latest.select(keys.map(col): _*).distinct(), keys, "left_anti")
    survivors.unionByName(
      latest.filter(col(opCol) =!= "D")
        .select(target.columns.map(col).toIndexedSeq: _*))
  }

  /** Atomic-enough snapshot rewrite: Spark cannot overwrite a path it is lazily
    * reading, so materialize to a staging dir, then swap directories. Callers
    * pass the *merged* frame (which still reads the old snapshot lazily).
    *
    * The staging dir is a DOT-PREFIXED sibling (`.<name>.tmp-<uuid>`): when
    * `path` is a hive partition dir (e.g. `table/trade_date=d`), a crash
    * between write and rename must not leave a sibling the table's FileIndex
    * would try to parse as a partition — dot/underscore prefixes are invisible
    * to partition discovery. Stale staging dirs from prior crashes are swept
    * before writing.
    *
    * Crash safety — the swap is TWO renames, never a delete of live data
    * before its replacement is in place:
    *   1. `path` → `.path.old`   (live snapshot retired, still complete)
    *   2. `.tmp-uuid` → `path`   (new snapshot goes live)
    * A crash at ANY point leaves at least one complete snapshot on disk: a
    * crash between the renames leaves both `.old` and the staged dir, and the
    * next call (or [[recoverSnapshot]]) restores `.old` to `path` before
    * proceeding. The pre-round-3 form (`delete(path)` then rename) had a
    * window where a crash lost the table outright — the durability a
    * 100×-scale daily MERGE needs is exactly "readers always have a complete
    * snapshot" (the reference gets this from Snowflake's transactional MERGE,
    * merge_core.sql:5-33). Unpartitioned whole-table snapshots should prefer
    * [[VersionedTable]], whose pointer flip has no unavailability instant at
    * all; this path-in-place form is for hive partition dirs that must stay
    * scannable by a table-level FileIndex.
    */
  def snapshotWrite(df: DataFrame, path: String): Unit = {
    val spark = df.sparkSession
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dst = new Path(path)
    val parent = dst.getParent
    val stagePrefix = s".${dst.getName}.tmp-"
    recoverSnapshot(fs, dst) // a prior crash between the two renames
    if (fs.exists(parent)) fs.listStatus(parent).foreach { st =>
      if (st.getPath.getName.startsWith(stagePrefix)) fs.delete(st.getPath, true)
    }
    val tmp = new Path(parent, stagePrefix + java.util.UUID.randomUUID().toString)
    df.write.mode(SaveMode.Overwrite).parquet(tmp.toString)
    val retired = retiredPath(dst)
    if (fs.exists(retired)) fs.delete(retired, true)
    val hadLive = fs.exists(dst)
    if (hadLive && !fs.rename(dst, retired))
      throw new java.io.IOException(s"snapshot retire failed: $dst -> $retired")
    if (!fs.rename(tmp, dst)) {
      if (hadLive) fs.rename(retired, dst) // restore; the write is lost, the table is not
      throw new java.io.IOException(s"snapshot swap failed: $tmp -> $dst")
    }
    if (hadLive) fs.delete(retired, true)
    // The session-level FileStatusCache still holds the pre-swap listing;
    // without this, the next read of `path` fails with FILE_NOT_EXIST.
    spark.catalog.refreshByPath(path)
  }

  private def retiredPath(dst: Path): Path =
    new Path(dst.getParent, s".${dst.getName}.old")

  /** Restore `path` from its retired sibling if a previous swap crashed
    * between retire and go-live (path missing, `.old` complete). Idempotent;
    * called automatically at the head of every [[snapshotWrite]] and safe for
    * readers to call on a missing path.
    */
  def recoverSnapshot(fs: org.apache.hadoop.fs.FileSystem, dst: Path): Boolean = {
    val retired = retiredPath(dst)
    if (!fs.exists(dst) && fs.exists(retired)) fs.rename(retired, dst) else false
  }
}
