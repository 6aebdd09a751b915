package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.Path
import java.nio.charset.StandardCharsets

/** Optimistic concurrency control for [[VersionedTable]] — the multi-writer
  * protocol the single-writer pointer flip lacks, re-expressed from the
  * PUBLIC Delta/Iceberg commit design: writers never lock; each prepares its
  * change against a read snapshot, then claims the next version number with
  * one atomic create-if-absent; a loser re-reads what won, and either
  * REBASES (recomputes its transformation on the new live snapshot — allowed
  * iff the declared write sets are disjoint) or FAILS cleanly with no torn
  * state. This is Delta's `OptimisticTransaction.commit` + LogStore
  * mutual-exclusion contract and Iceberg's CAS-on-pointer, folded onto the
  * `_v-NNNNNNNN` + `_ptr` layout.
  *
  * Commit point: `_commit-NNNNNNNN` marker, published with [[AtomicPut]] —
  * put-if-absent WITH its content in one atomic step (a hard link on the
  * local filesystem, create-under-lease on HDFS, conditional put on object
  * stores: the LogStore contract Delta documents), so no reader ever sees a
  * claimed-but-empty marker. The marker's CONTENT is the whole commit: the
  * staged dir's name plus the declared write set. Everything after the
  * marker (rename staged -> `_v-N`, then [[VersionedTable]]'s txn carry,
  * stamp and pointer flip) is idempotent FINALIZATION that any later writer
  * or reader rolls forward ([[finalizePending]]) — so a writer crashing at
  * any instant after its marker lands loses no commit, and one crashing
  * before it leaves only a uniquely-named staged dir for [[sweepStages]].
  *
  * Conflict rule (Delta's logical-conflict check, simplified to declared
  * sets): each commit declares the partitions/keys it writes as a token set;
  * a rebase is legal iff the candidate's set is disjoint from EVERY set
  * committed since its read version. The token `*` declares a full-table
  * write and conflicts with everything. Writers that mix this protocol with
  * raw [[VersionedTable.write]] on the same table forfeit the guarantee —
  * same single-protocol rule as Delta (every writer must go through the
  * log).
  */
object Occ {

  private[ops] val CommitPrefix = "_commit-"
  private val StagePrefix = "_stage-"

  /** Thrown when another writer committed an overlapping write set between
    * this writer's read and its claim. The table is untouched by the loser.
    */
  final class CommitConflictException(msg: String)
    extends RuntimeException(msg)

  final case class Committed(version: Long, rebased: Int)

  private def commitPath(dir: String, v: Long): Path =
    new Path(dir, f"$CommitPrefix$v%08d")

  private def parseMarker(s: String): (String, Set[String]) = {
    val lines = s.split("\n", -1)
    (lines.head.trim, lines.drop(1).map(_.trim).filter(_.nonEmpty).toSet)
  }

  private def readMarker(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      v: Long): Option[(String, Set[String])] =
    VersionedTable.readText(fs, commitPath(dir, v)).map(parseMarker)

  private def listCommits(fs: org.apache.hadoop.fs.FileSystem, dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.filter(_.isFile)
      .flatMap(st => VersionedTable.numbered(st.getPath, CommitPrefix)).sorted
  }

  /** Atomic claim of version `v`: put-if-absent of the commit marker WITH
    * its body ([[AtomicPut]]) — the claim and the marker content are one
    * atomic step, so no concurrent finalizer or conflict-checker can ever
    * observe a claimed-but-empty marker. Returns false when someone else
    * holds it.
    */
  private def claim(fs: org.apache.hadoop.fs.FileSystem, dir: String, v: Long,
      stageName: String, writeSet: Set[String]): Boolean = {
    val body = (stageName +: writeSet.toSeq.sorted).mkString("\n")
    AtomicPut(fs, commitPath(dir, v), body.getBytes(StandardCharsets.UTF_8))
  }

  /** Roll every claimed-but-unfinalized commit forward: rename its staged
    * dir to the version dir (skip if already there), then the
    * [[VersionedTable]] kernel's carry → stamp → flip tail. Safe to call
    * from anyone at any time — every step is idempotent, which is what
    * makes the marker the single commit point.
    *
    * Only markers ABOVE the pointer are pending: one at or below it is
    * final, and [[VersionedTable.gc]] may since have deleted its version
    * dir. With no pointer (a first commit, or a crash mid-flip) the floor
    * is the highest stamped version — stamping precedes the flip, so every
    * version at or below it has already been rolled forward.
    */
  def finalizePending(spark: SparkSession, dir: String): Unit = {
    val fs = VersionedTable.fsOf(spark, dir)
    val floor = VersionedTable.readPtr(fs, dir)
      .orElse(VersionedTable.listVersions(fs, dir).reverse
        .find(v => VersionedTable.hasCommitTs(fs, dir, v)))
      .getOrElse(0L)
    listCommits(fs, dir).filter(_ > floor).foreach { v =>
      val vd = VersionedTable.verDir(dir, v)
      readMarker(fs, dir, v).foreach { case (stageName, _) =>
        val stage = new Path(dir, stageName)
        if (!VersionedTable.complete(fs, vd)) {
          // the rename either succeeds (we finalized) or the stage is gone
          // because a concurrent finalizer won — both end with _v-v complete
          if (fs.exists(stage)) fs.rename(stage, vd)
        } else if (fs.exists(stage)) fs.delete(stage, true) // duplicate roll-forward
        require(VersionedTable.complete(fs, vd),
          s"Occ.finalizePending($dir): commit $v has neither staged dir nor version dir")
      }
      VersionedTable.rollForward(fs, dir, v)
    }
  }

  /** Delete orphaned staged dirs not referenced by any commit marker — the
    * leavings of writers that crashed before their claim (or lost a true
    * conflict mid-crash). Never touches version dirs or claimed stages.
    */
  def sweepStages(spark: SparkSession, dir: String): Int = {
    val fs = VersionedTable.fsOf(spark, dir)
    val d = new Path(dir)
    if (!fs.exists(d)) return 0
    val claimed = listCommits(fs, dir)
      .flatMap(v => readMarker(fs, dir, v)).map(_._1).toSet
    val orphans = fs.listStatus(d).toSeq.filter(st => st.isDirectory &&
      st.getPath.getName.startsWith(StagePrefix) && !claimed(st.getPath.getName))
    orphans.foreach(st => fs.delete(st.getPath, true))
    orphans.size
  }

  /** The write sets committed strictly after `base`, in version order —
    * what a loser checks its own set against before rebasing.
    */
  private def setsSince(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      base: Long): Seq[(Long, Set[String])] =
    listCommits(fs, dir).filter(_ > base)
      .flatMap(v => readMarker(fs, dir, v).map(v -> _._2))

  /** Commit a stage dir ALREADY WRITTEN by distributed executors (the
    * DSv2 batch-write path: tasks stream their partitions straight into
    * `dir/stageName`, no driver materialization, no second copy). The
    * content was computed against `base`, so unlike [[commit]] there is
    * no rebase — any non-rewrite commit since `base` that intersects
    * `writeSet` makes the materialized replacement stale, and the claim
    * fails LOUDLY with the stage deleted. Same marker/finalize protocol,
    * same crash story.
    */
  def commitStagedDir(spark: SparkSession, dir: String, stageName: String,
      base: Long, writeSet: Set[String]): Committed = {
    require(writeSet.nonEmpty, "Occ.commitStagedDir: declare a write set")
    val fs = VersionedTable.fsOf(spark, dir)
    val stage = new Path(dir, stageName)
    require(VersionedTable.complete(fs, stage),
      s"Occ.commitStagedDir: staged $stage missing _SUCCESS")
    finalizePending(spark, dir)
    def stale(reason: String): Nothing = {
      fs.delete(stage, true)
      throw new CommitConflictException(
        s"Occ.commitStagedDir($dir): $reason — the materialized " +
          "replacement read a snapshot that is no longer current")
    }
    setsSince(fs, dir, base).find { case (_, ws) =>
      !ws("#rewrite") && ws.exists(t => t == "*" || writeSet(t) || writeSet("*"))
    }.foreach { case (v, ws) =>
      stale(s"version $v committed ${ws.toSeq.sorted.mkString(",")} since base $base")
    }
    val target = VersionedTable.listVersions(fs, dir).lastOption.getOrElse(0L)
      .max(listCommits(fs, dir).lastOption.getOrElse(0L)) + 1L
    if (target != base + 1L || !claim(fs, dir, target, stageName, writeSet))
      stale(s"version $target was claimed concurrently")
    finalizePending(spark, dir)
    spark.catalog.refreshByPath(VersionedTable.verDir(dir, target).toString)
    Committed(target, 0)
  }

  /** Commit `mutate(liveSnapshot)` under optimistic concurrency.
    *
    * `writeSet` declares what the transformation writes (partition values,
    * key-range tokens, or `*` for whole-table). `mutate` receives the
    * current live snapshot (None on a fresh table) and must return the FULL
    * next snapshot (same whole-snapshot versioning as
    * [[VersionedTable.write]]); it is re-run from scratch on every rebase,
    * so it must be a pure function of its input. `hook` fires between
    * staging and claiming — the window every interesting interleaving
    * lives in; tests use it to race a second writer, production leaves it
    * default.
    *
    * `captureKeys` composes CDF with OCC (the Delta rebase contract):
    * when set, each ATTEMPT diffs its staged snapshot against the base it
    * read and persists the changes under `stage/_cdf` BEFORE the claim —
    * the capture rides the marker+rename commit point atomically, so a
    * version is never live without its change files and a crashed
    * finalization carries them through roll-forward. A rebased loser
    * recomputes the capture against the WINNER's snapshot (the staged diff
    * a Delta rebase re-derives), never ships the stale diff.
    *
    * `dataChange = false` declares a PURE REWRITE (compaction, clustering,
    * DV folding): the logical content of the output equals its input, only
    * the layout differs. This is Delta's public `dataChange=false` commit
    * flag, and it relaxes the conflict rule in both directions — a rewrite
    * candidate never hard-conflicts (its mutate is re-run on the winner's
    * snapshot, which is always legal for a content-preserving function),
    * and committed rewrites are transparent to later candidates (the
    * content they read is still the content that is live). That is what
    * lets OPTIMIZE run concurrently with appends instead of serializing a
    * 100 TB table behind its own maintenance. The `#rewrite` marker token
    * is reserved; `mutate` MUST be content-preserving when the flag is set
    * — the protocol trusts the declaration, exactly as Delta does.
    *
    * @throws CommitConflictException when a commit since the read version
    *         overlaps `writeSet` — the staged dir is deleted first, so a
    *         loser leaves NO torn state.
    */
  def commit(spark: SparkSession, dir: String, writeSet: Set[String],
      captureKeys: Option[Seq[String]] = None, dataChange: Boolean = true,
      captureAppend: Option[DataFrame] = None,
      captureOverwrite: Option[Seq[String]] = None)
      (mutate: Option[DataFrame] => DataFrame, maxRebases: Int = 10,
       hook: () => Unit = () => ()): Committed = {
    require(writeSet.nonEmpty, "Occ.commit: declare a write set (or Set(\"*\"))")
    require(!writeSet("#rewrite"), "Occ.commit: #rewrite is a reserved token")
    require(Seq(captureKeys, captureAppend, captureOverwrite)
        .count(_.isDefined) <= 1,
      "Occ.commit: captureKeys / captureAppend / captureOverwrite are " +
        "exclusive capture modes")
    val fs = VersionedTable.fsOf(spark, dir)
    fs.mkdirs(new Path(dir))
    var rebases = 0
    while (true) {
      finalizePending(spark, dir)
      val base = VersionedTable.currentVersion(spark, dir).getOrElse(0L)
      // the snapshot handed to `mutate` (and diffed by the capture) is the
      // base's LOGICAL content: on a DV table that is the deletion-vector-
      // applied view, never the raw files — a raw read would resurrect
      // masked rows through `mutate` and mis-capture a re-insert of a
      // deleted key as "no change" (same rule GroupBatchWrite applies)
      val snapshot =
        if (base == 0L) None
        else {
          val vd = VersionedTable.verDir(dir, base)
          if (fs.exists(new Path(vd, "_dv")))
            Some(DeletionVectors.readVersion(spark, dir, base))
          else Some(spark.read.parquet(vd.toString))
        }
      // append-capture represents the change set as the delta tagged
      // `insert` — representable on a KEYED feed only when the appended
      // keys are new; a blind append of a live key would leave two table
      // rows behind one feed insert (replay incompleteness), so it fails
      // loudly here, per attempt (a rebase re-checks the winner's keys)
      // duplicate keys WITHIN the delta are the same replay hole: two
      // table rows behind one feed key that replay collapses to one.
      // Checked WITHOUT binding the snapshot — a FIRST commit on a dir
      // whose feed keys were already recorded (e.g. a keyed commit that
      // crashed after recordKeys) must hit it too.
      for {
        delta <- captureAppend
        keys <- ChangeFeed.recordedKeys(spark, dir)
      } {
        import org.apache.spark.sql.functions.{col, count, lit}
        val dup = delta.groupBy(keys.map(col): _*)
          .agg(count(lit(1)).as("c")).filter(col("c") > 1)
        require(dup.isEmpty,
          s"Occ.commit($dir): blind append carries duplicate key(s) within " +
            s"the delta itself (keys=${keys.mkString(",")}) — the append " +
            "capture cannot represent duplicate-key rows; de-duplicate or " +
            "MERGE instead")
      }
      for {
        delta <- captureAppend
        keys <- ChangeFeed.recordedKeys(spark, dir)
        live <- snapshot
      } {
        import org.apache.spark.sql.functions.col
        val clash = live.select(keys.map(col): _*)
          .join(delta.select(keys.map(col): _*).distinct(), keys, "left_semi")
        require(clash.isEmpty,
          s"Occ.commit($dir): blind append of key(s) already live on a " +
            s"keyed feed (keys=${keys.mkString(",")}) — the append capture " +
            "cannot represent duplicate-key rows; MERGE or a keyed " +
            "ChangeFeed.commit instead")
      }
      val stageName = StagePrefix + java.util.UUID.randomUUID().toString
      val stage = new Path(dir, stageName)
      mutate(snapshot).write.mode(SaveMode.Overwrite).parquet(stage.toString)
      require(VersionedTable.complete(fs, stage),
        s"Occ.commit: staged $stage missing _SUCCESS")
      captureKeys.foreach { keys =>
        ChangeFeed.diff(snapshot, spark.read.parquet(stage.toString), keys)
          .write.mode(SaveMode.Overwrite).parquet(new Path(stage, "_cdf").toString)
      }
      // OVERWRITE capture (Delta's protocol shape): when the base is a
      // plain version, the capture is a MARKER the readers expand lazily
      // (deletes = v-1's rows, inserts = v's) — no diff join, no capture
      // bytes. A DV-masked or absent base falls back to the keyed diff:
      // the marker's expansion rule needs a predecessor whose raw files
      // ARE its logical content.
      captureOverwrite.foreach { keys =>
        val dvBase = snapshot.isDefined && fs.exists(
          new Path(VersionedTable.verDir(dir, base), "_dv"))
        if (snapshot.isDefined && !dvBase)
          fs.create(new Path(stage, ChangeFeed.OverwriteMarkerName), true)
            .close()
        else
          ChangeFeed.diff(snapshot, spark.read.parquet(stage.toString), keys)
            .write.mode(SaveMode.Overwrite)
            .parquet(new Path(stage, "_cdf").toString)
      }
      // APPEND capture (the blind-INSERT form): the change set is exactly
      // the appended delta tagged `insert` — no keyed diff, no keys needed,
      // and REBASE-INVARIANT (the delta is the same rows whatever snapshot
      // it lands on), which is why a blind append never hard-conflicts
      captureAppend.foreach { delta =>
        delta.withColumn(ChangeFeed.ChangeType,
            org.apache.spark.sql.functions.lit("insert"))
          .write.mode(SaveMode.Overwrite).parquet(new Path(stage, "_cdf").toString)
      }
      hook()
      // conflict check BEFORE the claim (cheap reject), and the claim itself
      // re-checks by construction: losing the create-if-absent race means a
      // new commit appeared, so loop and re-examine its write set too.
      // Rewrites are exempt on BOTH sides: a rewrite candidate always
      // rebases (content-preserving mutate is legal on any snapshot), and a
      // committed rewrite left the logical content a data-change candidate
      // read fully intact.
      val winners = setsSince(fs, dir, base)
      val clash =
        if (!dataChange) None
        else winners.find { case (_, ws) =>
          !ws("#rewrite") &&
            ws.exists(t => t == "*" || writeSet(t) || writeSet("*"))
        }
      clash match {
        case Some((v, ws)) =>
          fs.delete(stage, true)
          throw new CommitConflictException(
            s"Occ.commit($dir): write set ${writeSet.toSeq.sorted.mkString(",")} " +
            s"conflicts with version $v's ${ws.toSeq.sorted.mkString(",")}")
        case None =>
          val declared = if (dataChange) writeSet else writeSet + "#rewrite"
          val target = VersionedTable.listVersions(fs, dir)
            .lastOption.getOrElse(0L).max(listCommits(fs, dir).lastOption.getOrElse(0L)) + 1L
          if (target == base + 1L && claim(fs, dir, target, stageName, declared)) {
            finalizePending(spark, dir)
            spark.catalog.refreshByPath(VersionedTable.verDir(dir, target).toString)
            return Committed(target, rebases)
          }
          // lost the race (or a commit landed between read and claim):
          // someone else owns base+1 .. target. Drop the stale stage and
          // REBASE — recompute against the new live snapshot. The conflict
          // check at the top of the next loop decides if that is legal.
          fs.delete(stage, true)
          rebases += 1
          if (rebases > maxRebases)
            throw new CommitConflictException(
              s"Occ.commit($dir): gave up after $maxRebases rebases")
      }
    }
    sys.error("unreachable")
  }
}
