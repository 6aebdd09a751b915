package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import java.nio.charset.StandardCharsets

/** Versioned whole-table snapshots with an atomic pointer flip — the
  * durability pattern the reference gets for free from Snowflake's
  * transactional MERGE (dags/sql/merge_core.sql:5-33) re-expressed on plain
  * parquet, the way Iceberg/Delta do it: data dirs are IMMUTABLE once
  * written, and "which snapshot is live" is a tiny pointer file, so there is
  * NO instant at which a reader can observe a missing or partial table.
  *
  * Layout under `dir` (all names underscore/dot-prefixed — invisible to any
  * enclosing partition discovery):
  * {{{
  *   dir/_ptr            # text: zero-padded live version, e.g. "00000042"
  *   dir/_v-00000042/    # complete parquet snapshot (has _SUCCESS)
  *   dir/_v-00000041/    # previous version, kept until gc
  * }}}
  *
  * Write protocol: every commit goes through ONE kernel ([[commit]]; the
  * write-audit-publish pair [[stage]]/[[publish]] is the same kernel split
  * at the flip, and [[Occ]] reuses its seal/stamp/flip tail after its
  * rename). It stages the FULL new snapshot to `_v-(N+1)` (the parquet
  * committer plants `_SUCCESS` last), carries the live `_txn-*` markers
  * forward, stamps `_commit_ts`, then flips `_ptr`. A crash before the flip
  * leaves a dangling higher version that the next commit sweeps; a crash
  * during the flip is covered by the reader fallback (highest version with
  * `_SUCCESS`). Readers resolve the pointer and read ONE immutable dir —
  * concurrent with any number of writes. Nothing outside this object
  * writes the pointer, the stamp or the markers.
  *
  * Single-writer by design (the daily pipeline's dims/snapshots have exactly
  * one writer); concurrent writers would race the pointer and need a
  * compare-and-swap the object-store layer must provide (as Delta's
  * LogStore does).
  *
  * The underscore prefix has a second deliberate effect: a naive
  * `spark.read.parquet(dir)` on the TABLE root sees no data files (Spark
  * ignores `_`/`.`-prefixed children, logging a cosmetic "All paths were
  * ignored" warning) instead of silently unioning every retained version
  * into duplicated rows. Reads must resolve the pointer via [[read]];
  * explicitly-passed version dirs are exempt from the filter.
  */
object VersionedTable {

  private val PtrName = "_ptr"

  private val CommitTsName = "_commit_ts"

  /** Stamp the commit wall-clock into the version dir — written BEFORE the
    * pointer flip (same atomicity contract as the txn markers), so a live
    * version always carries its timestamp and [[readAsOf]] never sees a
    * half-stamped history.
    *
    * Clamped to `max(predecessor's stamp + 1, now)` — Delta's
    * in-commit-timestamp monotonicity rule. Without the clamp a clock step
    * backward makes stamps non-monotonic across versions, and readAsOf's
    * highest-version-with-ts<=t rule could pick a later version while
    * skipping an earlier one whose stamp is larger.
    */
  private def stampCommitTs(fs: FileSystem, dir: String, version: Long): Unit = {
    val prev = listVersions(fs, dir).filter(_ < version).lastOption
      .flatMap(v => readText(fs, new Path(verDir(dir, v), CommitTsName)))
      .flatMap(_.trim.toLongOption)
    val ts = math.max(prev.map(_ + 1L).getOrElse(Long.MinValue), System.currentTimeMillis)
    writeText(fs, new Path(verDir(dir, version), CommitTsName), ts.toString)
  }

  /** The version's commit timestamp (ms). Absent on versions written
    * before timestamping existed.
    */
  def commitTimestamp(spark: SparkSession, dir: String, version: Long): Option[Long] = {
    val fs = fsOf(spark, dir)
    readText(fs, new Path(verDir(dir, version), CommitTsName))
      .flatMap(_.trim.toLongOption)
  }

  private[ops] def hasCommitTs(fs: FileSystem, dir: String, version: Long): Boolean =
    fs.exists(new Path(verDir(dir, version), CommitTsName))

  /** Time travel AS OF a wall-clock instant (Delta's `timestampAsOf`
    * semantics): the LATEST complete version whose commit timestamp is
    * <= `tsMillis`. Fails loudly when the instant predates the first
    * retained commit — fabricating an empty table for a
    * before-the-beginning read is the silent-corruption path.
    */
  def readAsOf(spark: SparkSession, dir: String, tsMillis: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val live = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.readAsOf($dir): no complete snapshot"))
    val retained = listVersions(fs, dir)
      .filter(x => x <= live && complete(fs, verDir(dir, x)))
    // a retained complete version WITHOUT a stamp is a protocol violation
    // (every commit path stamps before the flip) — skipping it would
    // silently resolve instants after it to an older snapshot, so fail loud
    val stamped = retained.map(x => x ->
      commitTimestamp(spark, dir, x).getOrElse(sys.error(
        s"VersionedTable.readAsOf($dir): version $x has no $CommitTsName — " +
          "corrupt or pre-timestamp history; time travel by instant is unsafe")))
    val v = stamped.filter(_._2 <= tsMillis).lastOption
      .getOrElse(sys.error(s"VersionedTable.readAsOf($dir, $tsMillis): " +
        "instant predates the oldest retained commit"))
    readVersion(spark, dir, v._1)
  }
  private val VerPrefix = "_v-"
  private val TxnPrefix = "_txn-"

  private[ops] def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private[graft] def verDir(dir: String, v: Long): Path =
    new Path(dir, f"$VerPrefix$v%08d")

  private[graft] def listVersions(fs: FileSystem, dir: String): Seq[Long] = {
    val d = new Path(dir)
    if (!fs.exists(d)) Seq.empty else versionsIn(fs.listStatus(d).toSeq)
  }

  private def versionsIn(children: Seq[FileStatus]): Seq[Long] =
    children.filter(_.isDirectory).flatMap(st => numbered(st.getPath, VerPrefix)).sorted

  /** `N` of a `<prefix>N` name, if it is one. */
  private[ops] def numbered(p: Path, prefix: String): Option[Long] =
    Some(p.getName).filter(_.startsWith(prefix)).flatMap(_.stripPrefix(prefix).toLongOption)

  /** Read a small text file to EOF: a single read() may legally return a
    * SHORT read on object-store filesystems, and a truncated "00" would
    * misparse as version 0 and silently divert readers to the fallback path.
    */
  private[ops] def readText(fs: FileSystem, p: Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try {
        val buf = new java.io.ByteArrayOutputStream(64)
        val chunk = new Array[Byte](64)
        var n = in.read(chunk)
        while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
        Some(new String(buf.toByteArray, StandardCharsets.UTF_8))
      } finally in.close()
    }

  /** Write a small text file, replacing any previous one. */
  private[ops] def writeText(fs: FileSystem, p: Path, text: String): Unit = {
    val out = fs.create(p, true)
    try out.write(text.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private[graft] def readPtr(fs: FileSystem, dir: String): Option[Long] =
    readText(fs, new Path(dir, PtrName)).flatMap(_.trim.toLongOption)

  /** The streaming-transaction markers a version carries: appId → highest
    * applied batchId (Delta's `txn` action re-expressed as tiny
    * underscore-prefixed files INSIDE the immutable version dir — invisible
    * to parquet readers, atomic with the version because the pointer flip
    * happens after they are written).
    */
  private def readTxnMap(fs: FileSystem, vd: Path): Map[String, Long] =
    if (!fs.exists(vd)) Map.empty
    else fs.listStatus(vd).toSeq
      .filter(st => st.isFile && st.getPath.getName.startsWith(TxnPrefix))
      .flatMap { st =>
        val app = st.getPath.getName.stripPrefix(TxnPrefix)
        readText(fs, st.getPath).flatMap(_.trim.toLongOption).map(app -> _)
      }.toMap

  private val SuccessName = "_SUCCESS"

  private[graft] def complete(fs: FileSystem, vd: Path): Boolean =
    fs.exists(new Path(vd, SuccessName))

  /** The live version: the pointer if it names a complete snapshot, else the
    * highest complete version on disk (covers a crash mid-pointer-flip —
    * only a version WITH `_SUCCESS` is ever eligible, so a half-written
    * stage dir can never be chosen).
    */
  def currentVersion(spark: SparkSession, dir: String): Option[Long] = {
    val fs = fsOf(spark, dir)
    readPtr(fs, dir).filter(v => complete(fs, verDir(dir, v)))
      .orElse(listVersions(fs, dir).filter(v => complete(fs, verDir(dir, v))).lastOption)
  }

  def exists(spark: SparkSession, dir: String): Boolean =
    currentVersion(spark, dir).nonEmpty

  /** The live version's immutable data dir (for path-level readers like
    * [[DataSkipping.pruneBetween]]). Fails fast if no complete version
    * exists.
    */
  def liveDir(spark: SparkSession, dir: String): String = {
    val v = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.liveDir($dir): no complete snapshot"))
    verDir(dir, v).toString
  }

  /** Read the live snapshot. Fails fast if no complete version exists. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.read($dir): no complete snapshot"))
    spark.read.parquet(verDir(dir, v).toString)
  }

  /** Time travel: read a SPECIFIC retained version (must be complete and not
    * yet gc'd). Version dirs are immutable, so this is safe concurrent with
    * any write.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val vd = verDir(dir, version)
    require(complete(fs, vd),
      s"VersionedTable.readVersion($dir, $version): no complete snapshot (gc'd or never written)")
    spark.read.parquet(vd.toString)
  }

  /** Like [[read]] but with a pinned schema and an empty frame when the table
    * does not exist yet — the bootstrap read a pipeline's first run needs.
    *
    * Refuses a LEGACY layout: a dir holding bare parquet data files (a
    * pre-versioned table) has no version to resolve, and silently treating
    * it as empty would restart surrogate keys and orphan every fact row
    * referencing the old ones. Such tables need a one-time import:
    * `write(spark.read.parquet(dir_moved_aside), dir)`.
    */
  def readOrEmpty(spark: SparkSession, dir: String,
      schema: org.apache.spark.sql.types.StructType): DataFrame =
    currentVersion(spark, dir) match {
      case Some(v) => spark.read.schema(schema).parquet(verDir(dir, v).toString)
      case None =>
        val fs = fsOf(spark, dir)
        val d = new Path(dir)
        val bare = fs.exists(d) && fs.listStatus(d).exists(st =>
          st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        require(!bare, s"VersionedTable.readOrEmpty($dir): dir holds bare data " +
          "files (pre-versioned layout?) — import them as version 1 instead of " +
          "silently starting empty")
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

  /** Write `df` as the next version and flip the pointer. Returns the new
    * version number. The input may lazily read THIS table's live version —
    * that dir is immutable and survives until [[gc]], so the
    * read-merge-write cycle needs no localCheckpoint.
    *
    * `statsCols` additionally builds the [[DataSkipping]] per-file min/max
    * index inside the staged version dir (before the flip, so a version is
    * never live without its index) — reads via [[liveDir]] +
    * [[DataSkipping.pruneBetween]] then plan over only the files whose
    * stats admit the predicate.
    */
  def write(df: DataFrame, dir: String, txn: Map[String, Long] = Map.empty,
      statsCols: Seq[String] = Nil): Long =
    commit(df.sparkSession, dir, txn, statsCols)(writeParquet(df))._1

  private[ops] def writeParquet(df: DataFrame)(vd: Path): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(vd.toString)

  /** THE commit kernel — the only way a `_v-N` version goes live:
    *  1. pick `live + 1`, sweeping the dangling dirs above the live version
    *     (crashed commits that never flipped);
    *  2. `fill` populates the version dir — a parquet write, byte carries,
    *     or sidecar files only — and its result is returned alongside the
    *     version;
    *  3. seal: the parquet committer's `_SUCCESS` must be there, or, when
    *     `plantSuccess` (fills that write no parquet at the version root),
    *     the kernel creates it; `statsCols` builds the [[DataSkipping]]
    *     index;
    *  4. carry the live `_txn-*` map forward with `txn` on top (so a
    *     compaction, delete or feature commit never drops an exactly-once
    *     marker), stamp `_commit_ts`, flip `_ptr`, refresh Spark's cache.
    * The carry and stamp land BEFORE the flip: a version reachable through
    * the mid-flip reader fallback always carries its full txn map, and a
    * crash before the flip leaves the pointer intact (the next commit
    * sweeps the dir, and its re-applied batch is then the FIRST
    * application).
    */
  private[graft] def commit[A](spark: SparkSession, dir: String,
      txn: Map[String, Long] = Map.empty, statsCols: Seq[String] = Nil,
      plantSuccess: Boolean = false)(fill: Path => A): (Long, A) = {
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, dir)
    val (next, out) = prepare(spark, fs, dir, cur, statsCols, plantSuccess)(fill)
    land(spark, fs, dir, cur, next, txn)
    (next, out)
  }

  /** Kernel steps 1–3: the version dir, filled and sealed, NOT yet live. */
  private def prepare[A](spark: SparkSession, fs: FileSystem, dir: String,
      cur: Option[Long], statsCols: Seq[String], plantSuccess: Boolean)
      (fill: Path => A): (Long, A) = {
    sweep(fs, dir, cur)
    val next = cur.getOrElse(0L) + 1L
    val vd = verDir(dir, next)
    val out = fill(vd)
    if (plantSuccess) fs.create(new Path(vd, SuccessName), true).close()
    else require(complete(fs, vd), s"stage $vd missing $SuccessName after write")
    if (statsCols.nonEmpty) DataSkipping.writeStats(spark, vd.toString, statsCols)
    (next, out)
  }

  /** Delete the version dirs above the live one — crashed single-writer
    * commits, unpublished stages. An [[Occ]] `_commit-` marker above the
    * live version claims its dir as a DURABLE commit awaiting roll-forward:
    * that is never debris, and a single-writer commit on top of it would
    * fork history, so the kernel refuses instead. One listing serves both
    * checks.
    */
  private def sweep(fs: FileSystem, dir: String, live: Option[Long]): Unit = {
    val d = new Path(dir)
    if (fs.exists(d)) {
      val children = fs.listStatus(d).toSeq
      val pending = children.flatMap(st => numbered(st.getPath, Occ.CommitPrefix))
        .filter(_ > live.getOrElse(0L))
      require(pending.isEmpty, s"VersionedTable($dir): Occ commit(s) " +
        s"${pending.sorted.mkString(",")} are claimed but not yet live — " +
        "roll them forward (Occ.finalizePending) before committing")
      versionsIn(children).filter(_ > live.getOrElse(-1L))
        .foreach(v => fs.delete(verDir(dir, v), true))
    }
  }

  /** Kernel step 4: seal, flip, refresh. */
  private def land(spark: SparkSession, fs: FileSystem, dir: String,
      live: Option[Long], v: Long, txn: Map[String, Long]): Unit = {
    carryAndStamp(fs, dir, live, v, txn)
    flipPointer(fs, dir, v)
    spark.catalog.refreshByPath(verDir(dir, v).toString)
  }

  private def carryAndStamp(fs: FileSystem, dir: String, live: Option[Long],
      v: Long, txn: Map[String, Long]): Unit = {
    (live.map(l => readTxnMap(fs, verDir(dir, l))).getOrElse(Map.empty) ++ txn)
      .foreach { case (app, batch) =>
        writeText(fs, new Path(verDir(dir, v), TxnPrefix + app), batch.toString)
      }
    stampCommitTs(fs, dir, v)
  }

  /** [[Occ]]'s roll-forward of claimed version `v` after its rename: the
    * kernel's carry → stamp → flip tail, each step idempotent so any number
    * of concurrent finalizers converge. The carry and stamp run once (a
    * stamped version is sealed; a crash between carry and stamp re-writes
    * identical markers), and the pointer only ever moves forward.
    */
  private[ops] def rollForward(fs: FileSystem, dir: String, v: Long): Unit = {
    require(complete(fs, verDir(dir, v)),
      s"VersionedTable.rollForward($dir): commit $v has no complete version dir")
    if (!hasCommitTs(fs, dir, v))
      carryAndStamp(fs, dir, readPtr(fs, dir), v, Map.empty)
    if (!readPtr(fs, dir).exists(_ >= v)) flipPointer(fs, dir, v)
  }

  /** Pointer flip: stage + delete + rename (rename-over-existing is not
    * portable across Hadoop filesystems). The instant with no pointer file
    * is covered by the reader fallback to the highest complete version —
    * which IS `next` at that point. Shared with [[SnapshotCatalog]]'s
    * manifest pointer.
    */
  private[ops] def flipPointer(fs: FileSystem, dir: String, next: Long): Unit = {
    val ptr = new Path(dir, PtrName)
    val ptrTmp = new Path(dir, s".$PtrName.tmp-${java.util.UUID.randomUUID()}")
    writeText(fs, ptrTmp, f"$next%08d")
    if (fs.exists(ptr)) fs.delete(ptr, false)
    if (!fs.rename(ptrTmp, ptr))
      throw new java.io.IOException(s"pointer flip failed: $ptrTmp -> $ptr")
  }

  /** Write-audit-publish, stage half: write the next version's FULL
    * snapshot but do NOT flip the pointer. Readers keep serving the live
    * version; the staged dir is addressable (for audit queries) via
    * [[stagedDir]]. An unpublished stage is exactly a crashed write —
    * any later write (or [[abortStaged]]) sweeps it, so a failed audit
    * needs no cleanup transaction. This is Iceberg's WAP pattern: the
    * kernel split at the flip.
    */
  def stage(df: DataFrame, dir: String, statsCols: Seq[String] = Nil): Long = {
    val spark = df.sparkSession
    prepare(spark, fsOf(spark, dir), dir, currentVersion(spark, dir), statsCols,
      plantSuccess = false)(writeParquet(df))._1
  }

  /** The staged (not yet live) version's data dir, for audit reads. */
  def stagedDir(dir: String, version: Long): String = verDir(dir, version).toString

  /** Publish a staged version: the kernel's carry → stamp → flip tail
    * (`txn` laid over the live map). Fails fast if the staged snapshot is
    * missing/incomplete or is not the next version after the live one.
    */
  def publish(spark: SparkSession, dir: String, version: Long,
      txn: Map[String, Long] = Map.empty): Unit = {
    val fs = fsOf(spark, dir)
    val vd = verDir(dir, version)
    require(complete(fs, vd), s"publish: staged $vd is missing or incomplete")
    // the live version is computed EXCLUDING the staged dir ITSELF (and only
    // it): on an empty table (no pointer yet) the reader fallback would
    // otherwise adopt the staged _SUCCESS-bearing dir as live and fail the
    // successor check. Excluding everything >= version instead would let a
    // STALE publish (live already moved past it) resolve cur to version-1
    // and flip the pointer BACKWARD — a stale stage must fail fast here.
    val cur = readPtr(fs, dir).filter(v => v != version && complete(fs, verDir(dir, v)))
      .orElse(listVersions(fs, dir)
        .filter(v => v != version && complete(fs, verDir(dir, v))).lastOption)
    require(version == cur.getOrElse(0L) + 1L,
      s"publish: staged $version is not the successor of live $cur")
    land(spark, fs, dir, cur, version, txn)
  }

  /** Abort a staged version: delete its dir (a no-op if already swept).
    * Refuses to touch the LIVE version.
    */
  def abortStaged(spark: SparkSession, dir: String, version: Long): Unit = {
    require(!currentVersion(spark, dir).contains(version),
      s"abortStaged: $version is the live version")
    fsOf(spark, dir).delete(verDir(dir, version), true)
  }

  /** Surgical range delete — the compliance-delete shape at 100 TB: remove
    * every row with `c` in `[lo, hi]` WITHOUT rewriting the table. The
    * stats index locates the files whose [min, max] can intersect the band
    * (O(affected) driver state, [[DataSkipping.selectFiles]]); ONLY those
    * files are re-encoded (band filtered out, NULL keys kept — stats
    * selection is conservative, so an untouched file provably holds no
    * band row); every other data file is carried into the next immutable
    * version as a raw byte copy, never re-encoded. In Delta/Iceberg the
    * carry is a metadata-only add (remove/add entries in the log); on
    * plain-directory versions it is a local file copy — same asymptotics
    * per rewritten byte, and the version/pointer protocol is unchanged
    * (crash-safe, readers never see a partial delete).
    *
    * Returns (newVersion, filesRewritten, filesTotal); no-op (no new
    * version) when the stats prove no file holds the band.
    */
  def deleteRange(spark: SparkSession, dir: String, c: String,
      lo: org.apache.spark.sql.Column, hi: org.apache.spark.sql.Column,
      statsCols: Seq[String]): (Long, Int, Int) = {
    import org.apache.spark.sql.functions.col
    val fs = fsOf(spark, dir)
    val cur = currentVersion(spark, dir).getOrElse(
      sys.error(s"VersionedTable.deleteRange($dir): no complete snapshot"))
    val live = verDir(dir, cur)
    val (affected, total) = DataSkipping.selectFiles(spark, live.toString, c, lo, hi)
    if (affected.isEmpty) return (cur, 0, total.toInt) // provably nothing to delete
    val affectedNames = affected.map(p => new Path(p).getName).toSet
    val (next, _) = commit(spark, dir, statsCols = statsCols) { vd =>
      // rewrite ONLY the affected files (their committer plants _SUCCESS)
      writeParquet(spark.read.parquet(affected.toIndexedSeq: _*)
        .filter(col(c).isNull || col(c) < lo || col(c) > hi))(vd)
      // carry the untouched files — at 100 TB nearly the whole table (a
      // surgical delete rewrites a handful of band files)
      carry(spark, dataFiles(fs, live).filterNot(st => affectedNames(st.getPath.getName)), vd)
    }
    (next, affected.length, total.toInt)
  }

  /** The visible data files directly under `vd` (no `_`/`.` sidecars). */
  private[ops] def dataFiles(fs: FileSystem, vd: Path): Seq[FileStatus] =
    fs.listStatus(vd).toSeq.filter(st => st.isFile &&
      !st.getPath.getName.startsWith("_") && !st.getPath.getName.startsWith("."))

  /** Carry files or dirs into `into` as raw byte copies, never re-encoded
    * (a metadata-only add in a log-based format). The copies are
    * independent, so a bounded pool keeps the carry flat in their count.
    */
  private[ops] def carry(spark: SparkSession, srcs: Seq[FileStatus],
      into: Path): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = into.getFileSystem(conf)
    graft.ParallelActions.mapOrdered(srcs) { st =>
      org.apache.hadoop.fs.FileUtil.copy(fs, st.getPath, fs,
        new Path(into, st.getPath.getName), false, conf)
    }
    ()
  }

  /** Highest batchId the given streaming app has committed to this table
    * (from the LIVE version's carried-forward txn map). `None` = the app has
    * never committed.
    */
  def lastBatchId(spark: SparkSession, dir: String, appId: String): Option[Long] =
    currentVersion(spark, dir).flatMap(v =>
      readTxnMap(fsOf(spark, dir), verDir(dir, v)).get(appId))

  /** Exactly-once streaming commit (the Delta `txn` pattern): write the next
    * version ONLY if `batchId` is beyond this app's last committed batch;
    * otherwise a table-level no-op. A foreachBatch sink that routes every
    * micro-batch through this call makes a re-delivered batch after a crash
    * (or a full checkpoint loss and replay) produce NO new version — the
    * commit log, not just the keyed merge, absorbs the re-delivery.
    * Returns the new version, or None when the batch was already applied.
    */
  def writeCommitted(df: DataFrame, dir: String, appId: String,
      batchId: Long): Option[Long] =
    if (lastBatchId(df.sparkSession, dir, appId).exists(_ >= batchId)) None
    else Some(write(df, dir, Map(appId -> batchId)))

  /** (version, last-committed batchId for `appId` as of that version) for
    * every retained complete version — the audit view a duplicate-batch
    * check reads.
    */
  def txnHistory(spark: SparkSession, dir: String, appId: String): Seq[(Long, Option[Long])] = {
    val fs = fsOf(spark, dir)
    currentVersion(spark, dir).toSeq.flatMap { live =>
      listVersions(fs, dir).filter(v => v <= live && complete(fs, verDir(dir, v)))
        .map(v => v -> readTxnMap(fs, verDir(dir, v)).get(appId))
    }
  }

  /** Delete all but the newest `keep` complete versions at or below the live
    * pointer (never the live one; `keep >= 1`). Time travel window = `keep`.
    *
    * The keep-window is counted over COMPLETE versions only: a torn dir
    * (crashed write below the pointer, no `_SUCCESS`) must not occupy a
    * retention slot — it is unreadable, so retaining it while deleting an
    * older complete snapshot would silently shrink the usable time-travel
    * window. Incomplete dirs at or below the pointer are swept outright
    * (dangling ones ABOVE the pointer are the next write's to sweep).
    */
  def gc(spark: SparkSession, dir: String, keep: Int = 2): Int =
    gcPinning(spark, dir, keep)(_ => Set.empty)

  /** [[gc]] that also spares every version `pinned` maps the kept window
    * to — the versions whose files the kept ones still reference.
    */
  private[ops] def gcPinning(spark: SparkSession, dir: String, keep: Int)
      (pinned: Set[Long] => Set[Long]): Int = {
    require(keep >= 1, "gc must keep at least the live version")
    val fs = fsOf(spark, dir)
    currentVersion(spark, dir) match {
      case None => 0
      case Some(live) =>
        val (done, torn) = listVersions(fs, dir).filter(_ <= live)
          .partition(v => complete(fs, verDir(dir, v)))
        val kept = done.takeRight(keep).toSet
        val spared = kept ++ pinned(kept)
        val victims = done.filterNot(spared) ++ torn
        victims.foreach(v => fs.delete(verDir(dir, v), true))
        victims.length
    }
  }
}
