package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Column mapping — Delta's public rename/drop schema-evolution design on
  * the `_v-N` layout: every logical column owns a STABLE integer id; data
  * files store columns under PHYSICAL names derived from the id
  * (`c_<id>`), and each version carries a `_schema` manifest mapping ids
  * to that version's logical names, in column order. A RENAME is then a
  * new manifest binding the same id to a new name, and a DROP is a
  * manifest without the id — both METADATA-ONLY commits: the version dir
  * holds the manifest plus a `_data_from` pointer naming the data version
  * whose immutable files back it, and NOT ONE data byte moves. At 100 TB
  * this is the difference between an instant DDL and a full-table
  * rewrite.
  *
  * Readers resolve a version's manifest and select `c_<id> AS name` —
  * time travel renders every old version under ITS OWN names; column
  * pruning still reaches the parquet scan because the mapping is a plain
  * projection. CDF capture is stored under physical names (ids are
  * stable, so a rename changes nothing in the feed); [[tableChanges]]
  * renders all captures under the END version's manifest — changes to
  * since-dropped columns disappear, captures from before an ADD read
  * null-padded — which is exactly what lets a feed replay land on the
  * evolved snapshot. Metadata-only versions contribute zero change rows.
  *
  * Retention note: a metadata-only version's `_data_from` target must
  * outlive it — [[VersionedTable.gc]] on a column-mapped table must keep
  * every referenced data version (readers fail loudly, never fabricate,
  * if the target is gone).
  */
object ColumnMapping {

  private val SchemaName = "_schema"
  private val DataFromName = "_data_from"
  private val DefaultsName = "_defaults"

  final case class Field(id: Int, name: String)

  private def physical(id: Int) = s"c_$id"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The manifest carries the table-lifetime max id (Delta's
    * `maxColumnId`) as its header: a DROPPED id must never be re-minted —
    * the physical column's bytes still sit in old files, and a re-added
    * name reusing the id would silently read them as its own data.
    */
  private def writeManifest(fs: org.apache.hadoop.fs.FileSystem, vd: Path,
      fields: Seq[Field], maxId: Int): Unit = {
    require(fields.map(_.id).distinct.size == fields.size &&
      fields.map(_.name).distinct.size == fields.size,
      s"column mapping: duplicate id or name in $fields")
    require(fields.forall(_.id <= maxId),
      s"column mapping: field id beyond the high-water mark $maxId: $fields")
    fields.foreach(f => require(!f.name.contains("=") && !f.name.contains("\n"),
      s"column mapping: illegal character in name '${f.name}'"))
    VersionedTable.writeText(fs, new Path(vd, SchemaName),
      (s"#max=$maxId" +: fields.map(f => s"${f.id}=${f.name}")).mkString("\n"))
  }

  /** The version's manifest, in column order. Fails loudly on a version
    * without one — mixing mapped and unmapped commits on one table is the
    * single-protocol violation.
    */
  def manifest(spark: SparkSession, dir: String, version: Long): Seq[Field] =
    readManifest(spark, dir, version)._1

  /** The table-lifetime id high-water mark as of `version`. */
  def maxColumnId(spark: SparkSession, dir: String, version: Long): Int =
    readManifest(spark, dir, version)._2

  private def readManifest(spark: SparkSession, dir: String,
      version: Long): (Seq[Field], Int) = {
    val fs = fsOf(spark, dir)
    val lines = VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), SchemaName))
      .getOrElse(sys.error(s"ColumnMapping($dir): version $version has no " +
        "_schema manifest — not a column-mapped table?"))
      .split("\n").filter(_.nonEmpty).toSeq
    val fields = lines.filterNot(_.startsWith("#")).map { line =>
      val Array(id, name) = line.split("=", 2)
      Field(id.toInt, name)
    }
    val max = lines.find(_.startsWith("#max="))
      .map(_.stripPrefix("#max=").toInt)
      .getOrElse((fields.map(_.id) :+ 0).max)
    (fields, max)
  }

  /** The version whose immutable files hold this version's DATA — itself
    * for data commits, the `_data_from` target for metadata-only commits.
    */
  def dataVersion(spark: SparkSession, dir: String, version: Long): Long = {
    val fs = fsOf(spark, dir)
    VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), DataFromName))
      .map(_.trim.toLong).getOrElse(version)
  }

  /** Commit a data version: assign ids (existing names keep theirs, new
    * names mint fresh ones), write the files under physical names and the
    * manifest beside them, one kernel commit. `captureKeys` persists
    * the CDF diff — computed over PHYSICAL frames projected to the new
    * manifest's ids, so capture composes with renames (id-stable) and
    * drops (dead ids leave the diff). Returns the new version.
    */
  def writeData(df: DataFrame, dir: String,
      captureKeys: Option[Seq[String]] = None): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, dir)
    val cur = VersionedTable.currentVersion(spark, dir)
    val (old, maxOld) = cur.map(v => readManifest(spark, dir, v))
      .getOrElse((Nil, 0))
    val byName = old.map(f => f.name -> f.id).toMap
    var nextId = maxOld // lifetime high-water mark, never a dropped id
    val fields = df.columns.toSeq.map { c =>
      byName.get(c) match {
        case Some(id) => Field(id, c)
        case None => nextId += 1; Field(nextId, c)
      }
    }
    val phys = df.select(fields.map(f => col(f.name).as(physical(f.id))): _*)
    VersionedTable.commit(spark, dir) { vd =>
      VersionedTable.writeParquet(phys)(vd)
      captureKeys.foreach { keys =>
        val keyIds = keys.map(k => fields.find(_.name == k).getOrElse(
          sys.error(s"ColumnMapping.writeData: unknown key column '$k'")).id)
        val oldPhys = cur.map { v =>
          val dv = dataVersion(spark, dir, v)
          val oldCols = spark.read
            .parquet(VersionedTable.verDir(dir, dv).toString).columns.toSet
          // project the old side to the NEW manifest's surviving ids: columns
          // dropped from the manifest leave the logical table and the feed
          spark.read.parquet(VersionedTable.verDir(dir, dv).toString)
            .select(fields.map(f => physical(f.id)).filter(oldCols.contains)
              .map(col): _*)
        }
        VersionedTable.writeParquet(ChangeFeed.diff(oldPhys,
          spark.read.parquet(vd.toString), keyIds.map(physical)))(new Path(vd, "_cdf"))
      }
      writeManifest(fs, vd, fields, nextId)
    }._1
  }

  /** Column DEFAULTS by id as of `version` (Delta's default-values
    * feature, the EXISTS_DEFAULT half): rows in files that PREDATE a
    * metadata-only column add read the default instead of null. Stored as
    * a per-version `_defaults` sidecar (`id=sqlExpr` lines), carried
    * forward by metadata commits and retired naturally once a data commit
    * makes the column physical.
    */
  def defaults(spark: SparkSession, dir: String, version: Long): Map[Int, String] = {
    val fs = fsOf(spark, dir)
    VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), DefaultsName))
      .map(_.split("\n").filter(_.nonEmpty).toSeq.map { line =>
        val Array(id, d) = line.split("=", 2)
        id.toInt -> d
      }.toMap).getOrElse(Map.empty)
  }

  /** ADD COLUMN ... DEFAULT as a metadata-only commit: a fresh id joins
    * the manifest, the default joins the sidecar, ZERO data bytes move —
    * every existing row reads the default. A later data commit writes the
    * column physically and the default stops mattering for those files.
    */
  def addColumnWithDefault(spark: SparkSession, dir: String, name: String,
      defaultSql: String): Long = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"ColumnMapping.addColumnWithDefault($dir): no snapshot"))
    val (m, maxId) = readManifest(spark, dir, cur)
    require(!m.exists(_.name == name), s"add: '$name' already exists in $m")
    val id = maxId + 1
    metadataCommit(spark, dir, m :+ Field(id, name), id,
      Map(id -> defaultSql))
  }

  /** A metadata-only commit: new manifest + `_data_from` pointer, zero
    * data bytes written. Shared by [[rename]], [[drop]], and
    * [[addColumnWithDefault]].
    */
  private def metadataCommit(spark: SparkSession, dir: String,
      fields: Seq[Field], maxId: Int,
      extraDefaults: Map[Int, String] = Map.empty): Long = {
    val fs = fsOf(spark, dir)
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"ColumnMapping($dir): no complete snapshot"))
    // defaults carry forward across metadata commits, restricted to ids
    // still in the manifest
    val carried = (defaults(spark, dir, cur) ++ extraDefaults)
      .filter { case (id, _) => fields.exists(_.id == id) }
    VersionedTable.commit(spark, dir, plantSuccess = true) { vd =>
      writeManifest(fs, vd, fields, maxId)
      if (carried.nonEmpty)
        VersionedTable.writeText(fs, new Path(vd, DefaultsName), carried.toSeq
          .sortBy(_._1).map { case (id, d) => s"$id=$d" }.mkString("\n"))
      VersionedTable.writeText(fs, new Path(vd, DataFromName),
        dataVersion(spark, dir, cur).toString)
    }._1
  }

  /** RENAME COLUMN as a metadata-only commit: same id, new name. */
  def rename(spark: SparkSession, dir: String, from: String, to: String): Long = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"ColumnMapping.rename($dir): no complete snapshot"))
    val m = manifest(spark, dir, cur)
    require(m.exists(_.name == from), s"rename: no column '$from' in $m")
    require(!m.exists(_.name == to), s"rename: '$to' already exists in $m")
    metadataCommit(spark, dir,
      m.map(f => if (f.name == from) f.copy(name = to) else f),
      maxColumnId(spark, dir, cur))
  }

  /** DROP COLUMN as a metadata-only commit: the id leaves the manifest;
    * the physical column stays in the (immutable) files, unmapped.
    */
  def drop(spark: SparkSession, dir: String, name: String): Long = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"ColumnMapping.drop($dir): no complete snapshot"))
    val m = manifest(spark, dir, cur)
    require(m.exists(_.name == name), s"drop: no column '$name' in $m")
    require(m.size > 1, "drop: cannot drop the last column")
    metadataCommit(spark, dir, m.filterNot(_.name == name),
      maxColumnId(spark, dir, cur))
  }

  /** Time travel: version `v` rendered under ITS OWN manifest names; a
    * metadata-added column absent from the data files reads its DEFAULT
    * (or null when none was declared).
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val m = manifest(spark, dir, version)
    val dv = dataVersion(spark, dir, version)
    val raw = spark.read.parquet(VersionedTable.verDir(dir, dv).toString)
    val have = raw.columns.toSet
    val dfl = defaults(spark, dir, version)
    raw.select(m.map(f =>
      (if (have(physical(f.id))) col(physical(f.id))
       else dfl.get(f.id).map(expr).getOrElse(lit(null))).as(f.name)): _*)
  }

  /** Version `v`'s content rendered under the END version's manifest (by
    * id): the base frame a cross-evolution feed replay starts from.
    * Dropped-by-end ids are omitted; added-after-v ids read null-padded.
    */
  def readVersionAs(spark: SparkSession, dir: String, version: Long,
      endVersion: Long): DataFrame = {
    val end = manifest(spark, dir, endVersion)
    val dv = dataVersion(spark, dir, version)
    val raw = spark.read.parquet(VersionedTable.verDir(dir, dv).toString)
    val have = raw.columns.toSet
    val dfl = defaults(spark, dir, endVersion)
    raw.select(end.map(f =>
      (if (have(physical(f.id))) col(physical(f.id))
       else dfl.get(f.id).map(expr).getOrElse(lit(null))).as(f.name)): _*)
  }

  /** Read the live snapshot under the live names. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"ColumnMapping.read($dir): no complete snapshot"))
    readVersion(spark, dir, v)
  }

  /** Reference-aware retention for a column-mapped table: like
    * [[VersionedTable.gc]], but a kept metadata-only version PINS its
    * `_data_from` target — deleting the data version under a live rename
    * would leave the table unreadable (the hole the plain gc's keep-window
    * cannot see, because the reference crosses version dirs). Victims are
    * the complete versions outside the newest-`keep` window that no kept
    * version references; torn dirs are swept outright. Returns the number
    * of versions deleted.
    */
  def gc(spark: SparkSession, dir: String, keep: Int = 2): Int =
    VersionedTable.gcPinning(spark, dir, keep)(_.map(v => dataVersion(spark, dir, v)))

  /** `table_changes(from, to]` across renames and drops: each data
    * version's physical capture rendered under the END version's manifest
    * (ids align what names cannot); metadata-only versions contribute
    * zero rows. Same contiguity guard as the flat feed.
    */
  def tableChanges(spark: SparkSession, dir: String, fromVersion: Long,
      toVersion: Long): DataFrame = {
    val fs = fsOf(spark, dir)
    val vs = VersionedTable.listVersions(fs, dir)
      .filter(v => v > fromVersion && v <= toVersion &&
        VersionedTable.complete(fs, VersionedTable.verDir(dir, v)))
    require(vs == ((fromVersion + 1) to toVersion),
      s"ColumnMapping.tableChanges($dir, $fromVersion, $toVersion): versions " +
        s"${((fromVersion + 1) to toVersion).diff(vs).mkString(",")} are " +
        "expired or missing — replay from a retained snapshot instead")
    val end = manifest(spark, dir, toVersion)
    val slices = vs.flatMap { v =>
      val cd = new Path(VersionedTable.verDir(dir, v), "_cdf")
      if (!fs.exists(cd)) {
        require(fs.exists(new Path(VersionedTable.verDir(dir, v), DataFromName)),
          s"ColumnMapping.tableChanges($dir): data version $v has no capture — " +
            "every data commit on a fed table must go through writeData(captureKeys)")
        None // metadata-only: zero change rows
      } else {
        val raw = spark.read.parquet(cd.toString)
        val have = raw.columns.toSet
        Some(raw.select(end.map(f =>
            (if (have(physical(f.id))) col(physical(f.id))
             else lit(null)).as(f.name)) :+ col(ChangeFeed.ChangeType): _*)
          .withColumn(ChangeFeed.CommitVersion, lit(v)))
      }
    }
    require(slices.nonEmpty,
      s"ColumnMapping.tableChanges($dir, $fromVersion, $toVersion): no data commits in range")
    slices.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
