package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** SHALLOW CLONE — Delta's public zero-copy clone design on the `_v-N`
  * layout: the clone's first version is METADATA ONLY, a `_clone_src`
  * pointer naming the source table's immutable version dir; not one data
  * byte moves, so cloning a 100 TB table costs one file create. Reads
  * resolve the indirection; writes to the clone stage ordinary full
  * snapshots, so the first write DIVERGES the clone (table-granularity
  * copy-on-write) and the source is never touched — the dev/test-against-
  * production pattern clones exist for.
  *
  * The reference rule is the same as [[ColumnMapping]]'s `_data_from`:
  * the source version must outlive the clone's pointer to it. A source
  * `gc` that expires the cloned version makes the clone's v1 read FAIL
  * LOUDLY (never an empty fabrication); [[sourceOf]] exposes the
  * dependency so a catalog-level retention sweep can pin it.
  */
object Clone {

  private val CloneSrcName = "_clone_src"

  /** Create `dstDir` as a shallow clone of `srcDir` at `srcVersion`.
    * Fails if the destination already exists (clones bootstrap tables,
    * they don't overwrite them) or the source version is incomplete.
    */
  def shallow(spark: SparkSession, srcDir: String, srcVersion: Long,
      dstDir: String): Unit = {
    val fs = new Path(dstDir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val srcVd = VersionedTable.verDir(srcDir, srcVersion)
    require(VersionedTable.complete(fs, srcVd),
      s"Clone.shallow: source $srcDir version $srcVersion is missing or incomplete")
    require(VersionedTable.currentVersion(spark, dstDir).isEmpty,
      s"Clone.shallow: destination $dstDir already exists")
    VersionedTable.commit(spark, dstDir, plantSuccess = true) { vd =>
      VersionedTable.writeText(fs, new Path(vd, CloneSrcName), srcVd.toString)
    }
    ()
  }

  /** The source version dir a cloned version references, if it is a
    * metadata-only clone version (vs a diverged data version).
    */
  def sourceOf(spark: SparkSession, dir: String, version: Long): Option[String] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), CloneSrcName)).map(_.trim)
  }

  /** Read a clone's version, resolving the `_clone_src` indirection when
    * present. A gc'd source version fails loudly.
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame =
    sourceOf(spark, dir, version) match {
      case None => VersionedTable.readVersion(spark, dir, version)
      case Some(src) =>
        val fs = new Path(src).getFileSystem(spark.sparkContext.hadoopConfiguration)
        require(fs.exists(new Path(src, "_SUCCESS")),
          s"Clone.readVersion($dir, $version): source $src is expired or " +
            "incomplete — the clone's base outlived its retention; re-clone " +
            "from a live version instead")
        spark.read.parquet(src)
    }

  /** Read the clone's live snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"Clone.read($dir): no complete snapshot"))
    readVersion(spark, dir, v)
  }
}
