package graft.ops


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.Path

/** PROTOCOL FEATURE GATES — Delta's protocol action (minReaderVersion /
  * minWriterVersion generalized to named table features, the public
  * Delta 3.x design): every version carries the feature sets a client
  * MUST understand to read or to write it, and a client that doesn't
  * recognize a required feature fails LOUDLY BEFORE touching data —
  * the forward-compatibility property that lets a format evolve without
  * old readers silently mis-reading new tables (the deletion-vector
  * case: a DV-ignorant reader would resurrect deleted rows and call it
  * a successful scan).
  *
  * Rules enforced here, as Delta publishes them:
  *  - reader features ⊆ writer features (writing implies reading);
  *  - feature sets are MONOTONE across commits — a downgrade would strand
  *    clients that already wrote with the feature; dropping a feature is
  *    a separate audited operation real engines gate heavily, and this
  *    library rejects it outright;
  *  - unknown OPTIONAL behavior doesn't exist: everything listed is
  *    required, everything absent is unused.
  */
object Protocol {

  private val FileName = "_protocol"

  final case class Proto(readerFeatures: Set[String], writerFeatures: Set[String]) {
    require(readerFeatures.subsetOf(writerFeatures),
      s"protocol: reader features $readerFeatures must be a subset of " +
        s"writer features $writerFeatures")
  }

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The protocol of `version`, or the empty protocol for pre-protocol
    * versions (legacy tables are readable by everyone — Delta's rule).
    */
  def of(spark: SparkSession, dir: String, version: Long): Proto = {
    val fs = fsOf(spark, dir)
    VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), FileName))
      .map { text =>
        val lines = text.split("\n").filter(_.nonEmpty).toSeq
        Proto(
          lines.filter(_.startsWith("rf=")).map(_.stripPrefix("rf=")).toSet,
          lines.filter(_.startsWith("wf=")).map(_.stripPrefix("wf=")).toSet)
      }.getOrElse(Proto(Set.empty, Set.empty))
  }

  /** Commit `df` with a protocol stamp. Feature sets must be monotone vs
    * the live version's — downgrades are rejected before staging.
    */
  def commit(df: DataFrame, dir: String, proto: Proto): Long = {
    val spark = df.sparkSession
    val fs = fsOf(spark, dir)
    VersionedTable.currentVersion(spark, dir).foreach { cur =>
      val prev = of(spark, dir, cur)
      require(prev.readerFeatures.subsetOf(proto.readerFeatures) &&
        prev.writerFeatures.subsetOf(proto.writerFeatures),
        s"protocol: downgrade rejected — a commit must carry at least " +
          s"the live version's features (${prev.readerFeatures} / " +
          s"${prev.writerFeatures})")
    }
    VersionedTable.commit(spark, dir) { vd =>
      VersionedTable.writeParquet(df)(vd)
      VersionedTable.writeText(fs, new Path(vd, FileName),
        (proto.readerFeatures.toSeq.sorted.map("rf=" + _) ++
          proto.writerFeatures.toSeq.sorted.map("wf=" + _)).mkString("\n"))
    }._1
  }

  /** Gate a READ: fail loudly if the live version requires a reader
    * feature this client doesn't support. Returns the frame on success.
    */
  def readChecked(spark: SparkSession, dir: String,
      supported: Set[String]): DataFrame = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"Protocol.readChecked($dir): no complete snapshot"))
    val missing = of(spark, dir, cur).readerFeatures -- supported
    require(missing.isEmpty,
      s"Protocol.readChecked($dir): this client does not support required " +
        s"reader feature(s) ${missing.toSeq.sorted.mkString(", ")} — " +
        "upgrade the client; reading anyway would be silently wrong")
    VersionedTable.read(spark, dir)
  }

  /** Gate a WRITE the same way against the writer feature set. */
  def checkWrite(spark: SparkSession, dir: String,
      supported: Set[String]): Unit = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"Protocol.checkWrite($dir): no complete snapshot"))
    val missing = of(spark, dir, cur).writerFeatures -- supported
    require(missing.isEmpty,
      s"Protocol.checkWrite($dir): this client does not support required " +
        s"writer feature(s) ${missing.toSeq.sorted.mkString(", ")} — " +
        "writing would corrupt invariants newer clients rely on")
  }
}
