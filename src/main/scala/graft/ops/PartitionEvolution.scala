package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.hadoop.fs.Path

/** Partition-spec evolution — Iceberg's public design on the `_v-N` layout:
  * the partition layout is VERSIONED METADATA, not a property of the data.
  * Each version records the full list of specs the table has ever had plus
  * which one is active; every data file lives under the spec that was active
  * WHEN IT WAS WRITTEN and never moves. Changing the spec is a metadata-only
  * commit — zero data bytes — and subsequent appends simply land under the
  * new spec. At 100 TB this is the difference between re-partitioning a
  * table (a full rewrite) and a DDL.
  *
  * A pruned read then plans each spec EPOCH under its own spec: an equality
  * predicate on a spec's source column admits exactly the matching partition
  * dir of that epoch, and conservatively admits ALL dirs of epochs whose
  * spec cannot see the column — the same conservative-superset contract the
  * min/max skipping index uses (pruned scan + residual filter ≡ full
  * filter, bit-exact, always).
  *
  * Layout: data versions chain via a `_prev` pointer instead of carrying
  * byte copies forward — version N's snapshot is the union of its own epoch
  * dir and everything reachable through the chain (Iceberg's manifest
  * add-entries, expressed as a pointer). Each version dir holds:
  * {{{
  *   _partspec     # all specs, one per line: id:kind:col[:n]; #active=<id>
  *   _prev         # previous data version (absent on the first)
  *   data/p=<v>/   # this version's OWN files, under its active spec
  * }}}
  * Transforms: `identity(col)` and `bucket(n, col)` (Iceberg's two
  * workhorses), both over integral columns; the partition value is a
  * DERIVED `p` column, so the source column always survives in the data
  * files and residual filters need no reconstruction.
  */
object PartitionEvolution {

  sealed trait Transform { def col: String }
  final case class Identity(col: String) extends Transform
  final case class Bucket(col: String, n: Int) extends Transform

  final case class Spec(id: Int, t: Transform)

  private val SpecName = "_partspec"
  private val PrevName = "_prev"
  private val DataName = "data"

  private def fsOf(spark: SparkSession, dir: String) =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def fmt(s: Spec): String = s.t match {
    case Identity(c) => s"${s.id}:identity:$c"
    case Bucket(c, n) => s"${s.id}:bucket:$c:$n"
  }

  private def parse(line: String): Spec = line.split(":") match {
    case Array(id, "identity", c) => Spec(id.toInt, Identity(c))
    case Array(id, "bucket", c, n) => Spec(id.toInt, Bucket(c, n.toInt))
    case _ => sys.error(s"PartitionEvolution: bad spec line '$line'")
  }

  private def writeSpecs(fs: org.apache.hadoop.fs.FileSystem, vd: Path,
      specs: Seq[Spec], active: Int): Unit = {
    VersionedTable.writeText(fs, new Path(vd, SpecName),
      (s"#active=$active" +: specs.map(fmt)).mkString("\n"))
  }

  /** (all specs ever, active spec id) as of `version`. */
  def specsOf(spark: SparkSession, dir: String, version: Long): (Seq[Spec], Int) = {
    val fs = fsOf(spark, dir)
    val lines = VersionedTable.readText(fs,
        new Path(VersionedTable.verDir(dir, version), SpecName))
      .getOrElse(sys.error(s"PartitionEvolution($dir): version $version has " +
        s"no $SpecName — not a spec-evolved table?"))
      .split("\n").filter(_.nonEmpty).toSeq
    val specs = lines.filterNot(_.startsWith("#")).map(parse)
    val active = lines.find(_.startsWith("#active="))
      .map(_.stripPrefix("#active=").toInt)
      .getOrElse(sys.error(s"PartitionEvolution($dir): no active spec"))
    (specs, active)
  }

  private def prevOf(fs: org.apache.hadoop.fs.FileSystem, dir: String,
      version: Long): Option[Long] =
    VersionedTable.readText(fs,
      new Path(VersionedTable.verDir(dir, version), PrevName))
      .map(_.trim.toLong)

  private def pExpr(t: Transform): Column = t match {
    case Identity(c) => col(c)
    case Bucket(c, n) => pmod(hash(col(c)), lit(n))
  }

  /** One version of this plane through the commit kernel: `data` (if any)
    * written under `data/` partitioned by the ACTIVE spec, the spec list,
    * and the `_prev` link to the live version (if any). The version root
    * holds no parquet, so the kernel plants `_SUCCESS`.
    */
  private def commitVersion(spark: SparkSession, dir: String,
      data: Option[DataFrame], specs: Seq[Spec], active: Int): Long = {
    val fs = fsOf(spark, dir)
    val cur = VersionedTable.currentVersion(spark, dir)
    val spec = specs.find(_.id == active).getOrElse(
      sys.error(s"PartitionEvolution($dir): active spec $active not declared"))
    VersionedTable.commit(spark, dir, plantSuccess = true) { vd =>
      data.foreach(_.withColumn("p", pExpr(spec.t))
        .write.mode(SaveMode.Overwrite).partitionBy("p")
        .parquet(new Path(vd, DataName).toString))
      writeSpecs(fs, vd, specs, active)
      cur.foreach(v => VersionedTable.writeText(fs, new Path(vd, PrevName), v.toString))
    }._1
  }

  /** Bootstrap under the first spec. */
  def init(df: DataFrame, dir: String, t: Transform): Long =
    commitVersion(df.sparkSession, dir, Some(df), Seq(Spec(1, t)), 1)

  /** Change the active spec — METADATA-ONLY: the new version holds the spec
    * list and the chain pointer, zero data bytes. Spec ids only grow.
    */
  def evolve(spark: SparkSession, dir: String, t: Transform): Long = {
    val cur = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"PartitionEvolution.evolve($dir): no complete snapshot"))
    val (specs, _) = specsOf(spark, dir, cur)
    val newSpec = Spec(specs.map(_.id).max + 1, t)
    commitVersion(spark, dir, data = None, specs :+ newSpec, newSpec.id)
  }

  /** Append rows under the ACTIVE spec (new files only; older epochs are
    * reached through the chain, never copied).
    */
  def append(df: DataFrame, dir: String): Long = {
    val cur = VersionedTable.currentVersion(df.sparkSession, dir).getOrElse(
      sys.error(s"PartitionEvolution.append($dir): no complete snapshot"))
    val (specs, active) = specsOf(df.sparkSession, dir, cur)
    commitVersion(df.sparkSession, dir, Some(df), specs, active)
  }

  /** The chain of data-bearing versions for `version`, oldest first, each
    * with the spec its epoch was written under.
    */
  private def chain(spark: SparkSession, dir: String,
      version: Long): Seq[(Long, Spec)] = {
    val fs = fsOf(spark, dir)
    val out = Seq.newBuilder[(Long, Spec)]
    var v: Option[Long] = Some(version)
    while (v.nonEmpty) {
      val cv = v.get
      require(VersionedTable.complete(fs, VersionedTable.verDir(dir, cv)),
        s"PartitionEvolution($dir): chained version $cv is expired or torn — " +
          "refusing to fabricate a partial snapshot")
      if (fs.exists(new Path(VersionedTable.verDir(dir, cv), DataName))) {
        val (specs, active) = specsOf(spark, dir, cv)
        out += (cv -> specs.find(_.id == active).get)
      }
      v = prevOf(fs, dir, cv)
    }
    out.result().reverse
  }

  /** Every epoch's partition dirs: (version, spec, dir path). */
  private def partDirs(spark: SparkSession, dir: String,
      version: Long): Seq[(Long, Spec, Path)] = {
    val fs = fsOf(spark, dir)
    chain(spark, dir, version).flatMap { case (v, spec) =>
      val dd = new Path(VersionedTable.verDir(dir, v), DataName)
      fs.listStatus(dd).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("p="))
        .map(st => (v, spec, st.getPath))
    }
  }

  /** Read version `v`: the union of every chained epoch (read at partition-
    * dir granularity, so the derived `p` never leaks into the schema).
    */
  def readVersion(spark: SparkSession, dir: String, version: Long): DataFrame = {
    val dirs = partDirs(spark, dir, version).map(_._3.toString)
    require(dirs.nonEmpty, s"PartitionEvolution($dir): version $version holds no data")
    spark.read.parquet(dirs: _*)
  }

  /** Read the live snapshot. */
  def read(spark: SparkSession, dir: String): DataFrame = {
    val v = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"PartitionEvolution.read($dir): no complete snapshot"))
    readVersion(spark, dir, v)
  }

  /** Equality pruning of `column = value` across all epochs: an epoch whose
    * spec transforms `column` admits exactly the matching partition dir;
    * any other epoch conservatively admits all its dirs. Returns (admitted
    * dirs, total dirs) — the caller applies the residual filter, and the
    * conservative-superset contract guarantees the result equals the
    * unpruned filter.
    */
  def selectDirsEq(spark: SparkSession, dir: String, column: String,
      value: Long): (Seq[String], Int) = {
    val live = VersionedTable.currentVersion(spark, dir).getOrElse(
      sys.error(s"PartitionEvolution.selectDirsEq($dir): no complete snapshot"))
    val all = partDirs(spark, dir, live)
    // the literal's partition value, once per spec (a 1-row local eval for
    // bucket specs — the SAME hash Spark applied at write time)
    val wantBySpec: Map[Int, Long] = all.map(_._2).distinct
      .filter(_.t.col == column).map { spec =>
        spec.id -> (spec.t match {
          case Identity(_) => value
          case Bucket(c, n) =>
            import spark.implicits._
            Seq(value).toDF(c).select(pmod(hash(col(c)), lit(n)))
              .head.getInt(0).toLong
        })
      }.toMap
    val admitted = all.filter { case (_, spec, p) =>
      wantBySpec.get(spec.id) match {
        case None => true // spec cannot see the column: conservative admit
        case Some(want) => p.getName == s"p=$want"
      }
    }
    (admitted.map(_._3.toString), all.size)
  }
}
