package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Files under a directory: path → (bytes, mtime). Checksum sidecars
  * (`.crc`) are left out: they are the local filesystem's, not the
  * engine's.
  */
object Fs {
  def files(dir: String): Map[String, (Long, Long)] = {
    val out = mutable.Map.empty[String, (Long, Long)]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(go))
      else if (f.isFile && !f.getName.endsWith(".crc"))
        out(f.getPath) = (f.length(), f.lastModified())
    go(new File(dir))
    out.toMap
  }

  def bytes(dir: String): Long = files(dir).values.map(_._1).sum

  def count(dir: String, pred: File => Boolean): Int = {
    def go(f: File): Int =
      (if (pred(f)) 1 else 0) +
        (if (f.isDirectory) Option(f.listFiles()).map(_.map(go).sum).getOrElse(0) else 0)
    go(new File(dir))
  }

  /** Copies `from` to `to` recursively, every file byte for byte. */
  def copy(from: File, to: File): Unit =
    if (from.isDirectory) {
      to.mkdirs()
      Option(from.listFiles()).foreach(_.foreach(f => copy(f, new File(to, f.getName))))
    } else java.nio.file.Files.copy(from.toPath, to.toPath)

  def delete(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(delete))
    f.delete()
  }

  /** Peak resident set of this process (VmHWM), in MiB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

/** The outcome checks of a run: an operation with any mismatch counts as
  * failed, and the first mismatches are kept for the report.
  */
final class Checks {
  var attempted = 0
  var failed = 0
  val errors = mutable.ArrayBuffer.empty[String]
  private var opErrors = 0

  def expect(ok: Boolean, what: => String): Unit =
    if (!ok) { opErrors += 1; if (errors.size < 20) errors += what }

  def expectEq[A](actual: A, expected: A, what: => String): Unit =
    expect(actual == expected, s"$what: got $actual, expected $expected")

  def expectClose(actual: Double, expected: Double, what: => String): Unit =
    expect(math.abs(actual - expected) <= 1e-9 * math.max(1.0, math.abs(expected)),
      s"$what: got $actual, expected $expected")

  /** Runs one operation's checks; returns whether they all held. */
  def op(body: => Unit): Boolean = {
    opErrors = 0
    try body
    catch { case e: Throwable => expect(false, s"check threw $e") }
    attempted += 1
    if (opErrors > 0) failed += 1
    opErrors == 0
  }
}

/** The state of one run: the measured operation latencies in seconds by
  * kind (`ops`), the spans of a traced run, and the output checks.
  */
final class RunState(val spark: SparkSession, val work: String, val cache: String,
    val seed: Long, val traced: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  val ops = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  val checks = new Checks
  val listener: Option[LayerListener] =
    if (traced) { val l = new LayerListener; spark.sparkContext.addSparkListener(l); Some(l) }
    else None
  var bookkeepingNanos = 0L
  var opIndex = 0

  def span[T](layer: String, kind: String)(body: => T): T = {
    val s = System.currentTimeMillis()
    try body finally spans += Span(opIndex, layer, kind, s, System.currentTimeMillis())
  }

  /** Times one measured operation of kind `kind`. */
  def timeOp[T](kind: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    ops.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
    r
  }

  /** Work done only for the trace (file walks); its time is the tracing
    * overhead the report states.
    */
  def bookkeeping[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally bookkeepingNanos += System.nanoTime() - t0
  }
}
