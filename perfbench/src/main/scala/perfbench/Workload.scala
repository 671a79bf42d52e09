package perfbench

import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** Verdict of one attempted operation's correctness gate. */
final case class Check(ok: Boolean, what: String)

/** One workload of the benchmark. The driver calls [[setup]] once per
  * set-up repetition (each in a fresh session and directory), then
  * [[prepare]] / [[run]] / [[check]] per op — only [[run]] is timed —
  * and [[finish]] after the timed phase. */
trait Workload {
  type Out

  /** Ops run after set-up, before the first timed op. */
  def warmOps: Int = 1

  /** Timed ops a run completes however long they take, sized to the
    * op's cost so that a run stays under about 40 s. */
  def minOps: Int = 2

  /** Span recorder of the timed phase (a disabled one until then). */
  var tr: Tracer = new Tracer(None)

  /** Build inputs (and indexes); returns the gates of any loads done. */
  def setup(spark: SparkSession, dir: Path): Seq[Check]

  /** Untimed per-op preparation (e.g. generating tonight's extract). */
  def prepare(op: Int): Unit = ()

  /** The timed operation. `traced` re-composes it from layer calls,
    * materialising at every boundary, with a span per call. */
  def run(op: Int, traced: Boolean): Out

  def check(op: Int, out: Out): Check

  /** [[run]] inside `clock` (which times it), then [[check]]. */
  final def runChecked(op: Int, traced: Boolean)(clock: (=> Unit) => Unit): Check = {
    var out: Option[Out] = None
    clock { out = Some(run(op, traced)) }
    check(op, out.get)
  }

  /** Input rows the op processed (throughput numerator). */
  def inputRows(op: Int): Long

  /** Gates after the timed phase; each counts as one attempted op. */
  def finish(): Seq[Check] = Nil

  /** Parquet bytes on disk per row of the tables the workload stores. */
  def storedBytesPerRow(): Double

  /** Set-up side measurements (e.g. the index build), per repetition. */
  def setupMetrics: Map[String, Double] = Map.empty

  def inputDigest: String
  def outputDigest: String
}

/** Helpers shared by the workloads. */
object Io {
  /** Data files (not checksums / markers) under a directory tree. */
  def dataFiles(dir: Path): Seq[Path] =
    if (!Files.exists(dir)) Nil
    else {
      val s = Files.walk(dir)
      try s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
      }.toList
      finally s.close()
    }

  def bytes(files: Seq[Path]): Long = files.map(Files.size).sum

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.iterator().asScala.toList.reverse.foreach(Files.deleteIfExists)
      finally s.close()
    }

  /** Full materialisation without collecting. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Materialise and keep (a traced span boundary); the caller
    * unpersists at the end of the op. */
  def pin(df: DataFrame, pins: collection.mutable.Buffer[DataFrame]): (DataFrame, Long) = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    pins += p
    (p, p.count())
  }
}
