package perfbench

import java.nio.file.{Path, Paths}

import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.cohort.ArtOutcomes

/** `art_cohort`: each op is one `ArtOutcomes.outcomes` report over the
  * generated CT-shaped facts; the reporting window slides one month per
  * op. Read-only: the facts are written once, during set-up. */
final class ArtCohort(seed: Long, patients: Int = 2500) extends Workload {
  type Out = Seq[Row]

  /** Two warm-up reports: the first report after the cold one still ran
    * about a fifth slower than the ones after it. */
  override def warmOps: Int = 2
  override def minOps: Int = 6

  private val Tables = Seq("patients", "visits", "pharmacy", "exits", "disc")
  private val Classes = Set("V", "NP", "uL", "NV", "D", "T", "L", "S")

  private var spark: SparkSession = _
  private var dir: Path = _
  private var facts: CohortFacts = _
  private var inDigest = ""
  private val outDigests = scala.collection.mutable.TreeMap.empty[Int, Long]

  private def path(t: String) = dir.resolve(s"facts/$t").toString

  def setup(s: SparkSession, d: Path): Seq[Check] = {
    spark = s; dir = d
    outDigests.clear()
    val (f, dg) = CohortGen.generate(seed, patients)
    facts = f
    inDigest = dg.hex
    val ss = spark
    import ss.implicits._
    def w(df: DataFrame, t: String) = df.write.mode(SaveMode.Overwrite).parquet(path(t))
    w(f.patients.toDF("patient_id"), "patients")
    w(f.visits.toDF("patient_id", "visit_date", "visit_id", "next_appt"), "visits")
    w(f.pharmacy.toDF("patient_id", "dispense_date", "expected_return", "disp_id",
      "disp_sub"), "pharmacy")
    w(f.exits.toDF("patient_id", "exit_date", "exit_reason", "exit_id"), "exits")
    w(f.disc.toDF("patient_id", "disc_date", "disc_reason", "disc_id"), "disc")
    Nil
  }

  private def resolve(): Map[String, DataFrame] =
    Tables.map(t => t -> spark.read.parquet(path(t))).toMap

  private def report(in: Map[String, DataFrame], op: Int): DataFrame = {
    val (from, to) = CohortGen.window(op)
    ArtOutcomes.outcomes(in("patients"), in("visits"), in("pharmacy"),
      in("exits"), in("disc"), ArtOutcomes.monthEndSpine(spark, from, to),
      spineBounds = Some((from, to)))
  }

  /** The report, materialised as its per-class row counts plus an
    * order-independent digest of every output row. */
  private def summarise(out: DataFrame): Seq[Row] =
    out.groupBy(col("outcome"))
      .agg(count(lit(1)).as("n"),
        bit_xor(xxhash64(col("patient_id"), col("as_of"), col("last_encounter"),
          col("next_expected"), col("outcome"))).as("h"))
      .collect().toSeq

  def run(op: Int, traced: Boolean): Out =
    if (!traced) summarise(report(resolve(), op))
    else {
      val in = tr.spanWith("sources.resolve", (m: Map[String, DataFrame]) =>
          Map("files_read" -> m.values.map(_.inputFiles.length).sum.toDouble)) {
        resolve()
      }
      tr.span("sources.scan") { in.values.foreach(Io.noop) }
      val (from, to) = CohortGen.window(op)
      tr.span("cohort.latest_asof") {
        Io.noop(ArtOutcomes.latestAsOf(in("visits"),
          ArtOutcomes.monthEndSpine(spark, from, to), "visit_date", Seq("visit_id")))
      }
      tr.spanWith("cohort.outcomes", (rows: Seq[Row]) => {
        val n = rows.map(_.getLong(1)).sum.toDouble
        Map("patient_months" -> n, "fact_rows" -> facts.factRows.toDouble)
      }) {
        summarise(report(in, op))
      }
    }

  def check(op: Int, out: Out): Check = {
    val want = facts.patients.length.toLong * CohortGen.WindowMonths
    val byClass = out.map(r => Option(r.getString(0)).getOrElse("null") -> r.getLong(1)).toMap
    val total = byClass.values.sum
    outDigests(op) = out.map(_.getLong(2)).foldLeft(0L)(_ ^ _)
    Check(total == want && byClass.keySet.subsetOf(Classes),
      s"window ${CohortGen.window(op)}: classes $byClass sum $total, expected $want")
  }

  def inputRows(op: Int): Long = facts.factRows

  def storedBytesPerRow(): Double =
    Io.bytes(Tables.flatMap(t => Io.dataFiles(Paths.get(path(t))))).toDouble /
      facts.factRows

  def inputDigest: String = inDigest

  /** Digest of the reports of the first [[Main.DigestOps]] timed ops. */
  def outputDigest: String = {
    val first = outDigests.filter(_._1 >= warmOps).take(Main.DigestOps)
    f"${first.size}%d/${first.values.foldLeft(0L)((a, h) => a * 31 + h)}%016x"
  }
}
