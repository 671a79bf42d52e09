package perfbench

import java.nio.file.Path

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Incremental, PiiHash, SchemaDrift, Sink}
import graft.jobs.{Job, JobSpec, ReferenceJobs}

/** `ods_nightly`: each op is one nightly cycle — `Job.load` with the
  * CT_Patient spec, then with the CT_PatientVisits spec — against
  * parquet targets that grow over the run. */
final class OdsNightly(seed: Long, sizes: OdsSizes = OdsSizes()) extends Workload {
  type Out = (Long, Long)

  override def minOps: Int = 3

  private var spark: SparkSession = _
  private var gen: OdsGen = _
  private var dir: Path = _
  private var current: OdsCycle = _
  private val idBounds = ArrayBuffer.empty[Long]
  private var outDigest = ""
  private var inDigest = ""

  private def stage(job: String) = dir.resolve(s"stage/$job").toString
  private def target(job: String) = dir.resolve(s"ods/$job").toString
  private var lookups: Map[String, DataFrame] = Map.empty
  private def lkp(name: String): DataFrame = lookups(name)

  private def patientSpec(c: OdsCycle): JobSpec =
    ReferenceJobs.ctPatients(c.today, lkp("marital"), lkp("education"))
  private def visitSpec(c: OdsCycle): JobSpec =
    ReferenceJobs.ctPatientVisits(c.today, lkp("family_planning"), lkp("pwp"))

  private def writeExtracts(c: OdsCycle): Unit = {
    val ss = spark
    import ss.implicits._
    c.patients.toDF().write.mode(SaveMode.Overwrite).parquet(stage("ct_patient"))
    c.visits.toDF().write.mode(SaveMode.Overwrite).parquet(stage("ct_visits"))
    idBounds += c.patients.map(_.ID).max.max(c.visits.map(_.ID).max)
    if (idBounds.length <= digestCycles) inDigest = gen.digest.hex
  }

  /** Bootstrap, warm-up and the first [[Main.DigestOps]] timed cycles:
    * the prefix both digests cover, so runs of one seed compare however
    * many cycles each completed. */
  private def digestCycles: Int = 1 + warmOps + Main.DigestOps

  def setup(s: SparkSession, d: Path): Seq[Check] = {
    spark = s; dir = d
    gen = new OdsGen(seed, sizes)
    idBounds.clear()
    val ss = spark
    import ss.implicits._
    // Lookup dimensions are tens of rows: local relations, broadcast.
    lookups = OdsGen.Lookups.map { case (name, rows) =>
      name -> rows.toDF("source_name", "target_name")
    }
    // Cycle 0 creates both targets (the bootstrap load).
    prepare(-1)
    Seq(check(-1, run(-1, traced = false)))
  }

  override def prepare(op: Int): Unit = {
    current = gen.next()
    writeExtracts(current)
  }

  def run(op: Int, traced: Boolean): Out =
    if (!traced) {
      val p = Job.load(spark, spark.read.parquet(stage("ct_patient")),
        target("ct_patient"), patientSpec(current))
      val v = Job.load(spark, spark.read.parquet(stage("ct_visits")),
        target("ct_visits"), visitSpec(current))
      (p, v)
    } else {
      (tracedJob("ct_patient", patientSpec(current), current.patients.length),
        tracedJob("ct_visits", visitSpec(current), current.visits.length))
    }

  /** `Job.load` re-composed from its layer calls, each materialised. */
  private def tracedJob(job: String, spec: JobSpec, sourceRows: Long): Long = {
    val pins = ArrayBuffer.empty[DataFrame]
    try tr.span(s"jobs.$job") {
      val (src, tgt) = tr.spanWith("sources.resolve", (x: (DataFrame, DataFrame)) =>
          Map("files_read" -> (x._1.inputFiles.length + x._2.inputFiles.length).toDouble)) {
        (spark.read.parquet(stage(job)), spark.read.parquet(target(job)))
      }
      tr.span("sources.scan") { Io.noop(src); Io.noop(tgt.select(spec.keys.map(col): _*)) }
      val (cleaned, kept) = tr.spanWith("etl.transform", (x: (DataFrame, Long)) =>
          Map("source_rows" -> sourceRows.toDouble, "kept_rows" -> x._2.toDouble)) {
        Io.pin(Job.transform(src, spec), pins)
      }
      val (fresh, n) = tr.spanWith("etl.antijoin", (x: (DataFrame, Long)) =>
          Map("source_rows" -> sourceRows.toDouble, "fresh_rows" -> x._2.toDouble)) {
        Io.pin(Incremental.newRecords(cleaned, tgt, spec.keys,
          strictKeys = spec.strictKeys), pins)
      }
      val (hashed, _) = tr.span("etl.piihash") {
        val h = PiiHash.hashColumns(fresh, spec.piiHash)
        val p = if (spec.projection.nonEmpty) h.select(spec.projection.map(col): _*) else h
        Io.pin(SchemaDrift.conform(p, tgt.schema), pins)
      }
      val before = Io.dataFiles(java.nio.file.Paths.get(target(job))).toSet
      tr.spanWith("etl.sink", (_: Unit) => {
        val added = Io.dataFiles(java.nio.file.Paths.get(target(job))).filterNot(before)
        Map("files" -> added.length.toDouble, "bytes" -> Io.bytes(added).toDouble,
          "rows" -> n.toDouble)
      }) {
        if (n > 0) Sink.append(hashed, target(job))
      }
      n
    } finally pins.foreach(_.unpersist())
  }

  def check(op: Int, out: Out): Check = {
    val ok = out == ((current.freshPatients, current.freshVisits))
    Check(ok, s"cycle ${current.cycle}: appended $out, expected " +
      s"(${current.freshPatients},${current.freshVisits})")
  }

  def inputRows(op: Int): Long = (current.patients.length + current.visits.length).toLong

  /** Replaying the last cycle appends nothing; each target holds
    * exactly one row per distinct key ever generated. */
  override def finish(): Seq[Check] = {
    val replay = run(Int.MaxValue, traced = false)
    val p = spark.read.parquet(target("ct_patient"))
    val v = spark.read.parquet(target("ct_visits"))
    val pRows = p.count()
    val vRows = v.count()
    val pKeys = p.select("SiteCode", "PatientPK").distinct().count()
    val vKeys = v.select("PatientPK", "SiteCode", "VisitID").distinct().count()
    val want = (gen.patientTargetRows, gen.visitTargetRows)
    outDigest = digestOf(p) + ":" + digestOf(v)
    Seq(
      Check(replay == ((0L, 0L)), s"replay of cycle ${current.cycle} appended $replay"),
      Check((pRows, vRows) == want && pKeys == pRows && vKeys == vRows,
        s"target rows ($pRows,$vRows) distinct keys ($pKeys,$vKeys) expected $want"))
  }

  /** Order-independent digest of the target rows the digest prefix
    * of cycles appended. */
  private def digestOf(df: DataFrame): String = {
    val k = math.min(idBounds.length, digestCycles) - 1
    val r = df.filter(col("ID") <= idBounds(k))
      .agg(count(lit(1)), bit_xor(xxhash64(df.columns.sorted.map(col): _*)))
      .head()
    f"${r.getLong(0)}%d/${r.getLong(1)}%016x"
  }

  def storedBytesPerRow(): Double = {
    val files = Seq("ct_patient", "ct_visits").flatMap(j =>
      Io.dataFiles(java.nio.file.Paths.get(target(j))))
    Io.bytes(files).toDouble / (gen.patientTargetRows + gen.visitTargetRows)
  }

  def inputDigest: String = inDigest
  def outputDigest: String = outDigest
}
