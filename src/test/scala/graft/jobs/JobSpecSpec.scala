package graft.jobs

import java.time.LocalDate

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

/** End-to-end golden test of the config-driven job pipeline on a
  * domain-shaped micro-fixture (FIXTURES.md §A1 shape): dirty source ->
  * transform -> anti-join -> hash -> projection, plus the idempotency
  * property every reference job relies on. */
class JobSpecSpec extends SparkSpec {

  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("ID", LongType), StructField("SiteCode", LongType, nullable = true),
    StructField("PatientPK", LongType), StructField("Gender", StringType, nullable = true),
    StructField("DOB", StringType, nullable = true),
    StructField("Weight", StringType, nullable = true),
    StructField("MaritalStatus", StringType, nullable = true),
    StructField("Created", StringType)))

  private def source = spark.createDataFrame(
    spark.sparkContext.parallelize(Seq(
      // two versions of (100, 1): ID 2 is newer -> wins
      Row(1L, 100L, 1L, "M", "1985-03-04", "62", "married", "2024-01-01"),
      Row(2L, 100L, 1L, "M", "1985-03-04", "63", "Married", "2024-02-01"),
      // out-of-range DOB -> sentinel; Weight 500 -> 999; "" marital -> null
      Row(3L, 100L, 2L, "F", "1850-01-01", "500", "", "2024-01-01"),
      // null SiteCode (null-safe key component)
      Row(4L, null, 3L, "F", "1990-06-07", "", "single", "2024-01-01"))),
    schema)

  private def lkp = Seq(("Married", "Married"), ("married", "Married"),
    ("single", "Single")).toDF("source_name", "target_name")

  private val spec = JobSpec(
    keys = Seq("SiteCode", "PatientPK"),
    dedup = Some(Seq("SiteCode", "PatientPK") -> Seq("Created", "ID")),
    dateClamps = Map("DOB" -> (LocalDate.of(1900, 1, 2), LocalDate.of(2026, 1, 1))),
    numClamps = Map("Weight" -> (0d, 200d)),
    emptyToNull = Seq("MaritalStatus", "Weight"),
    recodes = Map("Gender" -> Map("M" -> "Male", "F" -> "Female")),
    lookups = Seq("MaritalStatus" -> lkp),
    piiHash = Seq("PatientPK"),
    projection = Seq("SiteCode", "PatientPK", "PatientPKHash", "Gender",
      "DOB", "Weight", "MaritalStatus"))

  test("transform: dedup + clean + recode + remap") {
    val out = Job.transform(source, spec)
      .collect().map(r => r.getLong(2) -> r).toMap
    assert(out.size == 3) // (100,1) collapsed to latest
    val p1 = out(1L)
    assert(p1.getAs[Double]("Weight") == 63d) // latest version won
    assert(p1.getAs[String]("Gender") == "Male")
    assert(p1.getAs[String]("MaritalStatus") == "Married")
    val p2 = out(2L)
    assert(p2.getAs[java.sql.Date]("DOB").toString == "1900-01-01") // sentinel
    assert(p2.getAs[Double]("Weight") == 999d) // clamped
    assert(p2.isNullAt(p2.fieldIndex("MaritalStatus"))) // "" -> null
  }

  test("full job: golden load then idempotent re-run incl. null key") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job").toFile
    val path = new java.io.File(dir, "ct_patient").getAbsolutePath
    assert(Job.load(spark, source, path, spec) == 3)
    // Re-running the same job appends nothing — including the
    // null-SiteCode row, which a === anti-join would re-insert.
    assert(Job.load(spark, source, path, spec) == 0)
    val stored = spark.read.parquet(path)
    assert(stored.count() == 3)
    assert(stored.columns.toSeq == spec.projection)
    // PII hash column is a 64-char uppercase SHA-256 hex.
    assert(stored.select("PatientPKHash").collect()
      .forall(_.getString(0).matches("[0-9A-F]{64}")))
  }

  test("a target left empty by a failed first load counts as absent: the next load appends every row") {
    // A failed first append leaves the target directory behind with no
    // data files; reading it as a table fails schema inference, so it
    // must be treated as not yet loaded.
    val dir = java.nio.file.Files.createTempDirectory("graft-job-empty").toFile
    val target = new java.io.File(dir, "ct_patient")
    assert(target.mkdir())
    val path = target.getAbsolutePath
    assert(Job.load(spark, source, path, spec) == 3)
    assert(graft.etl.Sink.pathExists(spark, path))
    assert(spark.read.parquet(path).count() == 3)
    assert(Job.load(spark, source, path, spec) == 0)
  }

  test("drifted incremental batch conforms to the target schema instead of forking it") {
    val dir = java.nio.file.Files.createTempDirectory("graft-job-drift").toFile
    val path = new java.io.File(dir, "ct_patient").getAbsolutePath
    assert(Job.load(spark, source, path, spec) == 3)
    // Next extract drifted: Gender column gone, a new EMR column
    // appeared, and a brand-new patient arrives.
    val driftedSchema = StructType(schema.fields.filterNot(_.name == "Gender")
      :+ StructField("Emr", StringType, nullable = true))
    val drifted = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        Row(9L, 100L, 7L, "1992-02-03", "70", "single", "2024-03-01", "AMRS"))),
      driftedSchema)
    val driftSpec = spec.copy(
      recodes = Map.empty, // Gender no longer exists in the source
      projection = spec.projection.filterNot(_ == "Gender"))
    val (n, report) = Job.loadWithReport(spark, drifted, path, driftSpec)
    assert(n == 1)
    // The accumulated table keeps ONE schema: the original projection.
    val stored = spark.read.parquet(path)
    assert(stored.columns.toSeq == spec.projection)
    assert(stored.count() == 4)
    // The drifted row's Gender conformed to NULL; old rows keep theirs.
    assert(stored.filter($"PatientPK" === 7L).collect().head
      .isNullAt(stored.columns.indexOf("Gender")))
    // The report names the missing column (Gender) — the Emr extra was
    // already cut by the job's own projection before conformance.
    val kinds = report.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(kinds("Gender") == "missing")
  }
}
