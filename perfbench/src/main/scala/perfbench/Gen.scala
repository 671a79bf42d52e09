package perfbench

import java.security.MessageDigest
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Order-sensitive SHA-256 over generated values: the per-seed input
  * digest the run prints so two runs can be compared. */
final class Digest {
  private val md = MessageDigest.getInstance("SHA-256")
  def add(v: Any): Unit = md.update((String.valueOf(v) + "\u0001").getBytes("UTF-8"))
  def addRow(vs: Seq[Any]): Unit = { vs.foreach(add); md.update(10.toByte) }
  def hex: String = md.clone().asInstanceOf[MessageDigest].digest()
    .map(b => f"${b & 0xff}%02x").mkString
}

/** Seeded draws. Every generator owns one, so a seed fixes its stream. */
final class Draw(seed: Long) {
  private val r = new SplittableRandom(seed)
  def int(n: Int): Int = r.nextInt(n)
  def between(lo: Double, hi: Double): Double = lo + (hi - lo) * r.nextDouble()
  def chance(p: Double): Boolean = r.nextDouble() < p
  def pick[T](xs: IndexedSeq[T]): T = xs(r.nextInt(xs.length))
  def long(): Long = r.nextLong()
}

// ---------------------------------------------------------------------
// ods_nightly: CT patient master re-extracts + CT visit event windows.
// ---------------------------------------------------------------------

/** One CT_Patient extract row (the source columns `ctPatients` reads). */
final case class PatientRow(ID: Long, SiteCode: Long, PatientPK: Long,
    PatientID: String, Created: String, DOB: String,
    RegistrationAtCCC: String, RegistrationATPMTCT: String, LastVisit: String,
    StartARTDate: String, PreviousARTStartDate: String, Gender: String,
    MaritalStatus: String, EducationLevel: String, PatientSource: String,
    Emr: String, Project: String, Orphan: String, Inschool: String) {
  def values: Seq[Any] = productIterator.toSeq
}

/** One CT_PatientVisits extract row (the source columns
  * `ctPatientVisits` reads, plus pass-through payload). */
final case class VisitRow(ID: Long, SiteCode: Long, PatientPK: Long,
    PatientID: String, VisitID: Long, VisitDate: String, OIDate: String,
    NextAppointmentDate: String, Weight: String, Height: String,
    Pregnant: String, StabilityAssessment: String, DifferentiatedCare: String,
    FamilyPlanningMethod: String, PwP: String, VisitType: String,
    WHOStage: String, Service: String) {
  def values: Seq[Any] = productIterator.toSeq
}

/** One nightly cycle's extracts with the generator's expectations:
  * rows each job must append, and the knob values drawn for it. */
final case class OdsCycle(cycle: Int, today: LocalDate,
    patients: IndexedSeq[PatientRow], visits: IndexedSeq[VisitRow],
    freshPatients: Long, freshVisits: Long, knobs: Map[String, Double])

/** Sizes of the ODS workload. Defaults are the benchmark's; tests use
  * tiny ones. */
final case class OdsSizes(sites: Int = 40, bootstrapPatients: Int = 6000,
    bootstrapVisits: Int = 10000, resentPatients: Int = 4000,
    visitsPerCycle: Int = 2500)

object OdsGen {
  val Lookups: Map[String, Seq[(String, String)]] = Map(
    "marital" -> Seq("M" -> "Married", "S" -> "Single", "D" -> "Divorced",
      "W" -> "Widowed", "MM" -> "Married Monogamous", "MP" -> "Married Polygamous"),
    "education" -> Seq("P" -> "Primary", "S" -> "Secondary", "C" -> "College",
      "U" -> "University", "N" -> "None"),
    "family_planning" -> Seq("PILLS" -> "Pills", "INJ" -> "Injectable",
      "IUCD" -> "IUCD", "COND" -> "Condoms", "IMPL" -> "Implant",
      "NONE" -> "No Family Planning"),
    "pwp" -> Seq("DISC" -> "Disclosure", "CP" -> "Condoms Provided",
      "PT" -> "Partner Testing", "SI" -> "Screened for STI"))

  /** Clean vocabulary, garbage variants (keys of the `canonicalize`
    * maps in `ctPatientVisits`), and lookup misses. */
  private val PregnantClean = IndexedSeq("Yes", "No")
  private val PregnantDirty = IndexedSeq("True", "LIVE BIRTH",
    "No - Miscarriage (mc)", "RECENTLY MISCARRIAGED", "UNKNOWN", "")
  private val StabilityClean = IndexedSeq("Stable", "Unstable")
  private val StabilityDirty = IndexedSeq("Stable1", "Not Stable", "")
  private val CareClean = IndexedSeq("Fast Track", "Standard Care")
  private val CareDirty = IndexedSeq("Express Care", "Express", "FADG",
    "Community Based Dispensing", "Community ART Distribution - Peer Led", "")
  private val GenderClean = IndexedSeq("Male", "Female")
  private val GenderDirty = IndexedSeq("M", "F")
  private val Misses = IndexedSeq("?", "Other", "NOT DOCUMENTED", "n/a")
}

/** Seeded generator of the ODS nightly load. Stateful: it remembers
  * every key it has emitted, so it knows exactly how many rows each
  * job must append in each cycle (keys it never sent before) and how
  * many rows the targets must hold (distinct keys ever sent).
  *
  * Five knobs are drawn per cycle from the seed: the re-sent share of
  * the visit window, versions per patient key (dedup work), the
  * hot-facility share of new patients (SiteCode skew), the vocabulary
  * garbage share (canonicalize work) and the lookup miss share. */
final class OdsGen(seed: Long, val sizes: OdsSizes = OdsSizes()) {
  import OdsGen._
  private val d = new Draw(seed)
  val digest = new Digest
  val base: LocalDate = LocalDate.of(2024, 1, 1)
  private val hotSite = 10000L + d.int(sizes.sites)
  private val patientKeys = ArrayBuffer.empty[(Long, Long)]   // (site, pk)
  private var lastVisits: IndexedSeq[VisitRow] = IndexedSeq.empty
  private var nextPk = 1L
  private var nextRowId = 1L
  private var nextVisitId = 1L
  private var visitKeysSent = 0L
  private var cyclesMade = 0

  def patientTargetRows: Long = patientKeys.length.toLong
  def visitTargetRows: Long = visitKeysSent

  private def date(day: Long): String = base.plusDays(day).toString
  private def vocab(clean: IndexedSeq[String], dirty: IndexedSeq[String],
      garbage: Double): String =
    if (d.chance(garbage)) d.pick(dirty) else d.pick(clean)
  private def lookup(kind: String, miss: Double): String =
    if (d.chance(miss)) d.pick(Misses) else d.pick(Lookups(kind).map(_._1).toIndexedSeq)

  private def newPatientKey(hot: Double): (Long, Long) = {
    val site = if (d.chance(hot)) hotSite else 10000L + d.int(sizes.sites)
    val k = (site, nextPk)
    nextPk += 1
    patientKeys += k
    k
  }

  private def patientRow(k: (Long, Long), day: Long, version: Int,
      garbage: Double, miss: Double): PatientRow = {
    val (site, pk) = k
    val dob = if (d.chance(0.02)) "1850-01-01" else date(-20000L + d.int(15000))
    val reg = day - d.int(3000)
    val id = nextRowId
    nextRowId += 1
    PatientRow(id, site, pk, s"CCC-$site-$pk", date(day - 3 + version), dob,
      date(reg), if (d.chance(0.1)) date(reg + 10) else null,
      date(day - d.int(90)),
      if (d.chance(0.03)) date(day + 400) else date(reg + d.int(60)),
      if (d.chance(0.5)) date(reg - d.int(400)) else null,
      vocab(GenderClean, GenderDirty, garbage), lookup("marital", miss),
      lookup("education", miss), d.pick(IndexedSeq("VCT", "OPD", "MCH", "TB")),
      d.pick(IndexedSeq("KenyaEMR", "IQCare", "AMRS")),
      d.pick(IndexedSeq("Kenya HMIS II", "Ampath Plus")),
      if (d.chance(0.1)) "Yes" else "No", if (d.chance(0.4)) "Yes" else "No")
  }

  private def visitRow(k: (Long, Long), day: Long, garbage: Double,
      miss: Double): VisitRow = {
    val (site, pk) = k
    val vid = nextVisitId
    nextVisitId += 1
    val id = nextRowId
    nextRowId += 1
    val vday = day - d.int(7)
    VisitRow(id, site, pk, s"CCC-$site-$pk", vid, date(vday),
      if (d.chance(0.05)) date(-9000) else date(vday - d.int(200)),
      date(vday + 14 + d.int(90)),
      if (d.chance(0.02)) "250" else f"${40 + d.int(60)}%d.${d.int(10)}%d",
      if (d.chance(0.02)) "300" else s"${140 + d.int(50)}",
      vocab(PregnantClean, PregnantDirty, garbage),
      vocab(StabilityClean, StabilityDirty, garbage),
      vocab(CareClean, CareDirty, garbage),
      lookup("family_planning", miss), lookup("pwp", miss),
      d.pick(IndexedSeq("Scheduled", "Unscheduled")),
      s"WHO Stage ${1 + d.int(4)}", d.pick(IndexedSeq("ART", "PMTCT")))
  }

  /** Cycle 0 is the bootstrap that creates both targets; later cycles
    * are nightly increments. */
  def next(): OdsCycle = {
    val c = cyclesMade
    cyclesMade += 1
    val day = c.toLong
    val knobs = Map(
      "resent_share" -> (if (c == 0) 0.0 else d.between(0.10, 0.35)),
      "multi_version_share" -> d.between(0.05, 0.25),
      "hot_site_share" -> d.between(0.20, 0.40),
      "garbage_share" -> d.between(0.10, 0.40),
      "lookup_miss_share" -> d.between(0.05, 0.30))
    val garbage = knobs("garbage_share")
    val miss = knobs("lookup_miss_share")
    val hot = knobs("hot_site_share")
    val multi = knobs("multi_version_share")

    // CT_Patient: the re-sent part of the master plus a few percent of
    // new keys; a key may arrive in 1-3 versions (latest wins).
    val (resent, fresh) =
      if (c == 0) (IndexedSeq.empty[(Long, Long)],
        IndexedSeq.fill(sizes.bootstrapPatients)(newPatientKey(hot)))
      else {
        val re = IndexedSeq.fill(sizes.resentPatients)(
          patientKeys(d.int(patientKeys.length))).distinct
        val nFresh = math.max(1, (re.length * d.between(0.02, 0.05)).round.toInt)
        (re, IndexedSeq.fill(nFresh)(newPatientKey(hot)))
      }
    val patients = (resent ++ fresh).flatMap { k =>
      val versions = if (d.chance(multi)) 2 + d.int(2) else 1
      (0 until versions).map(v => patientRow(k, day, v, garbage, miss))
    }

    // CT_PatientVisits: the overlapping window re-sends part of the
    // previous extract; the rest are new events. Keys never repeat
    // within an extract (the spec does not dedup visits).
    val nVisits = if (c == 0) sizes.bootstrapVisits else sizes.visitsPerCycle
    val nResent = math.min(lastVisits.length,
      (nVisits * knobs("resent_share")).round.toInt)
    val resentVisits = (0 until nResent).map(i => lastVisits(i))
    val freshVisits = IndexedSeq.fill(nVisits - nResent)(
      visitRow(patientKeys(d.int(patientKeys.length)), day, garbage, miss))
    val visits = resentVisits ++ freshVisits
    visitKeysSent += freshVisits.length
    lastVisits = freshVisits

    patients.foreach(r => digest.addRow(r.values))
    visits.foreach(r => digest.addRow(r.values))
    OdsCycle(c, base.plusDays(day), patients, visits, fresh.length.toLong,
      freshVisits.length.toLong, knobs)
  }
}

// ---------------------------------------------------------------------
// art_cohort: CT-shaped ART facts for the as-of outcome report.
// ---------------------------------------------------------------------

final case class CohortFacts(patients: IndexedSeq[Long],
    visits: IndexedSeq[(Long, LocalDate, Long, LocalDate)],
    pharmacy: IndexedSeq[(Long, LocalDate, LocalDate, Long, Long)],
    exits: IndexedSeq[(Long, LocalDate, String, Long)],
    disc: IndexedSeq[(Long, LocalDate, String, Long)]) {
  def factRows: Long =
    (patients.length + visits.length + pharmacy.length + exits.length +
      disc.length).toLong
}

object CohortGen {
  /** First month of the generated history. */
  val Start: LocalDate = LocalDate.of(2018, 1, 1)
  val HistoryMonths = 60
  val WindowMonths = 12
  /** Windows slide one month per op over this many positions, then wrap,
    * so every run sees the same mix of windows. */
  val WindowPositions = 24
  val FirstWindowMonth = 24

  /** Reporting window [from, to] (month starts) for the i-th op. */
  def window(op: Int): (LocalDate, LocalDate) = {
    val from = Start.plusMonths(FirstWindowMonth + (op % WindowPositions).toLong)
    (from, from.plusMonths(WindowMonths - 1L))
  }

  /** Patients enrol across the history, visit and collect drugs roughly
    * monthly, and some are lost, exit (died / transferred / stopped) or
    * carry an effective discontinuation, some future-dated. */
  def generate(seed: Long, patients: Int): (CohortFacts, Digest) = {
    val d = new Draw(seed)
    val dg = new Digest
    val ps = (1 to patients).map(_.toLong + 500000L)
    val visits = ArrayBuffer.empty[(Long, LocalDate, Long, LocalDate)]
    val pharm = ArrayBuffer.empty[(Long, LocalDate, LocalDate, Long, Long)]
    val exits = ArrayBuffer.empty[(Long, LocalDate, String, Long)]
    val disc = ArrayBuffer.empty[(Long, LocalDate, String, Long)]
    var vid = 1L
    var did = 1L
    ps.foreach { p =>
      val enrol = d.int(HistoryMonths - 6)
      val lostAt = if (d.chance(0.15)) enrol + d.int(HistoryMonths - enrol) else HistoryMonths
      val exitAt = if (d.chance(0.12)) Some(enrol + d.int(HistoryMonths - enrol)) else None
      val stop = math.min(lostAt, exitAt.getOrElse(HistoryMonths))
      var m = enrol
      while (m < stop) {
        val day = Start.plusMonths(m.toLong).plusDays(d.int(27).toLong)
        if (d.chance(0.85)) {
          val appt = if (d.chance(0.02)) day.plusDays(500) else day.plusDays(28 + d.int(60).toLong)
          visits += ((p, day, vid, appt)); vid += 1
        }
        if (d.chance(0.8)) {
          pharm += ((p, day.plusDays(d.int(3).toLong), day.plusDays(30 + d.int(60).toLong),
            did, d.int(3).toLong)); did += 1
        }
        m += 1 + (if (d.chance(0.2)) d.int(3) else 0)
      }
      exitAt.foreach { e =>
        exits += ((p, Start.plusMonths(e.toLong).plusDays(d.int(27).toLong),
          d.pick(IndexedSeq("DIED", "TRANSFER OUT", "LOST TO FOLLOW UP", "STOPPED")),
          p * 10))
      }
      if (d.chance(0.08)) {
        val at = enrol + d.int(HistoryMonths + 12 - enrol)
        disc += ((p, Start.plusMonths(at.toLong).plusDays(d.int(27).toLong),
          d.pick(IndexedSeq("DIED", "TRANSFER OUT", "STOPPED")), p * 10 + 1))
      }
    }
    val f = CohortFacts(ps, visits.toIndexedSeq, pharm.toIndexedSeq,
      exits.toIndexedSeq, disc.toIndexedSeq)
    f.patients.foreach(dg.add)
    f.visits.foreach(v => dg.addRow(v.productIterator.toSeq))
    f.pharmacy.foreach(v => dg.addRow(v.productIterator.toSeq))
    f.exits.foreach(v => dg.addRow(v.productIterator.toSeq))
    f.disc.foreach(v => dg.addRow(v.productIterator.toSeq))
    (f, dg)
  }
}

// ---------------------------------------------------------------------
// corpus_ingest: a seeded shard order over the repository's corpus.
// ---------------------------------------------------------------------

/** The repository's `testdata-sf10` documents/embeddings are 100
  * key-offset copies of one 5,000-document / 2,000-vector base corpus;
  * near-duplicates only exist within a copy. A run works on `copies`
  * seeded copies, each cut into `shardsPerCopy` shards by local id, and
  * ingests the shards in a seeded order. */
final case class CorpusPlan(copies: IndexedSeq[Int], shardsPerCopy: Int,
    order: IndexedSeq[(Int, Int)]) {
  def shardCount: Int = order.length
}

object CorpusPlan {
  val CopyOffset = 45045000L
  val DocsPerCopy = 5000L
  val VecsPerCopy = 2000L

  def make(seed: Long, copies: Int, shardsPerCopy: Int): CorpusPlan = {
    val d = new Draw(seed)
    val cs = scala.util.Random.javaRandomToRandom(new java.util.Random(d.long()))
      .shuffle((0 until 100).toIndexedSeq).take(copies)
    val shards = for (c <- cs; s <- 0 until shardsPerCopy) yield (c, s)
    val order = scala.util.Random.javaRandomToRandom(new java.util.Random(d.long()))
      .shuffle(shards)
    CorpusPlan(cs, shardsPerCopy, order)
  }

  /** Shard of a document / vector id, or -1 outside the plan's copies. */
  def shardOf(id: Long, perCopy: Long, shardsPerCopy: Int): (Int, Int) = {
    val copy = (id / CopyOffset).toInt
    val local = id % CopyOffset
    (copy, (local * shardsPerCopy / perCopy).toInt)
  }
}
