package perfbench

import scala.collection.mutable

import org.scalatest.funsuite.AnyFunSuite

/** The seeded input generators, at tiny scale and without Spark. */
class GenSpec extends AnyFunSuite {

  private val tiny = OdsSizes(sites = 5, bootstrapPatients = 200,
    bootstrapVisits = 500, resentPatients = 150, visitsPerCycle = 120)

  private def odsDigest(seed: Long, cycles: Int): String = {
    val g = new OdsGen(seed, tiny)
    (0 until cycles).foreach(_ => g.next())
    g.digest.hex
  }

  test("ods: the same seed gives the same input digest, another seed another") {
    assert(odsDigest(7, 6) == odsDigest(7, 6))
    assert(odsDigest(7, 6) != odsDigest(8, 6))
  }

  test("ods: expected fresh rows per job and cycle match the keys never sent before") {
    val g = new OdsGen(11, tiny)
    val patientsSeen = mutable.Set.empty[(Long, Long)]
    val visitsSeen = mutable.Set.empty[(Long, Long, Long)]
    for (_ <- 0 until 8) {
      val c = g.next()
      val pKeys = c.patients.map(r => (r.SiteCode, r.PatientPK)).toSet
      assert(c.freshPatients == pKeys.count(k => !patientsSeen(k)))
      assert(c.freshPatients > 0)
      patientsSeen ++= pKeys

      val vKeys = c.visits.map(r => (r.PatientPK, r.SiteCode, r.VisitID))
      assert(vKeys.distinct.length == vKeys.length, "visit keys repeat in one extract")
      assert(c.freshVisits == vKeys.count(k => !visitsSeen(k)))
      if (c.cycle > 0) assert(c.freshVisits < c.visits.length, "no visit was re-sent")
      visitsSeen ++= vKeys

      // Row IDs are unique, and a re-sent patient key may come in
      // several versions: the extract needs the dedup.
      assert(c.patients.map(_.ID).distinct.length == c.patients.length)
    }
    assert(g.patientTargetRows == patientsSeen.size)
    assert(g.visitTargetRows == visitsSeen.size)
  }

  test("ods: the five knobs are drawn per cycle within their ranges") {
    val g = new OdsGen(3, tiny)
    val ks = (0 until 6).map(_ => g.next().knobs)
    assert(ks.forall(_.keySet == Set("resent_share", "multi_version_share",
      "hot_site_share", "garbage_share", "lookup_miss_share")))
    assert(ks.tail.map(_("garbage_share")).distinct.length > 1)
    assert(ks.tail.forall(k => k("resent_share") >= 0.10 && k("resent_share") <= 0.35))
  }

  test("cohort: digests follow the seed; ids are distinct; facts stay in history") {
    val (f1, d1) = CohortGen.generate(5, 300)
    val (_, d1b) = CohortGen.generate(5, 300)
    val (_, d2) = CohortGen.generate(6, 300)
    assert(d1.hex == d1b.hex && d1.hex != d2.hex)
    assert(f1.patients.distinct.length == 300)
    assert(f1.visits.map(_._3).distinct.length == f1.visits.length)
    assert(f1.pharmacy.map(_._4).distinct.length == f1.pharmacy.length)
    assert(f1.exits.map(_._1).distinct.length == f1.exits.length)
    val end = CohortGen.Start.plusMonths(CohortGen.HistoryMonths.toLong)
    assert(f1.visits.forall(v => v._2.isBefore(end)))
    val (_, lastTo) = CohortGen.window(CohortGen.WindowPositions - 1)
    assert(lastTo.isBefore(end))
    assert(CohortGen.window(0) == CohortGen.window(CohortGen.WindowPositions))
  }

  test("corpus: the shard order is a seeded permutation of the chosen copies' shards") {
    val a = CorpusPlan.make(9, copies = 2, shardsPerCopy = 10)
    assert(a == CorpusPlan.make(9, copies = 2, shardsPerCopy = 10))
    assert(a.order != CorpusPlan.make(10, copies = 2, shardsPerCopy = 10).order)
    assert(a.copies.distinct.length == 2)
    assert(a.order.toSet == (for (c <- a.copies; s <- 0 until 10) yield (c, s)).toSet)
    val c = a.copies.head
    assert(CorpusPlan.shardOf(c * CorpusPlan.CopyOffset, CorpusPlan.DocsPerCopy, 10) == ((c, 0)))
    assert(CorpusPlan.shardOf(c * CorpusPlan.CopyOffset + CorpusPlan.DocsPerCopy - 1,
      CorpusPlan.DocsPerCopy, 10) == ((c, 9)))
  }
}
