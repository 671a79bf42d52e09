package graft.sim

import graft.SparkSpec
import graft.expressions.PqCodebook
import org.apache.spark.sql.functions._

/** Product-quantization semantics: exact roundtrip on a
  * codebook-representable corpus, LUT/decode bit-equality, empty-code
  * drop, null edges, and the measured reconstruction quality on real
  * embeddings. */
class PqSpec extends SparkSpec {

  import spark.implicits._

  /** Quarter-valued 8-dim pattern `p` — exactly representable through
    * the 1e9 integer-sum mean, so a cluster of identical members
    * refines to ITSELF bit-for-bit. */
  private def pattern(p: Int): Seq[Float] =
    (0 until 8).map(j => 0.25f * (((3 * p + j) % 16) + 1))

  /** 64 rows; row i carries pattern (i % 16) in every subspace. */
  private def patternCorpus = (0L until 64L).map { i =>
    i -> (0 until 8).flatMap(_ => pattern((i % 16).toInt))
  }.toDF("id", "vec")
    .select($"id", $"vec".cast("array<float>").as("vec"))

  test("exact roundtrip: representable corpus encodes to its pattern and decodes bit-for-bit") {
    val v = patternCorpus
    val cb = Pq.fitCodebooks(v)
    val bc = Pq.broadcastCodebook(v, cb)
    val out = v
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("recon", Pq.decodeCol("codes", bc))
      .collect()
    out.foreach { r =>
      val id = r.getLong(0)
      val codes = r.getSeq[Int](2)
      assert(codes == Seq.fill(8)((id % 16).toInt),
        s"row $id encoded to $codes")
      assert(r.getSeq[Float](3) == r.getSeq[Float](1),
        s"row $id reconstruction differs")
    }
    // and the registered recon-score query form reports lossless
    val scores = Pq.reconScores(v, cb).collect().map(_.getLong(1))
    assert(scores.forall(_ == 1000000L), s"not lossless: ${scores.toSeq.distinct}")
  }

  test("SDC is bit-equal to the grouped dot of the two reconstructions; ADC to query x reconstruction") {
    val v = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .limit(120)
    val cb = Pq.fitCodebooks(v)
    val bc = Pq.broadcastCodebook(v, cb)

    def groupedDot(a: Array[Float], b: Array[Float]): Double = {
      var total = 0d
      var s = 0
      while (s < cb.m) {
        var acc = 0d
        var i = 0
        while (i < cb.subDim) {
          val g = s * cb.subDim + i
          acc += a(g).toDouble * b(g).toDouble
          i += 1
        }
        total += acc
        s += 1
      }
      total
    }

    val rows = v
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("recon", Pq.decodeCol("codes", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray,
        r.getSeq[Int](2), r.getSeq[Float](3).toArray, r.getDouble(4)))

    // rnrm == sqrt(grouped self-dot of the reconstruction)
    rows.foreach { case (id, _, _, recon, rnrm) =>
      assert(rnrm == math.sqrt(groupedDot(recon, recon)), s"rnrm drift at $id")
    }

    // pairwise SDC / ADC against the driver-side grouped reference
    val pairDf = v.limit(12)
      .withColumn("codes", Pq.encodeCol("vec", bc)).as("a")
      .crossJoin(v.limit(12)
        .withColumn("codes", Pq.encodeCol("vec", bc)).as("b"))
      .select($"a.id".as("ida"), $"b.id".as("idb"), $"a.vec".as("q_vec"),
        $"a.codes".as("a_codes"), $"b.codes".as("b_codes"))
      .withColumn("sdc", Pq.sdcDotCol("a_codes", "b_codes", bc))
      .withColumn("adc", Pq.adcDotCol("q_vec", "b_codes", bc))
      .collect()
    val byId = rows.map(r => r._1 -> r).toMap
    pairDf.foreach { r =>
      val (_, aVec, _, aRecon, _) = byId(r.getLong(0))
      val (_, _, _, bRecon, _) = byId(r.getLong(1))
      assert(r.getDouble(5) == groupedDot(aRecon, bRecon),
        s"SDC drift at (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getDouble(6) == groupedDot(aVec, bRecon),
        s"ADC drift at (${r.getLong(0)}, ${r.getLong(1)})")
    }
  }

  test("empty codes drop: a duplicated init row loses its code, like an empty k-means cell") {
    // Row 5 duplicates row 4's pattern IN EVERY SUBSPACE: the argmin
    // tie goes to code 4, code 5 attracts no members and must drop.
    val v = (0L until 32L).map { i =>
      val p = if (i % 16 == 5) 4 else (i % 16).toInt
      i -> (0 until 8).flatMap(_ => pattern(p))
    }.toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
    val cb = Pq.fitCodebooks(v)
    (0 until cb.m).foreach { s =>
      assert(!cb.codeIds(s).contains(5), s"code 5 survived in subspace $s")
      assert(cb.codeIds(s).length == 15)
    }
  }

  test("null edges: wrong-length vec encodes to null; unknown code decodes to null") {
    val v = patternCorpus
    val cb = Pq.fitCodebooks(v)
    val bc = Pq.broadcastCodebook(v, cb)
    val shortVec = Seq((1L, Seq.fill(63)(0.5f))).toDF("id", "vec")
      .select($"id", $"vec".cast("array<float>").as("vec"))
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .collect()
    assert(shortVec.head.isNullAt(2))
    val badCode = Seq((1L, Seq.fill(8)(99))).toDF("id", "codes")
      .select($"id", $"codes".cast("array<int>").as("codes"))
      .withColumn("recon", Pq.decodeCol("codes", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .collect()
    assert(badCode.head.isNullAt(2) && badCode.head.isNullAt(3))
  }

  test("measured reconstruction quality on real embeddings (the honest price of 32x)") {
    val v = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val cb = Pq.fitCodebooks(v)
    val mean = Pq.reconScores(v, cb).agg(avg($"score_c")).head().getDouble(0)
    info(f"mean recon cosine: ${mean / 1e6}%.4f")
    // Not a tight bound — the corpus is near-random, the hardest case
    // for 16 codes/subspace. The gate catches sign/structure bugs
    // (a broken codebook scores ~0), not modeling quality.
    assert(mean > 300000d, s"mean recon cosine ${mean / 1e6} below 0.3")
  }

  test("two-stage ADC shortlist + exact rerank recovers >= 0.8 of exact " +
      "top-K on the clustered corpus (and never scores below plain ADC)") {
    val v = graft.queries.SimQueries.clusteredCorpus(spark, "/root/testdata/sf0.001")
    val centers = KMeans.fitCenters(v, 0L until 16L, iters = 1)
    val cb = Pq.fitCodebooks(v)
    val k = 3
    val exact = Similarity.bruteForceTopK(v, v, k)
    val adc = Similarity.ivfTopKByCentersPq(v, v, centers, cb, k, nprobe = 2)
    val rr = Similarity.rerankExact(
      Similarity.ivfTopKByCentersPq(v, v, centers, cb, k * 4, nprobe = 2),
      v, v, k)
    val adcRecall = graft.tools.RecallProbe.recallAt(exact, adc)
    val rrRecall = graft.tools.RecallProbe.recallAt(exact, rr)
    info(f"clustered recall: plain ADC $adcRecall%.3f, ADC+rerank $rrRecall%.3f")
    // Cluster members code near-identically, so plain ADC collapses
    // in-cluster ranking; the exact rerank must restore it.
    assert(rrRecall >= 0.8, s"rerank recall $rrRecall")
    assert(rrRecall >= adcRecall,
      s"rerank ($rrRecall) must not lose to plain ADC ($adcRecall)")
    // The GRAPH rerank (join-back instead of broadcast) makes the
    // same promise over the whole-corpus query side.
    val graphRr = Similarity.rerankExactGraph(
      Similarity.knnGraphTopKPq(v, centers, cb, k * 4, nprobe = 2), v, k)
    val graphRrRecall = graft.tools.RecallProbe.recallAt(exact, graphRr)
    info(f"clustered graph rerank recall: $graphRrRecall%.3f")
    assert(graphRrRecall >= 0.8, s"graph rerank recall $graphRrRecall")
  }

  test("semdedup_pq reaches the same clusters and keep set as semdedup " +
      "on the clustered corpus (the prefilter margin loses nothing)") {
    val v = graft.queries.SimQueries.clusteredCorpus(spark, "/root/testdata/sf0.001")
    val full = graft.queries.SimQueries.semDedupOver(v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val pq = graft.queries.SimQueries.semDedupPqOver(v).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    // In-cluster cosines sit ~0.99 — far above both the 0.3 SDC gate
    // and the 0.4 verify — so compression must not change verdicts.
    assert(pq.length == full.length)
    assert(pq.sameElements(full),
      s"verdicts diverge: ${pq.zip(full).filter(p => p._1 != p._2).take(5).toSeq}")
  }

  test("knnGraphTopKTwoLevelPq is bit-identical to the naive two-level x " +
      "PQ composition (carry slot + skew routing are plumbing only)") {
    // The composed index's moving parts — codes threaded through the
    // two-level ranking's carry slot, the float vector dropped before
    // the exchange, hot/cold skew routing — must not change a single
    // row vs the obvious composition: float two-level assignment,
    // codes joined back by id, plain bucket self-join, SDC scoring.
    val v = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
    val centers = KMeans.fitCenters(v, 0L until 16L, iters = 1)
    val coarseK = Similarity.coarseKFor(centers.length)
    val cb = Pq.fitCodebooks(v)
    val out = Similarity.knnGraphTopKTwoLevelPq(v, centers, coarseK, cb, 3,
      nprobe = 2)
    val bc = Pq.broadcastCodebook(v, cb)
    val idx = Similarity.buildTwoLevelIndex(centers, coarseK)
    val coded = v.withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .select($"id".as("cid"), $"codes", $"rnrm")
    val ranked = Similarity.rankedCells(v, Similarity.broadcastIndex(v, idx), 2)
      .join(coded, $"id" === $"cid")
    val probe = ranked.select($"bucket", $"id".as("q_id"),
      $"codes".as("q_codes"), $"rnrm".as("q_rnrm"))
    val res = ranked.filter($"__rn" === 1).select($"bucket",
      $"id".as("n_id"), $"codes".as("n_codes"), $"rnrm".as("n_rnrm"))
    val scored = probe.join(res, Seq("bucket"))
      .filter($"q_id" =!= $"n_id")
      .select($"q_id", $"n_id",
        Similarity.scaledFromParts(Pq.sdcDotCol("q_codes", "n_codes", bc),
          $"q_rnrm", $"n_rnrm").as("score_c"))
    val ref = Similarity.topK(scored, 3)
    assert(out.count() == ref.count() && out.count() > 0)
    assert(out.exceptAll(ref).count() == 0 && ref.exceptAll(out).count() == 0,
      "composed ivf2pq diverged from the naive composition")
  }

  test("knnGraphTopKPq emits well-formed ranked rows with PQ-scored pairs") {
    val v = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select($"vec_id".as("id"), $"embedding".as("vec"))
      .limit(200)
    val centers = KMeans.fitCenters(v, 0L until 8L, iters = 1)
    val cb = Pq.fitCodebooks(v)
    val out = Similarity.knnGraphTopKPq(v, centers, cb, 3, nprobe = 2)
      .collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.foreach { case (q, rs) =>
      val ranks = rs.map(_.getLong(1)).sorted.toSeq
      assert(ranks == (1L to ranks.length), s"ranks not dense for $q")
      val scores = rs.sortBy(_.getLong(1)).map(_.getLong(3)).toSeq
      assert(scores == scores.sorted.reverse, s"scores not descending for $q")
      assert(rs.forall(_.getLong(2) != q), s"self pair for $q")
    }
  }
}
