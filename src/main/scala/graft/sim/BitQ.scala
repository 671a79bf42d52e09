package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Binary (1-bit-per-dimension) quantization search — the RaBitQ
  * estimator family (Gao & Long, "RaBitQ: Quantizing High-Dimensional
  * Vectors with a Theoretical Error Bound for Approximate Nearest
  * Neighbor Search", SIGMOD 2024) as the narrower-still sibling of
  * [[Pq]]:
  *
  *  - the corpus side of every exchange carries (id, code BIGINT,
  *    bsum DOUBLE, nrm DOUBLE) — 24 bytes of payload per vector
  *    against PQ's m small ints and the float path's dim·4 bytes
  *    (~10× narrower than floats at dim=64, and denser than PQ);
  *  - the quantizer is TRAINING-FREE: encoding is one shuffle-less
  *    projection (deterministic Rademacher rotation + sign bits + one
  *    fold), no Lloyd pass over the corpus and no broadcast codebook
  *    — at 100 TB that deletes the index-build aggregation jobs PQ
  *    pays before its first query;
  *  - code-space scoring is RaBitQ's unbiased cosine ESTIMATE, not a
  *    raw Hamming proxy: est(q, x) = <D·q, sgn(D·x)>·‖x‖ /
  *    (bsum(x)·‖q‖), where the per-vector correction bsum(x) =
  *    <D·x, sgn(D·x)> rescales each vector's own quantization
  *    coarseness (the paper's <x̂, ō> denominator, √D factors
  *    cancelled). A self-pair therefore scores exactly 1e6 — the
  *    invariant BitQSpec pins.
  *
  * Exact-replay discipline: the rotation signs come from the portable
  * md5 rule ([[Similarity.srpSign]], salt-isolated), every product in
  * the estimator is an IEEE-exact sign flip, and the only rounding
  * sequences — the two ascending-index folds and the final
  * floor(·×1e6+0.5) — are performed identically by the DuckDB oracle,
  * so the registered rows hash-match end to end.
  */
object BitQ {

  /** Salt isolating the BQ rotation from the SRP hyperplane draw. */
  val Salt = "bq"

  /** The embeddings corpus dimensionality — also the hard ceiling of
    * this code layout (sign bits of one vector must fit a BIGINT).
    * Wider corpora take ceil(dim/64) code words; that variant is not
    * needed for the 64-dim bench corpus. */
  val Dim = 64

  /** The deterministic Rademacher diagonal as ±1.0 doubles. */
  def signs(dim: Int = Dim): Seq[Double] =
    (0 until dim).map(i => Similarity.srpSign(Salt, 0, 0, i).toDouble)

  /** Rotated copy of a float vector column, as array<double>: element
    * i is the IEEE-exact `CAST(vec[i] AS DOUBLE) * D_i`. Applied to
    * the QUERY side only (queries are few); the corpus side folds the
    * rotation into [[encodeCol]]'s single pass. */
  def rotatedCol(vec: Column, dim: Int = Dim): Column = {
    val s = typedlit(signs(dim))
    zip_with(vec, s, (x, y) => x.cast("double") * y)
  }

  /** struct<code: bigint, bsum: double> — sign-bit code plus the
    * RaBitQ correction sum, one projection pass
    * ([[graft.expressions.BqEncodeExpr]]). */
  def encodeCol(vec: Column, dim: Int = Dim): Column =
    call_function("graft_bq_encode", vec, lit(Salt), lit(dim))

  /** <rotated query, sign direction of code> — the ascending-index
    * fold Σ_i rvec_i·(bit_i ? +1 : −1)
    * ([[graft.expressions.BqDotExpr]], codegen'd pair-scoring hot
    * path). */
  def bqDot(rvec: Column, code: Column): Column =
    call_function("graft_bq_dot", rvec, code)

  /** The scaled-BIGINT cosine estimate:
    * floor(bqdot·‖x‖ / (bsum·‖q‖) · 1e6 + 0.5). Mirrors
    * [[Similarity.scaledFromParts]]'s rounding so BQ scores and exact
    * scores live on the same integer scale. */
  def scaledEst(bqdot: Column, bsum: Column, qnrm: Column,
      xnrm: Column): Column =
    floor(bqdot * xnrm / (bsum * qnrm) * 1e6 + 0.5d)

  /** The encoded corpus side shared by both searches: (id, code,
    * bsum, nrm) — the whole resident index payload. Rows whose
    * correction sum is 0 (the all-zero vector — no sign direction,
    * and a division-by-zero whose Infinity/NULL semantics differ
    * between engines) are unindexable and dropped, loudly mirrored by
    * the oracle's `WHERE bsum > 0`. */
  private def encoded(corpus: DataFrame): DataFrame =
    corpus
      .withColumn("bq", encodeCol(col("vec")))
      .select(col("id"), col("bq.code").as("code"),
        col("bq.bsum").as("bsum"), Similarity.norm(col("vec")).as("nrm"))
      .filter(col("bsum") > 0d)

  /** Brute BQ top-k: float queries (broadcast, pre-rotated once)
    * against the bit-coded corpus — [[Pq.adcTopK]]'s shape with a
    * 1-word code instead of an m-int array and NO broadcast codebook.
    * Compression's effect on ranking in isolation, diffable against
    * the exact [[Similarity.bruteForceTopK]] row and the PQ row. */
  def bqTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(queries.select(col("id").as("q_id"),
      rotatedCol(col("vec")).as("q_rv"),
      Similarity.norm(col("vec")).as("q_nrm")))
    val c = encoded(corpus).select(col("id").as("n_id"), col("code"),
      col("bsum"), col("nrm").as("n_nrm"))
    val scored = c.join(q, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledEst(bqDot(col("q_rv"), col("code")), col("bsum"),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    Similarity.topK(scored, k)
  }

  /** IVF blocking + BQ scoring ([[Similarity.ivfTopKByCentersPq]]'s
    * shape): corpus cells from the shuffle-free trained-center
    * assignment, the bucket exchange carrying only (bucket, id, code,
    * bsum, nrm), queries probing their `nprobe` ranked cells with the
    * pre-rotated float vector. The production use is as the shortlist
    * stage under an exact re-rank ([[Similarity.rerankExact]]). */
  def ivfTopKByCentersBq(queries: DataFrame, corpus: DataFrame,
      centers: Array[(Long, Array[Float])], k: Int,
      nprobe: Int = 1): DataFrame = {
    val index = Similarity.broadcastIndex(corpus,
      graft.expressions.CenterSet(centers))
    val cB = Similarity.assignByIndex(corpus, index)
      .withColumn("bq", encodeCol(col("vec")))
      .select(col("bucket"), col("id").as("n_id"),
        col("bq.code").as("code"), col("bq.bsum").as("bsum"),
        col("nrm").as("n_nrm"))
      .filter(col("bsum") > 0d)
    val qB = Similarity.rankedCells(queries, index, nprobe)
      .select(col("bucket"), col("id").as("q_id"),
        rotatedCol(col("vec")).as("q_rv"), col("nrm").as("q_nrm"))
    val scored = broadcast(qB).join(cB, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledEst(bqDot(col("q_rv"), col("code")), col("bsum"),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    Similarity.topK(scored, k)
  }
}
