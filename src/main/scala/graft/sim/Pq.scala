package graft.sim

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.functions._

import graft.expressions.{PqAdcDotExpr, PqCodebook, PqDecodeExpr,
  PqEncodeExpr, PqNormExpr, PqSdcDotExpr}

/** Product-quantization training and search (see [[PqCodebook]] for
  * the data model and determinism contract).
  *
  * Training is Lloyd's over every subspace AT ONCE: one distributed
  * job per iteration (encode is a single shuffle-free projection; the
  * refinement aggregate groups by (subspace, code, position) — m x ks
  * x subDim rows, bytes on the driver), exactly the
  * [[KMeans.stepCenters]] shape. Init codes are the ks lowest-id
  * corpus rows' subvectors — named rows, like every trained index
  * here, so the SQL oracle replays training end to end.
  *
  * Scale shape: the codebook is an index parameter (m x ks x subDim
  * floats — KBs on the driver, shipped as ONE broadcast stub), encode
  * is O(m ks subDim) per row ONCE, and everything downstream of
  * encode moves m ints per vector instead of dim floats — the corpus
  * exchange narrows ~6x at m=8/dim=64 and symmetric pair scoring
  * drops from dim multiply-adds to m table lookups. */
object Pq {

  /** Default geometry for the 64-dim embeddings corpus: 8 subspaces
    * x 8 dims, 16 codes each -> 8 small ints per vector (a 64-bit
    * fingerprint with 2^32 distinct values per subspace combination)
    * against 256 bytes of floats. */
  val M = 8
  val SubDim = 8
  val Ks = 16

  def broadcastCodebook(df: DataFrame, cb: PqCodebook): Broadcast[PqCodebook] =
    df.sparkSession.sparkContext.broadcast(cb)

  // ------------------------------------------------------------ columns

  /** All column builders take attribute NAMES (the
    * [[Similarity.rankedCells]] pattern): the broadcast
    * constructor arg keeps these off the `injectFunction` registry, so
    * the Column is built directly over the raw expression. */
  def encodeCol(vec: String, bc: Broadcast[PqCodebook]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqEncodeExpr(UnresolvedAttribute(vec), bc))

  def decodeCol(codes: String, bc: Broadcast[PqCodebook]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqDecodeExpr(UnresolvedAttribute(codes), bc))

  def adcDotCol(qvec: String, codes: String, bc: Broadcast[PqCodebook]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqAdcDotExpr(UnresolvedAttribute(qvec), UnresolvedAttribute(codes), bc))

  def sdcDotCol(codesA: String, codesB: String, bc: Broadcast[PqCodebook]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqSdcDotExpr(UnresolvedAttribute(codesA), UnresolvedAttribute(codesB), bc))

  def normCol(codes: String, bc: Broadcast[PqCodebook]): Column =
    org.apache.spark.sql.graft.Bridge.column(
      PqNormExpr(UnresolvedAttribute(codes), bc))

  // ----------------------------------------------------------- training

  /** `iters` Lloyd iterations over every subspace, initialized from
    * the corpus rows with `id < ks` (dense-id corpora make those
    * valid at every SF — the same convention as
    * [[KMeans.fitCenters]]'s named init rows). Codes that attract no
    * members drop, exactly like empty k-means cells. */
  def fitCodebooks(corpus: DataFrame, m: Int = M, subDim: Int = SubDim,
      ks: Int = Ks, iters: Int = 1): PqCodebook = {
    val init = KMeans.labeled(corpus, "pq: init collect") {
      corpus.filter(col("id") < ks)
        .select(col("id"), col("vec"))
        .collect()
    }.map(r => r.getLong(0).toInt -> r.getSeq[Float](1).toArray)
      .sortBy(_._1)
    require(init.nonEmpty, s"PQ training needs corpus rows with id < $ks")
    var cb = PqCodebook.fromFullVectors(m, subDim, init)
    var i = 0
    while (i < iters) { cb = step(corpus, cb); i += 1 }
    cb
  }

  /** One Lloyd step: encode with the current codebook (one projection)
    * and recompute each present (subspace, code)'s member mean with
    * the exact-integer-sum formula ([[KMeans.stepCenters]] — order
    * independent, so task retries cannot shift a code by an ulp). */
  private def step(corpus: DataFrame, cb: PqCodebook): PqCodebook = {
    val bc = broadcastCodebook(corpus, cb)
    val rows = KMeans.labeled(corpus, "pq: lloyd step") { corpus
      .select(col("vec"), posexplode(encodeCol("vec", bc)).as(Seq("s", "code")))
      .select(col("s"), col("code"),
        posexplode(slice(col("vec"), col("s") * cb.subDim + 1, lit(cb.subDim)))
          .as(Seq("pos", "x")))
      .groupBy(col("s"), col("code"), col("pos"))
      .agg((sum(floor(col("x").cast("double") * 1e9 + 0.5d).cast("long"))
        .cast("double") / 1e9d / count(lit(1))).as("mv"))
      .collect()
    }
    val perSub = Array.fill(cb.m)(
      scala.collection.mutable.Map.empty[Int, Array[Float]])
    rows.foreach { r =>
      val s = r.getInt(0)
      val code = r.getInt(1)
      val vec = perSub(s).getOrElseUpdate(code, new Array[Float](cb.subDim))
      vec(r.getInt(2)) = r.getDouble(3).toFloat
    }
    PqCodebook(cb.m, cb.subDim, perSub.map(_.toArray.sortBy(_._1)))
  }

  // ------------------------------------------------------------- search

  /** ADC top-k: float queries (broadcast) against the PQ-compressed
    * corpus — the standard IVF-ADC search mode, here in its brute
    * form so the compression's effect on ranking is oracle-visible in
    * isolation. The corpus side carries (id, codes, rnrm) only. */
  def adcTopK(queries: DataFrame, corpus: DataFrame, cb: PqCodebook,
      k: Int): DataFrame = {
    val bc = broadcastCodebook(corpus, cb)
    val q = broadcast(queries.select(col("id").as("q_id"),
      col("vec").as("q_vec"), Similarity.norm(col("vec")).as("q_nrm")))
    val c = corpus
      .select(col("id").as("n_id"), encodeCol("vec", bc).as("n_codes"))
      .withColumn("n_rnrm", normCol("n_codes", bc))
    val scored = c.join(q, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        Similarity.scaledFromParts(adcDotCol("q_vec", "n_codes", bc),
          col("q_nrm"), col("n_rnrm")).as("score_c"))
    Similarity.topK(scored, k)
  }

  /** Per-vector reconstruction quality: the scaled cosine between
    * each vector and its PQ reconstruction (1e6 = lossless). The
    * registered query over this pins the WHOLE train/encode/decode
    * chain to the oracle, row by row. */
  def reconScores(corpus: DataFrame, cb: PqCodebook): DataFrame = {
    val bc = broadcastCodebook(corpus, cb)
    corpus
      .select(col("id"), col("vec"), Similarity.norm(col("vec")).as("nrm"))
      .withColumn("codes", encodeCol("vec", bc))
      .select(col("id"),
        Similarity.scaledFromParts(adcDotCol("vec", "codes", bc),
          col("nrm"), normCol("codes", bc)).as("score_c"))
  }
}
