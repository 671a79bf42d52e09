package graft.sim

import graft.expressions.{CenterIndex, CenterSet, TwoLevelIndex}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge

/** Similarity search over an embedding column (`array<float>`).
  *
  * Float math is done in DOUBLE with an explicit left-fold
  * (`aggregate` over `zip_with`) so the result is bit-identical to a
  * DuckDB `list_reduce` over the same element order — which is what
  * lets the ANN queries be oracle-checked exactly (scores are then
  * rounded to integer millionths, so even a last-ulp disagreement
  * would need to land exactly on a rounding boundary to matter).
  *
  * Two search paths:
  *  - [[bruteForceTopK]]: exact top-k; cost O(|queries| x |corpus|)
  *    with the query side broadcast — the correctness baseline, and
  *    the right plan when |queries| is small.
  *  - [[ivfTopKByCenters]]: IVF-style bucketing — assign every vector
  *    to its nearest driver-side center (|centers| ~ sqrt(n), one
  *    broadcast [[CenterIndex]]), search only the query's bucket:
  *    O(n/k) work per query at recall < 1. This is the 100 TB path:
  *    the corpus is shuffled once by center id and each probe touches
  *    one partition-local bucket.
  */
object Similarity {

  /** Double left-fold dot product — the native [[graft.expressions.DotExpr]]
    * (bit-identical to the `aggregate`/`zip_with` builtin formulation,
    * which evaluates interpreted and dominated the ANN pair-scoring
    * cost; see ExpressionsSpec for the bit-equality proof). */
  def dot(a: Column, b: Column): Column = call_function("graft_dot", a, b)

  def norm(a: Column): Column = sqrt(call_function("graft_dot", a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Cosine scaled to integer millionths (canonical BIGINT output). */
  def cosineScaled(a: Column, b: Column): Column =
    floor(cosine(a, b) * 1e6 + 0.5d)

  /** Scaled cosine from a precomputed dot and per-vector norms. The
    * expression tree (`dot / (sqrt(na)*sqrt(nb))`) is identical to
    * [[cosineScaled]], so results are bit-equal — but the norms are
    * computed once per VECTOR instead of twice per PAIR, which removes
    * two thirds of the fold work in every pairwise scorer below. */
  def scaledFromParts(dotC: Column, normA: Column, normB: Column): Column =
    floor(dotC / (normA * normB) * 1e6 + 0.5d)

  /** Attach the precomputed norm: (prefix_id, prefix_vec, prefix_nrm),
    * plus any `carry` columns passed through unprefixed. */
  private def withNorm(df: DataFrame, prefix: String,
      carry: Seq[String] = Nil): DataFrame =
    df.select(Seq(col("id").as(s"${prefix}id"), col("vec").as(s"${prefix}vec"),
      norm(col("vec")).as(s"${prefix}nrm")) ++ carry.map(col): _*)

  private[sim] def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("score_c").desc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("rank").cast("long").as("rank"),
        col("n_id"), col("score_c"))
  }

  /** Exact top-k neighbours per query vector. `queries` and `corpus`
    * both carry (id, vec); queries are broadcast. */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(queries, "q_"))
    val scored = withNorm(corpus, "n_")
      .join(q, col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    topK(scored, k)
  }

  /** Ship a center index to the executors once. Ranking projections
    * compare their index by HANDLE, not by content, so two ranking
    * calls whose subtrees must canonicalize equal (exchange reuse)
    * must take the same broadcast — build it once and pass it to both. */
  def broadcastIndex(df: DataFrame, index: CenterIndex): Broadcast[CenterIndex] =
    df.sparkSession.sparkContext.broadcast(index)

  /** Shuffle-free center ranking against a DRIVER-SIDE index (the
    * spark.ml pattern — k·dim floats are bytes, not data): per row,
    * ONE native [[graft.expressions.RankCentersExpr]] eval ranks the
    * broadcast index and keeps the top `nearest` cells — flat
    * ([[CenterSet]]) or coarse-then-fine ([[TwoLevelIndex]]). A pure
    * projection — no join, no window, no exchange — with the
    * (score desc, center id asc) tie-break. Returns (id, vec, nrm,
    * carry..., bucket, __rn 1-based); `carry` columns ride through
    * unprefixed (the IVFPQ composition threads precomputed codes
    * through them so encoding is not re-run per probe). */
  private[graft] def rankedCells(vectors: DataFrame,
      index: Broadcast[CenterIndex], nearest: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val carryCols = carry.map(col)
    withNorm(vectors, "", carry)
      .withColumn("__top", Bridge.column(graft.expressions.RankCentersExpr(
        UnresolvedAttribute("vec"), UnresolvedAttribute("nrm"), index, nearest)))
      .select(Seq(col("id"), col("vec"), col("nrm")) ++ carryCols :+
        posexplode(col("__top")).as(Seq("__pos", "bucket")): _*)
      .select(Seq(col("id"), col("vec"), col("nrm")) ++ carryCols ++ Seq(
        col("bucket"), (col("__pos") + 1).as("__rn")): _*)
  }

  /** Rank-1 assignment over a shipped index: (id, vec, nrm, bucket),
    * one row per vector (none when a two-level vector's coarse group
    * is empty). The precomputed norm rides along so pairwise scorers
    * over the assignment don't recompute it per pair. */
  def assignByIndex(vectors: DataFrame, index: Broadcast[CenterIndex]): DataFrame =
    rankedCells(vectors, index, 1)
      .select(col("id"), col("vec"), col("nrm"), col("bucket"))

  /** Nearest-center assignment from driver-side centers — see
    * [[assignByIndex]]; ships its own broadcast. */
  def assignByCenters(vectors: DataFrame,
      centers: Array[(Long, Array[Float])]): DataFrame =
    assignByIndex(vectors, broadcastIndex(vectors, CenterSet(centers)))

  /** A rank-1 assigner holding ONE broadcast of `index` (made from the
    * active session): every frame it assigns — base and delta of an
    * incremental index, resident and streamed side of a probe — ranks
    * the same handle. */
  private[graft] def assignerOver(index: CenterIndex): DataFrame => DataFrame = {
    val bc = SparkSession.active.sparkContext.broadcast(index)
    df => assignByIndex(df, bc)
  }

  /** IVF search against DRIVER-SIDE trained centers: corpus cells and
    * query probes both come from the shuffle-free [[rankedCells]]
    * projection over one broadcast (|centers| is an index parameter —
    * bytes on the driver — never a function of corpus size), so the
    * only exchange is the bucket-keyed join itself, and the tiny query
    * side broadcasts. */
  def ivfTopKByCenters(queries: DataFrame, corpus: DataFrame,
      centers: Array[(Long, Array[Float])], k: Int,
      nprobe: Int = 1): DataFrame = {
    val index = broadcastIndex(corpus, CenterSet(centers))
    val cB = assignByIndex(corpus, index)
      .select(col("bucket"), col("id").as("n_id"), col("vec").as("n_vec"),
        col("nrm").as("n_nrm"))
    val qB = rankedCells(queries, index, nprobe)
      .select(col("bucket"), col("id").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm"))
    val scored = broadcast(qB).join(cB, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    topK(scored, k)
  }

  /** [[ivfTopKByCenters]] with a PQ-compressed corpus side — the
    * full IVFADC search mode (Jegou et al. 2011): queries stay FLOAT
    * (they are few and precision matters on the query side), the
    * corpus side joins as (bucket, id, codes, rnrm) — never a float
    * vector — and candidates score via the asymmetric ADC kernel.
    * At scale this is the memory story of a deployed IVF index: the
    * resident corpus side is ~m ints per vector instead of dim
    * floats, so ~6x more index fits the same executors. */
  def ivfTopKByCentersPq(queries: DataFrame, corpus: DataFrame,
      centers: Array[(Long, Array[Float])],
      cb: graft.expressions.PqCodebook, k: Int,
      nprobe: Int = 1): DataFrame = {
    val bc = Pq.broadcastCodebook(corpus, cb)
    val index = broadcastIndex(corpus, CenterSet(centers))
    val cB = assignByIndex(corpus, index)
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .select(col("bucket"), col("id").as("n_id"),
        col("codes").as("n_codes"), col("rnrm").as("n_rnrm"))
    val qB = rankedCells(queries, index, nprobe)
      .select(col("bucket"), col("id").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm"))
    val scored = broadcast(qB).join(cB, Seq("bucket"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(Pq.adcDotCol("q_vec", "n_codes", bc),
          col("q_nrm"), col("n_rnrm")).as("score_c"))
    topK(scored, k)
  }

  /** Exact re-rank of an ANN shortlist — the second stage of the
    * classic two-stage compressed search (ADC shortlist of k' >> k,
    * then float cosine over the survivors): `shortlist` carries
    * (q_id, n_id); queries broadcast; the float corpus is touched
    * only for |q| x k' candidate rows, never in the quadratic stage.
    * This recovers the ranking precision quantization collapses —
    * near-tied candidates (e.g. a tight cluster) score identically
    * in code space, and the exact pass breaks those ties with the
    * true cosine. */
  def rerankExact(shortlist: DataFrame, queries: DataFrame,
      corpus: DataFrame, k: Int): DataFrame = {
    val q = broadcast(withNorm(queries, "q_"))
    val pairs = broadcast(shortlist.select(col("q_id"), col("n_id"))
      .join(q, Seq("q_id")))
    val scored = withNorm(corpus, "n_").join(pairs, Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    topK(scored, k)
  }

  /** The GRAPH form of [[rerankExact]]: when the query side is the
    * whole corpus (kNN graph), the shortlist is corpus-sized and must
    * NOT broadcast — both float fetches are id-keyed equi-joins
    * (|V|·k' rows, linear) and the final top-k window partitions by
    * q_id (corpus-cardinality keys — no hot partition). */
  def rerankExactGraph(shortlist: DataFrame, corpus: DataFrame,
      k: Int): DataFrame = {
    val vn = withNorm(corpus, "")
    val scored = shortlist.select(col("q_id"), col("n_id"))
      .join(vn.select(col("id").as("q_id"), col("vec").as("q_vec"),
        col("nrm").as("q_nrm")), Seq("q_id"))
      .join(vn.select(col("id").as("n_id"), col("vec").as("n_vec"),
        col("nrm").as("n_nrm")), Seq("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c"))
    topK(scored, k)
  }

  /** Deterministic ±1 hyperplane component for [[srpNearDuplicates]],
    * derived from the same md5 construction as
    * [[graft.text.TextFunctions.portableHash]] (md5 is identical in
    * the JVM and DuckDB; 15 hex digits fit a positive long), so a SQL
    * oracle can regenerate the exact hyperplanes relationally. */
  def srpSign(salt: String, band: Int, plane: Int, dim: Int): Float = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$salt:$band:$plane:$dim".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    if (java.lang.Long.parseLong(hex.take(15), 16) % 2 == 0) 1f else -1f
  }

  /** ENGINE-CHOSEN SRP resolution — the sf1 soak's lesson ("the
    * banding constant was the tunable") codified as a rule: the
    * bucket-local pair count is quadratic in expected occupancy
    * n / 2^planes, so the engine grows planes with log2(n) to PIN
    * occupancy instead of letting it drift with corpus size. The rule
    * is integer-exact — smallest p with (n >> p) <= targetOccupancy,
    * floored at `minPlanes`, capped at 62 (bucket bits must fit a
    * long) — so a SQL oracle replays it bit-identically from count(*)
    * (no float log2 whose ulp could straddle a boundary). Calibration:
    * the proven sf1 setting (10 planes for the 200k-vector augmented
    * corpus) is exactly planesFor(200000) at the default occupancy. */
  def planesFor(n: Long, targetOccupancy: Long = 256L,
      minPlanes: Int = 4): Int = {
    require(n >= 0, s"n must be >= 0, got $n")
    require(targetOccupancy >= 1,
      s"targetOccupancy must be >= 1, got $targetOccupancy")
    require(minPlanes >= 1 && minPlanes <= 62,
      s"minPlanes in [1, 62], got $minPlanes")
    val p = (0 to 62).find(p => (n >> p) <= targetOccupancy).getOrElse(62)
    math.max(minPlanes, p)
  }

  /** (id, vec, nrm, band, bkt) — one row per vector per band, bucket =
    * the band's `planes` projection sign bits. A pure projection over
    * literal hyperplanes: no training pass, no shuffle — and ONE scan:
    * every band's bucket is computed in the same pass and exploded to
    * (band, bkt) rows, instead of unioning one corpus scan per band
    * (the pre-round-11 form read the corpus `bands` times; same rows,
    * bit for bit — the per-band sign arithmetic is unchanged).
    * `onePass = false` keeps that per-band union as the reference form
    * the one-pass form is tested against (SCALE.md has the measured
    * gap); every production caller takes the default. */
  def srpBuckets(vectors: DataFrame, dim: Int, bands: Int, planes: Int,
      salt: String, onePass: Boolean = true): DataFrame = {
    require(planes <= 62, "bucket bits must fit a long")
    def bandBucket(b: Int) = (0 until planes).map { p =>
      val signs = typedlit((0 until dim).map(i => srpSign(salt, b, p, i)))
      when(dot(col("vec"), signs) > 0d, lit(1L << p)).otherwise(lit(0L))
    }.reduce(_ + _)
    if (onePass) {
      // ONE corpus scan; all band buckets from a single expression
      // eval per row (SrpBucketsExpr — the composed bands x planes
      // DotExpr columns blew the JIT's huge-method limit and ran
      // interpreted, 17x slower; see the expression's scaladoc).
      // nrm is computed BELOW the Generate, once per input row.
      val bandBkts = call_function("graft_srp_buckets", col("vec"),
        lit(salt), lit(bands), lit(planes), lit(dim))
      vectors.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
        .select(col("id"), col("vec"), col("nrm"),
          posexplode(bandBkts).as(Seq("band", "bkt")))
        .select(col("id"), col("vec"), col("nrm"),
          col("band").cast("int").as("band"), col("bkt"))
    } else {
      val vn = vectors.select(col("id"), col("vec"), norm(col("vec")).as("nrm"))
      (0 until bands).map { b =>
        vn.withColumn("band", lit(b)).withColumn("bkt", bandBucket(b))
      }.reduce(_ unionByName _)
    }
  }

  /** Banded signed-random-projection LSH near-duplicate pairs — the
    * TRAINING-FREE blocking alternative to trained-cell (IVF)
    * assignment: each of `bands` hash tables maps a vector to a
    * `planes`-bit bucket (bit p = sign of the dot product with a fixed
    * ±1 hyperplane), vectors similar enough collide in at least one
    * band with high probability, and only in-bucket pairs are scored
    * exactly (kept at cosine ≥ minScoreC millionths).
    *
    * Collision math (Goemans–Williamson): two vectors at angle θ agree
    * on one sign bit with probability 1 − θ/π, so
    * P[pair collides] = 1 − (1 − (1−θ/π)^planes)^bands. Banding is
    * built for the HIGH-similarity regime real dedup targets — at
    * cosine 0.95, 2×6 bits catch ~73% and 4×6 ~93%; at cosine 0.4 the
    * same tables catch ~12%, which is why a LOW verify threshold needs
    * either more bands or the IVF path. `planes` is the index
    * parameter that must grow ~log₂(n) with corpus size to keep
    * in-bucket populations bounded.
    *
    * Scale shape: the signature is a PURE PROJECTION over literal
    * hyperplanes — no training job, no centers to ship; the corpus
    * shuffles once per band by (band, bucket); nothing is all-pairs.
    * Skew hazard: a dense direction in the corpus concentrates one
    * bucket, and the in-bucket self-join is quadratic in bucket size.
    * Two defenses compose: more `planes` bounds the EXPECTED
    * occupancy (each bit halves it — [[planesFor]]), and the pair
    * join itself sub-splits any bucket past
    * [[graft.etl.Skew.SelfJoinCap]] residents
    * ([[graft.etl.Skew.selfPairsByBucket]]), so a clustered corpus's
    * hot bucket parallelizes instead of serializing one task. */
  def srpNearDuplicates(vectors: DataFrame, dim: Int, bands: Int,
      planes: Int, minScoreC: Long, salt: String = "srp"): DataFrame =
    selfPairsByBucket(srpBuckets(vectors, dim, bands, planes, salt),
        Seq("band", "bkt"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        scaledFromParts(dot(col("vec_a"), col("vec_b")),
          col("nrm_a"), col("nrm_b")).as("score_c"))
      // A pair colliding in several bands scores identically each time.
      .distinct()
      .filter(col("score_c") >= minScoreC)

  /** SRP-bucketed top-k search — the TRAINING-FREE ANN variant:
    * candidates are corpus vectors sharing any band bucket with the
    * query, scored exactly, top-k per query. Recall follows the same
    * banding math as [[srpNearDuplicates]] — high-cosine neighbours
    * collide w.h.p.; distant ones mostly don't, which is the filter.
    * A query whose buckets hold no other vector emits nothing (the
    * recall<1 honesty of any blocked ANN; [[bruteForceTopK]] is the
    * exact baseline). Queries broadcast; the corpus never all-pairs. */
  def srpTopK(queries: DataFrame, corpus: DataFrame, dim: Int, bands: Int,
      planes: Int, k: Int, salt: String = "srp"): DataFrame = {
    val c = srpBuckets(corpus, dim, bands, planes, salt)
      .select(col("band"), col("bkt"), col("id").as("n_id"),
        col("vec").as("n_vec"), col("nrm").as("n_nrm"))
    val q = srpBuckets(queries, dim, bands, planes, salt)
      .select(col("band"), col("bkt"), col("id").as("q_id"),
        col("vec").as("q_vec"), col("nrm").as("q_nrm"))
    val scored = broadcast(q).join(c, Seq("band", "bkt"))
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c"))
      .distinct() // multi-band collisions score identically
    topK(scored, k)
  }

  /** SRP-bucketed kNN graph — every vector's top-k neighbours among
    * its band-bucket collisions, the training-free sibling of
    * [[knnGraphTopK]]: no broadcast side (unlike [[srpTopK]], both
    * join sides are the corpus), the self-join's two subtrees share
    * the one (band, bucket) exchange, and per-query ranking windows
    * over q_id (corpus-cardinality keys — no hot partition). A vector
    * whose buckets hold no other vector emits no rows (blocked-ANN
    * recall honesty; [[knnGraphExact]] is the exact baseline). */
  def srpKnnGraph(corpus: DataFrame, dim: Int, bands: Int, planes: Int,
      k: Int, salt: String = "srp"): DataFrame = {
    val scored = selfPairsByBucket(
        srpBuckets(corpus, dim, bands, planes, salt),
        Seq("band", "bkt"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a").as("q_id"), col("id_b").as("n_id"),
        scaledFromParts(dot(col("vec_a"), col("vec_b")),
          col("nrm_a"), col("nrm_b")).as("score_c"))
      .distinct() // multi-band collisions score identically
    topK(scored, k)
  }

  /** Exact all-pairs kNN graph with the candidate matrix COLLECTED to
    * the driver, shipped as one broadcast [[CenterSet]] and evaluated by
    * the native [[graft.expressions.KnnTopKExpr]] (the same
    * [[CenterSet.top]] kernel as cell ranking): the corpus is scanned once and
    * each row's top-k neighbours come out of ONE expression eval —
    * no |n|² pair rows are ever materialized, no 64M-row window sort
    * (the join+window formulation moved ~600 bytes per PAIR; this
    * moves k struct rows per VECTOR). Scores and tie-breaks are
    * bit-identical to [[bruteForceTopK]] (differential-tested).
    *
    * Scale envelope: exact all-pairs requires one side in memory by
    * definition — same constraint the broadcast join had, made
    * explicit. The candidate matrix is k·dim floats (8k x 64 = 2 MB);
    * beyond broadcastable corpus sizes, exact kNN is the wrong tool
    * and [[knnGraphTopK]] (trained IVF cells) is the scale path. */
  def knnGraphExact(corpus: DataFrame, k: Int,
      maxCollectRows: Long = 100000L): DataFrame = {
    // Loud, early, named guard: this is the declared exact-baseline
    // envelope — it collects the WHOLE corpus to the driver. Pointing
    // it at a non-broadcastable corpus must fail with the scale-path
    // pointer, not an opaque driver OOM mid-collect.
    val n = corpus.count()
    if (n > maxCollectRows) throw new IllegalArgumentException(
      s"knnGraphExact collects the whole corpus to the driver " +
        s"($n rows > guard $maxCollectRows) — it is the exact-baseline " +
        "envelope for small corpora. Use knnGraphTopK (IVF cells) or " +
        "srpKnnGraph (SRP banding) at scale, or raise maxCollectRows " +
        "deliberately.")
    val cand = CenterSet(corpus.select(col("id"), col("vec")).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray))
    val bc = corpus.sparkSession.sparkContext.broadcast(cand)
    withNorm(corpus, "")
      .select(col("id").as("q_id"),
        posexplode(Bridge.column(graft.expressions.KnnTopKExpr(
          UnresolvedAttribute("vec"), UnresolvedAttribute("nrm"),
          UnresolvedAttribute("id"), bc, k)))
          .as(Seq("__pos", "__t")))
      .select(col("q_id"), (col("__pos") + 1).cast("long").as("rank"),
        col("__t.n_id").as("n_id"), col("__t.score_c").as("score_c"))
  }

  /** Self-kNN over the whole corpus via IVF cells: every vector is
    * both query and candidate, so the centroid scoring is done ONCE —
    * rank-1 rows are the (disjoint) cell assignment, ranks <= nprobe
    * the probe fan-out. Because cells are disjoint, a (q, n) pair can
    * only surface in the single cell that owns n — no dedup needed.
    * Cell ranking is the shuffle-free [[rankedCells]] projection, so
    * the whole plan is: one corpus scan, one bucket-keyed self-join,
    * one top-k window — O(n·k) projection work + O(n²·nprobe/k) in-cell
    * pair scores against the brute pass's O(n²). */
  def knnGraphTopK(corpus: DataFrame, centers: Array[(Long, Array[Float])],
      k: Int, nprobe: Int = 1): DataFrame =
    knnFromRanked(rankedCells(corpus,
      broadcastIndex(corpus, CenterSet(centers)), nprobe), k)

  /** In-cell search tasks are capped at this resident population:
    * a cell of pop p costs O(p²) pair scores, and one over-populated
    * cell serializes that work in a single task (measured at sf10:
    * the two-level index's 4645-resident cell vs a 1060 flat max —
    * the straggler behind its 2.2× tail). Cells above the cap split
    * into ceil(pop/cap) parts — the manual analog of AQE's skew-join
    * partition split, which AQE skips here because the bucket
    * exchange is user-specified. Results are bit-identical
    * (partitioning only; differential-tested). */
  private[graft] val CellSplitCap = graft.etl.Skew.SelfJoinCap

  /** Shared self-kNN tail over a ranked-assignment frame
    * (id, vec, nrm, bucket, __rn): one explicit exchange by cell,
    * then a skew-routed self-join.
    *
    * ONE rank-projection, by construction: the per-cell resident
    * count that drives skew routing is a WINDOW over the exchanged
    * frame (`partitionBy(bucket)` is satisfied by the explicit
    * exchange — no second shuffle, no separate aggregate subtree),
    * so every consumer below sits on an exchange whose child is the
    * SAME scan + center-ranking projection with the SAME column set.
    * Identical canonical subtrees are what exchange reuse keys on —
    * the expensive |centers|·dim-per-row ranking runs once and the
    * shuffle output is read by all consumers (plan-audited: one
    * REPARTITION_BY_COL exchange in the whole plan).
    *
    * Skew handling — HOT/COLD routing on `__s = ceil(pop/cap)`. Rows
    * of cells at/under the cap (in practice almost all of the
    * corpus) take the original bucket-keyed self-join: both sides
    * read the one exchange, so the pair stream is byte-for-byte the
    * unsplit plan's and needs NO further shuffle. Rows of an
    * over-cap cell route to the split join: residents partition into
    * `__s` parts by a hash of their id, every probe of that cell
    * replicates to each part (`explode(sequence)`), so each
    * (probe, resident) pair is produced exactly once — in the
    * resident's part — and the hot cell's O(p²) work lands on
    * ceil(p/cap) parallel tasks instead of one serialized straggler.
    * Only hot-cell rows pay the (bucket, part) re-exchange and the
    * probe fan-out — shuffle proportional to the skew, not to the
    * corpus. Results are bit-identical either way (partitioning
    * only; differential-tested with a forced tiny cap). */
  private[graft] def knnFromRanked(rankedRaw: DataFrame, k: Int,
      cellCap: Int = CellSplitCap): DataFrame =
    knnFromRankedPayload(rankedRaw, k, Seq("vec", "nrm"), joined => joined
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(dot(col("q_vec"), col("n_vec")),
          col("q_nrm"), col("n_nrm")).as("score_c")),
      cellCap)

  /** Payload-generic form of [[knnFromRanked]]: `rankedRaw` carries
    * (id, payload..., bucket, __rn), probe/resident sides rename the
    * payload to `q_`/`n_` prefixes, and `scoreJoined` turns the
    * joined pair frame into (q_id, n_id, score_c). The float-vector
    * tail passes ("vec", "nrm") + cosine; the PQ tail passes
    * ("codes", "rnrm") + the LUT scorer — same exchange, same skew
    * routing, column sets differ only in the payload. */
  private[sim] def knnFromRankedPayload(rankedRaw: DataFrame, k: Int,
      payload: Seq[String], scoreJoined: DataFrame => DataFrame,
      cellCap: Int = CellSplitCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // greatest(..., 1): a cell can attract probe rows while owning
    // zero residents; its pairs are empty either way, but __s = 0
    // would make the probe fan-out sequence degenerate.
    //
    // PINNED once (eager checkpoint): the ranked+windowed frame has
    // FOUR consumers below (cold/hot x probe/resident). Exchange
    // reuse deduplicated the bucket exchange, but everything ABOVE it
    // — this count-per-cell window — still executed once per
    // consumer subtree (4 corpus-sized window passes at scale), and
    // the optimizer/AQE re-walked the 4-way duplicated tree at every
    // stage boundary, which is exactly the measured ~1 s driver
    // planning gap between training and the first pair job on the
    // trained-ANN rows. The pin computes exchange + window ONCE and
    // hands consumers a partitioning-preserving leaf (checkpoint
    // keeps hash(bucket, n), so the cold self-join still needs no
    // exchange — plan-audited). Storage discipline per
    // [[graft.graph.PageRank]]: the frame is corpus-sized, so blocks
    // go DISK_ONLY, never competing with execution heap; reliable
    // checkpoint when a checkpoint dir is configured (cluster),
    // localCheckpoint otherwise.
    // EXPLICIT width W (the session shuffle conf — 32 locally, a
    // cluster sets its own), not the keyless AQE-coalesced form: the
    // pin below re-declares the checkpointed blocks' partitioning so
    // the cold self-join plans exchange-free on BOTH sides, and that
    // only composes when the declared partitioning is a plain
    // hash(bucket, W) — AQE's coalesced form (CoalescedHashPartitioning
    // with run-specific boundaries) satisfies a single side's
    // clustering but can never co-partition against anything a
    // downstream exchange produces, so EnsureRequirements re-shuffled
    // the corpus-sized pinned frame once per join side (measured on
    // knn_graph_ivf: 2 extra corpus exchanges). Same explicit-width
    // discipline as [[graft.graph.PageRank]]'s edge cache.
    val pinWidth = rankedRaw.sparkSession.conf
      .get("spark.sql.shuffle.partitions", "32").toInt
    val withSPlan = rankedRaw.repartition(pinWidth, col("bucket"))
      .withColumn("__s", greatest(ceil(
        count(when(col("__rn") === 1, 1))
          .over(Window.partitionBy(col("bucket")))
          .cast("double") / cellCap).cast("int"), lit(1)))
    // The pin PRESERVES the bucket hash partitioning
    // ([[org.apache.spark.sql.graft.Bridge.pinPartitioned]] — a plain
    // checkpoint degrades to UnknownPartitioning and would re-insert
    // the bucket exchange the plan exists to share), so the cold
    // self-join below still plans exchange-free on both sides.
    val withS = org.apache.spark.sql.graft.Bridge.pinPartitioned(
      withSPlan, org.apache.spark.storage.StorageLevel.DISK_ONLY)

    def qCols: Seq[Column] =
      col("id").as("q_id") +: payload.map(c => col(c).as(s"q_$c"))
    def nCols: Seq[Column] =
      col("id").as("n_id") +: payload.map(c => col(c).as(s"n_$c"))

    // Exchange reuse keys on canonical subtree equality, and column
    // pruning breaks it silently: the cells side consumes __rn (the
    // resident filter) while the probes side doesn't, so pruning
    // would push a NARROWER projection under the probes' copy of the
    // exchange and the two subtrees stop canonicalizing equal — the
    // scan + center ranking would then run once per consumer. The
    // probe filter `__rn >= 1` is true by construction (ranks start
    // at 1) but not provable by the optimizer, so it survives and
    // pins __rn into the probes' column set. Plan-audited, so a
    // future optimizer that learns to prove it will fail the audit
    // loudly rather than regress quietly.
    val probeRows = withS.filter(col("__rn") >= 1)

    // Cold path: both sides are filters over the shared bucket
    // exchange — zero additional shuffle.
    val cold = col("__s") === 1
    val coldScored = scoreJoined(
      probeRows.filter(cold)
        .select(col("bucket") +: qCols: _*)
        .join(withS.filter(cold && col("__rn") === 1)
          .select(col("bucket") +: nCols: _*),
          Seq("bucket")))

    // Hot path: over-cap cells only (a small row subset).
    val hot = col("__s") > 1
    val hotScored = scoreJoined(
      probeRows.filter(hot)
        .select(col("bucket") +:
          explode(sequence(lit(0), col("__s") - 1)).as("__part") +: qCols: _*)
        .join(withS.filter(hot && col("__rn") === 1)
          .select(col("bucket") +:
            pmod(xxhash64(col("id")), col("__s").cast("long")).cast("int")
              .as("__part") +: nCols: _*),
          Seq("bucket", "__part")))

    topK(coldScored.unionByName(hotScored), k)
  }

  /** The symmetric pair generator, vector-payload form — see
    * [[graft.etl.Skew.selfPairsByBucket]] for the full contract
    * (single materialized exchange, hot/cold skew routing,
    * bit-identical to the naive bucket self-join). */
  private[graft] def selfPairsByBucket(frame: DataFrame, keys: Seq[String],
      cap: Int = CellSplitCap): DataFrame =
    graft.etl.Skew.selfPairsByBucket(frame, keys, Seq("id", "vec", "nrm"), cap)

  /** Driver-side norm — the same ascending-index double fold as
    * [[norm]]/[[graft.expressions.DotExpr]]. */
  private[graft] def normLocal(a: Array[Float]): Double = {
    var acc = 0d
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * a(i).toDouble; i += 1 }
    math.sqrt(acc)
  }

  /** Build the two-level (coarse -> fine) IVF index from driver-side
    * fine centers: the `coarseK` LOWEST-ID fine centers become the
    * coarse quantizer, and every fine center joins the group of its
    * argmax-scaled-cosine coarse center (ties by smaller coarse id) —
    * a deterministic rule a SQL oracle replays exactly. The argmax is
    * [[CenterSet.top]], the kernel the distributed ranking runs.
    *
    * Why two levels: with the classic |fine| ~ sqrt(n) sizing, flat
    * assignment costs O(|fine|·dim) per row — corpus-dependent work
    * per row. Coarse-then-fine costs O((coarseK + |fine|/coarseK)·dim),
    * minimized at coarseK ~ sqrt(|fine|) = n^(1/4): the standard
    * coarse-quantizer move (IMI / FAISS IVF-on-IVF) that keeps both
    * the per-row constant AND the shipped index bounded as the center
    * count tracks corpus growth. */
  def buildTwoLevelIndex(fineCenters: Array[(Long, Array[Float])],
      coarseK: Int): TwoLevelIndex = {
    require(coarseK >= 1, s"coarseK must be >= 1, got $coarseK")
    val sorted = fineCenters.sortBy(_._1)
    // Init coarse = the coarseK lowest-id fine centers; group every
    // fine center under its argmax init-coarse (ties by smaller id).
    val coarse0 = CenterSet(sorted.take(coarseK))
    val grouped = sorted.groupBy { case (_, v) =>
      coarse0.ids(coarse0.top(v, normLocal(v), 1).pos(0))
    }
    // REFINED coarse = exact-integer-sum mean of each group's members
    // (the KMeans.stepCenters formula, bit-replayable in SQL). Why
    // refine: with the raw slice as coarse, each coarse center IS a
    // member of its own group, and every vector lands in that group
    // precisely because its cosine to that member was the max over
    // coarse — so the member wins the fine ranking too and becomes a
    // HUB cell (measured: max cell 382 vs the flat path's 109 at
    // sf0.1; 4x pair-stage blowup at sf10). The group MEAN is not any
    // fine center, which dissolves the self-preference while keeping
    // the construction deterministic. Group membership stays keyed by
    // the init id (no regrouping), so no group can come up empty.
    val refined = grouped.toArray.map { case (g, members) =>
      val dim = members.head._2.length
      val vec = Array.tabulate(dim) { i =>
        var s = 0L
        members.foreach { case (_, v) =>
          s += math.floor(v(i).toDouble * 1e9 + 0.5).toLong
        }
        (s.toDouble / 1e9 / members.length).toFloat
      }
      g -> vec
    }
    TwoLevelIndex(CenterSet(refined),
      grouped.map { case (g, members) => g -> CenterSet(members) })
  }

  /** Rank-1 two-level assignment ([[assignByIndex]] over a coarse→fine
    * index): the two-level sibling of [[assignByCenters]]. Approximate
    * near coarse boundaries (see [[TwoLevelIndex]]). */
  def assignByTwoLevel(vectors: DataFrame, index: TwoLevelIndex): DataFrame =
    assignByIndex(vectors, broadcastIndex(vectors, index))

  /** Self-kNN via the two-level index: identical tail to
    * [[knnGraphTopK]] (one bucket exchange, reused by both join
    * sides), only the assignment projection differs. */
  def knnGraphTopKTwoLevel(corpus: DataFrame,
      fineCenters: Array[(Long, Array[Float])], coarseK: Int,
      k: Int, nprobe: Int = 1): DataFrame =
    knnFromRanked(rankedCells(corpus,
      broadcastIndex(corpus, buildTwoLevelIndex(fineCenters, coarseK)),
      nprobe), k)

  /** Self-kNN via IVF cells with PQ-COMPRESSED pair scoring — the
    * FAISS IVFPQ composition: cell assignment ranks the original
    * float vectors (same trained centers, same probes as
    * [[knnGraphTopK]]), but the SAME pre-exchange projection also
    * PQ-encodes each vector and the float vector is then DROPPED —
    * the bucket exchange carries (id, m code ints, recon norm)
    * instead of (id, dim floats, norm), and in-cell pairs score via
    * the broadcast LUT (m lookups + adds per pair, zero multiplies).
    *
    * Scale story, concretely: at m=8 over 64-dim floats the shuffle
    * payload narrows ~6x and pair scoring drops 8x in FLOPs — the
    * two costs that dominate the IVF graph at 100 TB. The price is
    * quantization error in the SCORES (ranking quality is a measured
    * recall property, like every blocked-ANN approximation here);
    * the score rule itself stays exact and the oracle replays
    * training + encoding + LUT scoring bit-for-bit. */
  def knnGraphTopKPq(corpus: DataFrame,
      centers: Array[(Long, Array[Float])],
      cb: graft.expressions.PqCodebook, k: Int,
      nprobe: Int = 1): DataFrame =
    knnGraphPqOver(corpus, cb, k, CenterSet(centers), nprobe)

  /** Shared tail of the PQ graph family ([[knnGraphTopKPq]] /
    * [[knnGraphTopKTwoLevelPq]]): encode ONCE before the probe
    * fan-out (codes depend only on vec, so computing them under the
    * posexplode would run the m·ks argmin nprobe times per vector —
    * the carry slot threads them through the ranking projection
    * instead), drop the float vector below the bucket exchange, and
    * score in-cell pairs via the broadcast SDC LUT. The center
    * `index` is the only thing the two compositions vary (flat
    * centers vs coarse→fine). The PQ scorer and payload column list
    * exist exactly once, here. */
  private def knnGraphPqOver(corpus: DataFrame,
      cb: graft.expressions.PqCodebook, k: Int, index: CenterIndex,
      nprobe: Int): DataFrame = {
    val bc = Pq.broadcastCodebook(corpus, cb)
    val coded = corpus.withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
    val ranked = rankedCells(coded, broadcastIndex(coded, index), nprobe,
        Seq("codes", "rnrm"))
      .select(col("id"), col("codes"), col("rnrm"),
        col("bucket"), col("__rn"))
    knnFromRankedPayload(ranked, k, Seq("codes", "rnrm"), joined => joined
      .filter(col("q_id") =!= col("n_id"))
      .select(col("q_id"), col("n_id"),
        scaledFromParts(Pq.sdcDotCol("q_codes", "n_codes", bc),
          col("q_rnrm"), col("n_rnrm")).as("score_c")))
  }

  /** The FULL FAISS-style composition — two-level (coarse→fine)
    * assignment x PQ-compressed payload: [[knnGraphTopKPq]]'s
    * codes-only exchange riding the [[TwoLevelIndex]]'s
    * O((coarseK + |fine|/coarseK)·dim)-per-row assignment. This is the
    * shape a real 10⁵-center deployed index needs BOTH halves of: flat
    * assignment is corpus-dependent work per row (1e5 dots at 1e5
    * centers — the 37x gap in SCALE.md), and a float-vector exchange
    * is ~6x the bytes of the code exchange at m=8/dim=64. Encoding
    * happens ONCE before the probe fan-out (the carry-slot contract);
    * the float vector is consumed by assignment + encoding below the
    * bucket exchange and dropped — plan-audited like [[knnGraphTopKPq]].
    * Same skew routing, same oracle scheme (two-level assignment rule
    * + SDC LUT scoring, both replayed relationally). */
  def knnGraphTopKTwoLevelPq(corpus: DataFrame,
      fineCenters: Array[(Long, Array[Float])], coarseK: Int,
      cb: graft.expressions.PqCodebook, k: Int,
      nprobe: Int = 1): DataFrame =
    knnGraphPqOver(corpus, cb, k, buildTwoLevelIndex(fineCenters, coarseK),
      nprobe)

  /** The flat↔two-level assignment dispatch bound, ENGINE-CHOSEN (the
    * [[planesFor]] / `sdcGateFor` pattern —
    * a measured constant, not a per-query human choice). What it
    * guards — corrected by the r16 re-measure over the 800k-row
    * corpus (SCALE.md "the crossover, re-measured")
    * — is NOT assignment time: two-level assignment is cheaper at
    * EVERY measured center count (4.5× at k=256 rising to 37× at
    * 10⁴). It is a PARTITION-QUALITY + exactness guard: on the same
    * center set the approximate coarse→fine assignment inflates
    * Σpop² by a measured 1.19–1.57× (k=256→2048) and the largest
    * cell by 2.7–6×, and every pair stage downstream costs
    * O(Σpop²). Where pairs are expensive per candidate (self-kNN
    * scoring + top-k heap) that inflation is the measured ~2×
    * end-to-end loss at 894 centers (sf10 knn_graph_ivf 98 s vs
    * forced ivf2 172–187 s), so flat must hold through the bench
    * regimes; where pairs are threshold-filtered and cheap (the
    * embedding-dedup family) two-level already wins end-to-end at
    * 640 centers (sf10 7.36 vs 8.64 s) and its forced ivf2 rows keep
    * that opportunity cost visible every round. 2048 keeps the
    * expensive-pair family on the exact branch until the linearly
    * growing flat premium (27 s per corpus scan at k=2048, 128 s at
    * 10⁴) swamps the worst measured pair-stage inflation — past it
    * the asymptotic assignment win dominates every family. */
  private[graft] val FlatCentersMax = 2048

  /** Self-kNN with the assignment STRATEGY chosen by the engine from
    * |centers| ([[FlatCentersMax]]): the sqrt(n)-sized center sets of
    * every bench SF stay on the exact flat path; past the measured
    * crossover the coarse quantizer takes over (coarseK = √|fine|,
    * the n^(1/4) rule). The dispatch is deterministic in the index
    * parameter alone — same inputs, same plan, same rows — and each
    * branch is the corresponding registered operator, so both
    * branches stay independently oracle-checked. Differential-tested
    * on both sides of the bound. */
  def knnGraphTopKAuto(corpus: DataFrame,
      fineCenters: Array[(Long, Array[Float])], k: Int, nprobe: Int = 1,
      flatMax: Int = FlatCentersMax): DataFrame =
    if (fineCenters.length <= flatMax) knnGraphTopK(corpus, fineCenters, k, nprobe)
    else knnGraphTopKTwoLevel(corpus, fineCenters,
      coarseKFor(fineCenters.length), k, nprobe)

  /** The n^(1/4) coarse-quantizer sizing: coarseK = √|fine| (floored
    * at 4) minimizes per-row assignment cost coarseK + |fine|/coarseK.
    * One place, so the dispatcher and the registered ivf2 queries
    * cannot drift apart. */
  def coarseKFor(fineCount: Int): Int =
    math.max(4, math.sqrt(fineCount.toDouble).round.toInt)

  /** The engine-chosen rank-1 ASSIGNMENT BUILDER — [[knnGraphTopKAuto]]'s
    * rule factored for consumers that need the assignment projection
    * itself rather than a whole self-kNN plan (the incremental dedup
    * family's `assignFor` slot): a flat [[CenterSet]] while
    * |centers| sits at or under `flatMax` ([[FlatCentersMax]]), the
    * coarse→fine [[TwoLevelIndex]] (n^(1/4) sizing) past it — built
    * and broadcast ONCE here ([[assignerOver]]). Identical output
    * schema on both sides (id, vec, nrm, bucket), deterministic in
    * |centers| alone. */
  def assignerFor(centers: Array[(Long, Array[Float])],
      flatMax: Int = FlatCentersMax): DataFrame => DataFrame =
    assignerOver(
      if (centers.length <= flatMax) CenterSet(centers)
      else buildTwoLevelIndex(centers, coarseKFor(centers.length)))

  /** Probe-count ceiling for [[nprobeFor]]: each probe beyond the
    * first buys one mean cell of candidates at one mean cell of
    * linear cost; past 8 mean cells the index is doing a sizeable
    * fraction of a scan per query and the right fix is re-sizing the
    * cells ([[coarseKFor]]/sqrt(n)), not more probes. */
  private[graft] val MaxAutoProbe = 8

  /** Cell-occupancy statistics of a rank-1 assignment — ONE aggregate
    * over the assigned corpus: (n rows, non-empty cells, sum of
    * pop²). `sumsq/n` is the POPULATION-WEIGHTED mean cell size — the
    * expected resident count of the cell a query actually lands in —
    * and the same statistic the hub-cell plan audit pins
    * (`PlanAuditSpec`), so the engine's probe rule and the skew audit
    * read one measurement. */
  def cellStats(assigned: DataFrame): (Long, Long, Long) = {
    val r = assigned.groupBy(col("bucket")).agg(count(lit(1)).as("p"))
      .agg(sum(col("p")).as("n"), count(lit(1)).as("k"),
        sum(col("p") * col("p")).as("s")).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  /** The recall-gated production candidate volume per query: TWO mean
    * cells. Derived from the measured three-scale recall tables
    * (SCALE.md "ANN retrieval quality at scale"): recall tracks
    * candidate volume exactly on the structureless corpus, and on the
    * clustered corpus the `nprobe = 2`-at-sqrt(n)-cells setting — i.e.
    * candidate volume ≈ 2·(n/k) — is the one `RecallSpec` gates at
    * recall@10 ≥ 0.8 (measured 0.965). The target is the VOLUME, not
    * the knob: [[nprobeFor]] spends probes until the measured
    * occupancy histogram delivers it. */
  def targetCandidatesFor(n: Long, cells: Long): Long =
    math.ceil(2.0 * n / math.max(1L, cells)).toLong

  /** The engine-chosen PROBE COUNT — the recall knob of the IVF family
    * freed the way [[FlatCentersMax]] freed the assignment strategy
    * and [[FloatPayloadBytesMax]] the payload: from the measured cell
    * occupancy, pick the smallest probe count whose expected candidate
    * volume reaches the target. The first probe lands in the query's
    * own cell and delivers the population-WEIGHTED mean `sumsq/n`
    * (big cells catch proportionally more queries); each further probe
    * is a typical neighboring cell, ≈ the unweighted mean `n/cells`.
    * On a uniform histogram this reproduces the proven production
    * setting (weighted = unweighted mean → p = 2 at the
    * [[targetCandidatesFor]] default); on a hub-skewed histogram the
    * landing cell alone already meets the volume and the engine
    * DECLINES the second probe instead of doubling the hub's O(p²)
    * pair work; on a fragmented one it pays extra probes, clamped at
    * [[MaxAutoProbe]]. Deterministic in the histogram alone. */
  def nprobeFor(n: Long, cells: Long, sumsq: Long, targetPerQuery: Long,
      maxProbe: Int = MaxAutoProbe): Int = {
    val mean = n.toDouble / math.max(1L, cells)
    var cand = sumsq.toDouble / math.max(1L, n)
    var p = 1
    while (cand < targetPerQuery && p < maxProbe) { p += 1; cand += mean }
    p
  }

  /** [[nprobeFor]] over a live corpus + trained centers: one
    * assignment-aggregate pass (the declared eager envelope of the
    * trained-index queries) measures the histogram, the rule picks
    * the probe count. */
  def probeFor(corpus: DataFrame, centers: Array[(Long, Array[Float])],
      targetPerQuery: Option[Long] = None,
      maxProbe: Int = MaxAutoProbe): Int = {
    val (n, k, s) = cellStats(assignByCenters(corpus, centers))
    nprobeFor(n, k, s, targetPerQuery.getOrElse(targetCandidatesFor(n, k)),
      maxProbe)
  }

  /** The float↔PQ PAYLOAD crossover, ENGINE-CHOSEN — the byte-budget
    * analogue of [[FlatCentersMax]], one level up: that constant picks
    * the assignment STRATEGY from |centers|; this one picks what the
    * bucket exchange CARRIES (exact float vectors vs PQ codes) from
    * dim × corpus size. Float payload is n·dim·4 bytes; the code
    * payload is ~(m + 8)·n (~6x narrower at m=8/dim=64, SCALE.md's
    * measured exchange cut). The largest regime measured at parity on
    * this box is the sf10 soak — 800k × 64-dim ≈ 205 MB of float
    * payload, where BENCH_SF10_PQ records IVFPQ 99.4 s vs float IVF
    * 98.8 s — i.e. under page-cached local exchange, compression is
    * free but buys nothing, and the float side is EXACT scoring while
    * PQ pays a measured recall price (PqSpec: ADC recall@3 0.867 until
    * re-ranked). The budget is therefore biased toward float, exactly
    * as [[FlatCentersMax]] is biased toward flat: 2 GiB = 10x the
    * largest payload proven at parity. Past it (~8M vectors at
    * dim=64), per-cell float frames (pop · dim · 4 in ONE O(p²) pair
    * task) push toward the execution-memory guard the sf10 soak
    * already brushed, and every byte the exchange doesn't move is the
    * point at real-cluster scale — the engine flips the SAME trained
    * cells to the codes-only exchange. */
  private[graft] val FloatPayloadBytesMax: Long = 2L << 30

  /** Float exchange-payload bytes of `corpus` (n × dim × 4) — ONE
    * count+dim aggregate, the shared measurement of both byte-budget
    * dispatchers so their rule cannot drift apart. */
  private[graft] def floatPayloadBytes(corpus: DataFrame): Long = {
    val r = corpus.agg(count(lit(1)).as("n"),
      max(size(col("vec"))).as("dim")).head()
    val dim = if (r.isNullAt(1)) 0L else r.getInt(1).toLong
    r.getLong(0) * dim * 4L
  }

  /** Self-kNN with the exchange PAYLOAD chosen by the engine from the
    * corpus byte volume ([[FloatPayloadBytesMax]]): one count+dim
    * aggregate at construction (the eager envelope every trained-index
    * query already pays for center fitting), then either the exact
    * float path ([[knnGraphTopK]]) or the PQ-compressed path
    * ([[knnGraphTopKPq]], codebook fit on the same corpus) over the
    * SAME fine centers. Deterministic in (n, dim) alone; each branch
    * is the corresponding registered operator, so both stay
    * independently oracle-checked. Differential-tested on both sides
    * of the bound.
    *
    * `payloadBytes` lets a caller that already measured the corpus
    * (e.g. a registered query's oracle-validity guard) thread the
    * value through instead of paying the count aggregate twice —
    * at 100 TB the measurement is a corpus scan, not a constant. */
  def knnGraphTopKPayloadAuto(corpus: DataFrame,
      fineCenters: Array[(Long, Array[Float])], k: Int, nprobe: Int = 1,
      payloadMax: Long = FloatPayloadBytesMax,
      payloadBytes: Option[Long] = None): DataFrame =
    if (payloadBytes.getOrElse(floatPayloadBytes(corpus)) <= payloadMax)
      knnGraphTopK(corpus, fineCenters, k, nprobe)
    else knnGraphTopKPq(corpus, fineCenters, Pq.fitCodebooks(corpus), k, nprobe)

  /** The DEPLOYMENT entry point of the graph family: BOTH engine
    * choices composed — assignment strategy from |centers|
    * ([[FlatCentersMax]], the [[knnGraphTopKAuto]] rule) × exchange
    * payload from corpus bytes ([[FloatPayloadBytesMax]], the
    * [[knnGraphTopKPayloadAuto]] rule) — selecting among the four
    * registered operators that ARE the quadrants: flat float
    * ([[knnGraphTopK]]), two-level float ([[knnGraphTopKTwoLevel]]),
    * flat PQ ([[knnGraphTopKPq]]), and the full FAISS-style
    * composition ([[knnGraphTopKTwoLevelPq]]). Each predicate is the
    * SAME one its single-axis dispatcher uses, so the composed choice
    * cannot disagree with the parts; deterministic in
    * (|centers|, n, dim) alone; all four quadrants
    * differential-tested against their operators. */
  def knnGraphTopKFullAuto(corpus: DataFrame,
      fineCenters: Array[(Long, Array[Float])], k: Int, nprobe: Int = 1,
      flatMax: Int = FlatCentersMax,
      payloadMax: Long = FloatPayloadBytesMax,
      payloadBytes: Option[Long] = None): DataFrame = {
    val flat = fineCenters.length <= flatMax
    val float = payloadBytes.getOrElse(floatPayloadBytes(corpus)) <= payloadMax
    (flat, float) match {
      case (true, true) => knnGraphTopK(corpus, fineCenters, k, nprobe)
      case (false, true) => knnGraphTopKTwoLevel(corpus, fineCenters,
        coarseKFor(fineCenters.length), k, nprobe)
      case (true, false) => knnGraphTopKPq(corpus, fineCenters,
        Pq.fitCodebooks(corpus), k, nprobe)
      case (false, false) => knnGraphTopKTwoLevelPq(corpus, fineCenters,
        coarseKFor(fineCenters.length), Pq.fitCodebooks(corpus), k, nprobe)
    }
  }
}
