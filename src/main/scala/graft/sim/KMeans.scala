package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over an embedding column — the
  * clustering companion to the IVF index (its centroids are exactly
  * what [[Similarity.knnGraphTopK]] wants as cells).
  *
  * Deterministic by construction: initial centroids are named corpus
  * rows (no random init), assignment ties break on centroid id
  * (via [[Similarity.assignByCenters]]), iteration count is fixed, and
  * centroid means are computed as exact scaled-integer sums
  * (order-independent, unlike a double `avg` whose accumulation order
  * follows partitioning) — so reruns and task retries agree
  * bit-for-bit.
  *
  * Execution shape — the spark.ml pattern: the k centers live on the
  * DRIVER (k·dim floats — bytes, not data), so per iteration the only
  * cluster work is ONE aggregation job over the corpus (assignment is
  * a shuffle-free projection: argmax over k broadcast center vectors),
  * ending in a k·dim-row collect. No join, no window, no checkpoint
  * in the loop; the corpus is scanned once per iteration, which is the
  * 100 TB-shaped cost floor for Lloyd's algorithm.
  */
object KMeans {

  /** One update step from driver-side `centers`: returns the
    * recomputed member-mean centers (empty clusters drop). */
  /** Label the jobs an index-construction action fires (optimization
    * guide §1.5) and restore the caller's label after: `concurrently`
    * runs chains on separate threads and descriptions are
    * thread-local, so concurrent chains label independently. */
  private[graft] def labeled[A](df: DataFrame, desc: String)(body: => A): A = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }

  def stepCenters(corpus: DataFrame,
      centers: Array[(Long, Array[Float])]): Array[(Long, Array[Float])] = {
    val assigned = Similarity.assignByCenters(corpus, centers)
    // Order-independent mean: each element contributes a 1e9-scaled
    // LONG (exact integer sum, so partition order / task retries can't
    // shift the result by an ulp the way a double `avg` can — elements
    // are O(1) and clusters O(n), so sums stay far from Long.Max).
    val rows = labeled(assigned, "kmeans: lloyd step") { assigned
      .select(col("bucket"), posexplode(col("vec")).as(Seq("pos", "x")))
      .groupBy(col("bucket"), col("pos"))
      .agg((sum(floor(col("x").cast("double") * 1e9 + 0.5d).cast("long"))
        .cast("double") / 1e9d / count(lit(1))).as("m"))
      .collect()
    }
    rows.groupBy(_.getLong(0)).toArray.sortBy(_._1).map { case (id, elems) =>
      val dim = elems.length
      val vec = new Array[Float](dim)
      elems.foreach(r => vec(r.getInt(1)) = r.getDouble(2).toFloat)
      id -> vec
    }
  }

  /** `iters` Lloyd iterations from the corpus rows named by `initIds`;
    * returns the driver-side centers (a centroid's id is the init row
    * it descended from; empty clusters drop). */
  def fitCenters(corpus: DataFrame, initIds: Seq[Long],
      iters: Int): Array[(Long, Array[Float])] = {
    var centers: Array[(Long, Array[Float])] =
      labeled(corpus, "kmeans: init collect") {
        corpus.filter(col("id").isin(initIds.map(Long.box): _*))
          .select(col("id"), col("vec"))
          .collect()
      }.map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
        .sortBy(_._1)
    var i = 0
    while (i < iters) {
      centers = stepCenters(corpus, centers)
      i += 1
    }
    centers
  }

  /** DataFrame facade over [[fitCenters]]: (centroids (id, vec) — a
    * local relation, broadcast-free to join against — and the final
    * assignment (id, vec, bucket)). */
  def fit(corpus: DataFrame, initIds: Seq[Long],
      iters: Int): (DataFrame, DataFrame) = {
    val centers = fitCenters(corpus, initIds, iters)
    val spark = corpus.sparkSession
    import spark.implicits._
    val centroids = centers.toSeq.map { case (id, v) => (id, v.toSeq) }
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    (centroids, Similarity.assignByCenters(corpus, centers))
  }
}
