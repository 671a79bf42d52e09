package perfbench

import java.nio.file.{Path, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.sim.{KMeans, Similarity}
import graft.text.MinHashLSH

/** `corpus_ingest`: each op ingests one corpus shard — MinHash
  * near-duplicates of the shard against the history, IVF top-k of the
  * shard's vectors against the corpus with centers fitted at set-up —
  * and the shard then joins the history.
  *
  * The history is the `historyShards` most recently ingested shards (a
  * bounded dedup horizon), so every op does the same amount of work and
  * the median does not depend on how many ops a run completes. */
final class CorpusIngest(seed: Long, root: Path, copies: Int = 2,
    shardsPerCopy: Int = 50, historyShards: Int = 25) extends Workload {
  /** (doc_a, doc_b, jaccard) pairs and (q_id, n_id) neighbours. */
  type Out = (Seq[(Long, Long, Double)], Seq[(Long, Long)])

  val K = 10
  val NProbe = 1
  val Threshold = 0.5
  val Centers = 24

  private var spark: SparkSession = _
  private var dir: Path = _
  private var plan: CorpusPlan = _
  private var texts: Map[Long, String] = Map.empty
  private var docPos: Map[Long, Int] = Map.empty
  private var vecPos: Map[Long, Int] = Map.empty
  private var shardRows: Map[Int, (Long, Long)] = Map.empty   // pos -> (docs, vecs)
  private var inputFiles = 0
  private var centers: Array[(Long, Array[Float])] = _
  private var indexBuild = 0d
  private val outDigests = scala.collection.mutable.TreeMap.empty[Int, Long]

  private def n = plan.shardCount
  private def docsPath = dir.resolve("corpus/docs").toString
  private def vecsPath = dir.resolve("corpus/vecs").toString
  private def deltaPos(op: Int) = Math.floorMod(op + historyShards, n)
  private def histPos(op: Int) = (0 until historyShards).map(j => Math.floorMod(op + j, n))

  def setup(s: SparkSession, d: Path): Seq[Check] = {
    spark = s; dir = d
    outDigests.clear()
    plan = CorpusPlan.make(seed, copies, shardsPerCopy)
    // The working set: the plan's copies (id ranges, so parquet row
    // group statistics skip the other copies), tagged with each row's
    // position in the seeded shard order.
    val pos = plan.order.zipWithIndex.toMap
    val spc = shardsPerCopy
    val posCol = udf((id: Long, perCopy: Long) =>
      pos.getOrElse(CorpusPlan.shardOf(id, perCopy, spc), -1))
    def inCopies(c: org.apache.spark.sql.Column, perCopy: Long) =
      plan.copies.map { k =>
        val lo = k * CorpusPlan.CopyOffset
        c >= lo && c < lo + perCopy
      }.reduce(_ || _)
    val docs = spark.read.parquet(root.resolve("testdata-sf10/documents.parquet").toString)
      .filter(inCopies(col("doc_id"), CorpusPlan.DocsPerCopy))
      .select(col("doc_id"), col("text"),
        posCol(col("doc_id"), lit(CorpusPlan.DocsPerCopy)).as("pos"))
    val vecs = spark.read.parquet(root.resolve("testdata-sf10/embeddings.parquet").toString)
      .filter(inCopies(col("vec_id"), CorpusPlan.VecsPerCopy))
      .select(col("vec_id").as("id"), col("embedding").as("vec"),
        posCol(col("vec_id"), lit(CorpusPlan.VecsPerCopy)).as("pos"))
    docs.repartition(1).sortWithinPartitions("pos").write.mode(SaveMode.Overwrite)
      .parquet(docsPath)
    vecs.repartition(1).sortWithinPartitions("pos").write.mode(SaveMode.Overwrite)
      .parquet(vecsPath)

    val docRows = spark.read.parquet(docsPath).collect()
    texts = docRows.map(r => r.getLong(0) -> r.getString(1)).toMap
    docPos = docRows.map(r => r.getLong(0) -> r.getInt(2)).toMap
    vecPos = spark.read.parquet(vecsPath).select("id", "pos").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    val dc = docPos.values.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    val vc = vecPos.values.groupBy(identity).map { case (p, xs) => p -> xs.size.toLong }
    shardRows = (0 until n).map(p => p -> (dc.getOrElse(p, 0L), vc.getOrElse(p, 0L))).toMap
    inputFiles = Io.dataFiles(Paths.get(docsPath)).length +
      Io.dataFiles(Paths.get(vecsPath)).length

    // Index build: k-means centers over the corpus vectors.
    val t0 = System.nanoTime()
    val corpus = spark.read.parquet(vecsPath).select("id", "vec")
    val draw = new Draw(seed ^ 0x5eed)
    val ids = vecPos.keys.toIndexedSeq.sorted
    val init = IndexedSeq.fill(Centers)(ids(draw.int(ids.length))).distinct
    centers = KMeans.fitCenters(corpus, init, iters = 3)
    indexBuild = (System.nanoTime() - t0) / 1e9
    Seq(Check(texts.size == plan.copies.length * CorpusPlan.DocsPerCopy &&
        dc.size == n && vc.size == n && centers.nonEmpty,
      s"corpus: ${texts.size} docs in ${dc.size} shards, ${vecPos.size} vectors " +
        s"in ${vc.size} shards, ${centers.length} centers"))
  }

  override def setupMetrics: Map[String, Double] = Map("sim.index_build_s" -> indexBuild)

  private def frames(op: Int): Seq[DataFrame] = {
    val hist = histPos(op)
    val d = spark.read.parquet(docsPath)
    val v = spark.read.parquet(vecsPath)
    Seq(d.filter(col("pos").isin(hist: _*)).select("doc_id", "text"),
      d.filter(col("pos") === deltaPos(op)).select("doc_id", "text"),
      v.filter(col("pos").isin(hist :+ deltaPos(op): _*)).select("id", "vec"),
      v.filter(col("pos") === deltaPos(op)).select("id", "vec"))
  }

  /** (doc_a, doc_b, jaccard) from the engine's ppm-rounded jaccard_c. */
  private def pairsOf(df: DataFrame) =
    df.select("doc_a", "doc_b", "jaccard_c").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).doubleValue / 1e6))
  private def knnOf(df: DataFrame) =
    df.select("q_id", "n_id").collect().toSeq.map(r => (r.getLong(0), r.getLong(1)))

  def run(op: Int, traced: Boolean): Out =
    if (!traced) {
      val Seq(hist, delta, corpus, queries) = frames(op)
      (pairsOf(MinHashLSH.incrementalNearDuplicates(hist, delta, "doc_id", "text",
          threshold = Threshold, disjointIds = true)),
        knnOf(Similarity.ivfTopKByCenters(queries, corpus, centers, K, NProbe)))
    } else {
      val pins = ArrayBuffer.empty[DataFrame]
      try {
        val Seq(hist, delta, corpus, queries) = tr.spanWith("sources.resolve",
            (_: Seq[DataFrame]) => Map("files_read" -> 2d * inputFiles)) {
          frames(op)
        }
        tr.span("sources.scan") { Seq(hist, delta, corpus, queries).foreach(Io.noop) }
        val (arrs, bands) = tr.span("text.signature") {
          val a = Io.pin(MinHashLSH.shingleArrays(hist.unionByName(delta),
            "doc_id", "text", 3), pins)._1
          (a, Io.pin(MinHashLSH.bands(MinHashLSH.signatures(a, "doc_id", 16),
            "doc_id", 16, 4), pins)._1)
        }
        val (pairs, _) = tr.spanWith("text.verify", (x: (Seq[(Long, Long, Double)], Long)) =>
            Map("candidate_pairs" -> x._2.toDouble, "verified_pairs" -> x._1.length.toDouble)) {
          val (cands, nc) = Io.pin(MinHashLSH.candidates(bands, "doc_id"), pins)
          (pairsOf(MinHashLSH.verifyJaccard(cands, arrs, "doc_id")
            .withColumn("jaccard_c", floor(col("jaccard") * 1e6 + 0.5d))
            .filter(col("jaccard_c") >= math.round(Threshold * 1e6))), nc)
        }
        tr.spanWith("sim.assign", (scored: Long) => Map("pairs_scored" -> scored.toDouble,
            "queries" -> shardRows(deltaPos(op))._2.toDouble)) {
          // The corpus holds the shard, so each query's own vector sits
          // in its cell and is filtered out, not scored.
          val cB = Io.pin(Similarity.assignByCenters(corpus, centers), pins)._1
          val qB = Io.pin(Similarity.assignByCenters(queries, centers), pins)._1
          cB.groupBy("bucket").count()
            .join(qB.groupBy("bucket").count().withColumnRenamed("count", "q"), "bucket")
            .agg(sum((col("count") - 1) * col("q"))).head().getLong(0)
        }
        val knn = tr.span("sim.search") {
          knnOf(Similarity.ivfTopKByCenters(queries, corpus, centers, K, NProbe))
        }
        (pairs, knn)
      } finally pins.foreach(_.unpersist())
    }

  /** Word 3-gram Jaccard, computed independently of the engine. */
  private def jaccard(a: String, b: String): Double = {
    def grams(s: String) = s.split("\\s+", -1).sliding(3).filter(_.length == 3)
      .map(_.mkString(" ")).toSet
    val (x, y) = (grams(a), grams(b))
    (x intersect y).size.toDouble / (x union y).size
  }

  def check(op: Int, out: Out): Check = {
    val (pairs, knn) = out
    val d = new Draw(seed * 31 + op)
    val sample = if (pairs.isEmpty) Nil else Seq.fill(8)(pairs(d.int(pairs.length))).distinct
    val visible = (histPos(op) :+ deltaPos(op)).toSet
    val strays = pairs.count(p => !visible(docPos(p._1)) || !visible(docPos(p._2))) +
      knn.count(p => vecPos(p._1) != deltaPos(op) || !visible(vecPos(p._2)))
    val badPairs = sample.filterNot { case (a, b, j) =>
      val exact = jaccard(texts(a), texts(b))
      exact >= Threshold && math.abs(exact - j) <= 1e-6
    }
    val perQuery = knn.groupBy(_._1).map(_._2.length)
    val selfHits = knn.count { case (q, nb) => q == nb }
    outDigests(op) = (pairs.map(p => (p._1 * 31 + p._2).hashCode.toLong).sum * 17 +
      knn.map(p => (p._1 * 31 + p._2).hashCode.toLong).sum)
    Check(strays == 0 && badPairs.isEmpty && selfHits == 0 && perQuery.forall(_ <= K) && knn.nonEmpty,
      s"shard ${deltaPos(op)}: ${pairs.length} pairs (bad sampled: $badPairs), " +
        s"${knn.length} neighbours, $selfHits self hits, $strays ids outside the op")
  }

  def inputRows(op: Int): Long = {
    val (docs, vecs) = shardRows(deltaPos(op))
    docs + vecs
  }

  def storedBytesPerRow(): Double = {
    val files = Io.dataFiles(Paths.get(docsPath)) ++ Io.dataFiles(Paths.get(vecsPath))
    Io.bytes(files).toDouble / shardRows.values.map { case (a, b) => a + b }.sum
  }

  def inputDigest: String = {
    val dg = new Digest
    plan.copies.foreach(dg.add)
    plan.order.foreach(s => dg.addRow(Seq(s._1, s._2)))
    texts.toSeq.sortBy(_._1).foreach { case (k, v) => dg.addRow(Seq(k, v)) }
    dg.hex
  }

  def outputDigest: String = {
    val first = outDigests.filter(_._1 >= warmOps).take(Main.DigestOps)
    f"${first.size}%d/${first.values.foldLeft(0L)((a, h) => a * 31 + h)}%016x"
  }
}
