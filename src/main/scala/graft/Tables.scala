package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated star schema
  * (see /root/repo/TESTDATA.md). The reference reads everything over
  * JDBC (`Load CT Patients Job/.../LoadCTPatients.java:49-57`); this
  * engine serves the same operator semantics over Parquet, where
  * Catalyst pushes filters/projections into the scan automatically.
  */
object Tables {

  /** Per-JVM schema catalog: the schema each table path was inferred
    * to have, the first time it was read. `spark.read.parquet` with no
    * user schema runs parquet schema INFERENCE on every call —
    * measured ~120-300 ms of driver time per call locally (footer
    * read + merge machinery), and at scale a listing+footer pass over
    * the table's files — which the bench pays hundreds of times per
    * run (most queries load 1-3 tables). A warehouse engine gets the
    * schema from its catalog; this map is that catalog. Only the
    * SCHEMA is cached (a StructType — bytes): the frame, its file
    * listing, and every byte of data are re-resolved per call, so no
    * result or file-state is ever reused across runs. Keyed by path +
    * the nanosAsLong flag (the one session conf that changes an
    * inferred parquet schema here). */
  private val schemaCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), org.apache.spark.sql.types.StructType]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false")
    val schema = schemaCache.computeIfAbsent((path, nanos),
      _ => spark.read.parquet(path).schema)
    spark.read.schema(schema).parquet(path)
  }

  /** `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark 4
    * only reads with `spark.sql.legacy.parquet.nanosAsLong=true` (as a
    * BIGINT of nanoseconds). Convert to a microsecond timestamp here so
    * downstream operators see a plain TimestampType — the ns->us
    * truncation matches what DuckDB's us-resolution TIMESTAMP does when
    * it reads the same file. */
  private def nsToTimestamp(df: DataFrame, c: String): DataFrame =
    if (df.schema(c).dataType == org.apache.spark.sql.types.LongType)
      df.withColumn(c, org.apache.spark.sql.functions.timestamp_micros(
        org.apache.spark.sql.functions.expr(s"$c div 1000")))
    else df

  def region(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "region")
  def nation(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "nation")
  def customer(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame      = load(spark, dir, "part")
  def orders(spark: SparkSession, dir: String): DataFrame    = load(spark, dir, "orders")
  def lineitem(spark: SparkSession, dir: String): DataFrame  = load(spark, dir, "lineitem")
  def events(spark: SparkSession, dir: String): DataFrame    = nsToTimestamp(load(spark, dir, "events"), "ts")
  def documents(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = load(spark, dir, "embeddings")

  /** Redistribute a frame across the session's shuffle width — but
    * ONLY when the source actually arrives under-parallel. The doc/
    * embedding tables here arrive as a single parquet file -> ONE
    * partition, which serializes every downstream n-gram/hash/cosine
    * projection onto one core; compute-heavy operators call this
    * before their expensive stage.
    *
    * The width check makes the rebalance SCALE-ADAPTIVE (optimization
    * guide §2.4 — remove shuffles outright): at real scale inputs
    * arrive in hundreds of splits, and the former unconditional
    * `repartition(width)` was a full corpus exchange that bought
    * nothing — every stats count, training aggregate, and projection
    * above it paid a corpus-sized shuffle before doing its work. Rows
    * and results are identical either way (round-robin repartition is
    * partitioning-only); the check itself is driver-side planning
    * (split enumeration), not a job. */
  def spread(df: DataFrame): DataFrame = {
    val width = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "32").toInt
    // A streaming frame has no static split count to inspect; its
    // width is governed per-batch by the stream session's shuffle
    // sizing, so it keeps the unconditional rebalance unchanged.
    if (df.isStreaming) return df.repartition(width)
    // Probe the source's split count WITHOUT physically planning the
    // subtree: the former `df.rdd.getNumPartitions` ran the full
    // QueryExecution (analysis -> optimization -> physical planning ->
    // RDD wiring) once per call-site, purely to learn a number the
    // file index already knows — driver latency paid by ~50 query
    // paths per run, and double-planning of large subtrees at scale
    // (optimization guide §7.3: planning is single-threaded driver
    // work). Every spread caller feeds file-scan-rooted frames, so the
    // split count is estimated from the scan leaves with Spark's own
    // split formula; non-file-rooted plans (checkpoints, local
    // relations) keep the physical probe. Either branch of the
    // decision is row-identical (round-robin repartition is
    // partitioning-only), so a boundary-case estimate difference
    // cannot change any result.
    val splits =
      (try estimatedScanSplits(df) catch { case _: Exception => None })
        .getOrElse(df.rdd.getNumPartitions.toLong)
    if (splits >= width) df else df.repartition(width)
  }

  /** Split-count estimate from the analyzed plan's file-scan leaves,
    * replicating Spark's own sizing (`FilePartition.maxSplitBytes` +
    * greedy packing with the open-cost pad) over the cached file
    * index — no physical planning, no job. None when any leaf is not
    * a file relation (caller falls back to the physical probe). */
  private def estimatedScanSplits(df: DataFrame): Option[Long] = {
    import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
    val conf = df.sparkSession.sessionState.conf
    val maxPartitionBytes = conf.filesMaxPartitionBytes
    val openCost = conf.filesOpenCostInBytes
    val minPartitionNum = conf.filesMinPartitionNum
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val leaves = df.queryExecution.analyzed.collectLeaves()
    val perLeaf = leaves.map {
      case lr: LogicalRelation if lr.relation.isInstanceOf[HadoopFsRelation] =>
        val fs = lr.relation.asInstanceOf[HadoopFsRelation]
        val sizes = fs.location.inputFiles.map { p =>
          // The file index caches listing; sizeInBytes is the summed
          // listing, but packing needs per-file sizes.
          new java.io.File(new java.net.URI(p).getPath).length
        }.filter(_ > 0L).sortBy(-_)
        val totalPadded = sizes.map(_ + openCost).sum
        val bytesPerCore = totalPadded / math.max(1, minPartitionNum)
        val maxSplit = math.min(maxPartitionBytes,
          math.max(openCost, bytesPerCore))
        // Each file yields ceil(len/maxSplit) chunks; greedy packing
        // (largest first, open-cost pad) bins them exactly as
        // FilePartition.getFilePartitions does.
        val chunks = sizes.flatMap { len =>
          val whole = len / maxSplit
          val rest = len - whole * maxSplit
          Seq.fill(whole.toInt)(maxSplit) ++
            (if (rest > 0) Seq(rest) else Nil)
        }.sortBy(-_)
        var bins = 0L
        var current = 0L
        chunks.foreach { c =>
          if (bins == 0L || current + c + openCost > maxSplit) {
            bins += 1; current = c
          } else current += c + openCost
        }
        Some(bins)
      case _ => None
    }
    if (perLeaf.nonEmpty && perLeaf.forall(_.isDefined))
      Some(perLeaf.flatMap(x => x).sum)
    else None
  }
}
