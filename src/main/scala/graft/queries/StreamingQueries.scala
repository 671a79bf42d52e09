package graft.queries

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.Tables
import graft.streaming.IncrementalStream
import graft.streaming.IncrementalStream.Rec

/** Streaming operators promoted to the driver's CORRECTNESS registry.
  *
  * There is no DuckDB oracle for a STREAM, but a replay-immune
  * streaming operator's FINAL TABLE over a replayed fixture is a
  * plain relation — and for [[IncrementalStream.episodeOpens]] that
  * relation is exactly the SCD2 episode-opens set
  * ([[graft.etl.Scd2.historize]]'s change-detection half), which SQL
  * expresses as a lag() inequality. Registering that run machine-ties
  * the streaming path to the batch oracle every round, instead of
  * only inside ScalaTest (`IncrementalStreamSpec` keeps the
  * batch-vs-stream differentials and the cross-batch/late-data
  * torture cases).
  *
  * MemoryStream is driver-fed by design (it is Spark's own harness
  * for exactly this replay pattern); the collect here is the DECLARED
  * envelope of the correctness surface, not the deployment path — a
  * real topology reads Kafka/files with the same operator and the
  * same state bound (one record per key). */
object StreamingQueries {

  private val runId = new AtomicLong(0L)

  /** Target input bytes per streaming state partition — the sizing
    * knob for [[streamSession]] (16 MiB of source per partition keeps
    * a state store's per-batch load/commit/snapshot cost amortized
    * over real data at every scale). */
  private val StateBytesPerPartition = 16L << 20

  /** Source-size floor above which stateful rows run the RocksDB
    * state store (see [[streamSession]]'s provider rationale). */
  private val RocksDbStateBytesMin = 64L << 20

  /** Isolated session clone with STREAMING-SHAPED sizing (guide §2.2:
    * fewer, larger partitions; stateful streaming disables AQE, so the
    * engine must size the state exchange itself — the one partitioning
    * in the library AQE cannot coalesce). Two settings, both
    * scale-adaptive, neither changes any emitted row:
    *
    *  - `spark.sql.shuffle.partitions` = ceil(source bytes / 16 MiB),
    *    clamped to [1, defaultParallelism]. Every state partition
    *    costs a store load + commit + snapshot PER MICRO-BATCH
    *    regardless of data (measured: the 32-partition default spent
    *    2.2 s on a no-data batch over a 2 MB source at sf0.1); a real
    *    deployment sizes state partitions to load for exactly this
    *    reason. Keyed state semantics are partition-count-invariant.
    *  - `spark.sql.streaming.noDataMicroBatches.enabled=false`: the
    *    watermark-advance batch after the data batch exists to fire
    *    timeouts/evictions; none of the registered rows emits on
    *    timeout (inner interval join emits on match, complete-mode
    *    aggregates re-emit the full table per batch, the
    *    flatMapGroups operator is NoTimeout), so the final table is
    *    identical — the per-row oracle hashes prove it.
    *
    * `newSession()` shares the SparkContext (and the GraftExtensions
    * function registry) but isolates SQLConf; the semantic pins are
    * re-asserted explicitly in case the parent session carries
    * overrides the context conf does not. */
  private def streamSession(spark: SparkSession, dir: String,
      sourceFile: String, stateful: Boolean = true): SparkSession = {
    val s2 = spark.newSession()
    val f = new java.io.File(s"$dir/$sourceFile")
    val bytes =
      if (f.isDirectory)
        Option(f.listFiles).map(_.map(_.length).sum).getOrElse(0L)
      else f.length
    val parts = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong,
      (bytes + StateBytesPerPartition - 1) / StateBytesPerPartition))
    // The bytes-per-partition sizing exists for STATE STORES (each
    // partition pays a store load/commit/snapshot per micro-batch);
    // the stateless stream-static probe rows have zero state
    // operators (spec-asserted), and for them the override would
    // throttle the CORPUS-SIDED static index construction (shingle /
    // signature / k-means work inside the micro-batch) to the stream
    // source's width — measured 2x on stream_minhash_dedup_files at
    // sf0.1. Stateless rows keep the parent width.
    if (stateful) {
      s2.conf.set("spark.sql.shuffle.partitions", parts.toString)
      // State-store provider chosen by STATE SIZE (guide §5: what
      // tasks hold in memory is the executor-OOM lever). The default
      // HDFS-backed provider keeps every partition's ENTIRE keyed
      // state on-heap — at 100 TB the state, not the data, is the
      // OOM — while RocksDB keeps it off-heap/on-disk with a bounded
      // block cache. But RocksDB's per-partition-per-batch native
      // open/commit/snapshot is a FIXED cost: on this library's 2 MB
      // replay fixtures it measured 2.0x wall (min-of-5, A/B'd
      // adjacent: 2.45 s HDFS vs 4.81 s RocksDB on
      // stream_interval_join_files), pure overhead for state that
      // fits a heap trivially. So the provider follows the same
      // scale-adaptive sizing as the partition count: sources big
      // enough that per-partition state approaches the 16 MiB target
      // (>= 64 MiB here) get RocksDB; small replays keep the default.
      // Semantics are provider-invariant (the per-row oracle hashes
      // prove no emitted row changes).
      if (bytes >= RocksDbStateBytesMin)
        s2.conf.set("spark.sql.streaming.stateStore.providerClass",
          "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    }
    s2.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    Seq("spark.sql.ansi.enabled", "spark.sql.session.timeZone",
        "spark.sql.legacy.parquet.nanosAsLong").foreach { k =>
      spark.conf.getOption(k).foreach(s2.conf.set(k, _))
    }
    s2
  }

  /** Replay the events table through the streaming SCD2-opens
    * operator: per user ordered by event_id, emit exactly the records
    * where event_type changes. Delivery: three in-order micro-batches,
    * then a FULL at-least-once replay of the whole fixture — a
    * non-replay-immune operator would fabricate duplicate opens and
    * redden the hash. */
  def streamEpisodeOpens(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    implicit val ctx = s.sqlContext
    import spark.implicits._
    val recs = Tables.events(spark, dir)
      .select(col("user_id").as("key"), col("event_id").as("seq"),
        col("event_type").as("value"))
      .as[Rec].collect().sortBy(_.seq)
    val ms = MemoryStream[Rec]
    val name = s"stream_episode_opens_${runId.incrementAndGet()}"
    val q = IncrementalStream.episodeOpens(ms.toDS())
      .writeStream.format("memory").queryName(name)
      .outputMode("update").start()
    try {
      val batchSize = math.max(1, recs.length / 3)
      recs.grouped(batchSize).foreach { b =>
        ms.addData(b.toIndexedSeq); q.processAllAvailable()
      }
      ms.addData(recs.toIndexedSeq) // full replay: must add nothing
      q.processAllAvailable()
    } finally q.stop()
    s.table(name)
  }

  /** The DEPLOYED shape of the same operator: episodeOpens fed from
    * the PARTITIONED FILE SOURCE (`readStream.parquet` over the events
    * table itself) under Trigger.AvailableNow — source splits read in
    * parallel on the executors, keyed state shuffles once, no
    * single-threaded driver feed. This is the row the BENCH measures
    * (the MemoryStream replay above stays as the at-least-once
    * correctness torture), so its number is operator cost, not
    * harness cost. All available files land in ONE AvailableNow batch
    * (no maxFilesPerTrigger bound is set), and the operator sorts per
    * key within a batch, so the final table equals the batch truth —
    * the registry shares the oracle verbatim. */
  def streamEpisodeOpensFiles(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val s = streamSession(spark, dir, "events.parquet")
    val rec = eventsFileStream(s, dir)
      .select(col("user_id").as("key"), col("event_id").as("seq"),
        col("event_type").as("value"))
      .as[Rec]
    val name = s"stream_episode_opens_files_${runId.incrementAndGet()}"
    val q = IncrementalStream.episodeOpens(rec)
      .writeStream.format("memory").queryName(name)
      .outputMode("update")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
  }

  /** Shared file-source reader for the deployment-shape rows: the
    * events table as a streaming source (directory for Spark-written
    * soak tables, parent + glob for the driver's single pyarrow file)
    * with ts normalized to µs TIMESTAMP across the two physical
    * encodings (BIGINT nanos under the legacy conf; TIMESTAMP_NTZ on
    * Spark 4's native nanos read — zone-free under the pinned UTC
    * session). */
  private def eventsFileStream(spark: SparkSession, dir: String): DataFrame = {
    val fileSchema = spark.read.parquet(s"$dir/events.parquet").schema
    val reader = spark.readStream.schema(fileSchema)
    val src =
      if (new java.io.File(s"$dir/events.parquet").isDirectory)
        reader.parquet(s"$dir/events.parquet")
      else reader.option("pathGlobFilter", "events.parquet").parquet(dir)
    fileSchema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        src.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        src.withColumn("ts", col("ts").cast("timestamp"))
      case _ => src
    }
  }

  /** Watermarked tumbling-window counts through the SAME file-source
    * deployment shape ([[streamEpisodeOpensFiles]]) — the windowed-
    * aggregation member of the streaming family promoted to the
    * CORRECTNESS registry. The memory sink runs in COMPLETE mode, so
    * the final table is the full aggregate regardless of where the
    * watermark stopped (append mode's finalized-windows-only cutoff
    * would make the tail watermark-dependent — correct in production,
    * not hash-stable as a correctness row) and equals the batch
    * tumbling-window GROUP BY exactly. Window starts are epoch-aligned
    * in both engines (Spark `window`, DuckDB `time_bucket`); the ns
    * timestamp is truncated to µs on both sides (the
    * [[graft.Tables]] events convention). */
  def streamWindowedCountsFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    val evs = eventsFileStream(s, dir)
    val counts = IncrementalStream.windowedCounts(
      evs, "ts", col("event_type"), "1 hour", "1 hour")
    val name = s"stream_windowed_counts_${runId.incrementAndGet()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
      .select(
        date_format(col("w_start"), "yyyy-MM-dd HH:mm:ss").as("w_start"),
        date_format(col("w_end"), "yyyy-MM-dd HH:mm:ss").as("w_end"),
        col("event_type"), col("n"))
  }

  /** Watermarked SESSION windows through the file source — the
    * gap-merge member of the streaming family as a CORRECTNESS row.
    * Same session_window expression as the batch `sessionize` query,
    * complete-mode memory sink (see [[streamWindowedCountsFiles]] for
    * why complete, not append), so the final table equals the batch
    * sessionization — the registry shares `sessionize`'s oracle
    * VERBATIM, machine-tying stream and batch session semantics. */
  def streamSessionizeFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    val evs = eventsFileStream(s, dir)
    val sessions = IncrementalStream.sessionCounts(
      evs, "ts", col("user_id"), "12 hours", "12 hours")
    val name = s"stream_sessionize_${runId.incrementAndGet()}"
    val q = sessions.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
      .select(col("user_id"),
        date_format(col("sess_start"), "yyyy-MM-dd HH:mm:ss").as("sess_start"),
        date_format(col("sess_end"), "yyyy-MM-dd HH:mm:ss").as("sess_end"),
        col("n").as("n_events"))
  }

  /** Stream-STREAM interval join through the file-source deployment
    * shape — the two-stateful-inputs member of the streaming family
    * as a CORRECTNESS row: views and clicks read as two independent
    * file-source streams over the same events table, joined per user
    * within a ±1 hour event-time band
    * ([[IncrementalStream.intervalJoin]]). Inner stream-stream join
    * rows emit as they match (append mode), so under AvailableNow the
    * final table is exactly the batch inequality join, which the
    * DuckDB oracle runs independently; the watermark + band bound
    * both sides' buffered state in a real topology. */
  def streamIntervalJoinFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    def side(tpe: String, pfx: String): DataFrame =
      eventsFileStream(s, dir)
        .filter(col("event_type") === tpe)
        .select(col("user_id").as(s"${pfx}_user"),
          col("event_id").as(s"${pfx}_id"), col("ts").as(s"${pfx}_ts"))
    val joined = IncrementalStream.intervalJoin(
      side("view", "v"), side("click", "c"),
      "v_user", "c_user", "v_ts", "c_ts", delay = "1 hour", within = "1 hour")
    val name = s"stream_interval_join_${runId.incrementAndGet()}"
    val q = joined.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
      .select(col("v_user").as("user_id"), col("v_id").as("view_id"),
        col("c_id").as("click_id"))
  }

  /** Stream-STATIC broadcast lookup remap through the file source —
    * the deployment shape of [[IncrementalStream.remapStream]] (the
    * streaming analog of the batch J1 vocabulary remap) as a
    * CORRECTNESS row: event types flow through a broadcast lookup
    * (hit rewrites, miss passes through — the left-join + coalesce
    * contract) and a complete-mode count per remapped type equals the
    * batch CASE-mapped aggregate, which the oracle runs
    * independently. The stream side never shuffles for the lookup. */
  def streamRemapFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet", stateful = false)
    import s.implicits._
    val lookup = Seq(
      ("click", "engagement"), ("purchase", "conversion"), ("error", "fault"))
      .toDF("source_name", "target_name")
    val remapped = IncrementalStream.remapStream(
      eventsFileStream(s, dir).select(col("event_id"), col("event_type")),
      lookup, "event_type")
    val counts = remapped.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
    val name = s"stream_remap_${runId.incrementAndGet()}"
    val q = counts.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
  }

  /** Watermarked streaming dedup through the file source — the
    * streaming J3 as a CORRECTNESS row with the duplicate branch REAL:
    * the events table is read as TWO independent file-source streams
    * and unioned, so every event arrives exactly twice;
    * [[IncrementalStream.dedupStream]] must emit each once. The
    * deduped append stream lands in the memory sink and a BATCH
    * aggregate over the final table (count per type) equals the plain
    * batch GROUP BY — any leaked duplicate doubles a count and
    * reddens the hash. */
  def streamDedupFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    def evs() = eventsFileStream(s, dir)
      .select(col("event_id"), col("event_type"), col("ts"))
    val doubled = evs().union(evs())
    val deduped = IncrementalStream.dedupStream(
      doubled, Seq("event_id"), "ts", "1 hour")
    val name = s"stream_dedup_${runId.incrementAndGet()}"
    val q = deduped.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"))
  }

  /** The streaming probe frame of [[streamEmbeddingDedupFiles]],
    * exposed separately so the stateless-plan claim is spec-checkable
    * (`IncrementalStreamSpec` asserts zero state operators).
    *
    * OVERLAP CONTRACT: same as [[minhashProbeStream]] — a re-ingested
    * vector lands in its own resident cell and scores 1.0 against its
    * resident copy, so a caller-supplied delta stream gets a
    * stateless `delta_id =!= base_id` filter unless `disjointIds =
    * true` proves the id spaces disjoint; the internal `% 10` split
    * is that proof structurally, keeping the registered row's plan
    * and oracle hash unchanged. */
  private[graft] def embeddingProbeStream(spark: SparkSession,
      dir: String,
      deltaOverride: Option[DataFrame] = None,
      disjointIds: Boolean = false): DataFrame = {
    import graft.sim.{KMeans, Similarity}
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .filter(col("id") % 10 < 8)
    // Cell sizing from the shared base-table aggregate (the same
    // count sqrtCells(base) measures — repartition-invariant), without
    // executing the spread exchange for a stats job (SimQueries.plainStats).
    val centers = KMeans.fitCenters(base,
      0L until SimQueries.sqrtCellsOf(SimQueries.plainStats(spark, dir)._2),
      iters = 1)
    val assign = Similarity.assignerOver(graft.expressions.CenterSet(centers))
    val baseA = assign(base)
      .select(col("bucket"), col("id").as("base_id"),
        col("vec").as("b_vec"), col("nrm").as("b_nrm"))
    val delta = deltaOverride.getOrElse {
      val fileSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
      val reader = spark.readStream.schema(fileSchema)
      val src =
        if (new java.io.File(s"$dir/embeddings.parquet").isDirectory)
          reader.parquet(s"$dir/embeddings.parquet")
        else reader.option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      src.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .filter(col("id") % 10 >= 8)
    }
    val disjoint = disjointIds || deltaOverride.isEmpty
    val pairs = assign(delta)
      .select(col("bucket"), col("id").as("delta_id"),
        col("vec").as("d_vec"), col("nrm").as("d_nrm"))
      .join(baseA, Seq("bucket"))
    (if (disjoint) pairs else pairs.filter(col("delta_id") =!= col("base_id")))
      .select(col("delta_id"), col("base_id"),
        Similarity.scaledFromParts(Similarity.dot(col("d_vec"), col("b_vec")),
          col("d_nrm"), col("b_nrm")).as("score_c"))
      .filter(col("score_c") >= 400000L)
  }

  /** The PQ-COMPRESSED deployed-index probe plan ([[embeddingProbeStream]]
    * with the resident side quantized): centers AND codebook train on the
    * resident base corpus before the stream starts, the static side of the
    * cell join carries (bucket, id, codes, rnrm) — m small ints and a
    * double per resident instead of dim floats, the ~6x memory cut that
    * matters most where the index is RESIDENT for the stream's lifetime —
    * each streamed vector is cell-assigned and encoded by pure projections
    * against the broadcast index, candidates gate on the cheap SDC lookup
    * score at the engine-chosen [[SimQueries.sdcGateFor]] gate, and only
    * survivors join back (id-keyed, candidate cardinality) to the float
    * base for the exact cosine >= 0.4 verify. Both joins are STREAM-STATIC
    * and everything else is projection: zero state operators
    * (spec-asserted), zero state growth at any stream length.
    *
    * OVERLAP CONTRACT: same as [[embeddingProbeStream]] — the
    * stateless self-pair filter guards caller-supplied delta streams
    * whose ids may collide with the resident index, skipped under a
    * `disjointIds = true` proof or the internal `% 10` split. */
  private[graft] def embeddingPqProbeStream(spark: SparkSession,
      dir: String,
      deltaOverride: Option[DataFrame] = None,
      disjointIds: Boolean = false): DataFrame = {
    import graft.sim.{KMeans, Pq, Similarity}
    val base = Tables.spread(Tables.embeddings(spark, dir))
      .select(col("vec_id").as("id"), col("embedding").as("vec"))
      .filter(col("id") % 10 < 8)
    // Cell sizing from the shared base-table aggregate (the same
    // count sqrtCells(base) measures — repartition-invariant), without
    // executing the spread exchange for a stats job (SimQueries.plainStats).
    // Independent setup chains run as concurrent jobs (the
    // SimQueries.concurrently contract): center training vs codebook
    // training + gate measurement share nothing but the base frame.
    val (centers, (cb, gate)) = SimQueries.concurrently(
      KMeans.fitCenters(base,
        0L until SimQueries.sqrtCellsOf(SimQueries.plainStats(spark, dir)._2),
        iters = 1),
      { val cb = Pq.fitCodebooks(base)
        (cb, SimQueries.sdcGateFor(base, cb)) })
    val bc = Pq.broadcastCodebook(base, cb)
    val assign = Similarity.assignerOver(graft.expressions.CenterSet(centers))
    val baseCoded = assign(base)
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .select(col("bucket"), col("id").as("base_id"),
        col("codes").as("b_codes"), col("rnrm").as("b_rnrm"))
    val baseFloat = base.select(col("id").as("base_id"),
      col("vec").as("b_vec"), Similarity.norm(col("vec")).as("b_nrm"))
    val delta = deltaOverride.getOrElse {
      val fileSchema = spark.read.parquet(s"$dir/embeddings.parquet").schema
      val reader = spark.readStream.schema(fileSchema)
      val src =
        if (new java.io.File(s"$dir/embeddings.parquet").isDirectory)
          reader.parquet(s"$dir/embeddings.parquet")
        else reader.option("pathGlobFilter", "embeddings.parquet").parquet(dir)
      src.select(col("vec_id").as("id"), col("embedding").as("vec"))
        .filter(col("id") % 10 >= 8)
    }
    val disjoint = disjointIds || deltaOverride.isEmpty
    val pairs = assign(delta)
      .withColumn("codes", Pq.encodeCol("vec", bc))
      .withColumn("rnrm", Pq.normCol("codes", bc))
      .select(col("bucket"), col("id").as("delta_id"),
        col("vec").as("d_vec"), col("nrm").as("d_nrm"),
        col("codes").as("d_codes"), col("rnrm").as("d_rnrm"))
      .join(baseCoded, Seq("bucket"))
      .filter(Similarity.scaledFromParts(
        Pq.sdcDotCol("d_codes", "b_codes", bc),
        col("d_rnrm"), col("b_rnrm")) >= gate)
    (if (disjoint) pairs else pairs.filter(col("delta_id") =!= col("base_id")))
      .join(baseFloat, Seq("base_id"))
      .select(col("delta_id"), col("base_id"),
        Similarity.scaledFromParts(Similarity.dot(col("d_vec"), col("b_vec")),
          col("d_nrm"), col("b_nrm")).as("score_c"))
      .filter(col("score_c") >= 400000L)
  }

  /** Streaming near-dup ingestion against a DEPLOYED IVFADC index —
    * the compressed sibling of [[streamEmbeddingDedupFiles]] (and the
    * streaming member of the PQ family: `embedding_dedup_pq_incr` is
    * its batch sibling): same base-trained/stream-probed contract, but
    * the resident cell index the stream probes holds PQ codes, not
    * float vectors. The oracle is the batch replay: base-trained
    * centers + codebook over everything, in-cell delta x base pairs
    * gated on SDC, survivors verified exactly — identical rows because
    * cells partition under fixed centers and codes under a fixed
    * codebook. */
  def streamEmbeddingDedupPqFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "embeddings.parquet", stateful = false)
    val matched = embeddingPqProbeStream(s, dir)
    val name = s"stream_emb_dedup_pq_${runId.incrementAndGet()}"
    val q = matched.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).select(col("delta_id"), col("base_id"), col("score_c"))
  }

  /** Streaming near-dup ingestion against a DEPLOYED embedding index —
    * the streaming member of the embedding-dedup family
    * (`embedding_dedup_incr` is its batch sibling): centers train on
    * the resident base corpus (id % 10 < 8) BEFORE the stream starts
    * (the production contract of a deployed IVF index), the delta
    * slice arrives through the file source, and each streamed vector
    * is cell-assigned by the same shuffle-free projection and probed
    * against the base residents of its cell via a STREAM-STATIC
    * equi-join on the cell id. Emits every (delta, base) pair with
    * cosine >= 0.4.
    *
    * Scale shape: the whole pipeline is STATELESS streaming — no
    * watermark, no state store (spec-asserted): assignment is a
    * projection against driver-side centers, and the static side of
    * the join is the cell-bucketed base index, so a micro-batch costs
    * O(|batch| x cell population) exactly like the incremental batch
    * path — unbounded streams carry zero state growth. The oracle is
    * the batch replay: assign everything by base-trained centers and
    * keep the delta x base in-cell pairs. */
  def streamEmbeddingDedupFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "embeddings.parquet", stateful = false)
    val matched = embeddingProbeStream(s, dir)
    val name = s"stream_emb_dedup_${runId.incrementAndGet()}"
    val q = matched.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).select(col("delta_id"), col("base_id"), col("score_c"))
  }

  /** Streaming near-dup ingestion against a DEPLOYED MinHash band
    * index — the streaming member of the TEXT near-dup family
    * (`minhash_dedup_incr` is its batch sibling, exactly as
    * `stream_embedding_dedup_files` pairs with `embedding_dedup_incr`).
    * Resident state: the base corpus's band index (band_key → base_id)
    * plus its shingle arrays for the exact verify. Each streamed
    * document is shingled, signed and banded by pure projections
    * ([[graft.text.MinHashLSH.bandedShingles]] — the signature UDF is
    * per-row); candidates come from a STREAM-STATIC equi-join on
    * band_key; the exact-Jaccard verify is a second stream-static
    * join, id-keyed at candidate cardinality. Emits (delta_id,
    * base_id, jaccard_c) at J >= 0.5.
    *
    * Scale shape: STATELESS streaming — no watermark, no state store
    * (spec-asserted); a micro-batch costs O(|batch| × band fan-out)
    * and unbounded streams carry zero state growth. A (delta, base)
    * pair sharing k bands is emitted k times (identical rows — the
    * verify is deterministic); the post-stream read distincts. The
    * bounded (≤ nBands = 4) duplicate verify is the price of
    * statelessness — the batch path pays a shuffle for its
    * pre-verify distinct instead.
    *
    * Oracle: the batch replay — [[TextQueries.minhashPairsCtes]]'
    * pair set projected to its cross-boundary (delta, base) rows.
    * Shared CTEs, so this row's truth and `minhash_dedup`'s cannot
    * drift.
    *
    * OVERLAP CONTRACT (the streaming face of the batch incremental
    * paths' `disjointIds` proof — [[graft.text.MinHashLSH
    * .incrementalPairs]]): when the streamed ids can collide with the
    * resident index's ids (a document RE-INGESTED after deployment),
    * a re-ingested document trivially shares every band with its own
    * resident copy and would emit a self-pair. Callers supplying
    * their own delta stream therefore get a stateless self-pair
    * filter (`delta_id =!= base_id` — a projection, zero state)
    * unless they pass `disjointIds = true` as a proof; the internal
    * `% 10` split IS such a proof by construction, so the registered
    * row's plan — and its oracle hash — is unchanged. Duplicate
    * emissions of one re-ingested id (same id twice in the stream)
    * remain covered by the post-sink distinct, the stateless path's
    * documented dedup point. */
  private[graft] def minhashProbeStream(spark: SparkSession,
      dir: String,
      deltaOverride: Option[DataFrame] = None,
      disjointIds: Boolean = false): DataFrame = {
    import graft.text.MinHashLSH
    val base = Tables.spread(Tables.documents(spark, dir))
      .filter(col("doc_id") % 10 < 8)
    val baseArrs = MinHashLSH.shingleArrays(base, "doc_id", "text", 3)
      .select(col("doc_id").as("base_id"), col("shingles").as("b_sh"))
    val baseIdx = MinHashLSH.bands(
        MinHashLSH.signatures(
          MinHashLSH.shingleArrays(base, "doc_id", "text", 3),
          "doc_id", TextQueries.Perms),
        "doc_id", TextQueries.Perms, TextQueries.BandRows)
      .select(col("band_key"), col("doc_id").as("base_id"))
    val delta = deltaOverride.getOrElse {
      val fileSchema = spark.read.parquet(s"$dir/documents.parquet").schema
      val reader = spark.readStream.schema(fileSchema)
      val src =
        if (new java.io.File(s"$dir/documents.parquet").isDirectory)
          reader.parquet(s"$dir/documents.parquet")
        else reader.option("pathGlobFilter", "documents.parquet").parquet(dir)
      src.filter(col("doc_id") % 10 >= 8)
    }
    // Disjointness proof: explicit from the caller, or structural for
    // the internal split (delta % 10 >= 8 never collides with the
    // % 10 < 8 resident slice).
    val disjoint = disjointIds || deltaOverride.isEmpty
    val inter = size(array_intersect(col("d_sh"), col("b_sh")))
    val pairs = MinHashLSH.bandedShingles(delta, "doc_id", "text", ngram = 3,
        TextQueries.Perms, TextQueries.BandRows)
      .select(col("doc_id").as("delta_id"), col("shingles").as("d_sh"),
        col("band_key"))
      .join(baseIdx, Seq("band_key"))
    val guarded =
      if (disjoint) pairs else pairs.filter(col("delta_id") =!= col("base_id"))
    guarded
      .join(baseArrs, Seq("base_id"))
      .select(col("delta_id"), col("base_id"),
        floor(inter.cast("double") /
            (size(col("d_sh")) + size(col("b_sh")) - inter) * 1e6 + lit(0.5d))
          .cast("long").as("jaccard_c"))
      .filter(col("jaccard_c") >= 500000L)
  }

  /** [[minhashProbeStream]] as a REGISTERED row: AvailableNow through
    * the file source into a memory sink, then the final table
    * distinct'd (collapsing the per-shared-band duplicate emissions
    * of identical verified rows). */
  def streamMinhashDedupFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "documents.parquet", stateful = false)
    val matched = minhashProbeStream(s, dir)
    val name = s"stream_minhash_dedup_${runId.incrementAndGet()}"
    val q = matched.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name)
      .select(col("delta_id"), col("base_id"), col("jaccard_c")).distinct()
  }

  /** Float byte volume of the RESIDENT side of the streamed probe —
    * the base slice the stream holds for its lifetime (0.8n × dim ×
    * 4 B), measured by the SAME one-aggregate rule as the batch
    * dispatchers ([[graft.sim.Similarity.floatPayloadBytes]]). The
    * streaming budget deliberately measures the resident index, not
    * the whole corpus: a micro-batch is transient, but the static
    * side of the stream-static join is pinned in memory for as long
    * as the stream runs — the regime where the ~6x codes-only cut is
    * most real. */
  private[graft] def residentFloatBytes(spark: SparkSession,
      dir: String): Long = {
    import graft.sim.Similarity
    Similarity.floatPayloadBytes(
      Tables.spread(Tables.embeddings(spark, dir))
        .select(col("vec_id").as("id"), col("embedding").as("vec"))
        .filter(col("id") % 10 < 8))
  }

  /** The engine-chosen streamed probe — the STREAMING member of the
    * float↔PQ payload dispatch family (`knn_graph_payload_auto` and
    * `embedding_dedup_payload_auto_incr` are its batch siblings, and
    * the three consumers of a deployed trained index now all carry the
    * engine-chosen payload): picks the resident cell index the stream
    * probes — exact float vectors ([[embeddingProbeStream]]) or PQ
    * codes + SDC gate ([[embeddingPqProbeStream]]) — from the measured
    * [[residentFloatBytes]] against the shared
    * [[graft.sim.Similarity.FloatPayloadBytesMax]] crossover.
    * Deterministic in (n, dim) alone; each branch is the
    * corresponding registered operator, so both stay independently
    * oracle-checked; `StreamingDedupSpec` differential-tests both
    * sides of a forced bound and `PlanAuditSpec` pins the codes-only
    * resident side on the compressed branch. */
  private[graft] def embeddingProbeStreamAuto(spark: SparkSession,
      dir: String,
      payloadMax: Long = graft.sim.Similarity.FloatPayloadBytesMax,
      payloadBytes: Option[Long] = None): DataFrame =
    if (payloadBytes.getOrElse(residentFloatBytes(spark, dir)) <= payloadMax)
      embeddingProbeStream(spark, dir)
    else embeddingPqProbeStream(spark, dir)

  /** [[embeddingProbeStreamAuto]] as a REGISTERED row: at every bench
    * SF the resident float index sits orders of magnitude under the
    * 2 GiB crossover, so the dispatch provably keeps the float
    * resident side and the oracle is the float replay
    * (`stream_embedding_dedup_files`' SQL verbatim); the compressed
    * branch keeps its own oracle-checked row
    * (`stream_embedding_dedup_pq_files`), and the guard turns the
    * pinned oracle's scale limit into an explicit failure. */
  def streamEmbeddingDedupAutoFiles(spark: SparkSession,
      dir: String): DataFrame = {
    val s = streamSession(spark, dir, "embeddings.parquet", stateful = false)
    val payload = residentFloatBytes(spark, dir)
    SimQueries.requireFloatBranch("stream_embedding_dedup_auto_files",
      payload, "stream_embedding_dedup_pq_files")
    val matched = embeddingProbeStreamAuto(s, dir,
      payloadBytes = Some(payload))
    val name = s"stream_emb_dedup_auto_${runId.incrementAndGet()}"
    val q = matched.writeStream.format("memory").queryName(name)
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    s.table(name).select(col("delta_id"), col("base_id"), col("score_c"))
  }

  /** CMS geometry + probes for [[streamCmsFiles]] — the five live
    * event types plus one guaranteed-absent probe (collision-noise
    * branch). Width 64 with 5 distinct values means rows are
    * near-exact here; the STREAMING claim under test is the state
    * contract, not collision behavior (CmsSketchSpec covers that). */
  private val StreamCmsDepth = 4
  private val StreamCmsWidth = 64
  private val StreamCmsProbes = Seq(
    "click", "error", "purchase", "signup", "view", "zzznostream")

  /** Streaming Count-Min sketch maintenance through the file source —
    * the sketch family's deployment shape: `graft_cms_sketch`
    * ([[graft.expressions.CmsSketchAgg]]) runs INSIDE a complete-mode
    * streaming aggregation, so each micro-batch reduces to partial
    * counter arrays and the state store holds ONE depth x width
    * buffer — fixed-size state regardless of stream length, the
    * sketch's 100 TB story carried unchanged to unbounded streams.
    * The final sketch is probed for the event types (plus one absent
    * term), and the estimates equal the batch replay cell-for-cell —
    * which is what the DuckDB oracle computes. */
  def streamCmsFiles(spark: SparkSession, dir: String): DataFrame = {
    val s = streamSession(spark, dir, "events.parquet")
    import spark.implicits._
    val sk = eventsFileStream(s, dir)
      .select(col("event_type"))
      .agg(call_function("graft_cms_sketch", col("event_type"),
        lit(StreamCmsDepth), lit(StreamCmsWidth)).as("sk"))
    val name = s"stream_cms_${runId.incrementAndGet()}"
    val q = sk.writeStream.format("memory").queryName(name)
      .outputMode("complete")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    // The final sketch is one fixed-size row in the memory sink —
    // a driver-side scalar (the cms_freq convention): inline it as a
    // literal and probe with a pure projection, no join.
    val skArr: Array[Long] = s.table(name).as[Seq[Long]].head().toArray
    val probes = StreamCmsProbes.toDF("term")
    val perRow = (0 until StreamCmsDepth).map { r =>
      element_at(lit(skArr),
        (lit(r * StreamCmsWidth + 1) +
          graft.text.TextFunctions.portableHash(col("term"), s"cms$r")
            % StreamCmsWidth).cast("int"))
    }
    probes.select(col("term"), array_min(array(perRow: _*)).as("est"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_cms_files" -> (streamCmsFiles _),
    "stream_dedup_files" -> (streamDedupFiles _),
    "stream_embedding_dedup_files" -> (streamEmbeddingDedupFiles _),
    "stream_embedding_dedup_pq_files" -> (streamEmbeddingDedupPqFiles _),
    "stream_embedding_dedup_auto_files" -> (streamEmbeddingDedupAutoFiles _),
    "stream_minhash_dedup_files" -> (streamMinhashDedupFiles _),
    "stream_remap_files" -> (streamRemapFiles _),
    "stream_interval_join_files" -> (streamIntervalJoinFiles _),
    "stream_episode_opens" -> (streamEpisodeOpens _),
    "stream_episode_opens_files" -> (streamEpisodeOpensFiles _),
    "stream_windowed_counts_files" -> (streamWindowedCountsFiles _),
    "stream_sessionize_files" -> (streamSessionizeFiles _))

  /** Shared batch truth of the float streamed index probe
    * (`stream_embedding_dedup_files`) and its engine-chosen payload
    * dispatcher row (`stream_embedding_dedup_auto_files`, which
    * provably keeps the float resident side at every bench SF). */
  private val streamEmbeddingDedupOracle: String =
    s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
      |${SimQueries.vnSql},
      |vb AS (SELECT * FROM vn WHERE id % 10 < 8),
      |${SimQueries.trainedAssignSql(
          "(SELECT GREATEST(8, CAST(floor(sqrt(count(*)) + 0.5) AS BIGINT)) FROM vb)",
          nprobe = 1, trainSrc = "vb")},
      |assign AS (SELECT id, vec, nrm, bucket FROM ranked_assign WHERE rn = 1)
      |SELECT d.id AS delta_id, b.id AS base_id,
      |       ${SimQueries.scaledPartsSql("d.vec", "b.vec", "d.nrm", "b.nrm")} AS score_c
      |FROM assign d JOIN assign b ON d.bucket = b.bucket
      | AND d.id % 10 >= 8 AND b.id % 10 < 8
      |WHERE ${SimQueries.scaledPartsSql("d.vec", "b.vec", "d.nrm", "b.nrm")} >= 400000""".stripMargin

  val oracles: Map[String, String] = Map(
    // Batch truth for the streamed CMS sketch: replay the counter
    // cells relationally (portable salted-md5 bucket hash) and take
    // the min over rows per probe term — cell-for-cell the estimate
    // the streaming sketch serves.
    "stream_cms_files" ->
      s"""WITH cells AS (
        |  SELECT t.r,
        |         CAST('0x' || substr(md5('cms' || CAST(t.r AS VARCHAR) || ':'
        |              || event_type), 1, 15) AS BIGINT) % $StreamCmsWidth AS b,
        |         count(*) AS c
        |  FROM events CROSS JOIN range($StreamCmsDepth) AS t(r)
        |  GROUP BY 1, 2
        |), probes(term) AS (
        |  VALUES ${StreamCmsProbes.map(t => s"('$t')").mkString(", ")}
        |)
        |SELECT p.term, CAST(min(coalesce(c.c, 0)) AS BIGINT) AS est
        |FROM probes p CROSS JOIN range($StreamCmsDepth) AS t(r)
        |LEFT JOIN cells c ON c.r = t.r AND c.b =
        |  CAST('0x' || substr(md5('cms' || CAST(t.r AS VARCHAR) || ':'
        |       || p.term), 1, 15) AS BIGINT) % $StreamCmsWidth
        |GROUP BY p.term""".stripMargin,
    // Batch truth for the streamed index probe: assign every vector
    // by the BASE-trained centers (the deployed-index contract) and
    // keep the delta x base in-cell pairs at cosine >= 0.4 — the
    // stream-static join loses and invents nothing vs this replay.
    "stream_embedding_dedup_files" -> streamEmbeddingDedupOracle,
    // Batch truth for the streamed MinHash band-index probe: the SAME
    // generated CTEs as minhash_dedup (signatures, banding, exact
    // Jaccard), projected to the pairs that cross the base/delta
    // boundary — the stream-static join loses and invents nothing vs
    // the full self-join's cross-boundary slice.
    "stream_minhash_dedup_files" -> (TextQueries.minhashPairsCtes +
      """
      |SELECT CASE WHEN doc_a % 10 >= 8 THEN doc_a ELSE doc_b END AS delta_id,
      |       CASE WHEN doc_a % 10 >= 8 THEN doc_b ELSE doc_a END AS base_id,
      |       jaccard_c
      |FROM pairs
      |WHERE (doc_a % 10 >= 8) <> (doc_b % 10 >= 8)""".stripMargin),
    // The payload dispatcher row: at every bench SF the resident base
    // index (0.8n x dim x 4 B) sits orders of magnitude under the
    // 2 GiB crossover, so the dispatch provably keeps the float
    // resident side — its batch truth IS the float replay, shared
    // verbatim with stream_embedding_dedup_files (the compressed
    // branch's truth is the stream_embedding_dedup_pq_files row).
    "stream_embedding_dedup_auto_files" -> streamEmbeddingDedupOracle,
    // Batch truth for the streamed IVFADC probe: base-trained centers
    // AND codebook (trainPred threads the id % 10 < 8 restriction),
    // every vector assigned and encoded by them, delta x base in-cell
    // pairs gated on the SDC reconstruction score at the replayed
    // engine gate, survivors verified exactly — identical to the
    // stream's emissions because cells partition under fixed centers
    // and codes under a fixed codebook.
    "stream_embedding_dedup_pq_files" ->
      s"""WITH v AS (SELECT vec_id AS id, embedding AS vec FROM embeddings),
        |${SimQueries.vnSql},
        |vb AS (SELECT * FROM vn WHERE id % 10 < 8),
        |${SimQueries.trainedAssignSql(
            "(SELECT GREATEST(8, CAST(floor(sqrt(count(*)) + 0.5) AS BIGINT)) FROM vb)",
            nprobe = 1, trainSrc = "vb")},
        |assign AS (SELECT id, vec, nrm, bucket FROM ranked_assign WHERE rn = 1),
        |${SimQueries.pqCodebookSql(trainPred = c => s"$c % 10 < 8")},
        |${SimQueries.pqGateSql(pred = "vn.id % 10 < 8")},
        |pcode AS (
        |  SELECT a.id, a.bucket, r.rvec, r.rnrm
        |  FROM assign a JOIN prec r ON a.id = r.id),
        |cand AS (
        |  SELECT d.id AS delta_id, b.id AS base_id
        |  FROM pcode d JOIN pcode b ON d.bucket = b.bucket
        |   AND d.id % 10 >= 8 AND b.id % 10 < 8
        |  WHERE ${SimQueries.pqScaledSql("d.rvec", "b.rvec", "d.rnrm", "b.rnrm")} >= (SELECT g FROM pgate))
        |SELECT c.delta_id, c.base_id,
        |       ${SimQueries.scaledPartsSql("x.vec", "y.vec", "x.nrm", "y.nrm")} AS score_c
        |FROM cand c JOIN vn x ON c.delta_id = x.id JOIN vn y ON c.base_id = y.id
        |WHERE ${SimQueries.scaledPartsSql("x.vec", "y.vec", "x.nrm", "y.nrm")} >= 400000""".stripMargin,
    // Batch truth for the streamed dedup of the doubled stream: each
    // event exactly once -> the plain per-type counts.
    "stream_dedup_files" ->
      """SELECT event_type, count(*) AS n
        |FROM events GROUP BY event_type""".stripMargin,
    // Batch truth for the streamed lookup remap: the CASE-mapped
    // count per type (miss keeps the original value).
    "stream_remap_files" ->
      """SELECT CASE event_type
        |         WHEN 'click' THEN 'engagement'
        |         WHEN 'purchase' THEN 'conversion'
        |         WHEN 'error' THEN 'fault'
        |         ELSE event_type END AS event_type,
        |       count(*) AS n
        |FROM events GROUP BY 1""".stripMargin,
    // Batch truth for the stream-stream interval join: the same
    // inequality join DuckDB plans itself (µs-truncated timestamps —
    // the events ts convention).
    "stream_interval_join_files" ->
      """SELECT a.user_id AS user_id, a.event_id AS view_id, b.event_id AS click_id
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'click'
        | AND CAST(b.ts AS TIMESTAMP) >= CAST(a.ts AS TIMESTAMP) - INTERVAL 1 HOUR
        | AND CAST(b.ts AS TIMESTAMP) <= CAST(a.ts AS TIMESTAMP) + INTERVAL 1 HOUR""".stripMargin,
    // The batch truth the stream must land on: first observation per
    // user plus every value change, keyed by the observing event.
    "stream_episode_opens" ->
      """WITH t AS (
        |  SELECT user_id AS key, event_id AS seq, event_type AS value,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY event_id) AS prev
        |  FROM events
        |)
        |SELECT key, seq, value FROM t
        |WHERE prev IS NULL OR prev <> value""".stripMargin,
    // Shared VERBATIM with stream_episode_opens: the file-source
    // deployment shape must land on the same batch truth.
    "stream_episode_opens_files" ->
      """WITH t AS (
        |  SELECT user_id AS key, event_id AS seq, event_type AS value,
        |         lag(event_type) OVER (PARTITION BY user_id
        |                               ORDER BY event_id) AS prev
        |  FROM events
        |)
        |SELECT key, seq, value FROM t
        |WHERE prev IS NULL OR prev <> value""".stripMargin,
    // Batch truth for the streaming windowed counts: epoch-aligned
    // 1-hour tumbling windows over the µs-truncated event time.
    "stream_windowed_counts_files" ->
      """SELECT strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP)),
        |                '%Y-%m-%d %H:%M:%S') AS w_start,
        |       strftime(time_bucket(INTERVAL '1 hour', CAST(ts AS TIMESTAMP))
        |                  + INTERVAL '1 hour',
        |                '%Y-%m-%d %H:%M:%S') AS w_end,
        |       event_type, count(*) AS n
        |FROM events
        |GROUP BY 1, 2, 3""".stripMargin,
    // Shared VERBATIM with sessionize (PipelineQueries): the streamed
    // session windows must land on the batch truth.
    "stream_sessionize_files" ->
      """WITH o AS (
        |  SELECT user_id, CAST(ts AS TIMESTAMP) AS ts, event_id,
        |         epoch_us(CAST(ts AS TIMESTAMP)) AS e,
        |         lag(epoch_us(CAST(ts AS TIMESTAMP)))
        |           OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pe
        |  FROM events
        |), m AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN pe IS NULL OR e - pe >= 43200000000 THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id
        |            ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM o
        |)
        |SELECT user_id,
        |  strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS sess_start,
        |  strftime(max(ts) + INTERVAL 43200 SECONDS, '%Y-%m-%d %H:%M:%S') AS sess_end,
        |  count(*) AS n_events
        |FROM m GROUP BY user_id, sid""".stripMargin)
}
