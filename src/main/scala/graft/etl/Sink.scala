package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Append sink + the incremental-load composition — SURVEY §2.1 S6.
  *
  * The reference ends every job with
  * `df.repartition(50).write().format("jdbc").mode(SaveMode.Append)`
  * (`Load CT Patients Job/.../LoadCTPatients.java:205-215`). This
  * engine's sink is parquet (per the driver contract) with the same
  * shape: explicit write parallelism, append-only, no in-place updates.
  *
  * Scale notes:
  *  - `writePartitions` exists because a JDBC sink needs bounded
  *    connection counts; for parquet it bounds file count. Pass 0 to
  *    skip the repartition entirely (parquet doesn't need it and the
  *    extra shuffle is pure cost).
  *  - Idempotency comes from [[Incremental.newRecords]]: re-running a
  *    load appends nothing, exactly like the reference's anti-join +
  *    append contract.
  */
object Sink {

  def append(df: DataFrame, path: String, writePartitions: Int = 0): Unit = {
    val out = if (writePartitions > 0) df.repartition(writePartitions) else df
    out.write.mode(SaveMode.Append).parquet(path)
  }

  /** Bucketed managed table: co-locates data by join key at WRITE time
    * so repeated joins/aggregations on `bucketCols` plan with no
    * shuffle exchange at all — the 100 TB answer for fact-to-fact
    * joins re-run every load cycle (the anti-join's source and target
    * sides bucketed on the logical key never reshuffle). Buckets are
    * sorted for sort-merge locality. */
  def writeBucketed(df: DataFrame, table: String, bucketCols: Seq[String],
      buckets: Int, sortCols: Seq[String] = Seq.empty): Unit = {
    val w = df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    val sorted =
      if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.saveAsTable(table)
  }

  /** S7-style full refresh: the reference's metadata jobs rebuild the
    * target and swap it in via driver-side `renameTable`/`dropTable`
    * (`Core/.../DatabaseUtils.java:31-52`). The lake equivalent here is
    * write-new-then-rename, through the Hadoop FileSystem API so the
    * same code runs on local disk, HDFS, or an s3a/abfs bucket.
    * Readers never observe a HALF-WRITTEN table (the staging write is
    * invisible until renamed), but the two-step swap itself is not
    * atomic: a crash between the renames leaves the data parked at
    * `path + "__old"`. That window is recoverable (the data is intact
    * under a deterministic name, and the next refresh clears it),
    * matching the reference's own rename/drop swap, which has the same
    * window. Caveats by filesystem: HDFS renames are atomic metadata
    * ops; S3A "renames" are copy+delete (slower window, still
    * staged-then-swapped). True atomicity on an object store needs a
    * versioned directory + pointer flip (a table format's job — out of
    * scope for parity). */
  def fullRefresh(df: DataFrame, path: String, writePartitions: Int = 0): Unit = {
    val tmp = path + "__staging"
    val out = if (writePartitions > 0) df.repartition(writePartitions) else df
    out.write.mode(SaveMode.Overwrite).parquet(tmp)
    val conf = df.sparkSession.sessionState.newHadoopConf()
    val target = new org.apache.hadoop.fs.Path(path)
    val fs = target.getFileSystem(conf)
    val old = new org.apache.hadoop.fs.Path(path + "__old")
    val staging = new org.apache.hadoop.fs.Path(tmp)
    // A stale __old from a prior crash would make the rename fail —
    // the new data is already safely staged, so clear it first.
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(target)) {
      require(fs.rename(target, old), s"could not park $path as __old")
      require(fs.rename(staging, target), s"could not swap staging into $path")
      fs.delete(old, true)
    } else {
      require(fs.rename(staging, target), s"could not move staging into $path")
    }
  }

  /** One incremental-load cycle: anti-join the source against the
    * current target state on `keys` (null-safe), append only the new
    * records, return how many were appended (the reference logs this
    * count in every job).
    *
    * The fresh frame is persisted DISK_ONLY across the count + append
    * actions — the reference pins its frames for exactly this reason
    * (`LoadCTPatients.java:59,170`: every job runs >= 2 actions and an
    * unpinned plan would re-run the whole clean+remap+anti-join per
    * action; at 100 TB that doubles every load cycle). */
  def incrementalLoad(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], writePartitions: Int = 0): Long = {
    val exists = pathExists(spark, path)
    val fresh =
      if (!exists) source
      else Incremental.newRecords(source, spark.read.parquet(path), keys)
    runCountedAppend(fresh, path, writePartitions)
  }

  /** MERGE / upsert (SCD Type 1) into a parquet target: rows whose key
    * exists in `source` are REPLACED by the source row, absent keys are
    * inserted, untouched target rows survive — the "latest state wins"
    * sink between plain append ([[incrementalLoad]]) and history-keeping
    * SCD2 ([[Scd2.historize]]). Set-based: one null-safe anti-join of
    * the TARGET against the source keys (the keep set) + union + the
    * same staged atomic swap as [[fullRefresh]] — reading the current
    * target while staging is safe because nothing is renamed until the
    * staging write completes.
    *
    * Source rows pass through verbatim — dedupe upstream
    * (`Dedup.latestPerKey`) when the batch can carry several rows per
    * key. Scale shape: the rewrite cost is the anti-join (key-hash
    * exchange) plus a full rewrite of the target — the honest price of
    * in-place updates on immutable files; when deltas are tiny and
    * rewrites hurt, that is what log-structured table formats amortize,
    * and what [[incrementalLoad]] + latest-per-key-at-read expresses
    * without one. */
  def upsert(spark: SparkSession, source: DataFrame, path: String,
      keys: Seq[String], writePartitions: Int = 0): Unit = {
    if (!pathExists(spark, path)) {
      fullRefresh(source, path, writePartitions)
    } else {
      val kept = Incremental.newRecords(
        spark.read.parquet(path), source, keys)
      fullRefresh(kept.unionByName(source), path, writePartitions)
    }
  }

  /** Small-file compaction: rewrite a parquet directory into
    * `targetFiles` evenly-sized files with the same atomic swap.
    * Append-per-batch sinks accrete one file set per cycle; at 100 TB
    * the resulting tiny-file population dominates open/seek cost and
    * scheduler overhead long before data volume does. Content-identical
    * by construction (a repartition reshuffles rows, never changes
    * them). */
  def compact(spark: SparkSession, path: String, targetFiles: Int): Unit = {
    require(targetFiles > 0, "targetFiles must be positive")
    fullRefresh(spark.read.parquet(path).repartition(targetFiles), path)
  }

  /** Whether `path` holds a loaded table: at least one visible entry,
    * i.e. a name starting with neither `_` nor `.` (Spark's own rule
    * for hidden files — `_SUCCESS`, `_temporary`, `.crc`). A failed
    * first append leaves the directory behind EMPTY (or holding only
    * `_temporary`); treating that as a table would make every later
    * load read it and fail schema inference, so such a directory
    * counts as absent. Listing stops at the first visible entry.
    * Through the Hadoop FS API (local/HDFS/object store alike — a
    * `java.io.File` probe only works on local disk). */
  def pathExists(spark: SparkSession, path: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    try {
      val it = fs.listStatusIterator(p)
      var found = false
      while (!found && it.hasNext) {
        val name = it.next().getPath.getName
        found = !name.startsWith("_") && !name.startsWith(".")
      }
      found
    } catch {
      case _: java.io.FileNotFoundException => false
    }
  }

  /** count() + conditional append with a DISK_ONLY pin spanning both
    * actions, so the upstream plan executes exactly once. */
  private[graft] def runCountedAppend(fresh: DataFrame, path: String,
      writePartitions: Int): Long = {
    fresh.persist(org.apache.spark.storage.StorageLevel.DISK_ONLY)
    try {
      val n = fresh.count()
      if (n > 0) append(fresh, path, writePartitions)
      n
    } finally fresh.unpersist()
  }
}
