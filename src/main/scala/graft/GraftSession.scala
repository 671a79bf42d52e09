package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the engine's session semantics.
  *
  * Every entry point (Verify, the tools, the shared test session)
  * builds through [[configure]], so the semantic pins live in exactly
  * one place and `RegistrySpec` can assert them on the live session.
  *
  * The load-bearing pin is `spark.sql.ansi.enabled=false`: the
  * reference runs Spark 3.3 (pre-ANSI defaults — SURVEY §7.4 risk 7),
  * where a garbage cast yields NULL instead of throwing. Spark 4
  * flipped the default to `true`; without the pin the engine's
  * semantics change per query family as documented in COVERAGE.md
  * ("ANSI-mode audit"). Code that must survive EITHER mode (the DQ
  * gate in [[graft.etl.Quality]], the varchar clamp in
  * [[graft.etl.Cleaning]]) uses `try_cast` explicitly.
  */
object GraftSession {

  /** Reference semantics are pre-ANSI; see class doc. */
  val AnsiEnabled = "false"

  /** Apply the engine's semantic + local-mode pins to a builder.
    *
    * @param shufflePartitions sized to the local core count — 200
    *   default partitions on a 60k-row local test would be pure
    *   scheduling overhead; a real cluster deployment overrides this
    *   (and relies on AQE coalescing).
    */
  def configure(b: SparkSession.Builder,
      shufflePartitions: String): SparkSession.Builder =
    b.withExtensions(new graft.expressions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      // Determinism: date/timestamp arithmetic must not depend on the
      // host zone (the DuckDB oracle runs in UTC).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", AnsiEnabled)
      // events.parquet carries TIMESTAMP(NANOS); read as BIGINT ns
      // (converted back in Tables.events).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Shuffle/spill/broadcast block codec (guide §2.3/§9): zstd over
      // the lz4 default. sf10 A/B (OPTIMIZATION_r19.md §11):
      // shuffle bytes 0.30-0.78x on every heavy row (bpe_tokenize
      // 2817->834 MB, spill 4381->1410 MB) at <=1x executor CPU — at
      // cluster scale shuffle bytes cross the NIC, so the ratio is the
      // win. Results are byte-transport-level only: no query output
      // can change.
      .config("spark.io.compression.codec", "zstd")
      .config("spark.ui.enabled", "false")
}
