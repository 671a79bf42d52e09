package graft

import org.apache.spark.sql.types.{BooleanType, LongType, StringType}

/** The driver-contract registry, machine-checked.
  *
  * Two silent failure modes of the correctness gate are pinned here:
  * a query registered without an oracle downgrades its check to
  * rows-only (the round-4 `no_oracle` holes), and an output column
  * that is not BIGINT/VARCHAR hashes differently between Spark and
  * DuckDB even when values match (the round-1 DECIMAL/DATE lesson —
  * see the canonicalization rule in `queries/EtlQueries.scala`).
  */
class RegistrySpec extends SparkSpec {

  test("session pins pre-ANSI semantics via GraftSession (the one place)") {
    // The reference runs Spark 3.3 (ANSI off): garbage casts yield
    // NULL. Spark 4 defaults ANSI on; every entry point (Verify,
    // the tools, this test session) must build through
    // GraftSession.configure so the pin cannot drift per-binary.
    // COVERAGE.md "ANSI-mode audit" documents which query families
    // would change behavior if this pin were dropped.
    assert(GraftSession.AnsiEnabled == "false")
    assert(spark.conf.get("spark.sql.ansi.enabled") == "false",
      "live session lost the pre-ANSI pin — a cast-of-garbage would " +
        "throw instead of yielding NULL, changing E4/E16/DQ semantics")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    // r19 §11: zstd shuffle/spill codec (0.30-0.78x shuffle bytes at
    // sf10, <=1x CPU); a constant, so no system property overrides it.
    assert(spark.conf.get("spark.io.compression.codec") == "zstd",
      "session lost the zstd shuffle codec (OPTIMIZATION_r19.md §11)")
  }

  test("every registered query has a DuckDB oracle, and vice versa") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert((q -- o).isEmpty, s"queries without oracle: ${(q -- o).toSeq.sorted}")
    assert((o -- q).isEmpty, s"oracles without query: ${(o -- q).toSeq.sorted}")
  }

  test("no query plans a cartesian or nested-loop join (declared all-pairs baselines excepted)") {
    val dir = "/root/testdata/sf0.001"
    // Declared exceptions, each bounded by construction:
    //  - ann_topk broadcasts the query slice against the whole corpus
    //    by design (the exact baseline its IVF siblings are measured
    //    against) — its join condition is pure theta (q_id != n_id);
    //  - the cohort queries attach broadcast BOUNDED dimensions with
    //    no join condition (the 1-row spine min/max aggregate, the
    //    n-months spine) — a nested "loop" over a 1-row/80-row build
    //    side is a per-row constant append, not a scale hazard.
    //  - freq_items_band cross-joins the ONE-row freqItems sketch
    //    frame onto the handful of exact heavy hitters — a 1-row
    //    broadcast build side, constant per row.
    //  - ann_recall_clustered's TRUTH side is the exact brute-force
    //    baseline (pure-theta broadcast, same as ann_topk) over a
    //    fixture FIXED at 200 vectors regardless of SF — the exact
    //    pass is the recall denominator, bounded by construction.
    //  - ann_pq is the brute form of ADC search (same pure-theta
    //    broadcast query slice as ann_topk, deliberately unblocked so
    //    compression's effect on ranking is oracle-visible in
    //    isolation); its blocked sibling is knn_graph_ivfpq.
    //  - ann_bq is the same brute form for the binary-quantization
    //    estimator (BitQ.bqTopK — pure-theta broadcast query slice);
    //    its blocked production sibling is ann_bq_rerank, which
    //    PlanAuditSpec pins to a broadcast equi-join on the cell key.
    val boundedByDesign = Set("ann_topk", "art_outcome", "art_outcome_ref",
      "freq_items_band", "ann_recall_clustered", "ann_pq", "ann_bq")
    val bad = SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => boundedByDesign.contains(q._1))
      .collect { case (name, fn) =>
        val plan = fn(spark, dir).queryExecution.sparkPlan.toString()
        if (plan.contains("CartesianProduct") ||
            plan.contains("BroadcastNestedLoopJoin")) Some(name) else None
      }.flatten
    assert(bad.isEmpty, s"nested-loop/cartesian plans: $bad")
  }

  test("every query output column is BIGINT, VARCHAR, or BOOLEAN " +
      "(canonicalization rule)") {
    // BIGINT/VARCHAR since round 2; BOOLEAN added in round 8 for the
    // honest-envelope band checks (hll_distinct,
    // approx_percentile_band, higher_order_funcs) — symmetric on both
    // sides of the driver's hash (DuckDB returns Python True for the
    // oracle literal and the parquet column alike) and in selfcheck's
    // DESCRIBE-trusted set. DECIMAL/DATE/DOUBLE remain banned.
    val dir = "/root/testdata/sf0.001"
    val bad = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      fn(spark, dir).schema.fields.collect {
        case f if f.dataType != LongType && f.dataType != StringType &&
            f.dataType != BooleanType =>
          s"$name.${f.name}: ${f.dataType.simpleString}"
      }
    }
    assert(bad.isEmpty, s"non-canonical output columns:\n${bad.mkString("\n")}")
  }

  test("the pinned-oracle scale guards of the engine-chosen rows FIRE " +
      "past a forced bound, naming registered sibling oracles — and " +
      "stay silent inside it") {
    // Every dispatcher row pins its oracle to the branch taken at
    // bench SF; past the crossover the dispatch is correct engine
    // behavior but a DIFFERENT row set, so the registered query must
    // fail with a message routing the reader to the sibling row whose
    // oracle covers that regime — never a bare driver hash mismatch.
    // The guards were inline `require`s (untested, r15 ADVICE); they
    // now route through SimQueries.requireFlatBranch/requireFloatBranch
    // with the bound as a parameter, so this spec can force each one.
    // The (dispatcher -> siblings) pairs mirror the call sites.
    import graft.queries.SimQueries
    val flatGuards = Seq(
      "embedding_dedup_auto_incr" -> Seq("embedding_dedup_ivf2_incr"),
      "knn_graph_auto" -> Seq("knn_graph_ivf2"),
      "knn_graph_full_auto" -> Seq("knn_graph_ivf2", "knn_graph_ivf2pq"),
      "embedding_dedup_full_auto_incr" -> Seq("embedding_dedup_ivf2_incr"))
    val floatGuards = Seq(
      "knn_graph_payload_auto" -> Seq("knn_graph_ivfpq"),
      "knn_graph_full_auto" -> Seq("knn_graph_ivfpq", "knn_graph_ivf2pq"),
      "embedding_dedup_payload_auto_incr" -> Seq("embedding_dedup_pq_incr"),
      "embedding_dedup_full_auto_incr" ->
        Seq("embedding_dedup_pq_incr", "embedding_dedup_ivf2_pq_incr"),
      "stream_embedding_dedup_auto_files" ->
        Seq("stream_embedding_dedup_pq_files"))
    def check(query: String, siblings: Seq[String],
        fire: String => Unit, silent: String => Unit): Unit = {
      // Every dispatcher in the pairs is itself a registered row...
      assert(SparkEntry.queries.contains(query), s"unregistered: $query")
      // ...each named sibling's oracle actually exists to route to...
      siblings.foreach(s => assert(SparkEntry.oracleSql.contains(s),
        s"$query's guard routes to an unregistered sibling $s"))
      // ...the guard fires past the bound, naming query and siblings...
      val e = intercept[IllegalArgumentException] {
        fire(siblings.mkString(" / "))
      }
      assert(e.getMessage.contains(query),
        s"guard message does not name the failing row: ${e.getMessage}")
      siblings.foreach(s => assert(e.getMessage.contains(s),
        s"$query's guard does not route to $s: ${e.getMessage}"))
      // ...and stays silent inside it.
      silent(siblings.mkString(" / "))
    }
    for ((q, sibs) <- flatGuards) check(q, sibs,
      sib => SimQueries.requireFlatBranch(q, nCenters = 9, sib, flatMax = 8),
      sib => SimQueries.requireFlatBranch(q, nCenters = 8, sib, flatMax = 8))
    for ((q, sibs) <- floatGuards) check(q, sibs,
      sib => SimQueries.requireFloatBranch(q, payloadBytes = 2L, sib,
        payloadMax = 1L),
      sib => SimQueries.requireFloatBranch(q, payloadBytes = 1L, sib,
        payloadMax = 1L))
    // The probe-count pin: fires when the measured histogram moves the
    // engine off the replayed nprobe, naming both counts and the
    // re-pin route; silent on the pinned choice.
    val pe = intercept[IllegalArgumentException] {
      SimQueries.requireProbePinned("knn_graph_probe_auto", chosen = 3,
        pinned = 2, "knn_graph_ivf (the nprobe=2 replay)")
    }
    assert(pe.getMessage.contains("knn_graph_probe_auto") &&
      pe.getMessage.contains("nprobe=3") &&
      pe.getMessage.contains("nprobe=2") &&
      pe.getMessage.contains("knn_graph_ivf"), pe.getMessage)
    SimQueries.requireProbePinned("knn_graph_probe_auto", chosen = 2,
      pinned = 2, "knn_graph_ivf (the nprobe=2 replay)")
  }
}
