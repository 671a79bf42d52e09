package graft

import org.apache.spark.sql.functions._

import graft.etl.{Incremental, LookupRemap}

/** Plan audits: the scale story, machine-checked. A plan that scans
  * all columns for a 2-column projection, or fails to push a filter
  * into the parquet scan, or shuffles a 3-row lookup dim, is wrong at
  * 100 TB no matter what it benches at test scale — so the shapes are
  * asserted here, not just eyeballed in `.explain` output. */
class PlanAuditSpec extends SparkSpec {

  import spark.implicits._

  private lazy val table: String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-audit").toString
    (1L to 1000L).map(i => (i, i % 7, s"name$i", s"pad$i", i * 1.5))
      .toDF("id", "grp", "name", "pad", "x")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("filter predicates push down into the parquet scan") {
    val df = spark.read.parquet(table).filter($"id" === 5L).select("id", "name")
    val scan = df.queryExecution.executedPlan.toString()
    assert(scan.contains("PushedFilters:"), scan)
    assert(scan.contains("EqualTo(id,5)") || scan.contains("EqualTo(id, 5)"),
      s"filter did not reach the scan:\n$scan")
  }

  test("column pruning: the scan reads only the projected columns") {
    val df = spark.read.parquet(table).filter($"id" > 10L).select("id", "name")
    val scan = df.queryExecution.executedPlan.toString()
    val readSchema = scan.linesIterator.find(_.contains("ReadSchema"))
      .getOrElse(fail(s"no ReadSchema in:\n$scan"))
    assert(readSchema.contains("id") && readSchema.contains("name"))
    assert(!readSchema.contains("pad"),
      s"scan reads unprojected columns:\n$readSchema")
  }

  test("lookup remap plans as a broadcast hash join (no dim shuffle)") {
    val facts = spark.read.parquet(table)
    val lkp = Seq(("name1", "N1"), ("name2", "N2"))
      .toDF("source_name", "target_name")
    val plan = LookupRemap.remap(facts, lkp, "name")
      .queryExecution.sparkPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("broadcast-target anti-join: zero shuffle of the source side") {
    val source = spark.read.parquet(table)
    val target = spark.read.parquet(table).filter($"id" <= 100L)
    val plan = Incremental
      .newRecords(source, target, Seq("id"), broadcastTarget = true)
      .queryExecution.sparkPlan.toString()
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }

  test("default anti-join: key-hash exchanges, never a nested loop") {
    val source = spark.read.parquet(table)
    val target = spark.read.parquet(table).filter($"id" <= 100L)
    val plan = Incremental.newRecords(source, target, Seq("id"))
      .queryExecution.sparkPlan.toString()
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("source_cap executes as the TopKByAgg aggregate, not a window sort") {
    // The registered query is written as the naive row_number()<=10
    // window; the RankOneToAggregate rule must turn it into the
    // bounded-heap partial aggregate (ObjectHashAggregate over
    // graft_top_k_by) so a hot source domain never serializes in one
    // task. The DuckDB oracle replays the window form — rows must agree.
    val df = SparkEntry.queries("source_cap")(spark, "/root/testdata/sf0.001")
    val optimized = df.queryExecution.optimizedPlan.toString()
    assert(!optimized.contains("Window"), s"window survived:\n$optimized")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("ObjectHashAggregate") &&
      plan.contains("graft_top_k_by"), s"no TopKByAgg in:\n$plan")
    assert(df.count() > 0)
  }

  test("reference_pipeline: broadcast remap, aggregate dedup, no window") {
    // The flagship composition must keep its three-stage shape: the
    // lookup join broadcasts (no fact shuffle), the latest-record
    // dedup executes as a map-side-combining aggregate (never a
    // window sort), and nothing degrades to a nested loop.
    val df = SparkEntry.queries("reference_pipeline")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"remap not broadcast:\n$plan")
    assert(plan.contains("max_by"), s"dedup not an aggregate:\n$plan")
    assert(!plan.contains("Window"), s"window in pipeline:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("tokenize_ids: the vocabulary join broadcasts (no corpus shuffle for the lookup)") {
    val df = SparkEntry.queries("tokenize_ids")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"vocab join not broadcast:\n$plan")
    assert(df.count() > 0)
  }

  test("bpe_tokenize: piece-vocab join broadcasts; merge chain is one projection") {
    val df = SparkEntry.queries("bpe_tokenize")(spark, "/root/testdata/sf0.001")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("BroadcastHashJoin"), s"piece vocab not broadcast:\n$plan")
    // The 20-merge replace chain must stay a projection — no UDF, no
    // extra exchange beyond the vocab distinct + per-doc reassembly.
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    assert(df.count() > 0)
  }

  test("funnel_steps: ONE event scan, ONE hash exchange — the window " +
      "chain and per-user aggregate share the hash-by-user partitioning") {
    val p = queryPlan("funnel_steps")
    assert(countOf(p, "FileScan") == 1,
      s"funnel must read the event table exactly once:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"window chain + per-user agg must share one exchange:\n$p")
  }

  private def queryPlan(name: String): String =
    SparkEntry.queries(name)(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()

  private def countOf(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  test("scd2_history: both windows share ONE hash exchange on the key") {
    val p = queryPlan("scd2_history")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"SCD2 must shuffle exactly once:\n$p")
    assert(p.contains("Window"), p)
  }

  test("json_extract: pure projection — zero exchanges, pruned scan") {
    val p = queryPlan("json_extract")
    assert(!p.contains("Exchange"), s"JSON extraction must not shuffle:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema"))
      .map(l => l.substring(l.indexOf("struct<")))
      .getOrElse(fail(s"no ReadSchema:\n$p"))
    assert(!readSchema.contains("value") && !readSchema.contains("ts:"),
      s"scan reads columns the extraction never uses:\n$readSchema")
  }

  test("retention_cohort: two exchanges (per-user agg, matrix agg) — no join, no distinct-agg expand") {
    val p = queryPlan("retention_cohort")
    assert(countOf(p, "Exchange hashpartitioning") == 2,
      s"single-shuffle-per-agg shape lost:\n$p")
    assert(!p.contains("Join"), s"the join-free formulation regressed:\n$p")
  }

  test("rollup_agg / cube_agg: one Expand feeding one shuffled hash aggregate") {
    for (name <- Seq("rollup_agg", "cube_agg")) {
      val p = queryPlan(name)
      assert(countOf(p, "Expand") == 1, s"$name: subtotals must expand once:\n$p")
      assert(countOf(p, "Exchange hashpartitioning") == 1,
        s"$name: one aggregate exchange expected:\n$p")
      assert(p.contains("HashAggregate") && !p.contains("SortAggregate"), s"$name:\n$p")
    }
  }

  test("window_suite: all window functions ride one exchange") {
    val p = queryPlan("window_suite")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"window family must share the partition pass:\n$p")
  }

  test("grouping_sets: one Expand into one aggregate exchange (same " +
      "lattice shape as rollup/cube)") {
    val p = queryPlan("grouping_sets")
    assert(countOf(p, "Expand") == 1, s"subtotal sets must expand once:\n$p")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"one aggregate exchange expected:\n$p")
  }

  test("window_frames: every frame rides ONE partition exchange " +
      "(extra sorts allowed, extra shuffles not)") {
    val p = queryPlan("window_frames")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"all frames partition by the same key — one exchange:\n$p")
  }

  test("tpch_q3: bounded top-k (TakeOrderedAndProject), dimension filter pushed to the scan") {
    val p = queryPlan("tpch_q3")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-10 must not global-sort:\n$p")
    assert(p.contains("BUILDING"), s"segment filter missing from the plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(c_mktsegment), EqualTo(c_mktsegment,BUILDING)")
      || p.contains("EqualTo(c_mktsegment,BUILDING)"),
      s"segment filter did not reach the customer scan:\n$p")
  }

  test("skew_anti pair: both keep the shuffle anti-join (no broadcast); " +
      "the salted plan joins on (key, salt)") {
    val salted = queryPlan("skew_anti_salted")
    assert(salted.contains("LeftAnti") && !salted.contains("BroadcastHashJoin"),
      s"salted variant must model the non-broadcastable target:\n$salted")
    assert(salted.contains("__salt"), s"salt missing from the join key:\n$salted")
    val noopt = queryPlan("skew_anti_noopt")
    assert(noopt.contains("LeftAnti") && !noopt.contains("BroadcastHashJoin"),
      s"the merge hint must survive the target key projection — without " +
        s"it the strawman broadcasts and the bench differential measures " +
        s"nothing:\n$noopt")
  }

  test("fuzzy_match: broadcast build side, spread probe side, " +
      "thresholded distance computed once") {
    val p = queryPlan("fuzzy_match")
    assert(p.contains("BroadcastHashJoin"),
      s"block join must broadcast the 20k-row build side:\n$p")
    assert(p.contains("Some(3)"),
      s"thresholded levenshtein (early-exit band) missing:\n$p")
    assert(countOf(p, "levenshtein") <= 2,
      s"distance must not be evaluated more than join-filter + " +
        s"project once each:\n$p")
    assert(p.contains("RoundRobinPartitioning") || p.contains("Exchange"),
      s"single-split probe side must be spread:\n$p")
  }

  test("fuzzy_match_banded: the length band is IN the join key, " +
      "and the plan keeps the broadcast + thresholded distance") {
    val p = queryPlan("fuzzy_match_banded")
    assert(p.contains("BroadcastHashJoin"),
      s"banded block join must still broadcast the build side:\n$p")
    assert(p.contains("__band"),
      s"band column missing from the plan — pruning did not reach " +
        s"the join key:\n$p")
    assert(p.contains("Some(3)"),
      s"thresholded levenshtein (early-exit band) missing:\n$p")
  }

  test("fuzzy_match_auto: block stats broadcast back as the routing " +
      "flag; both branches keep broadcast joins, banded key present") {
    val p = queryPlan("fuzzy_match_auto")
    // The oversized-block stats frame must reach the corpus as a
    // broadcast (the corpus never shuffles for the routing decision),
    // and the union must contain the banded branch's composed key.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Union"), s"expected plain+banded union:\n$p")
    assert(p.contains("__band"),
      s"banded branch missing from the auto plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("Some(3)"),
      s"thresholded levenshtein missing:\n$p")
  }

  test("scd2_snapshot: the as-of filter rides the single-exchange " +
      "historization (no extra shuffle for the snapshot)") {
    val p = queryPlan("scd2_snapshot")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"snapshot must not add exchanges beyond SCD2's one:\n$p")
  }

  test("chunk_documents: pure projection pipeline — zero exchanges") {
    val p = queryPlan("chunk_documents")
    assert(!p.contains("Exchange hashpartitioning"),
      s"chunking must ride the scan with no shuffle:\n$p")
  }

  test("domain_mix: the rate frame broadcasts back onto the corpus " +
      "(the corpus itself never hash-shuffles)") {
    val df = SparkEntry.queries("domain_mix")(spark, "/root/testdata/sf0.001")
    val p = df.queryExecution.executedPlan.toString()
    assert(p.contains("BroadcastHashJoin"),
      s"rates must broadcast, not shuffle the corpus:\n$p")
    // The only hash exchange allowed is the few-row per-lang count agg.
    assert(countOf(p, "Exchange hashpartitioning") <= 2,
      s"corpus-side shuffle crept in:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("weighted_sample: global top-k compiles to TakeOrderedAndProject " +
      "(bounded heaps, never a full sort)") {
    val p = queryPlan("weighted_sample")
    assert(p.contains("TakeOrderedAndProject"),
      s"priority sample must not global-sort:\n$p")
  }

  test("fuzzy_match_passjoin: segment equi-join, no nested loop, " +
      "thresholded distance on survivors only") {
    val p = queryPlan("fuzzy_match_passjoin")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"segment blocking degraded to a nested loop:\n$p")
    assert(p.contains("substring"),
      s"segment extraction missing from the plan:\n$p")
    assert(p.contains("Some(3)"),
      s"thresholded levenshtein (early-exit band) missing:\n$p")
  }

  test("decontaminate_fuzzy: every join broadcasts (the corpus never " +
      "sort-merge-shuffles against the eval side)") {
    val p = queryPlan("decontaminate_fuzzy")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"corpus shuffled for the eval match:\n$p")
  }

  test("token_budget_select: the prefix sum is band-decomposed — no " +
      "single-partition global window over the corpus") {
    val p = queryPlan("token_budget_select")
    assert(p.contains("hashpartitioning(band"),
      s"corpus window must partition by the range band:\n$p")
    // A SinglePartition exchange is legitimate ONLY over the few-row
    // band-totals aggregate (the offset frame) — never over the
    // corpus itself: between the exchange and the scan that feeds it
    // there must be the band aggregate collapsing the corpus first.
    val sp = p.indexOf("Exchange SinglePartition")
    assert(sp >= 0, s"offset frame missing:\n$p")
    val below = p.substring(sp)
    val agg = below.indexOf("HashAggregate(keys=[band")
    val scan = below.indexOf("FileScan")
    assert(agg >= 0 && agg < scan,
      s"the single-partition window consumes the raw corpus:\n$p")
    assert(p.indexOf("Exchange SinglePartition", sp + 1) < 0,
      s"more than one single-partition stage:\n$p")
  }

  test("pii_redact: pure projection — the regex chain rides the scan " +
      "with zero hash exchanges") {
    val p = queryPlan("pii_redact")
    assert(!p.contains("Exchange hashpartitioning"),
      s"redaction must not shuffle:\n$p")
  }

  test("oov_rate: the top-gram list broadcasts back (semi join, no " +
      "corpus sort-merge against the vocabulary)") {
    val p = queryPlan("oov_rate")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"top-gram probe must be a broadcast semi join:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-K vocabulary must be a bounded heap, not a global sort:\n$p")
  }

  test("incremental_bloom: the membership filter sits on the target side BELOW the anti-join") {
    val p = queryPlan("incremental_bloom")
    // The target (build) subtree prints AFTER the join node and after
    // its exchange; the probe filter must sit there — i.e. BELOW the
    // join and below the target's exchange — never above the join.
    val joinAt = p.indexOf("LeftAnti")
    assert(joinAt >= 0, s"no anti-join in:\n$p")
    val exchangeAt = p.indexOf("Exchange", joinAt)
    val probeAt = p.indexOf("might_contain")
    assert(probeAt > exchangeAt && exchangeAt > joinAt,
      s"bloom probe not below the anti-join's target-side exchange:\n$p")
  }

  test("tpch_q2: the correlated MIN subquery decorrelates to one aggregate + join") {
    // Catalyst's RewriteCorrelatedScalarSubquery must turn the per-part
    // correlated min into ONE grouped aggregate joined back on the
    // correlation key. A surviving ScalarSubquery node in the main plan
    // would mean per-row re-execution — the naive-interpreter shape
    // that dies at scale.
    val p = SparkEntry.queries("tpch_q2")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString()
    assert(!p.contains("ScalarSubquery"),
      s"correlated subquery not decorrelated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("tpch_q17: the correlated AVG over the same fact decorrelates " +
      "(one grouped re-aggregate, no per-row rescan)") {
    val p = SparkEntry.queries("tpch_q17")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString()
    assert(!p.contains("ScalarSubquery"),
      s"correlated avg not decorrelated:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("tpch_q19: the OR-of-ANDs factors per-side halves into BOTH " +
      "scans' pushed filters; the cross-side residual rides the join") {
    val p = SparkEntry.queries("tpch_q19")(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString()
    // Each scan must carry its own half of the disjunction (Catalyst's
    // predicate factoring): quantity bands reach lineitem, brand/size
    // reach part — the difference between scanning slices and scanning
    // everything at 100 TB.
    val scans = p.linesIterator.filter(_.contains("PushedFilters")).toSeq
    assert(scans.exists(l => l.contains("l_quantity") && l.contains("Or(")),
      s"quantity disjunction not pushed to the lineitem scan:\n$p")
    assert(scans.exists(l => l.contains("p_brand") && l.contains("Or(")),
      s"brand/size disjunction not pushed to the part scan:\n$p")
    assert(p.contains("BroadcastHashJoin") &&
      !p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("tpch_q21: stacked EXISTS / NOT EXISTS plan as semi + anti hash joins") {
    val p = SparkEntry.queries("tpch_q21")(spark, "/root/testdata/sf0.001")
      .queryExecution.sparkPlan.toString()
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
  }

  test("tpch_q22: anti-join present; the scalar-average gate is a one-shot subquery") {
    val qe = SparkEntry.queries("tpch_q22")(spark, "/root/testdata/sf0.001")
      .queryExecution
    val p = qe.sparkPlan.toString()
    assert(p.contains("LeftAnti"), p)
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"), p)
    // The UNCORRELATED average executes once as a subquery literal —
    // it must still be a ScalarSubquery node (one extra tiny job), not
    // a join against the customer frame.
    assert(p.contains("Subquery") || p.contains("scalar-subquery"), p)
  }

  test("c4_line_filter: one doc-keyed exchange, no joins at all") {
    val p = queryPlan("c4_line_filter")
    assert(countOf(p, "Exchange hashpartitioning") == 1,
      s"line filter must shuffle once (the per-doc reassembly):\n$p")
    assert(!p.contains("Join"), s"line filter needs no join:\n$p")
  }

  test("line_dedup: linear hash-keyed shuffles, no nested loop") {
    val p = queryPlan("line_dedup")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"line dedup degraded to a nested loop:\n$p")
  }

  test("pagerank: every round joins the pinned edge set — no corpus " +
      "broadcast, no nested loop") {
    val p = queryPlan("pagerank")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("dsir_weights: the per-bucket delta frame broadcasts back onto " +
      "the corpus, no nested loop") {
    val p = queryPlan("dsir_weights")
    assert(p.contains("BroadcastHashJoin"), s"delta must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("source_quality_filter: the source-stats frame broadcasts (the " +
      "corpus never shuffles for the verdict join)") {
    val p = queryPlan("source_quality_filter")
    assert(p.contains("BroadcastHashJoin"), s"stats must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"), s"corpus shuffled for verdict:\n$p")
  }

  test("bm25_rank: the df frame broadcasts, no nested loop") {
    val p = queryPlan("bm25_rank")
    assert(p.contains("BroadcastHashJoin"), s"df must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("hive-partitioned layout: equality filter prunes to PartitionFilters, " +
      "non-matching partitions never reach the scan") {
    // The warehouse layout story at 100 TB: a load-date-partitioned
    // fact filtered to one date must prune at PLANNING time (directory
    // listing), not scan-and-discard. Asserted on the scan's
    // PartitionFilters clause and on the partition count the file
    // index actually selected.
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    (1L to 1000L).map(i => (i, s"d${i % 5}", i * 2))
      .toDF("id", "load_date", "v")
      .write.partitionBy("load_date").mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).filter($"load_date" === "d3").select("id", "v")
    val plan = df.queryExecution.executedPlan.toString()
    assert(plan.contains("PartitionFilters"), plan)
    assert(plan.replaceAll("\\s+", " ").matches(".*PartitionFilters: \\[[^\\]]*load_date[^\\]]*d3.*"),
      s"partition filter did not reach the scan:\n$plan")
    val scanned = df.queryExecution.executedPlan.collectLeaves().collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.selectedPartitions.partitionCount
    }
    assert(scanned == Seq(1), s"expected exactly 1 of 5 partitions, got $scanned")
    assert(df.count() == 200L)
  }

  test("rrf_fusion: both candidate cuts are TakeOrderedAndProject " +
      "(bounded heaps), never a global Sort+Limit or corpus window") {
    val p = queryPlan("rrf_fusion")
    assert(countOf(p, "TakeOrderedAndProject") >= 2,
      s"expected two top-K cuts:\n$p")
    assert(!p.contains("GlobalLimit"),
      s"a candidate cut degraded to global sort + limit:\n$p")
  }

  test("cms_freq: probing the sketch is join-free (driver-scalar literal), " +
      "and the only join is the probe-sized exact-count attach") {
    val p = queryPlan("cms_freq")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), p)
    // One join total: probes x exact counts (both probe-sized).
    assert(countOf(p, "Join") <= 1, s"unexpected extra joins:\n$p")
  }

  test("date-bounded aggregations hash-aggregate (no SortAggregate)") {
    // min/max over native DateType keeps an int agg buffer ->
    // HashAggregate with map-side partial aggregation. Aggregating
    // date_format() STRINGS instead would buffer UTF8Strings and
    // degrade the whole agg to per-partition SortAggregate plus
    // per-input-row formatting — harmless at sf0.1, real at 100 TB.
    val dir = "/root/testdata/sf0.001"
    for (name <- Seq("pricing_summary", "full_outer_encounter")) {
      val plan = SparkEntry.queries(name)(spark, dir)
        .queryExecution.executedPlan.toString()
      assert(plan.contains("HashAggregate"), s"$name:\n$plan")
      assert(!plan.contains("SortAggregate"),
        s"$name degraded to SortAggregate:\n$plan")
    }
  }

  test("IVF family ships no corpus-sized center literal (the sqrt(n)-sized " +
      "paths use the broadcast handle)") {
    // The classic IVF sizing makes |centers| ~ sqrt(corpus); shipping
    // them as a typedlit blows plan size / codegen constant pools at
    // real scale (1e5 centers x 64 dims). Every center ranking ships a
    // Broadcast[CenterIndex] stub instead, and the exact kNN graph ships
    // its collected corpus as a Broadcast[CenterSet] — so no plan may
    // contain an array<array<float>> literal at all, whatever the
    // center count (ann_ivf / embedding_dedup_trained run 32 or fewer
    // centers at sf0.01).
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    for (name <- Seq("knn_graph_ivf", "knn_graph_ivf2", "knn_graph_ivfpq",
        "knn_graph_ivf2pq", "knn_graph_brute", "ann_ivf", "ann_ivf_probe2",
        "embedding_dedup_trained")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val widths = df.queryExecution.optimizedPlan.collect { case node =>
        node.expressions.flatMap(_.collect {
          case Literal(v: ArrayData, ArrayType(ArrayType(FloatType, _), _)) =>
            v.numElements()
        })
      }.flatten
      assert(widths.isEmpty,
        s"$name ships a center literal (widths: $widths)")
      // And the plan shape holds: no cartesian/nested-loop, the
      // bucket self-join rides the one explicit exchange.
      val plan = df.queryExecution.sparkPlan.toString()
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), plan)
    }
  }

  test("IVF self-kNN materializes the center-ranking scan ONCE: the " +
      "registered plan reads the pinned leaf and never re-shuffles it " +
      "by bucket") {
    // knnFromRanked computes the bucket exchange + per-cell window
    // ONCE inside an eager partitioning-preserving pin
    // (Bridge.pinPartitioned) and hands the four consumers
    // (cold/hot x probe/cell) a hash(bucket, W)-partitioned leaf. So
    // the registered plan must (a) read an ExistingRDD scan, (b)
    // contain NO explicit repartition (the one exchange already ran
    // inside the pin), and (c) contain NO bucket-only
    // ENSURE_REQUIREMENTS exchange — the cold self-join rides the
    // declared partitioning on both sides. (c) is what the explicit
    // pin width protects: an AQE-coalesced pin partitioning would
    // silently re-shuffle the corpus-sized pinned frame once per join
    // side. Asserted on the POST-EXECUTION adaptive plan. The hot
    // path's (bucket, __part) exchange is skew-proportional and
    // allowed; at this scale no cell exceeds the cap, so AQE prunes
    // the hot branch entirely.
    // knn_graph_ivfpq rides the same tail with the PQ payload: its
    // pinned projection (scan + ranking + encode + LUT norm, float
    // vec DROPPED) must likewise compute exactly once.
    for (name <- Seq("knn_graph_ivf", "knn_graph_ivf2", "knn_graph_ivfpq",
        "knn_graph_ivf2pq")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val qe = df.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.treeString
        .split("== Initial Plan ==")(0)
      assert(finalPlan.contains("ExistingRDD"),
        s"$name does not read the pinned ranked leaf:\n$finalPlan")
      val reparts =
        "REPARTITION_BY_(COL|NUM)".r.findAllIn(finalPlan).length
      val bucketOnly =
        "hashpartitioning\\(bucket#\\d+L?, \\d+\\)".r
          .findAllIn(finalPlan).length
      assert(reparts == 0 && bucketOnly == 0,
        s"$name re-shuffled the pinned ranked frame " +
          s"($reparts explicit, $bucketOnly bucket-only):\n$finalPlan")
    }
  }

  test("incremental text dedup: history is hashed ONCE — the " +
      "delta-vs-history join rides the self-joins' band exchanges") {
    // Both incremental proofs build three candidate classes; the
    // delta-hist join repartitions both band projections exactly as
    // their self-join frames are partitioned inside
    // selfPairsByBucket, so of the four REPARTITION_BY_COL band
    // exchanges only two (one per corpus side) may materialize — the
    // rest must be runtime ReusedExchange. This is what keeps each
    // proof query's history cost at one tokenize→hash→band pass; a
    // projection drift between the candidate helper and the join
    // sides would silently double it. Asserted post-execution: AQE
    // reuse is a runtime stage decision.
    for (name <- Seq("minhash_dedup_incr", "simhash_dedup_incr")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val qe = df.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.treeString
        .split("== Initial Plan ==")(0)
      val materialized = countOf(finalPlan, "REPARTITION_BY_COL") -
        countOf(finalPlan, "ReusedExchange")
      assert(materialized <= 2 && countOf(finalPlan, "ReusedExchange") >= 2,
        s"$name re-materialized a band exchange:\n$finalPlan")
    }
  }

  test("knn_graph_ivfpq: no exchange carries a float vector — the " +
      "corpus shuffles as PQ codes") {
    // The point of the compressed index: the float embedding is
    // consumed by assignment + encoding BELOW the bucket exchange and
    // dropped, so every shuffle in the plan moves (codes, rnrm) or
    // scored ids — never array<float>. A regression that reorders the
    // projection above the repartition would silently re-widen the
    // exchange ~6x at scale; this pins it at the optimized plan.
    // semdedup_pq makes the same promise for its pair stage: the only
    // explicit repartition in its plan is the cell exchange, and it
    // must carry codes — the float corpus re-enters only through the
    // id-keyed verify join-back (candidate cardinality, not pairs).
    import org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val semdedupPqCand = graft.queries.SimQueries.semDedupPqCandidates(
      graft.Tables.spread(graft.Tables.embeddings(spark, "/root/testdata/sf0.01"))
        .selectExpr("vec_id AS id", "embedding AS vec"))
    def floatArrays(attrs: Seq[org.apache.spark.sql.catalyst.expressions.Attribute]) =
      attrs.filter(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
    // The knn rows' bucket exchange executes INSIDE the eager ranked
    // pin, so the registered plan holds its output as a pinned
    // LogicalRDD leaf: the exchange's own columns plus `__s`. That
    // leaf (the one with a `bucket` column) carrying no array<float>
    // is the same invariant as the exchange carrying none.
    for (name <- Seq("knn_graph_ivfpq",
        // The composed two-level x PQ index makes the same promise: the
        // float vector is consumed by coarse→fine assignment + encoding
        // below the bucket exchange and dropped.
        "knn_graph_ivf2pq")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val pins = df.queryExecution.optimizedPlan.collect {
        case l: org.apache.spark.sql.execution.LogicalRDD
            if l.output.exists(_.name == "bucket") => l
      }
      assert(pins.nonEmpty, s"$name: expected the pinned ranked-cell leaf")
      pins.foreach { l =>
        assert(floatArrays(l.output).isEmpty,
          s"$name: pinned bucket leaf carries float vectors: ${floatArrays(l.output)}")
      }
    }
    val reparts = semdedupPqCand.queryExecution.optimizedPlan.collect {
      case r: RepartitionByExpression => r
    }
    assert(reparts.nonEmpty, "semdedup_pq candidate stage: expected the explicit bucket exchange")
    reparts.foreach { r =>
      assert(floatArrays(r.output).isEmpty,
        s"semdedup_pq candidate stage: bucket exchange carries float vectors: ${floatArrays(r.output)}")
    }
  }

  test("stream_embedding_dedup_pq_files: the RESIDENT index side of the " +
      "stream-static cell join carries codes, never float vectors") {
    // The streaming form of the codes-only promise: the static side
    // the stream probes per micro-batch is resident for the stream's
    // LIFETIME, so its width is held memory, not transient exchange
    // bytes — the ~6x cut is the whole point of the PQ sibling. Float
    // vectors may re-enter only through the second, id-keyed verify
    // join (candidate cardinality). Pinned on the analyzed plan of the
    // probe: the stream-static join on `bucket` must have a batch side
    // with zero array<float> outputs.
    // Parameterized over BOTH constructions of the compressed branch:
    // the forced row (embeddingPqProbeStream) and the engine-chosen
    // dispatcher under a forced 1-byte budget — the dispatch must land
    // on a plan that keeps the same codes-only promise, not merely the
    // same rows.
    import org.apache.spark.sql.catalyst.plans.logical.Join
    import org.apache.spark.sql.types.{ArrayType, FloatType}
    val probes = Seq(
      "stream_embedding_dedup_pq_files" -> graft.queries.StreamingQueries
        .embeddingPqProbeStream(spark, "/root/testdata/sf0.001"),
      "stream auto (forced PQ)" -> graft.queries.StreamingQueries
        .embeddingProbeStreamAuto(spark, "/root/testdata/sf0.001",
          payloadMax = 1L))
    for ((pname, matched) <- probes) {
      val joins = matched.queryExecution.analyzed.collect {
        case j: Join if j.left.isStreaming != j.right.isStreaming => j
      }
      assert(joins.size == 2,
        s"$pname: expected the cell join + the verify join-back, got ${joins.size}")
      val cellJoins = joins.filter { j =>
        val statik = if (j.left.isStreaming) j.right else j.left
        statik.output.exists(_.name == "b_codes")
      }
      assert(cellJoins.size == 1,
        s"$pname: cell join (static side = coded index) not found")
      val statik = {
        val j = cellJoins.head
        if (j.left.isStreaming) j.right else j.left
      }
      val floatArrays = statik.output.filter(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      assert(floatArrays.isEmpty,
        s"$pname: resident index side carries float vectors: $floatArrays")
    }
  }

  test("two-level assignment has no hub cell: in-cell pair work (sum of " +
      "pop^2) stays within 1.5x of the flat assignment's") {
    // The first two-level draft made each coarse center a hub for its
    // own fine group (SCALE.md: sumsq 1.81x flat at sf0.1, 4x pair
    // blowup at sf10); the refined-group-mean coarse quantizer
    // dissolved it (measured 1.06x at sf0.1, 1.05x at sf0.01). The
    // composed ivf2pq index inherits whichever partition this
    // produces, so the guard pins the FIX, with headroom below the
    // broken construction's 1.81x.
    import org.apache.spark.sql.functions._
    val v = graft.queries.SimQueries.augmentedVectors(spark, "/root/testdata/sf0.01")
    val centers = graft.sim.KMeans.fitCenters(v,
      0L until graft.queries.SimQueries.sqrtCells(v), iters = 1)
    def sumsq(assigned: org.apache.spark.sql.DataFrame): Long =
      assigned.groupBy(col("bucket")).agg(count(lit(1)).as("p"))
        .agg(sum(col("p") * col("p"))).head().getLong(0)
    val flat = sumsq(graft.sim.Similarity.assignByCenters(v, centers))
    val idx = graft.sim.Similarity.buildTwoLevelIndex(centers,
      graft.sim.Similarity.coarseKFor(centers.length))
    val twoLevel = sumsq(graft.sim.Similarity.assignByTwoLevel(v, idx))
    assert(twoLevel.toDouble <= 1.5 * flat,
      s"two-level hub cells: sum(pop^2) $twoLevel vs flat $flat")
  }

  test("symmetric pair families (trained-cell dedup, SRP graph) also " +
      "materialize their bucketing projection once") {
    // selfPairsByBucket's probe/candidate sides consume identical
    // columns by construction, so the bucket exchange must
    // canonicalize equal and be served as one materialized stage —
    // the center-assignment (or hyperplane-projection) scan runs
    // once, not once per join side.
    for (name <- Seq("embedding_dedup_trained", "knn_graph_srp")) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val qe = df.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.treeString
        .split("== Initial Plan ==")(0)
      val materialized = countOf(finalPlan, "REPARTITION_BY_COL") -
        countOf(finalPlan, "ReusedExchange")
      assert(materialized <= 1 && countOf(finalPlan, "ReusedExchange") >= 1,
        s"$name materialized its bucketing scan more than once:\n$finalPlan")
    }
  }

  test("token-stream model queries: model aggregates DERIVE from the " +
      "shared per-doc aggregate and ride its exchange (runtime reuse)") {
    // tf_idf/bm25: df-from-tf with the count buffer pinned; dsir and
    // ngram_lm: three consumers (two model sides + probe) of one
    // per-doc aggregate, grouping-key filters blocked from pushing
    // below it by the `|| cnt < 0` disjunct, join-key isnotnull
    // inference neutralized by pre-filtering the shared base. The
    // expected reuse count is per-query: one shared pair for
    // tf_idf/bm25, two reused references for dsir/ngram_lm.
    for ((name, minReuse) <- Seq("tf_idf" -> 1, "bm25_rank" -> 1,
        "dsir_weights" -> 2, "ngram_lm_score" -> 2, "oov_rate" -> 2,
        "line_dedup" -> 1)) {
      val df = SparkEntry.queries(name)(spark, "/root/testdata/sf0.01")
      val qe = df.queryExecution
      qe.toRdd.count()
      val finalPlan = qe.executedPlan.treeString.split("== Initial Plan ==")(0)
      assert(countOf(finalPlan, "ReusedExchange") >= minReuse,
        s"$name re-tokenizes instead of reusing its aggregate exchange " +
          s"(expected >= $minReuse ReusedExchange):\n$finalPlan")
    }
  }

  test("ann_bq_rerank: tiny query side broadcasts (no corpus exchange " +
      "before the bucket join); the rerank touches the float corpus " +
      "by broadcast pair join only") {
    // The BQ scale story: the coded corpus STREAMS through a
    // BroadcastHashJoin against the broadcast 2-probe query side — a
    // corpus-side hash exchange or a SortMergeJoin here would shuffle
    // 100 TB to serve 8 queries. The only hashpartitioning exchange
    // in the whole plan is the final top-k window's q_id partition
    // over the |q|x4K shortlist (candidate cardinality, not corpus).
    val df = SparkEntry.queries("ann_bq_rerank")(spark, "/root/testdata/sf0.001")
    val qe = df.queryExecution
    qe.toRdd.count()
    val finalPlan = qe.executedPlan.treeString.split("== Initial Plan ==")(0)
    assert(finalPlan.contains("BroadcastHashJoin"), finalPlan)
    assert(!finalPlan.contains("SortMergeJoin"), finalPlan)
    val corpusExchanges = finalPlan.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .filterNot(_.contains("q_id")).toSeq
    assert(corpusExchanges.isEmpty,
      s"corpus-side shuffle in ann_bq_rerank:\n${corpusExchanges.mkString("\n")}\n$finalPlan")
  }

  test("span_dedup: the gram stream (tokenize + n-gram + md5) " +
      "materializes once — index aggregate and join-back share it") {
    val df = SparkEntry.queries("span_dedup")(spark, "/root/testdata/sf0.01")
    val qe = df.queryExecution
    qe.toRdd.count()
    val finalPlan = qe.executedPlan.treeString.split("== Initial Plan ==")(0)
    val materialized = countOf(finalPlan, "REPARTITION_BY_COL") -
      countOf(finalPlan, "ReusedExchange")
    assert(materialized <= 1 && countOf(finalPlan, "ReusedExchange") >= 1,
      s"span_dedup materialized the gram stream more than once:\n$finalPlan")
  }
}
