package graft.expressions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.types.{BooleanType, IntegerType}

/** Session extension registering the native expressions as SQL
  * functions (`SparkSessionExtensions.injectFunction`). Wire with
  * `SparkSession.builder().withExtensions(new GraftExtensions)` —
  * Verify and the test sessions do. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be an int literal, got $other")
  }

  private def strLit(e: Expression, what: String): String = e match {
    case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) => v.toString
    case other =>
      throw new IllegalArgumentException(s"$what must be a string literal, got $other")
  }

  private def boolLit(e: Expression, what: String): Boolean = e match {
    case Literal(v: Boolean, BooleanType) => v
    case other =>
      throw new IllegalArgumentException(s"$what must be a boolean literal, got $other")
  }

  override def apply(ext: SparkSessionExtensions): Unit = {
    // Skew-safe rewrite of the row_number()=1 latest-per-key idiom into
    // a max_by/min_by partial aggregate (graft.plans.RankOneToAggregate).
    ext.injectOptimizerRule(_ => graft.plans.RankOneToAggregate)
    // AS-OF join: custom logical node + physical sort-merge operator
    // (graft.plans.AsOfJoin / AsOfJoinExec).
    ext.injectPlannerStrategy(_ => graft.plans.AsOfJoinStrategy)
    ext.injectFunction((
      new FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHashExpr].getName, "graft_simhash"),
      (children: Seq[Expression]) =>
        SimHashExpr(children.head, intLit(children(1), "bits"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_shingles"),
      new ExpressionInfo(classOf[ShinglesExpr].getName, "graft_shingles"),
      (children: Seq[Expression]) =>
        ShinglesExpr(children.head, intLit(children(1), "n"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_minhash_sigs"),
      new ExpressionInfo(classOf[MinHashSigsExpr].getName, "graft_minhash_sigs"),
      (children: Seq[Expression]) =>
        MinHashSigsExpr(children.head, intLit(children(1), "perms"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotExpr].getName, "graft_dot"),
      (children: Seq[Expression]) => DotExpr(children.head, children(1))))
    ext.injectFunction((
      new FunctionIdentifier("graft_srp_buckets"),
      new ExpressionInfo(classOf[SrpBucketsExpr].getName, "graft_srp_buckets"),
      (children: Seq[Expression]) =>
        SrpBucketsExpr(children.head, strLit(children(1), "salt"),
          intLit(children(2), "bands"), intLit(children(3), "planes"),
          intLit(children(4), "dim"))))
    // Bounded-heap top-k aggregate — the engine the row_number()<=k
    // rewrite targets, also callable directly:
    // graft_top_k_by(payload_struct, order_struct, k, asc) -> array<payload>.
    ext.injectFunction((
      new FunctionIdentifier("graft_top_k_by"),
      new ExpressionInfo(classOf[graft.plans.TopKByAgg].getName, "graft_top_k_by"),
      (children: Seq[Expression]) =>
        graft.plans.TopKByAgg(children.head, children(1),
          intLit(children(2), "k"), boolLit(children(3), "asc"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_jaro_winkler"),
      new ExpressionInfo(classOf[JaroWinklerExpr].getName, "graft_jaro_winkler"),
      (children: Seq[Expression]) => {
        // Checked arity: a wrong-argument-count SQL call must surface
        // as a clean analysis-time error naming the function, not an
        // IndexOutOfBoundsException from children(1).
        if (children.size != 2)
          throw new IllegalArgumentException(
            s"graft_jaro_winkler expects exactly 2 arguments (left, right), got ${children.size}")
        JaroWinklerExpr(children.head, children(1))
      }))
    // Bloom semi-join reduction (etl/Incremental.newRecordsBloom*):
    // Catalyst's own BloomFilterAggregate / BloomFilterMightContain —
    // the engine behind Spark's runtime row-level filtering — exposed
    // as callable functions so the incremental anti-join can build a
    // delta-side sketch and prune the accumulated-history side before
    // its exchange. Both are codegen'd; the probe deserializes the
    // sketch once per task.
    ext.injectFunction((
      new FunctionIdentifier("graft_bloom_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "graft_bloom_agg"),
      (children: Seq[Expression]) =>
        new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
          children.head, children(1), children(2))))
    ext.injectFunction((
      new FunctionIdentifier("graft_might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "graft_might_contain"),
      (children: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          children.head, children(1))))
    // Count-Min sketch aggregate — the fixed-size mergeable answer to
    // token-frequency estimation at corpus scale:
    // graft_cms_sketch(token, depth, width) -> array<bigint> (row-major).
    ext.injectFunction((
      new FunctionIdentifier("graft_cms_sketch"),
      new ExpressionInfo(classOf[CmsSketchAgg].getName, "graft_cms_sketch"),
      (children: Seq[Expression]) =>
        CmsSketchAgg(children.head, intLit(children(1), "depth"),
          intLit(children(2), "width"))))
    // Binary-quantization (RaBitQ-style) encode + asymmetric estimate
    // (sim/BitQ): 1 BIGINT code + 1 double correction per vector.
    ext.injectFunction((
      new FunctionIdentifier("graft_bq_encode"),
      new ExpressionInfo(classOf[BqEncodeExpr].getName, "graft_bq_encode"),
      (children: Seq[Expression]) =>
        BqEncodeExpr(children.head, strLit(children(1), "salt"),
          intLit(children(2), "dim"))))
    ext.injectFunction((
      new FunctionIdentifier("graft_bq_dot"),
      new ExpressionInfo(classOf[BqDotExpr].getName, "graft_bq_dot"),
      (children: Seq[Expression]) => BqDotExpr(children.head, children(1))))
  }
}
