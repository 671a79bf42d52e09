package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** `graft_dot(a array<float|double>, b array<float|double>)` — the
  * double-precision left-fold dot product, bit-identical to the
  * built-in formulation
  * `aggregate(zip_with(a_d, b_d, (x, y) => x * y), 0d, (acc, p) => acc + p)`
  * (with both sides element-cast to double first): the accumulator
  * starts at 0.0 and each step is exactly `acc + a(i) * b(i)` in IEEE
  * double, ascending index — the same fold order DuckDB's
  * `list_reduce(list_transform(...))` oracle uses, so scaled-BIGINT
  * cosine scores keep hash-matching.
  *
  * The HOF chain evaluates interpreted (one lambda call per element
  * per pair); this is a tight JVM loop — the ANN pair-scoring hot
  * path. Null semantics match the builtins: null array, mismatched
  * lengths, or any null element → null (zip_with pads the shorter
  * side with nulls and a null product poisons the whole fold). Empty
  * arrays → 0.0 (the fold's init value).
  */
case class DotExpr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  private def elemOk(dt: DataType) = dt match {
    case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
    case _ => false
  }

  override def checkInputDataTypes() =
    if (elemOk(left.dataType) && elemOk(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_dot expects two array<float|double>, got ${left.dataType}, ${right.dataType}")

  private val leftIsFloat = left.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }
  private val rightIsFloat = right.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var acc = 0d
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      val xv = if (leftIsFloat) x.getFloat(i).toDouble else x.getDouble(i)
      val yv = if (rightIsFloat) y.getFloat(i).toDouble else y.getDouble(i)
      acc += xv * yv
      i += 1
    }
    acc
  }

  /** Real codegen (not CodegenFallback): the loop inlines into the
    * surrounding whole-stage-generated join/projection code — the
    * fallback's per-row interpreted-eval boundary measured ~6 µs per
    * pair in the BroadcastNestedLoopJoin hot path, ~100x the actual
    * 64-element fold. */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val leftGen = left.genCode(ctx)
    val rightGen = right.genCode(ctx)
    val a = ctx.freshName("a")
    val b = ctx.freshName("b")
    val n = ctx.freshName("n")
    val i = ctx.freshName("i")
    val acc = ctx.freshName("acc")
    val bad = ctx.freshName("bad")
    val arrCls = classOf[ArrayData].getName
    def get(arr: String, isFloat: Boolean) =
      if (isFloat) s"(double) $arr.getFloat($i)" else s"$arr.getDouble($i)"
    ev.copy(code = code"""
      ${leftGen.code}
      ${rightGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${leftGen.isNull} && !${rightGen.isNull}) {
        $arrCls $a = ${leftGen.value};
        $arrCls $b = ${rightGen.value};
        int $n = $a.numElements();
        if ($n == $b.numElements()) {
          boolean $bad = false;
          double $acc = 0.0;
          for (int $i = 0; $i < $n; $i++) {
            if ($a.isNullAt($i) || $b.isNullAt($i)) { $bad = true; break; }
            $acc += ${get(a, leftIsFloat)} * ${get(b, rightIsFloat)};
          }
          if (!$bad) { ${ev.isNull} = false; ${ev.value} = $acc; }
        }
      }""")
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** `graft_top_centers(vec array<float>, nrm double, centers
  * array<array<float>> LITERAL, nearest)` — indices (0-based, rank
  * order) of the `nearest` centers with the highest scaled cosine to
  * `vec`, ties broken by smaller index. Scores are computed exactly as
  * `Similarity.scaledFromParts(dot, nrm, centerNorm)` — double
  * left-fold dot, `floor(dot / (nrm * cnorm) * 1e6 + 0.5)` — so the
  * assignment is bit-identical to scoring each center with
  * [[DotExpr]] columns.
  *
  * One expression eval per ROW does all k dot products in a tight
  * loop over cached center arrays. The alternative — an `array()` of
  * k per-center score structs — generates k inlined loops whose
  * code size kicks the whole stage out of whole-stage codegen (the
  * projection went interpreted, measured seconds per small scan).
  * A CodegenFallback boundary once per row is noise by comparison.
  */
case class TopCentersExpr(vec: Expression, nrm: Expression,
    centers: Expression, nearest: Int)
    extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, nrm, centers)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def foldable: Boolean = children.forall(_.foldable)

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val cOk = centers.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }
    if (vecOk && nrm.dataType == DoubleType && cOk && centers.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_top_centers expects (array<float>, double, foldable array<array<float>>)")
  }

  // Centers are a literal: parse + norm them once per expression
  // instance, not per row.
  @transient private lazy val centerVecs: Array[Array[Float]] = {
    val arr = centers.eval(null).asInstanceOf[ArrayData]
    (0 until arr.numElements()).map { i =>
      arr.getArray(i).toFloatArray()
    }.toArray
  }
  @transient private lazy val centerNorms: Array[Double] =
    centerVecs.map { c =>
      var acc = 0d
      c.foreach(x => acc += x.toDouble * x.toDouble)
      math.sqrt(acc)
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) return null
    val arr = v.asInstanceOf[ArrayData]
    val vn = n.asInstanceOf[Double]
    val dim = arr.numElements()
    val k = centerVecs.length
    val take = math.min(nearest, k)
    // Top-`take` selection by (score desc, index asc); `nearest` is
    // tiny (1-2), so insertion into parallel arrays beats sorting k.
    val topScore = Array.fill(take)(Double.NegativeInfinity)
    val topIdx = Array.fill(take)(-1)
    var c = 0
    while (c < k) {
      val cv = centerVecs(c)
      if (cv.length == dim) {
        var acc = 0d
        var i = 0
        while (i < dim) { acc += arr.getFloat(i).toDouble * cv(i); i += 1 }
        val s = math.floor(acc / (vn * centerNorms(c)) * 1e6 + 0.5)
        var pos = take
        while (pos > 0 && s > topScore(pos - 1)) pos -= 1
        if (pos < take) {
          var j = take - 1
          while (j > pos) {
            topScore(j) = topScore(j - 1); topIdx(j) = topIdx(j - 1); j -= 1
          }
          topScore(pos) = s
          topIdx(pos) = c
        }
      }
      c += 1
    }
    new GenericArrayData(topIdx.filter(_ >= 0).map(_.toLong.asInstanceOf[AnyRef]))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1), centers = newChildren(2))
}

/** `graft_knn_topk(vec array<float>, nrm double, self_id long,
  * ids array<long> LITERAL, cands array<array<float>> LITERAL, k)` —
  * the exact top-`k` neighbours of `vec` among the literal candidate
  * matrix, excluding the candidate whose id equals `self_id`, as
  * `array<struct<n_id, score_c>>` in rank order (score_c DESC, n_id
  * ASC — candidates are scanned in ascending-id order and equal
  * scores never displace, which reproduces `row_number` over that
  * ordering exactly).
  *
  * Scores are bit-identical to the column formulation
  * `scaledFromParts(graft_dot(vec, cand), nrm, candNorm)`: the same
  * ascending-index double fold and the same
  * `floor(dot / (nrm * cnorm) * 1e6 + 0.5)` — proven by the
  * differential test against the join+window plan.
  *
  * Why an expression: the join+window brute force materializes
  * |q|x|n| pair ROWS through a BroadcastNestedLoopJoin and then
  * window-sorts them — at 8k vectors that is 64M 600-byte rows moved
  * and sorted to keep 3 per query. Here the same 64M dot products run
  * inside ONE projection over the corpus (candidate arrays + norms
  * parsed once per task, not per pair) and only the k survivors per
  * row ever become rows. CodegenFallback is fine: one boundary per
  * ROW (thousands), not per pair (millions) — the work inside is a
  * tight primitive loop either way. */
case class KnnTopKExpr(vec: Expression, nrm: Expression, selfId: Expression,
    ids: Expression, cands: Expression, k: Int)
    extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, nrm, selfId, ids, cands)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_id", LongType, nullable = false),
    StructField("score_c", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    val idsOk = ids.dataType match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    val cOk = cands.dataType match {
      case ArrayType(ArrayType(FloatType, _), _) => true
      case _ => false
    }
    if (vecOk && nrm.dataType == DoubleType && selfId.dataType == LongType &&
        idsOk && ids.foldable && cOk && cands.foldable && k > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "graft_knn_topk expects (array<float>, double, long, foldable array<long>, " +
        "foldable array<array<float>>, k > 0)")
  }

  // Literal candidate matrix: parse + norm once per expression
  // instance (per task after deserialization), never per row.
  @transient private lazy val candIds: Array[Long] =
    ids.eval(null).asInstanceOf[ArrayData].toLongArray()
  @transient private lazy val candVecs: Array[Array[Float]] = {
    val arr = cands.eval(null).asInstanceOf[ArrayData]
    Array.tabulate(arr.numElements())(i => arr.getArray(i).toFloatArray())
  }
  @transient private lazy val candNorms: Array[Double] =
    candVecs.map { c =>
      var acc = 0d
      var i = 0
      while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
      math.sqrt(acc)
    }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val nr = nrm.eval(input)
    val sid = selfId.eval(input)
    if (v == null || nr == null || sid == null) return null
    val q = v.asInstanceOf[ArrayData].toFloatArray()
    val vn = nr.asInstanceOf[Double]
    val self = sid.asInstanceOf[Long]
    val n = candVecs.length
    // Heap sized min(k, n), NOT min(k, n-1): the self row is excluded by
    // id below IF it appears among the candidates, but a general caller
    // of graft_knn_topk whose query id is absent from the candidate list
    // is owed the full k (self-kNN still yields <= n-1 via exclusion).
    val take = math.min(k, n)
    val topScore = Array.fill(take)(Double.NegativeInfinity)
    val topIdx = Array.fill(take)(-1)
    var c = 0
    while (c < n) {
      val cv = candVecs(c)
      if (candIds(c) != self && cv.length == q.length) {
        var acc = 0d
        var i = 0
        while (i < q.length) { acc += q(i).toDouble * cv(i).toDouble; i += 1 }
        val s = math.floor(acc / (vn * candNorms(c)) * 1e6 + 0.5)
        if (take > 0 && s > topScore(take - 1)) {
          var pos = take
          while (pos > 0 && s > topScore(pos - 1)) pos -= 1
          var j = take - 1
          while (j > pos) {
            topScore(j) = topScore(j - 1); topIdx(j) = topIdx(j - 1); j -= 1
          }
          topScore(pos) = s
          topIdx(pos) = c
        }
      }
      c += 1
    }
    val out = (0 until take).iterator.takeWhile(topIdx(_) >= 0).map { pos =>
      org.apache.spark.sql.catalyst.InternalRow(
        candIds(topIdx(pos)), topScore(pos).toLong): AnyRef
    }.toArray
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1), selfId = newChildren(2),
      ids = newChildren(3), cands = newChildren(4))
}

/** Driver-built, broadcast-shipped center set for the IVF family: ids
  * ascending, one pre-computed double norm per center (the same
  * `sqrt(left-fold dot)` as [[graft.sim.Similarity.norm]], computed
  * once at construction so every task reuses it).
  *
  * Why this exists: [[TopCentersExpr]] ships its centers as a plan
  * LITERAL — fine for an index parameter like a fixed k=32, but the
  * classic IVF sizing makes |centers| ~ sqrt(corpus), and at real
  * scale (1e5 centers x 64 dims) a literal blows plan size and codegen
  * constant pools long before memory matters. A `Broadcast` handle
  * serializes into tasks as a stub (the spark.ml pattern for shipping
  * k-means centers), keeping plan size O(1) in |centers| while the
  * assignment math stays bit-identical.
  */
case class CenterSet(ids: Array[Long], vecs: Array[Array[Float]],
    norms: Array[Double]) extends Serializable

object CenterSet {
  /** Build from (id, vec) pairs; sorts by id ascending so positional
    * tie-breaks reproduce [[TopCentersExpr]]'s id-ascending order. */
  def apply(centers: Array[(Long, Array[Float])]): CenterSet = {
    val sorted = centers.sortBy(_._1)
    CenterSet(sorted.map(_._1), sorted.map(_._2),
      sorted.map(_._2).map { c =>
        var acc = 0d
        var i = 0
        while (i < c.length) { acc += c(i).toDouble * c(i).toDouble; i += 1 }
        math.sqrt(acc)
      })
  }
}

/** `BroadcastCentersExpr(vec, nrm, bc, nearest)` — the broadcast-handle
  * twin of [[TopCentersExpr]]: ranks the broadcast [[CenterSet]]
  * against `vec` and returns the top-`nearest` center IDS (not
  * indices — the set carries its ids) in rank order, ties by smaller
  * id. Scores are the identical
  * `floor(dot / (nrm * centerNorm) * 1e6 + 0.5)` double math, so the
  * two paths are bit-equal (differential-tested in SimilaritySpec).
  *
  * Not registered as a SQL function: the `Broadcast` constructor arg
  * cannot come through the children-only `injectFunction` factory —
  * callers build the Column via `Bridge.column`. CodegenFallback for
  * the same reason as [[TopCentersExpr]]: one boundary per row is
  * noise next to the k-dot-products loop inside.
  */
case class BroadcastCentersExpr(vec: Expression, nrm: Expression,
    bc: org.apache.spark.broadcast.Broadcast[CenterSet], nearest: Int)
    extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, nrm)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (vecOk && nrm.dataType == DoubleType && nearest > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "BroadcastCentersExpr expects (array<float>, double), nearest > 0")
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) return null
    val cs = bc.value
    val arr = v.asInstanceOf[ArrayData]
    val vn = n.asInstanceOf[Double]
    val dim = arr.numElements()
    val k = cs.vecs.length
    val take = math.min(nearest, k)
    val topScore = Array.fill(take)(Double.NegativeInfinity)
    val topIdx = Array.fill(take)(-1)
    var c = 0
    while (c < k) {
      val cv = cs.vecs(c)
      if (cv.length == dim) {
        var acc = 0d
        var i = 0
        while (i < dim) { acc += arr.getFloat(i).toDouble * cv(i); i += 1 }
        val s = math.floor(acc / (vn * cs.norms(c)) * 1e6 + 0.5)
        var pos = take
        while (pos > 0 && s > topScore(pos - 1)) pos -= 1
        if (pos < take) {
          var j = take - 1
          while (j > pos) {
            topScore(j) = topScore(j - 1); topIdx(j) = topIdx(j - 1); j -= 1
          }
          topScore(pos) = s
          topIdx(pos) = c
        }
      }
      c += 1
    }
    new GenericArrayData(
      topIdx.filter(_ >= 0).map(i => cs.ids(i).asInstanceOf[AnyRef]))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1))
}

/** Two-level (coarse -> fine) IVF index, driver-built and
  * broadcast-shipped: `coarse` is a small [[CenterSet]] (the index
  * parameter — ~sqrt(|fine|) entries), and `groups` maps each coarse
  * id to the [[CenterSet]] of fine centers whose nearest coarse center
  * it is. Ranking a vector costs O((|coarse| + |fine|/|coarse|) * dim)
  * instead of the flat path's O(|fine| * dim) — the standard IMI/
  * coarse-quantizer move that keeps per-row assignment work bounded as
  * the fine-center count tracks corpus growth.
  *
  * APPROXIMATE by design: a vector near a coarse boundary may have its
  * true nearest fine center in a different coarse cell. The rule is
  * deterministic (argmax scaled-cosine, ties by smaller id, at both
  * levels) so a SQL oracle replays it exactly — recall vs the flat
  * assignment is a measured property, not a correctness one.
  */
case class TwoLevelIndex(coarse: CenterSet,
    groups: Map[Long, CenterSet]) extends Serializable

/** `TwoLevelCentersExpr(vec, nrm, bc, nearest)` — ranks `vec` against a
  * broadcast [[TwoLevelIndex]]: pick the nearest coarse center (rank-1,
  * ties by smaller id), then return the top-`nearest` fine-center IDS
  * within that coarse group (same score math and tie-break). A vector
  * whose coarse group is empty emits an empty array (its rows drop at
  * the posexplode — mirrored by the oracle's inner join on the group).
  */
case class TwoLevelCentersExpr(vec: Expression, nrm: Expression,
    bc: org.apache.spark.broadcast.Broadcast[TwoLevelIndex], nearest: Int)
    extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, nrm)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (vecOk && nrm.dataType == DoubleType && nearest > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "TwoLevelCentersExpr expects (array<float>, double), nearest > 0")
  }

  /** Rank-1 index into `cs` by (score desc, position asc), or -1. */
  private def argmax(arr: ArrayData, dim: Int, vn: Double, cs: CenterSet): Int = {
    var best = -1
    var bestScore = Double.NegativeInfinity
    var c = 0
    while (c < cs.vecs.length) {
      val cv = cs.vecs(c)
      if (cv.length == dim) {
        var acc = 0d
        var i = 0
        while (i < dim) { acc += arr.getFloat(i).toDouble * cv(i); i += 1 }
        val s = math.floor(acc / (vn * cs.norms(c)) * 1e6 + 0.5)
        if (s > bestScore) { bestScore = s; best = c }
      }
      c += 1
    }
    best
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) return null
    val idx = bc.value
    val arr = v.asInstanceOf[ArrayData]
    val vn = n.asInstanceOf[Double]
    val dim = arr.numElements()
    val ci = argmax(arr, dim, vn, idx.coarse)
    if (ci < 0) return new GenericArrayData(Array.empty[AnyRef])
    val group = idx.groups.getOrElse(idx.coarse.ids(ci), null)
    if (group == null) return new GenericArrayData(Array.empty[AnyRef])
    val k = group.vecs.length
    val take = math.min(nearest, k)
    val topScore = Array.fill(take)(Double.NegativeInfinity)
    val topIdx = Array.fill(take)(-1)
    var c = 0
    while (c < k) {
      val cv = group.vecs(c)
      if (cv.length == dim) {
        var acc = 0d
        var i = 0
        while (i < dim) { acc += arr.getFloat(i).toDouble * cv(i); i += 1 }
        val s = math.floor(acc / (vn * group.norms(c)) * 1e6 + 0.5)
        var pos = take
        while (pos > 0 && s > topScore(pos - 1)) pos -= 1
        if (pos < take) {
          var j = take - 1
          while (j > pos) {
            topScore(j) = topScore(j - 1); topIdx(j) = topIdx(j - 1); j -= 1
          }
          topScore(pos) = s
          topIdx(pos) = c
        }
      }
      c += 1
    }
    new GenericArrayData(
      topIdx.filter(_ >= 0).map(i => group.ids(i).asInstanceOf[AnyRef]))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1))
}

/** `graft_srp_buckets(vec array<float>, salt, bands, planes, dim)` —
  * ALL `bands` SRP band buckets of one vector in a single expression
  * eval: bit p of band b is `dot(vec, signs(salt, b, p)) > 0`, the
  * exact construction [[graft.sim.Similarity.srpBuckets]] previously
  * composed from bands x planes separate [[DotExpr]] columns.
  *
  * Why one expression: the composed form inlines every dot's 64-wide
  * loop plus its CASE chain into ONE generated method; past ~2 bands
  * the method exceeds the JVM's huge-method JIT limit and the whole
  * projection drops to the bytecode INTERPRETER (measured 17x on the
  * sf1 corpus: 16.5 s vs 0.9 s for the bucketing scan alone, same
  * dot-product count — SCALE.md). Same cure as [[TopCentersExpr]]:
  * a CodegenFallback boundary once per row into tight compiled Scala
  * loops is noise compared to an interpreted 36-loop method body.
  *
  * Bit-identical to the composed form, including its edge semantics:
  * a null vec, a vec whose length differs from `dim`, or a null
  * element made every per-plane dot NULL, and `when(null > 0, bit)
  * .otherwise(0)` contributed 0 — i.e. bucket 0 in every band. The
  * hyperplane signs are regenerated from (salt, band, plane, dim) via
  * the same md5 rule a SQL oracle replays relationally, stored as
  * ±1.0 DOUBLE so each product `(double) vec(i) * sign` and the
  * ascending-index accumulation are IEEE-identical to [[DotExpr]]'s.
  */
case class SrpBucketsExpr(vec: Expression, salt: String, bands: Int,
    planes: Int, dim: Int)
    extends Expression
    with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (vecOk && bands >= 1 && planes >= 1 && planes <= 62 && dim >= 1)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_srp_buckets expects (array<float>) with 1<=planes<=62, got ${vec.dataType}, bands=$bands, planes=$planes, dim=$dim")
  }

  // Flat [band][plane][dim] sign matrix, ±1.0 double. Built once per
  // task (transient lazy), never shipped as a plan literal.
  @transient private lazy val signs: Array[Double] = {
    val out = new Array[Double](bands * planes * dim)
    var b = 0
    while (b < bands) {
      var p = 0
      while (p < planes) {
        var i = 0
        while (i < dim) {
          out((b * planes + p) * dim + i) =
            graft.sim.Similarity.srpSign(salt, b, p, i).toDouble
          i += 1
        }
        p += 1
      }
      b += 1
    }
    out
  }

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val out = new Array[Long](bands)
    val v = vec.eval(input)
    if (v != null) {
      val a = v.asInstanceOf[ArrayData]
      if (a.numElements() == dim && !hasNullElem(a)) {
        val x = new Array[Double](dim)
        var i = 0
        while (i < dim) { x(i) = a.getFloat(i).toDouble; i += 1 }
        var b = 0
        var off = 0
        while (b < bands) {
          var bkt = 0L
          var p = 0
          while (p < planes) {
            var acc = 0d
            var i2 = 0
            while (i2 < dim) { acc += x(i2) * signs(off + i2); i2 += 1 }
            if (acc > 0d) bkt |= 1L << p
            p += 1
            off += dim
          }
          out(b) = bkt
          b += 1
        }
      }
    }
    new GenericArrayData(out)
  }

  private def hasNullElem(a: ArrayData): Boolean = {
    var i = 0
    val n = a.numElements()
    while (i < n) {
      if (a.isNullAt(i)) return true
      i += 1
    }
    false
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0))
}
