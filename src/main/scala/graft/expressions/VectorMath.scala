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

/** A driver-built center index, shipped to the executors as ONE
  * `Broadcast` stub (the spark.ml pattern for k-means centers) and
  * ranked per row by [[RankCentersExpr]]. The stub keeps plan size
  * O(1) in |centers|: the classic IVF sizing makes |centers| ~
  * sqrt(corpus), and at real scale (1e5 centers x 64 dims) a plan
  * literal blows plan size and codegen constant pools long before
  * memory matters. Every score in every case is [[CenterSet.top]].
  */
sealed trait CenterIndex extends Serializable {
  /** Ids of the top-`nearest` cells of `v` (norm `vn`), rank order. */
  def rank(v: Array[Float], vn: Double, nearest: Int): Array[Long]
}

/** Flat center set: ids ascending, one precomputed double norm per
  * center (the same `sqrt(left-fold dot)` as
  * [[graft.sim.Similarity.norm]], computed once on the driver so every
  * task reuses it). Build through the companion `apply`, which sorts. */
final case class CenterSet(ids: Array[Long], vecs: Array[Array[Float]],
    norms: Array[Double]) extends CenterIndex {

  /** The scaled-cosine top-`nearest` kernel — the one score-and-insert
    * loop behind every IVF cell assignment, the two-level index and
    * the exact kNN expression. Scores are
    * `floor(dot / (vn * norm) * 1e6 + 0.5)` over the ascending-index
    * double fold, bit-identical to
    * `Similarity.scaledFromParts(graft_dot(v, c), vn, norm)`, so a SQL
    * oracle replays the ranking exactly. Ties keep the smaller id
    * (positions ascend with ids and an equal score never displaces).
    * Centers whose dimension differs from `v` are skipped, as are NaN
    * scores (a zero-norm side) and position `skip` (pass a negative
    * value to skip nothing). `nearest` is small (1-2 cells, k
    * neighbours), so insertion into parallel arrays beats sorting. */
  def top(v: Array[Float], vn: Double, nearest: Int,
      skip: Int = -1): CenterSet.Top = {
    val take = math.min(nearest, vecs.length)
    val pos = Array.fill(take)(-1)
    val score = Array.fill(take)(Double.NegativeInfinity)
    var size = 0
    var c = 0
    while (c < vecs.length) {
      val cv = vecs(c)
      if (c != skip && cv.length == v.length) {
        var acc = 0d
        var i = 0
        while (i < v.length) { acc += v(i).toDouble * cv(i).toDouble; i += 1 }
        val s = math.floor(acc / (vn * norms(c)) * 1e6 + 0.5)
        var p = take
        while (p > 0 && s > score(p - 1)) p -= 1
        if (p < take) {
          var j = take - 1
          while (j > p) { score(j) = score(j - 1); pos(j) = pos(j - 1); j -= 1 }
          score(p) = s
          pos(p) = c
          if (size < take) size += 1
        }
      }
      c += 1
    }
    CenterSet.Top(pos, score, size)
  }

  def rank(v: Array[Float], vn: Double, nearest: Int): Array[Long] = {
    val t = top(v, vn, nearest)
    Array.tabulate(t.size)(i => ids(t.pos(i)))
  }
}

object CenterSet {
  /** [[CenterSet.top]]'s result: the first `size` slots of `pos` (set
    * positions) and `score` (scaled cosines), rank order. */
  final case class Top(pos: Array[Int], score: Array[Double], size: Int)

  /** Build from (id, vec) pairs, sorted by id ascending (the
    * tie-break order [[CenterSet.top]] relies on). */
  def apply(centers: Array[(Long, Array[Float])]): CenterSet = {
    val sorted = centers.sortBy(_._1)
    CenterSet(sorted.map(_._1), sorted.map(_._2),
      sorted.map(c => graft.sim.Similarity.normLocal(c._2)))
  }
}

/** Two-level (coarse -> fine) IVF index: `coarse` is a small
  * [[CenterSet]] (the index parameter — ~sqrt(|fine|) entries), and
  * `groups` maps each coarse id to the [[CenterSet]] of fine centers
  * whose nearest coarse center it is. Ranking picks the coarse center
  * with `top(..., 1)`, then ranks that group with `top` — O((|coarse| +
  * |fine|/|coarse|) * dim) per row instead of the flat O(|fine| * dim):
  * the standard IMI/coarse-quantizer move that keeps per-row
  * assignment work bounded as the fine-center count tracks corpus
  * growth. A vector whose coarse group is empty ranks no cell (its
  * rows drop at the posexplode — mirrored by the oracle's inner join
  * on the group).
  *
  * APPROXIMATE by design: a vector near a coarse boundary may have its
  * true nearest fine center in a different coarse cell. The rule is
  * deterministic (the same kernel and tie-break at both levels) so a
  * SQL oracle replays it exactly — recall vs the flat assignment is a
  * measured property, not a correctness one.
  */
final case class TwoLevelIndex(coarse: CenterSet,
    groups: Map[Long, CenterSet]) extends CenterIndex {

  def rank(v: Array[Float], vn: Double, nearest: Int): Array[Long] = {
    val c = coarse.top(v, vn, 1)
    if (c.size == 0) Array.emptyLongArray
    else groups.get(coarse.ids(c.pos(0)))
      .fold(Array.emptyLongArray)(_.rank(v, vn, nearest))
  }
}

/** `RankCentersExpr(vec, nrm, bc, nearest)` — the top-`nearest` cell
  * IDS of `vec` (norm `nrm`) against the broadcast [[CenterIndex]],
  * rank order, ties by smaller id. The one expression behind every
  * IVF cell assignment ([[graft.sim.Similarity.rankedCells]]).
  *
  * One eval per ROW does all the dot products in a tight loop over
  * the index. The alternative — an `array()` of k per-center score
  * columns — generates k inlined loops whose code size kicks the whole
  * stage out of whole-stage codegen (the projection went interpreted,
  * measured seconds per small scan); a CodegenFallback boundary once
  * per row is noise by comparison. Not a SQL function: the `Broadcast`
  * constructor arg cannot come through the children-only
  * `injectFunction` factory — callers build the Column via
  * `Bridge.column`.
  */
case class RankCentersExpr(vec: Expression, nrm: Expression,
    bc: org.apache.spark.broadcast.Broadcast[CenterIndex], nearest: Int)
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
      "RankCentersExpr expects (array<float>, double), nearest > 0")
  }

  // Once per task, not per row: `bc.value` is a synchronized read.
  @transient private lazy val index: CenterIndex = bc.value

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val n = nrm.eval(input)
    if (v == null || n == null) return null
    new GenericArrayData(index.rank(v.asInstanceOf[ArrayData].toFloatArray(),
      n.asInstanceOf[Double], nearest))
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1))
}

/** `KnnTopKExpr(vec, nrm, selfId, bc, k)` — the exact top-`k`
  * neighbours of `vec` among the broadcast candidate [[CenterSet]],
  * excluding the candidate whose id equals `selfId`, as
  * `array<struct<n_id, score_c>>` in rank order (score_c DESC, n_id
  * ASC — [[CenterSet.top]]'s order, which reproduces `row_number` over
  * that ordering exactly; proven by the differential test against the
  * join+window plan). A query id absent from the candidates is owed
  * the full min(k, n); self-kNN yields <= n-1 via the exclusion.
  *
  * Why an expression: the join+window brute force materializes
  * |q|x|n| pair ROWS through a BroadcastNestedLoopJoin and then
  * window-sorts them — at 8k vectors that is 64M 600-byte rows moved
  * and sorted to keep 3 per query. Here the same 64M dot products run
  * inside ONE projection over the corpus and only the k survivors per
  * row ever become rows. CodegenFallback is fine: one boundary per
  * ROW (thousands), not per pair (millions). */
case class KnnTopKExpr(vec: Expression, nrm: Expression, selfId: Expression,
    bc: org.apache.spark.broadcast.Broadcast[CenterSet], k: Int)
    extends Expression with org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback {

  override def children: Seq[Expression] = Seq(vec, nrm, selfId)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("n_id", LongType, nullable = false),
    StructField("score_c", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes() = {
    val vecOk = vec.dataType match {
      case ArrayType(FloatType, _) => true
      case _ => false
    }
    if (vecOk && nrm.dataType == DoubleType && selfId.dataType == LongType && k > 0)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      "KnnTopKExpr expects (array<float>, double, long), k > 0")
  }

  // Once per task, not per row: `bc.value` is a synchronized read.
  @transient private lazy val cands: CenterSet = bc.value

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = vec.eval(input)
    val nr = nrm.eval(input)
    val sid = selfId.eval(input)
    if (v == null || nr == null || sid == null) return null
    // Ids ascend, so the query's own position is a binary search
    // (negative — skip nothing — when it is not a candidate).
    val t = cands.top(v.asInstanceOf[ArrayData].toFloatArray(),
      nr.asInstanceOf[Double], k,
      java.util.Arrays.binarySearch(cands.ids, sid.asInstanceOf[Long]))
    new GenericArrayData(Array.tabulate[AnyRef](t.size) { i =>
      org.apache.spark.sql.catalyst.InternalRow(
        cands.ids(t.pos(i)), t.score(i).toLong)
    })
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0), nrm = newChildren(1), selfId = newChildren(2))
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
  * dot-product count — SCALE.md). Same cure as [[RankCentersExpr]]:
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
