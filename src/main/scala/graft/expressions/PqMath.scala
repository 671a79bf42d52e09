package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Product-quantization (PQ) codebook — the FAISS-style compression
  * companion to the IVF family (Jegou et al., "Product Quantization
  * for Nearest Neighbor Search", TPAMI 2011): the `dim`-dimensional
  * embedding space is split into `m` contiguous subspaces of `subDim`
  * dims each, and every subspace carries its own small codebook. A
  * vector compresses to `m` small code ids — at m=8 over 64-dim float
  * vectors that is ~8 ints instead of 256 bytes of floats, which is
  * the difference between a shuffle that moves the corpus and one
  * that moves fingerprints.
  *
  * Deterministic by construction, like the IVF centers: init codes
  * are named corpus rows, assignment is argmin of the exact L2
  * expansion `floor((c.c - 2 x.c) * 1e6 + 0.5)` (the x.x term is
  * constant per row and dropped; ties break on smaller code id),
  * refinement is the exact-integer-sum mean ([[graft.sim.KMeans]]'s
  * formula) — so a SQL oracle replays training, encoding, and every
  * distance bit-for-bit.
  *
  * All PQ dot products use PER-SUBSPACE GROUPING: an ascending-index
  * double fold within each subspace, then an ascending-s sum of the m
  * partials. (A flat fold would round differently; fixing the
  * grouping lets the symmetric path read the m partials straight out
  * of [[lut]] while staying bit-equal to the SQL mirror, which sums
  * `list_reduce` subspace dots in the same order.)
  *
  * `lut(s)` is the ks_s x ks_s code-to-code partial-dot table of
  * subspace s (flattened row-major, indexed by POSITION in the
  * id-ascending code arrays, not by code id): symmetric
  * (code,code) scoring is m lookups + m adds per pair instead of
  * `dim` multiply-adds — the ADC/SDC trick that makes compressed
  * pair scoring cheaper than the float scoring it replaces, on top
  * of the narrower shuffle.
  */
case class PqCodebook(m: Int, subDim: Int,
    codeIds: Array[Array[Int]],
    codeVecs: Array[Array[Array[Float]]],
    selfDots: Array[Array[Double]],
    lut: Array[Array[Double]]) extends Serializable {

  def dim: Int = m * subDim

  /** Per-subspace id -> position table (ids are small ints — the
    * named init-row ids — so a direct array beats scanning): built
    * once per deserialized codebook, sized max-id+1, -1 for unknown.
    * This is the hot-loop lookup — [[PqSdcDotExpr]] runs it 2m times
    * PER PAIR, where a linear scan would cost m·ks/2 compares. */
  @transient private lazy val posById: Array[Array[Int]] =
    codeIds.map { ids =>
      val t = Array.fill(ids.foldLeft(0)(math.max) + 1)(-1)
      var i = 0
      while (i < ids.length) { t(ids(i)) = i; i += 1 }
      t
    }

  /** Position of code `id` in subspace `s`, or -1. */
  def idx(s: Int, id: Int): Int = {
    val t = posById(s)
    if (id < 0 || id >= t.length) -1 else t(id)
  }

  // ---- fused kernels (shared by interpreted eval AND generated code)
  //
  // Each PQ expression's doGenCode emits ONE call into these compiled
  // methods — the whole-stage-generated join/projection code never
  // crosses an interpreted-eval boundary (the [[DotExpr]] lesson: the
  // fallback boundary costs ~6 µs/row, ~100x the arithmetic). Invalid
  // input signals via NaN (unreachable as a true dot — LUT entries
  // are finite sums of finite products) or a null array.

  /** Symmetric coded dot: m LUT lookups, ascending-s. NaN if either
    * side is malformed or carries an unknown code id. */
  def sdcDotOrNaN(a: ArrayData, b: ArrayData): Double = {
    if (a.numElements() != m || b.numElements() != m) return Double.NaN
    var total = 0d
    var s = 0
    while (s < m) {
      if (a.isNullAt(s) || b.isNullAt(s)) return Double.NaN
      val ia = idx(s, a.getInt(s))
      val ib = idx(s, b.getInt(s))
      if (ia < 0 || ib < 0) return Double.NaN
      total += lut(s)(ia * codeIds(s).length + ib)
      s += 1
    }
    total
  }

  /** Asymmetric float-query x coded dot: per-subspace ascending folds
    * of `q` against the code vectors, partials summed ascending-s. */
  def adcDotOrNaN(q: ArrayData, c: ArrayData): Double = {
    if (q.numElements() != dim || c.numElements() != m) return Double.NaN
    var total = 0d
    var s = 0
    while (s < m) {
      if (c.isNullAt(s)) return Double.NaN
      val p = idx(s, c.getInt(s))
      if (p < 0) return Double.NaN
      val cv = codeVecs(s)(p)
      val off = s * subDim
      var acc = 0d
      var i = 0
      while (i < subDim) {
        if (q.isNullAt(off + i)) return Double.NaN
        acc += q.getFloat(off + i).toDouble * cv(i).toDouble
        i += 1
      }
      total += acc
      s += 1
    }
    total
  }

  /** Reconstruction norm: sqrt of the ascending-s sum of per-subspace
    * self-dots (LUT diagonal). */
  def normOrNaN(c: ArrayData): Double = {
    if (c.numElements() != m) return Double.NaN
    var total = 0d
    var s = 0
    while (s < m) {
      if (c.isNullAt(s)) return Double.NaN
      val p = idx(s, c.getInt(s))
      if (p < 0) return Double.NaN
      total += selfDots(s)(p)
      s += 1
    }
    math.sqrt(total)
  }

  /** Argmin-L2 encoding (exact `floor((c.c - 2 x.c) * 1e6 + 0.5)`
    * expansion, ties to the smaller code id), or null for a
    * malformed vector. */
  def encodeOrNull(v: ArrayData): ArrayData = {
    if (v.numElements() != dim) return null
    val x = new Array[Float](dim)
    var j = 0
    while (j < dim) {
      if (v.isNullAt(j)) return null
      x(j) = v.getFloat(j)
      j += 1
    }
    val out = new Array[Int](m)
    var s = 0
    while (s < m) {
      val codes = codeVecs(s)
      val self = selfDots(s)
      val off = s * subDim
      var best = -1
      var bestScore = Double.PositiveInfinity
      var ci = 0
      while (ci < codes.length) {
        val c = codes(ci)
        var acc = 0d
        var i = 0
        while (i < subDim) { acc += x(off + i).toDouble * c(i).toDouble; i += 1 }
        val score = math.floor((self(ci) - 2d * acc) * 1e6 + 0.5)
        if (score < bestScore) { bestScore = score; best = ci }
        ci += 1
      }
      if (best < 0) return null
      out(s) = codeIds(s)(best)
      s += 1
    }
    new GenericArrayData(out)
  }
}

object PqCodebook {
  /** Ascending-index double fold — the one dot-product kernel every
    * PQ table is built from (bit-identical to [[DotExpr]]'s loop). */
  private[expressions] def foldDot(a: Array[Float], b: Array[Float]): Double = {
    var acc = 0d
    var i = 0
    while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
    acc
  }

  /** Build from per-subspace (codeId, subVec) lists: sorts each
    * subspace by code id and precomputes the self-dot and LUT
    * tables. */
  def apply(m: Int, subDim: Int,
      perSub: Array[Array[(Int, Array[Float])]]): PqCodebook = {
    require(perSub.length == m, s"expected $m subspaces, got ${perSub.length}")
    val sorted = perSub.map(_.sortBy(_._1))
    sorted.foreach(_.foreach { case (id, v) =>
      require(v.length == subDim, s"code $id has dim ${v.length} != $subDim")
    })
    val ids = sorted.map(_.map(_._1))
    val vecs = sorted.map(_.map(_._2))
    val lut = vecs.map { cs =>
      val k = cs.length
      val t = new Array[Double](k * k)
      var i = 0
      while (i < k) {
        var j = 0
        while (j < k) { t(i * k + j) = foldDot(cs(i), cs(j)); j += 1 }
        i += 1
      }
      t
    }
    val self = vecs.zip(lut).map { case (cs, t) =>
      Array.tabulate(cs.length)(i => t(i * cs.length + i))
    }
    PqCodebook(m, subDim, ids, vecs, self, lut)
  }

  /** Slice full-dim (codeId, vec) init rows into the m per-subspace
    * codebooks (every subspace starts from the same named rows). */
  def fromFullVectors(m: Int, subDim: Int,
      centers: Array[(Int, Array[Float])]): PqCodebook = {
    centers.foreach { case (id, v) =>
      require(v.length == m * subDim,
        s"init row $id has dim ${v.length} != ${m * subDim}")
    }
    apply(m, subDim, Array.tabulate(m) { s =>
      centers.map { case (id, v) =>
        id -> java.util.Arrays.copyOfRange(v, s * subDim, (s + 1) * subDim)
      }
    })
  }
}

/** Shared shape/eval plumbing for the PQ expressions. The hot ones
  * (encode, SDC, ADC, norm) generate REAL code — one call per row
  * into the [[PqCodebook]] kernels, inlined into the surrounding
  * whole-stage span (the [[DotExpr]] lesson: a CodegenFallback
  * boundary costs ~6 µs/row, ~100x the arithmetic — ruinous in the
  * per-PAIR SDC path). Composing from per-subspace builtin columns
  * instead would blow the JIT's huge-method limit the moment m grows
  * (the [[RankCentersExpr]]/[[SrpBucketsExpr]] lesson). All carry the
  * codebook as a `Broadcast` stub, never a plan literal (codebook
  * size is an index parameter; at real scale m x ks x subDim floats
  * stay KBs, but the LUT is m x ks^2 doubles and plan literals are
  * the wrong place for either). Built via `Bridge.column` — the
  * broadcast constructor arg cannot come through the children-only
  * `injectFunction` factory. */
trait PqExpr { self: Expression =>
  def bc: org.apache.spark.broadcast.Broadcast[PqCodebook]
  @transient protected lazy val cb: PqCodebook = bc.value

  /** Per-stage codebook variable for generated code: the Broadcast
    * stub rides the references array; `.value()` resolves once per
    * task at stage init, not per row. */
  protected def cbVar(ctx: CodegenContext): String = {
    val cbCls = classOf[PqCodebook].getName
    val bcRef = ctx.addReferenceObj("pqbc", bc,
      "org.apache.spark.broadcast.Broadcast")
    ctx.addMutableState(cbCls, "pqcb",
      v => s"$v = ($cbCls) $bcRef.value();")
  }

  protected def floatArray(a: ArrayData, n: Int): Array[Float] = {
    val out = new Array[Float](n)
    var i = 0
    while (i < n) {
      if (a.isNullAt(i)) return null
      out(i) = a.getFloat(i)
      i += 1
    }
    out
  }

  /** codes array -> per-subspace POSITIONS, or null if any id is
    * unknown / length mismatches. */
  protected def codePositions(a: ArrayData): Array[Int] = {
    if (a.numElements() != cb.m) return null
    val out = new Array[Int](cb.m)
    var s = 0
    while (s < cb.m) {
      if (a.isNullAt(s)) return null
      val p = cb.idx(s, a.getInt(s))
      if (p < 0) return null
      out(s) = p
      s += 1
    }
    out
  }
}

/** `PqEncodeExpr(vec, bc)` -> the m code ids of `vec` (array<int>):
  * per subspace, argmin over codes of
  * `floor((c.c - 2 x.c) * 1e6 + 0.5)` with ties to the smaller code
  * id — the exact rule the SQL oracle replays. Null vec, wrong
  * length, or a null element -> null (a row that cannot encode
  * drops, mirrored by the oracle's inner joins). */
case class PqEncodeExpr(vec: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends Expression with PqExpr {

  override def children: Seq[Expression] = Seq(vec)
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = vec.dataType match {
    case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"PqEncodeExpr expects array<float>, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val v = vec.eval(input)
    if (v == null) null else cb.encodeOrNull(v.asInstanceOf[ArrayData])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val child = vec.genCode(ctx)
    val cbv = cbVar(ctx)
    val ad = classOf[ArrayData].getName
    ev.copy(code = code"""
      ${child.code}
      boolean ${ev.isNull} = true;
      $ad ${ev.value} = null;
      if (!${child.isNull}) {
        ${ev.value} = $cbv.encodeOrNull(${child.value});
        ${ev.isNull} = (${ev.value} == null);
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(vec = newChildren(0))
}

/** `PqDecodeExpr(codes, bc)` -> the reconstruction (array<float>):
  * subspace code vectors concatenated in subspace order. Null codes /
  * unknown id -> null. */
case class PqDecodeExpr(codes: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends Expression with PqExpr with CodegenFallback {

  override def children: Seq[Expression] = Seq(codes)
  override def dataType: DataType = ArrayType(FloatType, containsNull = false)
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = codes.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"PqDecodeExpr expects array<int>, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val c = codes.eval(input)
    if (c == null) return null
    val pos = codePositions(c.asInstanceOf[ArrayData])
    if (pos == null) return null
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.m) {
      System.arraycopy(cb.codeVecs(s)(pos(s)), 0, out, s * cb.subDim, cb.subDim)
      s += 1
    }
    new GenericArrayData(out)
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(codes = newChildren(0))
}

/** `PqAdcDotExpr(qvec, codes, bc)` -> double: the asymmetric
  * (float query x coded candidate) PQ dot — per-subspace folds of
  * `q` against the candidate's code vectors, summed ascending-s.
  * Exactly `pqDot(q, decode(codes))` without materializing the
  * reconstruction. */
case class PqAdcDotExpr(qvec: Expression, codes: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends Expression with PqExpr {

  override def children: Seq[Expression] = Seq(qvec, codes)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (qvec.dataType, codes.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"PqAdcDotExpr expects (array<float>, array<int>), got ($a, $b)")
    }

  override def eval(input: InternalRow): Any = {
    val q = qvec.eval(input)
    val c = codes.eval(input)
    if (q == null || c == null) return null
    val d = cb.adcDotOrNaN(q.asInstanceOf[ArrayData], c.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(d)) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val qGen = qvec.genCode(ctx)
    val cGen = codes.genCode(ctx)
    val cbv = cbVar(ctx)
    val d = ctx.freshName("adc")
    ev.copy(code = code"""
      ${qGen.code}
      ${cGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${qGen.isNull} && !${cGen.isNull}) {
        double $d = $cbv.adcDotOrNaN(${qGen.value}, ${cGen.value});
        if (!Double.isNaN($d)) { ${ev.isNull} = false; ${ev.value} = $d; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(qvec = newChildren(0), codes = newChildren(1))
}

/** `PqSdcDotExpr(codesA, codesB, bc)` -> double: the symmetric
  * (coded x coded) PQ dot — m LUT lookups summed ascending-s, no
  * multiplications at all. Bit-equal to
  * `pqDot(decode(codesA), decode(codesB))` because each LUT entry IS
  * that subspace's ascending fold. */
case class PqSdcDotExpr(codesA: Expression, codesB: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends Expression with PqExpr {

  override def children: Seq[Expression] = Seq(codesA, codesB)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    (codesA.dataType, codesB.dataType) match {
      case (ArrayType(IntegerType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b) => TypeCheckResult.TypeCheckFailure(
        s"PqSdcDotExpr expects (array<int>, array<int>), got ($a, $b)")
    }

  override def eval(input: InternalRow): Any = {
    val a = codesA.eval(input)
    val b = codesB.eval(input)
    if (a == null || b == null) return null
    val d = cb.sdcDotOrNaN(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(d)) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGen = codesA.genCode(ctx)
    val bGen = codesB.genCode(ctx)
    val cbv = cbVar(ctx)
    val d = ctx.freshName("sdc")
    ev.copy(code = code"""
      ${aGen.code}
      ${bGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${aGen.isNull} && !${bGen.isNull}) {
        double $d = $cbv.sdcDotOrNaN(${aGen.value}, ${bGen.value});
        if (!Double.isNaN($d)) { ${ev.isNull} = false; ${ev.value} = $d; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(codesA = newChildren(0), codesB = newChildren(1))
}

/** `PqNormExpr(codes, bc)` -> double: the reconstruction's norm,
  * `sqrt(sum_s selfDot(s, code_s))` — the per-subspace-grouped
  * `sqrt(pqDot(recon, recon))`, m lookups per row. Computed once per
  * VECTOR (pre-shuffle) so pair scoring never recomputes it. */
case class PqNormExpr(codes: Expression,
    bc: org.apache.spark.broadcast.Broadcast[PqCodebook])
    extends Expression with PqExpr {

  override def children: Seq[Expression] = Seq(codes)
  override def dataType: DataType = DoubleType
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult = codes.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"PqNormExpr expects array<int>, got $t")
  }

  override def eval(input: InternalRow): Any = {
    val c = codes.eval(input)
    if (c == null) return null
    val d = cb.normOrNaN(c.asInstanceOf[ArrayData])
    if (java.lang.Double.isNaN(d)) null else d
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cGen = codes.genCode(ctx)
    val cbv = cbVar(ctx)
    val d = ctx.freshName("pqn")
    ev.copy(code = code"""
      ${cGen.code}
      boolean ${ev.isNull} = true;
      double ${ev.value} = 0.0;
      if (!${cGen.isNull}) {
        double $d = $cbv.normOrNaN(${cGen.value});
        if (!Double.isNaN($d)) { ${ev.isNull} = false; ${ev.value} = $d; }
      }""")
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(codes = newChildren(0))
}
