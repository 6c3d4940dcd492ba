package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path (SURVEY.md §3:
  * "custom Catalyst Expression ... codegen'd"). The higher-order-
  * function formulations in [[VectorFunctions]] are semantically
  * identical but evaluate one lambda call per element per row; these
  * run one tight primitive loop per row inside whole-stage codegen —
  * at 100 TB the cosine/signature scan is the dominant cost of the
  * ANN and embedding-dedup operators.
  *
  * The package rule for every scalar expression in `graft.functions`:
  * the algorithm lives ONCE, in a kernel method on the companion
  * object that takes and returns primitive (or Catalyst-internal)
  * values; `nullSafeEval` calls it, and `doGenCode` emits one static
  * call to it (plan-time state such as planes or codebooks passed in
  * through `ctx.addReferenceObj`). A kernel must not share its name
  * with a member of the expression class: the clash suppresses the
  * static forwarder the generated Java calls.
  *
  * All are registered as SQL functions through
  * [[graft.plans.GraftFunctions.definitions]] — by
  * [[graft.plans.GraftExtensions]] at session build or
  * [[graft.plans.GraftFunctions.ensureRegistered]] on any session.
  */
object VectorExpressions {

  /** Deterministic pseudo-random hyperplanes: plane `b` is seeded by
    * (seed, b) alone, so every executor — and every round — derives
    * the identical matrix with no broadcast state. java.util.Random's
    * LCG is specified behavior, stable across JVMs.
    */
  def planeMatrix(nBits: Int, seed: Long, maxDim: Int): Array[Array[Float]] =
    Array.tabulate(nBits) { b =>
      val rnd = new java.util.Random(seed * 1000003L + b)
      Array.fill(maxDim)(rnd.nextFloat() * 2f - 1f)
    }
}

/** cosine(a, b) over two array<float> columns: one fused loop for
  * dot + both norms; 0.0 (not NaN/null) when either norm is zero.
  */
case class CosineSim(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType match {
      case ArrayType(FloatType, _) => true; case _ => false
    })) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_cosine expects (array<float>, array<float>), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSim.cosine(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.CosineSim.cosine($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSim =
    copy(left = l, right = r)
}

object CosineSim {
  /** Cosine over the common prefix of `x` and `y`: one loop for dot
    * and both norms, left-to-right double adds; 0.0 on a zero norm.
    */
  def cosine(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getFloat(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val den = math.sqrt(nx) * math.sqrt(ny)
    if (den == 0.0) 0.0 else dot / den
  }
}

object SrpSignature {
  /** Raised when a vector is wider than the plane matrix — silent
    * truncation would degrade signature quality with no signal.
    */
  def dimError(dim: Int, maxDim: Int): RuntimeException =
    new IllegalArgumentException(
      s"graft_srp_sig: embedding has $dim dims but the plane matrix covers " +
        s"$maxDim; pass a larger maxDim (4th argument) instead of truncating")

  /** Bit b = sign of vec · planes(b), one bit per plane. */
  def srpBits(vec: ArrayData, planes: Array[Array[Float]], maxDim: Int): Long = {
    val dim = vec.numElements()
    if (dim > maxDim) throw dimError(dim, maxDim)
    var sig = 0L
    var b = 0
    while (b < planes.length) {
      val p = planes(b)
      var acc = 0.0
      var j = 0
      while (j < dim) { acc += vec.getFloat(j).toDouble * p(j); j += 1 }
      if (acc >= 0.0) sig |= (1L << b)
      b += 1
    }
    sig
  }
}

/** `nBits`-bit signed-random-projection signature of an array<float>
  * vector, packed into a long: bit b = sign of vec · plane_b. The
  * plane matrix is materialized once per executor from the
  * deterministic seed (no per-row hashing, no broadcast). Vectors
  * wider than `maxDim` FAIL the task (see [[SrpSignature.dimError]])
  * rather than silently truncating the projection.
  */
case class SrpSignature(child: Expression, nBits: Int, seed: Long = 42L,
                        maxDim: Int = 1024)
    extends UnaryExpression {
  require(nBits >= 1 && nBits <= 63, s"nBits must be in [1,63], got $nBits")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_srp_sig expects array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_srp_sig"

  @transient private lazy val planes: Array[Array[Float]] =
    VectorExpressions.planeMatrix(nBits, seed, maxDim)

  override def nullSafeEval(input: Any): Any =
    SrpSignature.srpBits(input.asInstanceOf[ArrayData], planes, maxDim)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val planesRef = ctx.addReferenceObj("planes", planes, "float[][]")
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = graft.functions.SrpSignature.srpBits($vec, $planesRef, $maxDim);")
  }

  override protected def withNewChildInternal(newChild: Expression): SrpSignature =
    copy(child = newChild)
}

/** Product-quantization ENCODE: per subspace, the index of the
  * nearest codebook centroid by squared L2 — the hot stage of
  * [[graft.operators.Similarity.annPqTopK]]'s index build (nSub ×
  * nCodes × subDim multiply-adds per vector). The higher-order
  * formulation (array_sort over aggregate-HOF distance structs)
  * evaluates generic lambdas and materializes 64 structs per
  * subspace per row; this is one fused primitive loop, bound to the
  * trained codebook as a codegen reference object.
  *
  * BIT-COMPATIBLE with the HOF construction it replaces (spec-pinned
  * in SimilaritySpec): distances accumulate left-to-right in double
  * from float-widened operands — the exact IEEE sequence of
  * `aggregate(zip_with(...))` — and ties keep the LOWEST code index
  * (strict-< scan == first element of the (dist, idx) ascending
  * sort).
  */
case class PqEncode(child: Expression, codebooks: Array[Array[Array[Float]]])
    extends UnaryExpression {
  private val nSub = codebooks.length
  require(nSub >= 1 && codebooks(0).nonEmpty && codebooks(0)(0).nonEmpty,
    "graft_pq_encode needs a non-empty nSub x nCodes x subDim codebook")
  private val nCodes = codebooks(0).length
  private val subDim = codebooks(0)(0).length
  require(codebooks.forall(m => m.length == nCodes && m.forall(_.length == subDim)),
    "graft_pq_encode codebook must be rectangular (nSub x nCodes x subDim)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_pq_encode expects array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "graft_pq_encode"

  override def nullSafeEval(input: Any): Any =
    PqEncode.pqCodes(input.asInstanceOf[ArrayData], codebooks)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cbRef = ctx.addReferenceObj("pqCodebooks", codebooks, "float[][][]")
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = graft.functions.PqEncode.pqCodes($vec, $cbRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): PqEncode =
    copy(child = newChild)

  // Case-class equality over Array fields is reference-based, which
  // would make two semantically identical graft_pq_encode calls never
  // compare equal — canonicalization and common-subexpression
  // elimination could then not dedupe them. Compare the codebook by
  // VALUE instead (the child as usual).
  override def equals(other: Any): Boolean = other match {
    case p: PqEncode =>
      child == p.child &&
        java.util.Arrays.deepEquals(
          codebooks.asInstanceOf[Array[AnyRef]],
          p.codebooks.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * child.hashCode() +
      java.util.Arrays.deepHashCode(codebooks.asInstanceOf[Array[AnyRef]])
}

object PqEncode {
  def dimError(dim: Int, nSub: Int, subDim: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_pq_encode: vector dim $dim != nSub($nSub) x subDim($subDim) — " +
      "the codebook was trained for a different embedding width")

  /** Per subspace m, the index of the codebook centroid nearest to
    * `vec`'s m-th slice by squared L2 (lowest index on ties).
    */
  def pqCodes(vec: ArrayData, codebooks: Array[Array[Array[Float]]]): ArrayData = {
    val nSub = codebooks.length
    val subDim = codebooks(0)(0).length
    if (vec.numElements() != nSub * subDim)
      throw dimError(vec.numElements(), nSub, subDim)
    val codes = new Array[Int](nSub)
    var m = 0
    while (m < nSub) {
      val cb = codebooks(m)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val cent = cb(c)
        var d = 0.0
        var j = 0
        while (j < subDim) {
          val diff = vec.getFloat(m * subDim + j).toDouble - cent(j).toDouble
          d += diff * diff
          j += 1
        }
        if (c == 0 || d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(m) = best
      m += 1
    }
    new GenericArrayData(codes)
  }
}

/** Fused integer squared-L2: Σ_i (floor(1e6·x_i) − c_i)² in LONG
  * arithmetic, for an array<float> embedding against an array<long>
  * micro-unit centroid — the distance kernel of
  * [[graft.operators.Similarity.embeddingOutliers]] and
  * [[graft.operators.Dedup.semdedupKeepCentral]]. Bit-identical to
  * the transform/zip_with/aggregate HOF chain it replaces (the
  * micro-scaling is the same `(long) floor(1000000.0 * (double) x)`,
  * and integer accumulation is order-exact), but one primitive loop
  * inside whole-stage codegen instead of dim lambda evaluations and
  * two intermediate arrays per row. Length mismatch FAILS the task
  * (the HOF form would null-pad via zip_with and return null — a
  * silent wrong-centroid signal this kernel refuses to produce).
  *
  * Overflow headroom: |floor(1e6·x) − c| ≤ ~4e6 for unit-scale
  * embeddings → per-term ≤ 1.6e13; dim ≤ 5·10⁵ stays far under 2⁶³.
  */
case class L2SqMicro(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_l2sq expects (array<float>, array<long>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_l2sq"

  override def nullSafeEval(a: Any, b: Any): Any =
    L2SqMicro.l2sqMicro(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.L2SqMicro.l2sqMicro($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): L2SqMicro =
    copy(left = l, right = r)
}

object L2SqMicro {
  def dimError(dim: Int, centDim: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_l2sq: embedding has $dim dims but the centroid has $centDim — " +
        "mixed widths mean the centroid was built for a different corpus")

  /** Σ_i (floor(1e6·x_i) − c_i)² in long arithmetic. */
  def l2sqMicro(x: ArrayData, c: ArrayData): Long = {
    val n = x.numElements()
    if (c.numElements() != n) throw dimError(n, c.numElements())
    var acc = 0L
    var i = 0
    while (i < n) {
      val d = math.floor(1000000.0 * x.getFloat(i).toDouble).toLong - c.getLong(i)
      acc += d * d
      i += 1
    }
    acc
  }
}

/** Fused k-means assignment: cid of the seed centroid nearest (by
  * squared L2, double arithmetic) to an array<float> vector — the
  * assignment kernel of [[graft.operators.Similarity.kmeansStep]].
  * Seeds ride the plan as a constant (codegen reference object, the
  * [[PqEncode]] codebook move), never as per-row data.
  *
  * BIT-COMPATIBLE with the array_min(transform(seeds, struct(d2,
  * cid))) HOF it replaces: distances accumulate left-to-right in
  * double from float-widened operands, seeds are scanned in
  * ascending-cid order with a `Double.compare < 0` strict improve —
  * so ties keep the LOWEST cid and a NaN distance sorts last,
  * exactly the struct ordering array_min applies. Length mismatch
  * fails loudly (the HOF would null-pad).
  */
case class KmeansAssign(child: Expression, cids: Array[Long],
                        cents: Array[Array[Double]])
    extends UnaryExpression {
  require(cids.nonEmpty && cids.length == cents.length,
    "graft_kmeans_assign needs parallel non-empty cid/centroid arrays")
  private val dim = cents(0).length
  require(cents.forall(_.length == dim),
    "graft_kmeans_assign seed matrix must be rectangular")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_kmeans_assign expects array<float>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_kmeans_assign"

  override def nullSafeEval(input: Any): Any =
    KmeansAssign.nearestCid(input.asInstanceOf[ArrayData], cids, cents)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cidsRef = ctx.addReferenceObj("kmCids", cids, "long[]")
    val centsRef = ctx.addReferenceObj("kmCents", cents, "double[][]")
    nullSafeCodeGen(ctx, ev, vec =>
      s"${ev.value} = graft.functions.KmeansAssign.nearestCid($vec, $cidsRef, $centsRef);")
  }

  override protected def withNewChildInternal(newChild: Expression): KmeansAssign =
    copy(child = newChild)

  // Value equality over the seed arrays (the PqEncode discipline) so
  // canonicalization/CSE can dedupe identical assignment calls.
  override def equals(other: Any): Boolean = other match {
    case p: KmeansAssign =>
      child == p.child &&
        java.util.Arrays.equals(cids, p.cids) &&
        java.util.Arrays.deepEquals(
          cents.asInstanceOf[Array[AnyRef]], p.cents.asInstanceOf[Array[AnyRef]])
    case _ => false
  }
  override def hashCode(): Int =
    31 * (31 * child.hashCode() + java.util.Arrays.hashCode(cids)) +
      java.util.Arrays.deepHashCode(cents.asInstanceOf[Array[AnyRef]])
}

object KmeansAssign {
  def dimError(dim: Int, seedDim: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_kmeans_assign: vector has $dim dims but seeds have $seedDim — " +
        "the seed matrix was built for a different embedding width")

  /** cids(k) of the centroid nearest to `vec` by squared L2, scanning
    * k ascending with a `Double.compare < 0` strict improve.
    */
  def nearestCid(vec: ArrayData, cids: Array[Long], cents: Array[Array[Double]]): Long = {
    val dim = cents(0).length
    if (vec.numElements() != dim) throw dimError(vec.numElements(), dim)
    var best = 0
    var bestD = Double.NaN
    var k = 0
    while (k < cids.length) {
      val c = cents(k)
      var d = 0.0
      var j = 0
      while (j < dim) {
        val t = vec.getFloat(j).toDouble - c(j)
        d += t * t
        j += 1
      }
      if (k == 0 || java.lang.Double.compare(d, bestD) < 0) { bestD = d; best = k }
      k += 1
    }
    cids(best)
  }
}

/** cosine(probe, int8-quantized corpus vector) — the scoring kernel
  * of the scalar-quantization serving tier
  * ([[graft.operators.Similarity.annSq8TopK]]): one fused loop of
  * float-probe × byte-code products in double. The dequantization
  * scale CANCELS in cosine (cos is invariant to positive scaling of
  * one argument), so the stored form is pure codes — one byte per
  * dimension, no per-vector scale read on the scoring path at all.
  * Accumulation order and zero-norm handling match [[CosineSim]]
  * exactly (left-to-right double adds; 0.0, never NaN), so the
  * DuckDB oracle's expanded-sum SQL reproduces the scores
  * bit-for-bit.
  */
case class CosineSq8(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(ByteType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_cosine_sq8 expects (array<float>, array<tinyint>), got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_cosine_sq8"

  override def nullSafeEval(a: Any, b: Any): Any =
    CosineSq8.cosineSq8(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = graft.functions.CosineSq8.cosineSq8($a, $b);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): CosineSq8 =
    copy(left = l, right = r)
}

object CosineSq8 {
  def dimError(probeDim: Int, codeDim: Int): IllegalArgumentException =
    new IllegalArgumentException(
      s"graft_cosine_sq8: probe has $probeDim dims but the codes have $codeDim — " +
        "the sq8 code table was built for a different embedding width")

  /** Cosine of a float probe against byte codes, [[CosineSim.cosine]]'s
    * accumulation order and zero-norm rule.
    */
  def cosineSq8(x: ArrayData, y: ArrayData): Double = {
    val n = x.numElements()
    // loud on mismatch, like the sibling kernels (L2SqMicro,
    // KmeansAssign): a stale or wrong-width sq8 codes table must fail,
    // not score a truncated prefix plausibly-but-wrong
    if (y.numElements() != n) throw dimError(n, y.numElements())
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val xi = x.getFloat(i).toDouble
      val yi = y.getByte(i).toDouble
      dot += xi * yi; nx += xi * xi; ny += yi * yi
      i += 1
    }
    val den = math.sqrt(nx) * math.sqrt(ny)
    if (den == 0.0) 0.0 else dot / den
  }
}
