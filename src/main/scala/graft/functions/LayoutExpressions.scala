package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

object InterleaveBits {
  /** Raised when an operand falls outside [0, 2^bits): silently
    * masking high bits would map distant keys onto nearby z-values —
    * locality corruption with no signal.
    */
  def rangeError(v: Long, bits: Int): RuntimeException =
    new IllegalArgumentException(
      s"graft_zorder2: value $v outside [0, 2^$bits); widen `bits` " +
        "(up to 31 per dimension) instead of truncating")

  /** Bit i of `x` at z-bit 2i, bit i of `y` at 2i+1, i < `bits`. */
  def zorder(x: Long, y: Long, bits: Int): Long = {
    val lim = 1L << bits
    if (x < 0 || x >= lim) throw rangeError(x, bits)
    if (y < 0 || y >= lim) throw rangeError(y, bits)
    var z = 0L
    var i = 0
    while (i < bits) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }
}

/** z-order (Morton) key of two long columns: bit i of `left` lands at
  * z-bit 2i, bit i of `right` at 2i+1, for the low `bits` bits of each
  * (operands outside [0, 2^bits) fail the task — see
  * [[InterleaveBits.rangeError]]). Interleaving makes one-dimensional
  * z-ranges cover small 2-D rectangles of the key space, so range-
  * partitioning + sorting by the z-key clusters rows that are close in
  * EITHER dimension into the same files — parquet min/max footer stats
  * then skip most files for a predicate on any single dimension (the
  * Delta/Iceberg OPTIMIZE ZORDER layout). Row-local, codegen'd: the
  * z-key scan adds no shuffle of its own.
  */
case class InterleaveBits(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_zorder2 expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_zorder2"

  override def nullSafeEval(a: Any, b: Any): Any =
    InterleaveBits.zorder(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.InterleaveBits.zorder($a, $b, $bits);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): InterleaveBits =
    copy(left = l, right = r)
}

object HilbertIndex {
  /** Same loud out-of-range contract as [[InterleaveBits.rangeError]]:
    * masking high bits would alias distant cells onto one curve
    * position — locality corruption with no signal.
    */
  def rangeError(v: Long, bits: Int): RuntimeException =
    new IllegalArgumentException(
      s"graft_hilbert2: value $v outside [0, 2^$bits); widen `bits` " +
        "(up to 31 per dimension) instead of truncating")

  /** xy2d: position of cell (x, y) on the order-`bits` Hilbert curve. */
  def hilbert(x0: Long, y0: Long, bits: Int): Long = {
    var x = x0
    var y = y0
    val lim = 1L << bits
    if (x < 0 || x >= lim) throw rangeError(x, bits)
    if (y < 0 || y >= lim) throw rangeError(y, bits)
    var d = 0L
    var s = lim >> 1
    while (s > 0) {
      val rx = if ((x & s) != 0) 1L else 0L
      val ry = if ((y & s) != 0) 1L else 0L
      d += s * s * ((3 * rx) ^ ry)
      if (ry == 0) { // reflect (rx=1) then transpose the sub-square
        if (rx == 1) { x = s - 1 - x; y = s - 1 - y }
        val t = x; x = y; y = t
      }
      s >>= 1
    }
    d
  }
}

/** Hilbert-curve index of two long columns (the standard xy2d
  * quadrant-recursion: per level, the quadrant id `(3·rx) xor ry`
  * scales by s², then the lower sub-square is reflected/transposed).
  * One dimension up on [[InterleaveBits]]: the Hilbert curve is
  * CONTINUOUS — consecutive indices are always grid-adjacent cells,
  * where Morton order takes long diagonal jumps at every power-of-two
  * boundary — so equal-width index ranges cover tighter, never-split
  * rectangles and range-partitioned files prune strictly better on
  * per-dimension predicates (why Delta's clustering moved from
  * Z-order to Hilbert). LayoutSpec proves both properties (bijection
  * + unit-step adjacency) exhaustively. Same operand domain and loud
  * range failure as the z-key; row-local, codegen'd, no shuffle.
  */
case class HilbertIndex(left: Expression, right: Expression, bits: Int)
    extends BinaryExpression {
  require(bits >= 1 && bits <= 31, s"bits must be in [1,31], got $bits")

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(_.dataType == LongType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_hilbert2 expects (bigint, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_hilbert2"

  override def nullSafeEval(a: Any, b: Any): Any =
    HilbertIndex.hilbert(a.asInstanceOf[Long], b.asInstanceOf[Long], bits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.HilbertIndex.hilbert($a, $b, $bits);")

  override protected def withNewChildrenInternal(l: Expression, r: Expression): HilbertIndex =
    copy(left = l, right = r)
}
