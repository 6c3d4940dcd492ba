package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression for the MinHash hot path
  * ([[graft.operators.Dedup.minhashSignature]] wraps it). It computes
  * ONE xxhash64 per shingle and derives all `nPerms` permutations with
  * 64-bit universal-hash mixing (a_p·h + b_p, a_p odd) — the standard
  * single-hash MinHash construction (Broder 1997) — instead of
  * re-hashing every shingle once per permutation. The companion holds
  * the mixer derivation, the per-permutation mins and the band fold
  * that [[MinHashBands]] and [[OphMinHashBands]] share.
  */
case class MinHashSig(child: Expression, nPerms: Int, seed: Long = 42L)
    extends UnaryExpression {
  require(nPerms >= 1 && nPerms <= 512, s"nPerms must be in [1,512], got $nPerms")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"

  @transient private lazy val mixers: (Array[Long], Array[Long]) =
    MinHashSig.mixers(nPerms, seed)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.minhash(input.asInstanceOf[ArrayData], mixers._1, mixers._2, seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", mixers._1, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", mixers._2, "long[]")
    nullSafeCodeGen(ctx, ev, arr =>
      s"${ev.value} = graft.functions.MinHashSig.minhash($arr, $aRef, $bRef, ${seed}L);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

object MinHashSig {
  /** Odd multipliers + offsets for the per-permutation mixers,
    * deterministic from the seed (same on every executor, no state).
    */
  def mixers(nPerms: Int, seed: Long): (Array[Long], Array[Long]) = {
    val rnd = new java.util.Random(seed)
    val a = Array.fill(nPerms)(rnd.nextLong() | 1L)
    val b = Array.fill(nPerms)(rnd.nextLong())
    (a, b)
  }

  /** The seeded xxhash64 of element i: the long itself when the
    * shingles come pre-hashed, else the hash of the string's bytes.
    */
  private[functions] def elementHash(arr: ArrayData, i: Int, prehashed: Boolean,
                                     seed: Long): Long =
    if (prehashed) arr.getLong(i)
    else {
      val s = arr.getUTF8String(i)
      XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, seed)
    }

  /** Per-permutation min of a·h + b over the non-null elements
    * (Long.MaxValue where there are none).
    */
  private def mins(arr: ArrayData, a: Array[Long], b: Array[Long], seed: Long,
                   prehashed: Boolean): Array[Long] = {
    val mins = Array.fill(a.length)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) { // null shingles contribute nothing to the signature
        val h = elementHash(arr, i, prehashed, seed)
        var p = 0
        while (p < a.length) {
          val v = a(p) * h + b(p)
          if (v < mins(p)) mins(p) = v
          p += 1
        }
      }
      i += 1
    }
    mins
  }

  /** `nBands` hashes of consecutive runs of `values`: a seeded
    * xxhash64 chain over each run's longs (the construction of Spark's
    * multi-column `xxhash64`).
    */
  private[functions] def bandFold(values: Array[Long], nBands: Int, seed: Long): ArrayData = {
    val rowsPerBand = values.length / nBands
    val bands = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var h = seed
      var r = 0
      while (r < rowsPerBand) { h = XXH64.hashLong(values(b * rowsPerBand + r), h); r += 1 }
      bands(b) = h
      b += 1
    }
    new GenericArrayData(bands)
  }

  /** The MinHash signature of a string array. */
  def minhash(arr: ArrayData, a: Array[Long], b: Array[Long], seed: Long): ArrayData =
    new GenericArrayData(mins(arr, a, b, seed, prehashed = false))

  /** The MinHash signature folded into `nBands` band hashes. */
  def minhashBands(arr: ArrayData, a: Array[Long], b: Array[Long], nBands: Int,
                   seed: Long, prehashed: Boolean): ArrayData =
    bandFold(mins(arr, a, b, seed, prehashed), nBands, seed)
}

/** MinHash + LSH banding fused into ONE pass: the `nPerms` signature
  * mins are computed once (identically to [[MinHashSig]]), then each
  * of the `nBands` bands of `nPerms/nBands` consecutive mins is
  * folded into a single 64-bit band hash (seeded xxhash64 chain over
  * the band's longs, the same construction as Spark's `xxhash64`
  * multi-column function). Output: array<long> of length `nBands`,
  * pair it with `posexplode` for (band_idx, band_hash).
  *
  * Exists because banding a `minhashSignature(c)` expression with
  * per-band `element_at` column expressions duplicates the signature
  * expression into every `element_at` — measured ~64× recompute of the MinHash scan per row
  * at sf0.1 (neither CollapseProject's expensive-expression guard nor
  * codegen subexpression elimination reliably prevents it inside a
  * single `array(struct(...))` tree). A banded signature is also what
  * shuffles at 100 TB: nBands longs per doc, nothing else.
  */
case class MinHashBands(child: Expression, nPerms: Int, nBands: Int,
                        seed: Long = 42L)
    extends UnaryExpression {
  require(nPerms >= 1 && nPerms <= 512, s"nPerms must be in [1,512], got $nPerms")
  require(nBands >= 1 && nPerms % nBands == 0,
    s"nPerms ($nPerms) must be divisible by nBands ($nBands)")

  /** Accepts raw shingle strings OR pre-hashed shingles (array<long>,
    * e.g. `transform(sh, x -> xxhash64(x))`). The pre-hashed form lets
    * a pipeline share ONE hashed-shingle table between banding and
    * exact-Jaccard verification — the per-shingle 64-bit value is the
    * MinHash input either way, so collision structure is identical.
    */
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_bands expects array<string> or array<long>, got ${other.simpleString}")
    }
  private def prehashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true; case _ => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_bands"

  @transient private lazy val mixers: (Array[Long], Array[Long]) =
    MinHashSig.mixers(nPerms, seed)

  override def nullSafeEval(input: Any): Any =
    MinHashSig.minhashBands(input.asInstanceOf[ArrayData], mixers._1, mixers._2, nBands,
      seed, prehashed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aRef = ctx.addReferenceObj("minhashA", mixers._1, "long[]")
    val bRef = ctx.addReferenceObj("minhashB", mixers._2, "long[]")
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = graft.functions.MinHashSig.minhashBands(" +
      s"$arr, $aRef, $bRef, $nBands, ${seed}L, $prehashed);")
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** One-permutation-hashing MinHash + LSH banding in one pass — the
  * O(shingles + perms) alternative to [[MinHashBands]]'s classic
  * O(shingles × perms) construction (Li/Owen/Zhang's one permutation
  * hashing, with circular densification for empty bins à la
  * Shrivastava & Li): each shingle's 64-bit hash picks ONE of `nPerms`
  * bins (instead of updating all of them) and the bin keeps the min;
  * empty bins borrow the nearest filled bin's value salted by the
  * borrow distance, so two documents agree on a borrowed bin only
  * when they borrowed the same value from the same relative distance.
  * Per-bin collision probability is ≈ Jaccard, like classic MinHash
  * (asserted empirically in TextFunctionsSpec).
  *
  * When it matters — and when it does NOT: the O(S+P) signature only
  * pays off when documents carry MANY more shingles than there are
  * bins (S ≫ P). In the opposite regime (S ≲ P) a large fraction of
  * bins is empty (≈ e^(-S/P)) and densification fills them with
  * COPIES of neighboring bins — bins stop being independent, band
  * agreement between unrelated documents rises, and the candidate
  * volume explodes. Measured on the test corpus (~190 bigrams/doc vs
  * 258 bins): identical verified output, but 2.4 s → 8-10 s end to
  * end at sf0.1 — the candidate blowup swamps the signature saving.
  * The default pipelines therefore keep the classic construction;
  * switch (`useOph` on [[graft.operators.Dedup.dedupNgramJaccard]])
  * only when per-document shingle counts comfortably exceed nPerms
  * (long documents / character shingles).
  *
  * Same input contract as [[MinHashBands]]: array<string> or
  * pre-hashed array<long>. Output: array<long> of `nBands` band
  * hashes. An all-null/empty input yields a deterministic sentinel
  * band array (empty docs collide only with empty docs).
  */
case class OphMinHashBands(child: Expression, nPerms: Int, nBands: Int,
                           seed: Long = 42L)
    extends UnaryExpression {
  require(nPerms >= 1 && nPerms <= 4096, s"nPerms must be in [1,4096], got $nPerms")
  require(nBands >= 1 && nPerms % nBands == 0,
    s"nPerms ($nPerms) must be divisible by nBands ($nBands)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) | ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_minhash_oph expects array<string> or array<long>, got ${other.simpleString}")
    }
  private def prehashed: Boolean = child.dataType match {
    case ArrayType(LongType, _) => true; case _ => false
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash_oph"

  override def nullSafeEval(input: Any): Any =
    OphMinHashBands.ophBands(input.asInstanceOf[ArrayData], nPerms, nBands, seed, prehashed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = graft.functions.OphMinHashBands.ophBands(" +
      s"$arr, $nPerms, $nBands, ${seed}L, $prehashed);")

  override protected def withNewChildInternal(newChild: Expression): OphMinHashBands =
    copy(child = newChild)
}

object OphMinHashBands {
  // odd golden-ratio constant: distance salt for densified bins
  private val DistSalt = 0x9E3779B97F4A7C15L

  /** One-permutation bins of the non-null elements, densified, then
    * folded into `nBands` band hashes.
    */
  def ophBands(arr: ArrayData, nPerms: Int, nBands: Int, seed: Long,
               prehashed: Boolean): ArrayData = {
    val bins = Array.fill(nPerms)(Long.MaxValue)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val u = XXH64.hashLong(MinHashSig.elementHash(arr, i, prehashed, seed), seed)
        val bin = java.lang.Math.floorMod(u, nPerms.toLong).toInt
        if (u < bins(bin)) bins(bin) = u
      }
      i += 1
    }
    var start = 0
    while (start < nPerms && bins(start) == Long.MaxValue) start += 1
    if (start < nPerms) {
      // one circular sweep from a filled bin: every empty bin borrows
      // its nearest filled predecessor's value, salted by distance
      var cur = 0L
      var dist = 0
      var t = 0
      while (t < nPerms) {
        val j = (start + t) % nPerms
        if (bins(j) != Long.MaxValue) { cur = bins(j); dist = 0 }
        else { dist += 1; bins(j) = cur + DistSalt * dist }
        t += 1
      }
    }
    MinHashSig.bandFold(bins, nBands, seed)
  }
}

/** 64-bit SimHash over an array<string> token column: one xxhash64 per
  * token, 64 signed bit-position accumulators, all in one codegen'd
  * loop (the HOF formulation runs 64 interpreted `aggregate` passes).
  */
case class SimHash64(child: Expression, seed: Long = 42L) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_simhash expects array<string>, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_simhash"

  override def nullSafeEval(input: Any): Any =
    SimHash64.simhash(input.asInstanceOf[ArrayData], seed)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, arr => s"${ev.value} = graft.functions.SimHash64.simhash($arr, ${seed}L);")

  override protected def withNewChildInternal(newChild: Expression): SimHash64 =
    copy(child = newChild)
}

object SimHash64 {
  /** Bit k set when more non-null tokens' hashes have bit k set than not. */
  def simhash(arr: ArrayData, seed: Long): Long = {
    val acc = new Array[Int](64)
    var i = 0
    val n = arr.numElements()
    while (i < n) {
      if (!arr.isNullAt(i)) { // null tokens contribute nothing to the signature
        val h = MinHashSig.elementHash(arr, i, prehashed = false, seed)
        var k = 0
        while (k < 64) {
          if (((h >>> k) & 1L) == 1L) acc(k) += 1 else acc(k) -= 1
          k += 1
        }
      }
      i += 1
    }
    var sig = 0L
    var k = 0
    while (k < 64) { if (acc(k) > 0) sig |= (1L << k); k += 1 }
    sig
  }
}

/** Fused winnowing (Schleimer, Wilkerson, Aiken, SIGMOD 2003) over a
  * normalized text string: k-codepoint-gram xxhash64 (seed 42, the
  * same bytes Spark's `xxhash64(concat_ws("", slice(chars, i, k)))`
  * hashes) → sliding window-of-`w` minimum with the rightmost-min tie
  * convention → adjacent dedup — ONE primitive pass per row
  * (byte-offset walk + hash array + monotonic deque) in place of the
  * interpreted transform/array_min-over-slices/filter HOF chain it
  * replaces, which evaluated O(L·w) interpreted lambdas per document.
  *
  * Gram boundaries are CODEPOINTS — the contract of this kernel. (The
  * replaced HOF road split via Java-regex `split("")`, i.e. UTF-16
  * code units, so for supplementary-plane text — emoji, CJK
  * extensions — the two roads gram differently; codepoints are the
  * deliberate choice here: a k-gram never straddles half a surrogate
  * pair. On BMP-only text the roads coincide bit-for-bit, which is
  * what TextFunctionsSpec's parity test pins.)
  *
  * Output: struct<n_kgrams, fps: array<struct<h, ni>>> where
  * `ni = -(1-based gram index)` — exactly the struct the HOF road
  * staged, so array_min's lexicographic order argument carries over.
  *
  * The deque pops `>=`: a later equal hash evicts an earlier one, so
  * the window min lands on the LARGEST index among ties — the
  * rightmost-min convention `array_min` over (h, −i) structs encodes.
  */
case class GraftWinnow(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k, w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = GraftWinnow.outType
  override def prettyName: String = "graft_winnow"

  override def nullSafeEval(input: Any): Any =
    GraftWinnow.core(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.GraftWinnow.core($str, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): GraftWinnow =
    copy(child = newChild)
}

object GraftWinnow {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
  import org.apache.spark.unsafe.Platform

  val fpType: StructType = StructType(Seq(
    StructField("h", LongType, nullable = false),
    StructField("ni", LongType, nullable = false)))
  val outType: StructType = StructType(Seq(
    StructField("n_kgrams", LongType, nullable = false),
    StructField("fps", ArrayType(fpType, containsNull = false), nullable = false)))
  val sigType: StructType = StructType(Seq(
    StructField("n_kgrams", LongType, nullable = false),
    StructField("n_fingerprints", LongType, nullable = false),
    StructField("fp_checksum", LongType, nullable = false)))

  /** (n_kgrams, selected gram hashes, selected 0-based gram indexes). */
  private def select(s: UTF8String, k: Int, w: Int): (Long, Array[Long], Array[Int]) = {
    val nChars = s.numChars()
    val nGrams = nChars - (k - 1)
    val nKgrams = math.max(nGrams, 0).toLong
    if (nGrams < 1 || nGrams - (w - 1) < 1)
      return (nKgrams, Array.emptyLongArray, Array.emptyIntArray)
    // codepoint byte offsets, then one xxhash64 per k-codepoint gram
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val offs = new Array[Int](nChars + 1)
    var i = 0; var b = 0
    while (i < nChars) {
      offs(i) = b
      b += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
      i += 1
    }
    offs(nChars) = s.numBytes()
    val hashes = new Array[Long](nGrams)
    var g = 0
    while (g < nGrams) {
      hashes(g) = XXH64.hashUnsafeBytes(base, off + offs(g), offs(g + k) - offs(g), 42L)
      g += 1
    }
    // sliding-window minimum, monotonic deque; >= pop = rightmost tie
    val dq = new Array[Int](nGrams)
    var h = 0; var t = 0
    val selH = new Array[Long](nGrams - (w - 1))
    val selI = new Array[Int](nGrams - (w - 1))
    var nSel = 0
    var prevSel = -1
    var j = 0
    while (j < nGrams) {
      while (t > h && hashes(dq(t - 1)) >= hashes(j)) t -= 1
      dq(t) = j; t += 1
      val winStart = j - (w - 1)
      if (winStart >= 0) {
        while (dq(h) < winStart) h += 1
        val sel = dq(h)
        if (sel != prevSel) { selH(nSel) = hashes(sel); selI(nSel) = sel; nSel += 1; prevSel = sel }
      }
      j += 1
    }
    (nKgrams, java.util.Arrays.copyOf(selH, nSel), java.util.Arrays.copyOf(selI, nSel))
  }

  /** struct<n_kgrams, fps> — the spec-facing full selection. */
  def core(s: UTF8String, k: Int, w: Int): InternalRow = {
    val (nKgrams, selH, selI) = select(s, k, w)
    val fps = new Array[Any](selH.length)
    var i = 0
    while (i < selH.length) {
      fps(i) = new GenericInternalRow(Array[Any](selH(i), -(selI(i) + 1).toLong))
      i += 1
    }
    new GenericInternalRow(Array[Any](nKgrams, new GenericArrayData(fps)))
  }

  /** struct<n_kgrams, n_fingerprints, fp_checksum> — the compact
    * signature, no per-fingerprint allocation at all.
    */
  def sig(s: UTF8String, k: Int, w: Int): InternalRow = {
    val (nKgrams, selH, _) = select(s, k, w)
    var xor = 0L
    var i = 0
    while (i < selH.length) { xor ^= selH(i); i += 1 }
    new GenericInternalRow(Array[Any](nKgrams, selH.length.toLong, xor))
  }
}

/** [[GraftWinnow]] projected to the compact (count, XOR-checksum)
  * signature without materializing the fingerprint array — the
  * registered `winnowing_fingerprint` hot path.
  */
case class GraftWinnowSig(child: Expression, k: Int, w: Int)
    extends UnaryExpression {
  require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k, w=$w")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_winnow_sig expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = GraftWinnow.sigType
  override def prettyName: String = "graft_winnow_sig"

  override def nullSafeEval(input: Any): Any =
    GraftWinnow.sig(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, str =>
      s"${ev.value} = graft.functions.GraftWinnow.sig($str, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): GraftWinnowSig =
    copy(child = newChild)
}

/** Fused distinct-set overlap of two array<long> (or array<string>)
  * columns — the exact
  * verification kernel of the dedup family: |A∩B|, |A∪B|, and
  * floor(1000·J) in ONE sorted-merge pass (copy + primitive sort +
  * dup-skipping merge), replacing the interpreted
  * `array_intersect`/`array_union` pair that built two hash sets per
  * candidate pair (three, where the intersection was also needed
  * separately). Distinct-set semantics match Spark's builtins
  * exactly — duplicates inside either array count once. The Jaccard
  * division reproduces the HOF road's double arithmetic
  * (`1000.0 · inter / union`) bit-for-bit; an empty union yields 0
  * (the builtin road hits NaN there — a case shingled corpora never
  * produce, pinned in the spec).
  */
case class SetOverlap(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(lt, _), ArrayType(rt, _))
          if lt == rt && (lt == LongType || lt == StringType) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(NullType, _), ArrayType(NullType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"graft_set_overlap expects two array<long> or two array<string>, got " +
          s"(${l.simpleString}, ${r.simpleString})")
    }
  override def dataType: DataType = SetOverlap.outType
  override def prettyName: String = "graft_set_overlap"

  private def isString: Boolean = left.dataType match {
    case ArrayType(StringType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any =
    if (isString)
      SetOverlap.coreString(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
    else
      SetOverlap.coreLong(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isString) "coreString" else "coreLong"
    nullSafeCodeGen(ctx, ev, (a, b) =>
      s"${ev.value} = graft.functions.SetOverlap.$fn($a, $b);")
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): SetOverlap =
    copy(left = l, right = r)
}

object SetOverlap {
  import org.apache.spark.sql.catalyst.InternalRow
  import org.apache.spark.sql.catalyst.expressions.GenericInternalRow

  val outType: StructType = StructType(Seq(
    StructField("inter", LongType, nullable = false),
    StructField("uni", LongType, nullable = false),
    StructField("j_x1000", LongType, nullable = false)))

  private def result(inter: Long, uni: Long): InternalRow = {
    val jx = if (uni == 0) 0L else math.floor(1000.0 * inter / uni).toLong
    new GenericInternalRow(Array[Any](inter, uni, jx))
  }

  /** Distinct-set overlap of two long arrays: sorted-merge with
    * dup-skip. A null ELEMENT counts as one distinct value per side
    * (the builtins' convention).
    */
  def coreLong(a: ArrayData, b: ArrayData): InternalRow = {
    def extract(x: ArrayData): (Array[Long], Boolean) = {
      val n = x.numElements()
      val out = new Array[Long](n)
      var m = 0; var hasNull = false
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) hasNull = true
        else { out(m) = x.getLong(i); m += 1 }
        i += 1
      }
      (java.util.Arrays.copyOf(out, m), hasNull)
    }
    val (pa, nullA) = extract(a); val (pb, nullB) = extract(b)
    java.util.Arrays.sort(pa); java.util.Arrays.sort(pb)
    var i = 0; var j = 0
    var inter = 0L; var uni = 0L
    while (i < pa.length && j < pb.length) {
      val va = pa(i); val vb = pb(j)
      if (va == vb) {
        inter += 1; uni += 1
        while (i < pa.length && pa(i) == va) i += 1
        while (j < pb.length && pb(j) == vb) j += 1
      } else if (va < vb) {
        uni += 1
        while (i < pa.length && pa(i) == va) i += 1
      } else {
        uni += 1
        while (j < pb.length && pb(j) == vb) j += 1
      }
    }
    while (i < pa.length) { uni += 1; val v = pa(i); while (i < pa.length && pa(i) == v) i += 1 }
    while (j < pb.length) { uni += 1; val v = pb(j); while (j < pb.length && pb(j) == v) j += 1 }
    if (nullA && nullB) inter += 1
    if (nullA || nullB) uni += 1
    result(inter, uni)
  }

  /** String form: binary-order sort + merge over UTF8Strings — the
    * same distinct-set counts array_intersect/union produce.
    */
  def coreString(a: ArrayData, b: ArrayData): InternalRow = {
    def extract(x: ArrayData): (Array[UTF8String], Boolean) = {
      val n = x.numElements()
      val out = new Array[UTF8String](n)
      var m = 0; var hasNull = false
      var i = 0
      while (i < n) {
        if (x.isNullAt(i)) hasNull = true
        else { out(m) = x.getUTF8String(i); m += 1 }
        i += 1
      }
      (java.util.Arrays.copyOf(out, m), hasNull)
    }
    val (pa, nullA) = extract(a); val (pb, nullB) = extract(b)
    java.util.Arrays.sort(pa.asInstanceOf[Array[AnyRef]])
    java.util.Arrays.sort(pb.asInstanceOf[Array[AnyRef]])
    var i = 0; var j = 0
    var inter = 0L; var uni = 0L
    while (i < pa.length && j < pb.length) {
      val va = pa(i); val vb = pb(j)
      val c = va.compareTo(vb)
      if (c == 0) {
        inter += 1; uni += 1
        while (i < pa.length && pa(i).compareTo(va) == 0) i += 1
        while (j < pb.length && pb(j).compareTo(vb) == 0) j += 1
      } else if (c < 0) {
        uni += 1
        while (i < pa.length && pa(i).compareTo(va) == 0) i += 1
      } else {
        uni += 1
        while (j < pb.length && pb(j).compareTo(vb) == 0) j += 1
      }
    }
    while (i < pa.length) { uni += 1; val v = pa(i); while (i < pa.length && pa(i).compareTo(v) == 0) i += 1 }
    while (j < pb.length) { uni += 1; val v = pb(j); while (j < pb.length && pb(j).compareTo(v) == 0) j += 1 }
    if (nullA && nullB) inter += 1
    if (nullA || nullB) uni += 1
    result(inter, uni)
  }
}

/** Native non-overlapping regex MATCH COUNT over a string column
  * (r22). Spark's own `regexp_count` is RuntimeReplaceable — it
  * rewrites to `size(regexp_extract_all(...))`, which materializes
  * every matched token as a UTF8String inside a GenericArrayData only
  * for `size` to discard the array; on the token-counting hot path
  * (the BPE-ish pre-tokenizer runs over every document of the corpus)
  * that allocation is the dominant row-local garbage. This expression
  * runs the identical java.util.regex matcher loop — same
  * non-overlapping leftmost-match semantics, null in → null out —
  * with a bare counter, inside whole-stage codegen. The pattern is a
  * plan-time literal, compiled once per expression instance.
  */
case class RegexpCountLong(child: Expression, pattern: String)
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case _: StringType => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_regexp_count expects string, got ${other.simpleString}")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_regexp_count"

  @transient private lazy val compiled: java.util.regex.Pattern =
    java.util.regex.Pattern.compile(pattern)

  override def nullSafeEval(input: Any): Any =
    RegexpCountLong.countMatches(compiled, input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val pRef = ctx.addReferenceObj("graftReCountPattern", compiled,
      classOf[java.util.regex.Pattern].getName)
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.functions.RegexpCountLong.countMatches($pRef, $s);")
  }

  override protected def withNewChildInternal(newChild: Expression): RegexpCountLong =
    copy(child = newChild)
}

object RegexpCountLong {
  /** Number of non-overlapping leftmost matches of `p` in `s`. */
  def countMatches(p: java.util.regex.Pattern, s: UTF8String): Long = {
    val m = p.matcher(s.toString)
    var c = 0L
    while (m.find()) c += 1L
    c
  }
}
