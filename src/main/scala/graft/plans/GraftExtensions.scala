package graft.plans

import org.apache.spark.sql.{Column, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.functions.call_function
import graft.functions.{BloomContains, BloomSketch, CosineSim, CosineSq8, FreqSketch, GraftWinnow, GraftWinnowSig, SetOverlap, HilbertIndex, InterleaveBits, KmeansAssign, L2SqMicro, MinHashBands, MinHashSig, OphMinHashBands, PqEncode, SimHash64, SrpSignature, VecSumMicro}

/** Registration of graft's native Catalyst expressions.
  *
  * Idiomatic path: `.withExtensions(new GraftExtensions)` or
  * `spark.sql.extensions=graft.plans.GraftExtensions` at session build
  * (used by Verify/Bench/tests). Defensive path: operators call
  * [[GraftFunctions.ensureRegistered]] so the functions exist even on
  * a session built without the extension (e.g. an external driver
  * invoking `SparkEntry.queries` directly).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.definitions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    // User-code fusion: paired size(array_intersect)/size(array_union)
    // over one pair rewrite to a single SetOverlap kernel pass.
    ext.injectOptimizerRule(_ => FuseSetOverlap)
  }
}

object GraftFunctions {

  private def intArg(args: Seq[Expression], i: Int, name: String): Int =
    args(i) match {
      case Literal(v: Int, _) => v
      case other => throw new IllegalArgumentException(
        s"$name expects a literal int at position $i, got $other")
    }

  private def strArg(args: Seq[Expression], i: Int, name: String): String =
    args(i) match {
      case Literal(v: org.apache.spark.unsafe.types.UTF8String, _) if v != null =>
        v.toString
      case other => throw new IllegalArgumentException(
        s"$name expects a literal string at position $i, got $other")
    }

  /** Trained PQ codebook bound at plan build: a FOLDABLE
    * array<array<array<float>>> argument (typedLit of the fitted
    * centroids) evaluated once into the primitive matrix the codegen
    * references — model state rides the plan as a constant, exactly
    * like [[SrpSignature]]'s plane matrix, never as per-row data.
    */
  private def codebookArg(args: Seq[Expression], i: Int, name: String): Array[Array[Array[Float]]] =
    args(i) match {
      case e if e.foldable && e.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        val outer = e.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        Array.tabulate(outer.numElements()) { m =>
          val mid = outer.getArray(m)
          Array.tabulate(mid.numElements())(c => mid.getArray(c).toFloatArray())
        }
      case other => throw new IllegalArgumentException(
        s"$name expects a foldable codebook literal at position $i, got $other")
    }

  /** k-means seed matrix bound at plan build: two FOLDABLE literals
    * (typedLit array<bigint> cids, typedLit array<array<double>>
    * centroids) evaluated once into the parallel primitive arrays the
    * codegen references — the same model-as-plan-constant move as
    * [[codebookArg]].
    */
  private def seedsArg(args: Seq[Expression], i: Int,
                       name: String): (Array[Long], Array[Array[Double]]) =
    (args(i), args(i + 1)) match {
      case (cs, ms) if cs.foldable && ms.foldable &&
          cs.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] &&
          ms.dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType] =>
        val cids = cs.eval()
          .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toLongArray()
        val outer = ms.eval().asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
        val cents = Array.tabulate(outer.numElements())(k => outer.getArray(k).toDoubleArray())
        (cids, cents)
      case (a, b) => throw new IllegalArgumentException(
        s"$name expects foldable (array<bigint> cids, array<array<double>> centroids) " +
          s"literals at positions $i/${i + 1}, got ($a, $b)")
    }

  /** (identifier, info, builder) triples for both injection routes. */
  val definitions: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("graft_cosine"),
      new ExpressionInfo(classOf[CosineSim].getName, "graft_cosine"),
      (args: Seq[Expression]) => CosineSim(args(0), args(1))),
    (FunctionIdentifier("graft_srp_sig"),
      new ExpressionInfo(classOf[SrpSignature].getName, "graft_srp_sig"),
      // graft_srp_sig(vec, nBits[, maxDim]) — optional 3rd arg raises the
      // plane-matrix width for >1024-dim embeddings (truncation is an error).
      (args: Seq[Expression]) => SrpSignature(args(0), intArg(args, 1, "graft_srp_sig"),
        maxDim = if (args.length > 2) intArg(args, 2, "graft_srp_sig") else 1024)),
    (FunctionIdentifier("graft_regexp_count"),
      new ExpressionInfo(classOf[graft.functions.RegexpCountLong].getName,
        "graft_regexp_count"),
      (args: Seq[Expression]) => graft.functions.RegexpCountLong(args(0),
        strArg(args, 1, "graft_regexp_count"))),
    (FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinHashSig].getName, "graft_minhash"),
      (args: Seq[Expression]) => MinHashSig(args(0), intArg(args, 1, "graft_minhash"))),
    (FunctionIdentifier("graft_minhash_bands"),
      new ExpressionInfo(classOf[MinHashBands].getName, "graft_minhash_bands"),
      (args: Seq[Expression]) => MinHashBands(args(0),
        intArg(args, 1, "graft_minhash_bands"), intArg(args, 2, "graft_minhash_bands"))),
    (FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimHash64].getName, "graft_simhash"),
      (args: Seq[Expression]) => SimHash64(args(0))),
    (FunctionIdentifier("graft_minhash_oph"),
      new ExpressionInfo(classOf[OphMinHashBands].getName, "graft_minhash_oph"),
      (args: Seq[Expression]) => OphMinHashBands(args(0),
        intArg(args, 1, "graft_minhash_oph"), intArg(args, 2, "graft_minhash_oph"))),
    (FunctionIdentifier("graft_zorder2"),
      new ExpressionInfo(classOf[InterleaveBits].getName, "graft_zorder2"),
      (args: Seq[Expression]) => InterleaveBits(args(0), args(1), intArg(args, 2, "graft_zorder2"))),
    (FunctionIdentifier("graft_hilbert2"),
      new ExpressionInfo(classOf[HilbertIndex].getName, "graft_hilbert2"),
      (args: Seq[Expression]) => HilbertIndex(args(0), args(1), intArg(args, 2, "graft_hilbert2"))),
    (FunctionIdentifier("graft_vec_sum_micro"),
      new ExpressionInfo(classOf[VecSumMicro].getName, "graft_vec_sum_micro"),
      (args: Seq[Expression]) => VecSumMicro(args(0))),
    (FunctionIdentifier("graft_freq_sketch"),
      new ExpressionInfo(classOf[FreqSketch].getName, "graft_freq_sketch"),
      (args: Seq[Expression]) => FreqSketch(args(0), intArg(args, 1, "graft_freq_sketch"))),
    (FunctionIdentifier("graft_pq_encode"),
      new ExpressionInfo(classOf[PqEncode].getName, "graft_pq_encode"),
      (args: Seq[Expression]) => PqEncode(args(0), codebookArg(args, 1, "graft_pq_encode"))),
    (FunctionIdentifier("graft_bloom"),
      new ExpressionInfo(classOf[BloomSketch].getName, "graft_bloom"),
      (args: Seq[Expression]) => BloomSketch(args(0),
        intArg(args, 1, "graft_bloom"), intArg(args, 2, "graft_bloom"))),
    (FunctionIdentifier("graft_bloom_contains"),
      new ExpressionInfo(classOf[BloomContains].getName, "graft_bloom_contains"),
      (args: Seq[Expression]) => BloomContains(args(0), args(1))),
    (FunctionIdentifier("graft_set_overlap"),
      new ExpressionInfo(classOf[SetOverlap].getName, "graft_set_overlap"),
      (args: Seq[Expression]) => SetOverlap(args(0), args(1))),
    (FunctionIdentifier("graft_cosine_sq8"),
      new ExpressionInfo(classOf[CosineSq8].getName, "graft_cosine_sq8"),
      (args: Seq[Expression]) => CosineSq8(args(0), args(1))),
    (FunctionIdentifier("graft_winnow"),
      new ExpressionInfo(classOf[GraftWinnow].getName, "graft_winnow"),
      (args: Seq[Expression]) => GraftWinnow(args(0),
        intArg(args, 1, "graft_winnow"), intArg(args, 2, "graft_winnow"))),
    (FunctionIdentifier("graft_winnow_sig"),
      new ExpressionInfo(classOf[GraftWinnowSig].getName, "graft_winnow_sig"),
      (args: Seq[Expression]) => GraftWinnowSig(args(0),
        intArg(args, 1, "graft_winnow_sig"), intArg(args, 2, "graft_winnow_sig"))),
    (FunctionIdentifier("graft_l2sq"),
      new ExpressionInfo(classOf[L2SqMicro].getName, "graft_l2sq"),
      (args: Seq[Expression]) => L2SqMicro(args(0), args(1))),
    (FunctionIdentifier("graft_kmeans_assign"),
      new ExpressionInfo(classOf[KmeansAssign].getName, "graft_kmeans_assign"),
      (args: Seq[Expression]) => {
        val (cids, cents) = seedsArg(args, 1, "graft_kmeans_assign")
        KmeansAssign(args(0), cids, cents)
      }))

  /** Idempotently register on an existing session. */
  def ensureRegistered(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    definitions.foreach { case (ident, info, builder) =>
      if (!reg.functionExists(ident)) reg.registerFunction(ident, info, builder)
    }
  }

  /** Codegen'd `nBits`-bit SRP signature of an array<float> column.
    * `maxDim` must cover the embedding width — wider vectors fail the
    * task rather than silently truncating.
    */
  def srpSignature(s: SparkSession, vec: Column, nBits: Int, maxDim: Int = 1024): Column = {
    ensureRegistered(s)
    call_function("graft_srp_sig", vec, org.apache.spark.sql.functions.lit(nBits),
      org.apache.spark.sql.functions.lit(maxDim))
  }
}
