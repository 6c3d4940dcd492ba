package graft

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateFunction
import org.apache.spark.sql.execution.debug.codegenString
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Every custom scalar expression must COMPILE under whole-stage
  * codegen — with fallback enabled (the default), a Janino compile
  * error would silently drop the plan to interpreted mode and
  * deoptimize every query using the expression — and its generated
  * code must return the rows its interpreted `nullSafeEval` returns.
  * Each case runs once with CODEGEN_ONLY (fallback disabled) and once
  * with NO_CODEGEN (whole-stage codegen off); both are runtime-settable
  * SQLConfs, restored in finally. `ConvertToLocalRelation` is excluded
  * in both runs: left on, the optimizer evaluates a projection over a
  * local `Seq` with the interpreted path and no generated code runs.
  */
class CodegenOnlySpec extends AnyFunSuite with SparkFixture {

  private def inMode[T](codegen: Boolean)(body: => T): T = {
    val confs = Seq(
      "spark.sql.codegen.factoryMode" -> (if (codegen) "CODEGEN_ONLY" else "NO_CODEGEN"),
      "spark.sql.codegen.fallback" -> "false",
      "spark.sql.codegen.wholeStage" -> codegen.toString,
      "spark.sql.optimizer.excludedRules" ->
        "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally saved.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def fn(name: String, args: Column*): Column = call_function(name, args: _*)

  /** One case per registered scalar function: a DataFrame whose
    * columns call it (null inputs included where the type allows).
    */
  private lazy val cases: Map[String, () => DataFrame] = {
    val s = spark
    import s.implicits._
    graft.plans.GraftFunctions.ensureRegistered(s)
    val vecs = () => Seq[(Seq[Float], Seq[Float])](
      (Seq(1f, 2f, 3f, 4f), Seq(1f, 2f, 3f, 4f)), (Seq(0.5f, -1f, 2f, 0f), Seq(3f, 1f, -2f, 7f)),
      (Seq(0f, 0f, 0f, 0f), Seq(1f, 1f, 1f, 1f)), (null, Seq(1f, 1f, 1f, 1f))).toDF("a", "b")
    val texts = () => Seq[String]("the cat sat on the mat", "héllo wörld héllo wörld", "ab", null)
      .toDF("t")
    val toks = () => Seq[(Seq[String], Seq[Long])](
      (Seq("the", "cat", "sat", "on", "the", "mat"), Seq(11L, -3L, 7L, 11L, 42L)),
      (Seq("héllo", "wörld"), Seq(Long.MinValue, Long.MaxValue)),
      (Seq("ab", null), Seq(0L)), (null, null)).toDF("sh", "hs")
    val coords = () => Seq((5L, 3L), (0L, 0L), (1L, 0L), (2097151L, 1234567L)).toDF("x", "y")
    val bloom = Seq(1L, 2L, 3L).toDF("h")
      .select(fn("graft_bloom", col("h"), lit(256), lit(3))).head().getAs[Array[Byte]](0)
    Map(
      "graft_cosine" -> (() => vecs().select(fn("graft_cosine", col("a"), col("b")))),
      "graft_srp_sig" -> (() => vecs().select(fn("graft_srp_sig", col("a"), lit(8), lit(8)))),
      "graft_regexp_count" -> (() => texts().select(fn("graft_regexp_count", col("t"), lit("\\w+")))),
      "graft_minhash" -> (() => toks().select(fn("graft_minhash", col("sh"), lit(8)))),
      "graft_minhash_bands" -> (() => toks().select(
        fn("graft_minhash_bands", col("sh"), lit(8), lit(4)),
        fn("graft_minhash_bands", col("hs"), lit(8), lit(4)))),
      "graft_minhash_oph" -> (() => toks().select(
        fn("graft_minhash_oph", col("sh"), lit(8), lit(4)),
        fn("graft_minhash_oph", col("hs"), lit(8), lit(4)))),
      "graft_simhash" -> (() => toks().select(fn("graft_simhash", col("sh")))),
      "graft_zorder2" -> (() => coords().select(fn("graft_zorder2", col("x"), col("y"), lit(21)))),
      "graft_hilbert2" -> (() => coords().select(fn("graft_hilbert2", col("x"), col("y"), lit(21)))),
      "graft_pq_encode" -> (() => vecs().select(fn("graft_pq_encode", col("a"),
        typedLit(Seq(Seq(Seq(0f, 0f), Seq(1f, 2f)), Seq(Seq(3f, 4f), Seq(0f, 0f))))))),
      "graft_cosine_sq8" -> (() => Seq[(Seq[Float], Seq[Byte])](
        (Seq(1f, 2f, 3f), Seq(1, 2, 3)), (Seq(0.5f, -1f, 2f), Seq(-128, 0, 127)),
        (Seq(0f, 0f, 0f), Seq(1, 1, 1)), (null, Seq(1, 1, 1))).toDF("a", "b")
        .select(fn("graft_cosine_sq8", col("a"), col("b")))),
      "graft_l2sq" -> (() => Seq[(Seq[Float], Seq[Long])](
        (Seq(1f, 2f), Seq(1000000L, 2000000L)), (Seq(0.25f, -1f), Seq(3L, -7L)), (null, Seq(0L, 0L)))
        .toDF("a", "c").select(fn("graft_l2sq", col("a"), col("c")))),
      "graft_kmeans_assign" -> (() => vecs().select(fn("graft_kmeans_assign", col("a"),
        typedLit(Seq(10L, 20L, 30L)),
        typedLit(Seq(Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, 2.0, 3.0, 4.0), Seq(1.0, -1.0, 2.0, 0.0)))))),
      "graft_winnow" -> (() => texts().select(fn("graft_winnow", col("t"), lit(4), lit(3)))),
      "graft_winnow_sig" -> (() => texts().select(fn("graft_winnow_sig", col("t"), lit(4), lit(3)))),
      "graft_set_overlap" -> (() => toks().select(
        fn("graft_set_overlap", col("sh"), split(lit("the cat on a mat"), " ")),
        fn("graft_set_overlap", col("hs"), reverse(col("hs"))))),
      "graft_bloom_contains" -> (() => Seq[(Array[Byte], java.lang.Long)](
        (bloom, 1L), (bloom, 3L), (bloom, 99L), (bloom, null)).toDF("bloom", "x")
        .select(fn("graft_bloom_contains", col("bloom"), col("x")))))
  }

  test("every registered scalar function has a codegen case") {
    val scalar = graft.plans.GraftFunctions.definitions.collect {
      case (ident, info, _)
          if !classOf[AggregateFunction].isAssignableFrom(Class.forName(info.getClassName)) =>
        ident.funcName
    }
    assert(scalar.toSet.diff(cases.keySet).isEmpty, "scalar functions without a codegen case")
    assert(cases.keySet.diff(scalar.toSet).isEmpty, "cases for unregistered functions")
  }

  test("all custom expressions compile and evaluate under CODEGEN_ONLY") {
    cases.toSeq.sortBy(_._1).foreach { case (name, df) =>
      val (generated, rows) = inMode(codegen = true) {
        val q = df()
        (codegenString(q.queryExecution.executedPlan), q.collect().toSeq)
      }
      assert(generated.contains("graft.functions."), s"$name: no kernel call in generated code")
      val interpreted: Seq[Row] = inMode(codegen = false)(df().collect().toSeq)
      assert(rows == interpreted, s"$name: generated vs interpreted rows")
      assert(rows.exists(r => (0 until r.length).exists(!r.isNullAt(_))), s"$name: all null")
    }
  }

  test("the srp dim guard is reachable from generated code (static forwarder resolves)") {
    import spark.implicits._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    inMode(codegen = true) {
      val q = Seq(Seq.tabulate(8)(_.toFloat)).toDF("v")
        .select(call_function("graft_srp_sig", col("v"), lit(8), lit(4)))
      assert(codegenString(q.queryExecution.executedPlan).contains("SrpSignature.srpBits"))
      val ex = intercept[Exception](q.head())
      def messages(t: Throwable): Seq[String] =
        Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
      assert(messages(ex).exists(_.contains("graft_srp_sig")), s"unexpected: $ex")
    }
  }
}
