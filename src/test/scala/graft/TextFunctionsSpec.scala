package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.functions.TextFunctions._

/** Unit checks for the codegen'd text primitives on crafted literals. */
class TextFunctionsSpec extends AnyFunSuite with SparkFixture {

  private def one(colExpr: org.apache.spark.sql.Column, text: String): Any = {
    import spark.implicits._
    Seq(text).toDF("text").select(colExpr).head().get(0)
  }

  test("normText lowercases, trims, collapses whitespace") {
    assert(one(normText(col("text")), "  Hello   WORLD\t x ") == "hello world x")
  }

  test("wsTokenCount counts whitespace tokens after normalization") {
    assert(one(wsTokenCount(col("text")), "a  b\tc") == 3L)
  }

  test("bpeTokenCount splits letter runs, digit runs, single punct") {
    // "ab12,cd" -> [ab][12][,][cd] = 4
    assert(one(bpeTokenCount(col("text")), "ab12,cd") == 4L)
  }

  test("regexpCountNative builds its Column with no active or default session") {
    import org.apache.spark.sql.SparkSession
    val s = spark // built before clearing, restored after
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val c =
      try regexpCountNative(col("text"), "[a-z]+")
      finally { SparkSession.setDefaultSession(s); SparkSession.setActiveSession(s) }
    assert(one(c, "ab 12 cd") == 2L)
  }

  test("markerCount counts only listed tokens") {
    assert(one(markerCount(col("text"), Seq("the", "a")), "The a THE b c") == 3L)
  }

  test("r22 counting forms equal the array forms on every edge shape") {
    // wsTokenCountOfNorm is translate+length arithmetic and
    // bpeTokenCountOfNorm is regexp_count (no match array) since r22;
    // pin value-equality against the original size(...) forms on the
    // edges that could diverge: empty string, null, single token,
    // leading/trailing/multi-space (pre-normalization inputs cannot
    // produce these, but the *OfNorm forms are public on any column).
    import spark.implicits._
    val pat = "[a-z]+|[0-9]+|[^a-z0-9 ]"
    val rows = Seq("", "x", "a b", " a", "a ", "a  b", "1,2x @", "   ")
    val df = rows.toDF("s").select(
      wsTokenCountOfNorm(col("s")).as("ws_new"),
      size(split(col("s"), " ")).cast("long").as("ws_old"),
      bpeTokenCountOfNorm(col("s")).as("bpe_new"),
      size(regexp_extract_all(col("s"), lit(pat), lit(0))).cast("long").as("bpe_old"))
    df.collect().foreach { r =>
      assert(r.getLong(0) == r.getLong(1), s"ws mismatch on $r")
      assert(r.getLong(2) == r.getLong(3), s"bpe mismatch on $r")
    }
    val nulls = Seq(Option.empty[String]).toDF("s").select(
      wsTokenCountOfNorm(col("s")), bpeTokenCountOfNorm(col("s"))).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("fingerprintKey collides for same token multiset, any order/dup/case") {
    val a = one(fingerprintKey(col("text")), "b a  a C")
    val b = one(fingerprintKey(col("text")), "c B a")
    assert(a == b && a == "a b c")
  }

  test("ratioX100 floors toward zero") {
    import spark.implicits._
    val r = Seq((1L, 3L)).toDF("a", "b")
      .select(ratioX100(col("a"), col("b"))).head().getLong(0)
    assert(r == 33L)
  }

  test("OPH minhash: deterministic, order-invariant, per-bin collision rate tracks Jaccard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit}
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val nPerms = 256
    // nBands == nPerms -> each band hash encodes exactly one bin, so
    // band agreement rate == per-bin collision rate == the estimator
    def sig(c: org.apache.spark.sql.Column) =
      call_function("graft_minhash_oph", c, lit(nPerms), lit(nPerms))
    // hashed-shingle sets with controlled overlap: |A∩B|=200, |A∪B|=400 -> J=0.5
    val a = (0L until 300L).map(i => i * 0x9E3779B97F4A7C15L + 7L)
    val b = (100L until 400L).map(i => i * 0x9E3779B97F4A7C15L + 7L)
    val rows = Seq((a, b, a.reverse)).toDF("a", "b", "ar")
      .select(sig(col("a")).as("sa"), sig(col("b")).as("sb"), sig(col("ar")).as("sar"))
      .head()
    val (sa, sb, sar) = (rows.getSeq[Long](0), rows.getSeq[Long](1), rows.getSeq[Long](2))
    assert(sa == sar, "signature must be element-order-invariant")
    val agree = sa.zip(sb).count { case (x, y) => x == y }.toDouble / nPerms
    val jTrue = 200.0 / 400.0
    assert(math.abs(agree - jTrue) < 0.12,
      s"OPH estimate $agree too far from true Jaccard $jTrue")
    // disjoint sets collide on ~0 bins
    val c = (1000L until 1300L).map(i => i * 0x9E3779B97F4A7C15L + 7L)
    val disj = Seq((a, c)).toDF("a", "c")
      .select(sig(col("a")).as("sa"), sig(col("c")).as("sc")).head()
    val agree0 = disj.getSeq[Long](0).zip(disj.getSeq[Long](1))
      .count { case (x, y) => x == y }.toDouble / nPerms
    assert(agree0 < 0.05, s"disjoint sets agree on $agree0 of bins")
    // empty input: deterministic sentinel, equal only to another empty
    val empty = Seq((Seq.empty[Long], Seq.empty[Long])).toDF("e1", "e2")
      .select(sig(col("e1")).as("s1"), sig(col("e2")).as("s2")).head()
    assert(empty.getSeq[Long](0) == empty.getSeq[Long](1))
  }

  test("piiPatterns redact emails, phones, digit runs in sequence on crafted text") {
    import spark.implicits._
    import graft.operators.TextOps
    // Apply the operator's exact stage sequence to crafted strings.
    val stages = TextOps.piiPatterns.zipWithIndex.foldLeft(
      Seq(
        "mail me at Bob.Smith+x@Example.co.uk or call +44 20 7946 0958 ref 1234567",
        "no pii here, just 42 and 007",
        "two mails a@b.io c@d.org and digits 55555").toDF("text")
        .select(graft.functions.TextFunctions.normText(col("text")).as("red0"))
    ) { case (df, ((pat, repl), i)) =>
      df.withColumn(s"n$i", size(regexp_extract_all(col(s"red$i"), lit(pat), lit(0))).cast("long"))
        .withColumn(s"red${i + 1}", regexp_replace(col(s"red$i"), pat, repl))
    }
    val rows = stages.select("n0", "n1", "n2", "red3").collect()
    assert(rows(0).getLong(0) == 1 && rows(0).getLong(1) == 1 && rows(0).getLong(2) == 1)
    assert(rows(0).getString(3) == "mail me at <email> or call <phone> ref <num>")
    assert(rows(1).getLong(0) == 0 && rows(1).getLong(1) == 0 && rows(1).getLong(2) == 0)
    assert(rows(1).getString(3) == "no pii here, just 42 and 007")
    assert(rows(2).getLong(0) == 2 && rows(2).getLong(2) == 1)
    assert(rows(2).getString(3) == "two mails <email> <email> and digits <num>")
  }

  test("OPH minhash interpreted evaluation matches the codegen path") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{call_function, col, lit}
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
    import org.apache.spark.sql.types._
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val rnd = new scala.util.Random(11)
    val sets = (1 to 20).map(_ => Seq.fill(rnd.nextInt(40) + 1)(rnd.nextLong()))
    // codegen path (whole-stage over a DataFrame)
    val viaDf = sets.toDF("hs")
      .select(call_function("graft_minhash_oph", col("hs"), lit(32), lit(8)).as("b"))
      .collect().map(_.getSeq[Long](0))
    // interpreted path (direct eval on catalyst literals)
    val viaEval = sets.map { hs =>
      graft.functions.OphMinHashBands(
        Literal.create(new GenericArrayData(hs.toArray), ArrayType(LongType, containsNull = false)),
        32, 8)
        .eval(null).asInstanceOf[ArrayData].toLongArray().toSeq
    }
    // same inputs in the same order -> identical band arrays... but the
    // DataFrame may reorder rows? A local relation of 20 rows in one
    // partition preserves order; compare as multisets to be safe.
    assert(viaDf.map(_.mkString(",")).sorted.toSeq == viaEval.map(_.mkString(",")).sorted)
  }

  test("tokenFertilityByLang: totals cross-foot with per-doc token counts; ratios integral") {
    import graft.operators.TextOps
    import org.apache.spark.sql.functions._
    val fert = TextOps.tokenFertilityByLang(spark, sf).collect()
    // per-lang BPE/ws totals must equal summing textTokenCount's
    // per-doc counts over the same docs — one definition of "token"
    val perDoc = TextOps.textTokenCount(spark, sf)
      .join(Tables.documents(spark, sf).select("doc_id", "lang"), "doc_id")
      .groupBy("lang")
      .agg(count(lit(1)).as("n"), sum("ws_tokens").as("ws"), sum("bpe_tokens").as("bpe"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(fert.nonEmpty)
    fert.foreach { r =>
      val (n, ws, bpe) = perDoc(r.getString(0))
      assert(r.getLong(1) == n && r.getLong(3) == ws && r.getLong(4) == bpe,
        s"lang ${r.getString(0)} totals diverge from textTokenCount")
      assert(r.getLong(5) == 100 * bpe / r.getLong(2), "chars ratio must be the integral quotient")
      assert(r.getLong(6) == 100 * bpe / ws, "words ratio must be the integral quotient")
    }
  }

  test("docTopTerms: ranks by tf then rarity, k rows max per doc, df consistent") {
    import graft.operators.TextOps
    val out = TextOps.docTopTerms(spark, sf).cache()
    assert(out.groupBy("doc_id").count().filter(col("count") > 3).count() == 0)
    // rank order within a doc follows (tf desc, df asc)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("term_rank")
    val bad = out
      .withColumn("ptf", lag(col("tf"), 1).over(w))
      .withColumn("pdf", lag(col("df"), 1).over(w))
      .filter(col("ptf").isNotNull &&
        (col("ptf") < col("tf") || (col("ptf") === col("tf") && col("pdf") > col("df"))))
    assert(bad.count() == 0)
    // every doc with at least one token appears
    assert(out.select("doc_id").distinct().count() ==
      Tables.documents(spark, sf).count())
    out.unpersist()
  }

  test("topNgrams: document frequency of distinct-per-doc bigrams, deterministic top-k") {
    val out = graft.operators.TextOps.topNgrams(spark, sf).collect()
    assert(out.length == 100)
    // counts non-increasing; ties broken ascending on the n-gram
    out.sliding(2).foreach { case Array(a, b) =>
      val (fa, fb) = (a.getLong(1), b.getLong(1))
      assert(fa > fb || (fa == fb && a.getString(0) < b.getString(0)))
    }
    // doc frequency, not term frequency: no count can exceed the corpus size
    val nDocs = Tables.documents(spark, sf).count()
    assert(out.forall(_.getLong(1) <= nDocs))
    // every bigram is two tokens
    assert(out.forall(_.getString(0).split(" ").length == 2))
  }

  test("bm25Rank: integral scores match a single-node recompute; rare terms dominate") {
    import graft.operators.TextOps
    import graft.functions.TextFunctions.tokens
    val terms = Seq("spark", "vector", "dup")
    val out = TextOps.bm25Rank(spark, sf, terms, k = 20).collect()
    assert(out.nonEmpty && out.length <= 20)
    // independent plain-Scala recompute of the integral formula
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1))
    val n = docs.length.toLong
    val sTok = docs.map(_._2.length.toLong).sum
    val dfs = terms.map(t => docs.count(_._2.contains(t)).toLong)
    def score(toks: Seq[String]): (Long, Long) = {
      val dl = toks.length.toLong
      val cs = terms.zip(dfs).map { case (t, df) =>
        val tf = toks.count(_ == t).toLong
        (22000L * (n - df) * tf * sTok) / (10L * sTok * tf + 3L * sTok + 9L * dl * n)
      }
      (cs.sum, terms.count(t => toks.contains(t)).toLong)
    }
    val byDoc = docs.toMap
    out.foreach { r =>
      val (expScore, expMatched) = score(byDoc(r.getLong(0)))
      assert(r.getLong(2) == expScore, s"doc ${r.getLong(0)}")
      assert(r.getLong(3) == expMatched)
    }
    // ranks are 1..k in score-desc order
    val byRank = out.sortBy(_.getLong(1))
    assert(byRank.map(_.getLong(1)).toSeq == (1L to out.length).toSeq)
    assert(byRank.sliding(2).forall {
      case Array(a, b) => a.getLong(2) > b.getLong(2) ||
        (a.getLong(2) == b.getLong(2) && a.getLong(0) < b.getLong(0))
      case _ => true
    })
    // a doc containing the rare term outscores every no-rare-term doc
    // with comparable tf mass: the (N - df) surrogate keeps idf ordering
    val rare = terms.last
    val rareDocs = out.filter(r => byDoc(r.getLong(0)).contains(rare))
    if (rareDocs.nonEmpty) {
      val bestNonRare = out.filter(r => !byDoc(r.getLong(0)).contains(rare))
        .map(_.getLong(2)).maxOption.getOrElse(0L)
      assert(rareDocs.map(_.getLong(2)).max > bestNonRare,
        "a rare-term match must outrank common-term-only matches")
    }
  }

  test("textBigramFluency: integral scores match a single-node bigram LM recompute") {
    import graft.operators.TextOps
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val bigrams = docs.flatMap { case (id, ts) => ts.sliding(2).collect {
      case Seq(a, b) => (id, (a, b)) } }
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.length.toLong).toMap
    val c1 = c2.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    def prob(bg: (String, String)): Long = c2(bg) * 1000000L / c1(bg._1)
    val expected = docs.map { case (id, ts) =>
      val bgs = ts.sliding(2).collect { case Seq(a, b) => (a, b) }.toSeq
      id -> (bgs.length.toLong,
             if (bgs.isEmpty) None else Some(bgs.map(prob).sum / bgs.length))
    }.toMap
    val out = TextOps.textBigramFluency(spark, sf).collect()
    assert(out.length == docs.length)
    out.foreach { r =>
      val (n, f) = expected(r.getLong(0))
      assert(r.getLong(1) == n, s"doc ${r.getLong(0)} n_bigrams")
      assert((if (r.isNullAt(2)) None else Some(r.getLong(2))) == f,
        s"doc ${r.getLong(0)} fluency")
    }
    // per-head conditional micro-probs sum to ~1e6 (short only by the
    // <=|continuations| truncation of each floor)
    c1.keys.foreach { h =>
      val s = c2.collect { case ((w1, w2), _) if w1 == h => prob((w1, w2)) }.sum
      val k = c2.count { case ((w1, _), _) => w1 == h }
      assert(s <= 1000000L && s > 1000000L - k,
        s"head $h conditional mass $s with $k continuations")
    }
  }

  test("invertedIndex: impact-ordered postings match a recompute; lists cut at maxPostings") {
    import graft.operators.TextOps
    import graft.functions.TextFunctions.tokens
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1))
    val tf = docs.flatMap { case (id, ts) => ts.groupBy(identity).map {
      case (t, occ) => (t, id, occ.length.toLong) } }
    val byTerm = tf.groupBy(_._1)
    val out = TextOps.invertedIndex(spark, sf, maxPostings = 5).collect()
    val got = out.groupBy(_.getString(0))
    got.foreach { case (term, rows) =>
      val exp = byTerm(term).sortBy { case (_, id, t) => (-t, id) }.take(5)
      assert(rows.length == exp.length && rows.length <= 5)
      rows.sortBy(_.getLong(1)).zip(exp).foreach { case (r, (_, id, t)) =>
        assert(r.getLong(2) == id && r.getLong(3) == t)
        assert(r.getLong(4) == byTerm(term).length.toLong, "df")
      }
    }
    assert(got.keySet == byTerm.keySet, "every corpus term indexed")
  }

  test("winnowing: coverage guarantee, density bound, determinism, edge lengths") {
    import spark.implicits._
    val k = 4; val w = 3
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "the quick brown fox jumps over the lazy dog again and again"), // dup of 1
      (3L, "zxqvj"),                         // k <= len < k+w-1: grams but no window
      (4L, "ab"),                            // len < k: no grams at all
      (5L, "0192837465564738291001928374655647382910")  // disjoint alphabet: no common k-gram
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.winnowingOver(docs, k, w).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getSeq[org.apache.spark.sql.Row](2).map(s => (s.getLong(0), s.getLong(1)))))
      .toMap
    // doc 1: selections exist, and every one of the nWins windows
    // contains at least one selected position (the winnowing guarantee)
    val (n1, fps1) = out(1L)
    val nWins1 = n1 - (w - 1)
    assert(fps1.nonEmpty && nWins1 >= 1)
    val positions = fps1.map { case (_, ni) => -ni }.toSet // 1-based gram index
    (1L to nWins1).foreach { j =>
      assert((j until j + w).exists(positions.contains),
        s"window $j of doc 1 has no selected fingerprint")
    }
    // density: one selection covers at most w windows
    assert(fps1.size >= Math.ceil(nWins1.toDouble / w).toInt)
    // determinism: the duplicate document selects identical fingerprints
    assert(out(2L) == out(1L))
    // edge lengths: grams-but-no-window and no-grams both yield empty
    assert(out(3L)._1 == 2L && out(3L)._2.isEmpty)
    assert(out(4L)._1 == 0L && out(4L)._2.isEmpty)
    // unrelated text shares no fingerprint hash with doc 1
    assert(out(5L)._2.map(_._1).toSet.intersect(fps1.map(_._1).toSet).isEmpty)
  }

  test("winnowing: documents sharing a long substring share a fingerprint") {
    import spark.implicits._
    val k = 4; val w = 3
    // shared region of length >= k+w-1 guarantees a common selected hash
    val shared = "unmistakable shared fragment"
    val docs = Seq(
      (1L, s"left padding text $shared and some tail"),
      (2L, s"totally other prologue here $shared closing words")
    ).toDF("doc_id", "text")
    val out = graft.operators.TextOps.winnowingOver(docs, k, w).collect()
      .map(r => r.getLong(0) -> r.getSeq[org.apache.spark.sql.Row](2).map(_.getLong(0)).toSet)
      .toMap
    assert(out(1L).intersect(out(2L)).nonEmpty,
      "shared >= k+w-1 substring must yield a common fingerprint hash")
  }

  test("graft_winnow kernel equals the HOF winnowing road bit-for-bit on the corpus; sig agrees") {
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val k = 8; val w = 4
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    // the pre-kernel HOF road, reconstructed verbatim as the parity oracle
    val emptyFps = array().cast("array<struct<h:bigint,ni:bigint>>")
    val stage1 = docs.select(col("doc_id"),
        expr("filter(split(lower(trim(regexp_replace(text, '\\\\s+', ' '))), ''), ch -> ch <> '')")
          .as("chars"))
      .repartition(col("doc_id"))
    val gramsExpr = transform(sequence(lit(1), size(col("chars")) - (k - 1)),
      i => struct(xxhash64(concat_ws("", slice(col("chars"), i, lit(k)))).as("h"),
                  (-i).cast("long").as("ni")))
    val stage2 = stage1.select(col("doc_id"),
      (size(col("chars")) - (k - 1)).as("n_grams"),
      when(size(col("chars")) >= k, gramsExpr).otherwise(emptyFps).as("grams"))
    val winsExpr = transform(sequence(lit(1), size(col("grams")) - (w - 1)),
      j => array_min(slice(col("grams"), j, lit(w))))
    val stage3 = stage2.select(col("doc_id"), col("n_grams"),
      when(size(col("grams")) >= w, winsExpr).otherwise(emptyFps).as("wins"))
    val hof = stage3.select(col("doc_id"),
      greatest(col("n_grams"), lit(0)).cast("long").as("n_kgrams"),
      filter(col("wins"),
        (x, i) => i === 0 || !(x <=> element_at(col("wins"), i))).as("fps"))
    val kernel = graft.operators.TextOps.winnowingOver(docs, k, w)
    assert(kernel.exceptAll(hof).count() == 0 && hof.exceptAll(kernel).count() == 0,
      "fused kernel must reproduce the HOF selection exactly")
    // the sig expression agrees with the full kernel's projection
    val viaFull = kernel.select(col("doc_id"), col("n_kgrams"),
      size(col("fps")).cast("long").as("n_fingerprints"),
      aggregate(col("fps"), lit(0L), (acc, f) => acc.bitwiseXOR(f.getField("h")))
        .as("fp_checksum"))
    val viaSig = graft.operators.TextOps.winnowingFingerprint(spark, sf, k, w)
    assert(viaSig.exceptAll(viaFull).count() == 0 && viaFull.exceptAll(viaSig).count() == 0,
      "graft_winnow_sig must equal the full kernel's (count, checksum) projection")
    // interpreted eval agrees with codegen on a crafted row (incl. multi-byte)
    import org.apache.spark.sql.catalyst.expressions.Literal
    import org.apache.spark.sql.catalyst.InternalRow
    val expr1 = graft.functions.GraftWinnow(Literal("héllo wörld héllo wörld"), 4, 3)
    val viaEval = expr1.eval(null).asInstanceOf[InternalRow]
    val viaDf = spark.range(1)
      .select(call_function("graft_winnow", lit("héllo wörld héllo wörld"), lit(4), lit(3)))
      .queryExecution.executedPlan.executeCollect()(0).getStruct(0, 2)
    assert(viaEval.getLong(0) == viaDf.getLong(0))
    val (ae, ad) = (viaEval.getArray(1), viaDf.getArray(1))
    assert(ae.numElements() == ad.numElements() && ae.numElements() > 0)
    (0 until ae.numElements()).foreach { i =>
      assert(ae.getStruct(i, 2).getLong(0) == ad.getStruct(i, 2).getLong(0))
      assert(ae.getStruct(i, 2).getLong(1) == ad.getStruct(i, 2).getLong(1))
    }
  }

  test("langid_confusion: cells tile the corpus, shares integral, agrees with the per-doc join") {
    import graft.operators.TextOps
    val out = TextOps.langidConfusion(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3))))
      .toMap
    val docs = Tables.documents(spark, sf)
    assert(out.values.map(_._1).sum == docs.count(),
      "every document lands in exactly one confusion cell")
    // independent road: per-doc classifier output joined to the label
    val expect = TextOps.textLangId(spark, sf).select("doc_id", "lang_guess")
      .join(docs.select("doc_id", "lang"), "doc_id")
      .groupBy("lang", "lang_guess").count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(out.view.mapValues(_._1).toMap == expect, "cell counts drifted from the per-doc join")
    // shares: integral ppm of the label row, and each label row sums to
    // ~1e6 (short of it only by the div truncation per cell)
    out.groupBy(_._1._1).foreach { case (lang, cells) =>
      val total = cells.values.map(_._1).sum
      cells.foreach { case (_, (n, ppm)) => assert(ppm == n * 1000000L / total) }
      val ppmSum = cells.values.map(_._2).sum
      assert(ppmSum <= 1000000L && ppmSum > 1000000L - cells.size,
        s"$lang shares sum $ppmSum")
    }
  }
}
