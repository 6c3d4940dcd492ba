package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Text-analysis operators over the `documents` corpus (SURVEY.md §2
  * "Text analysis"). Every operator is a row-local projection — a
  * single scan with zero shuffles (the trailing ORDER BY doc_id is
  * oracle-mandated determinism only). At 100 TB each runs as a pure
  * map stage with column pruning down to (doc_id, text).
  *
  * Generalizes the reference's free-text `overview` handling
  * (/root/reference/sql/01_schema.sql:14, 02_etl.py:64-105) to
  * corpus-scale statistics.
  */
object TextOps {

  /** Per-language marker words for the heuristic language ID. Small
    * closed-class words are the classic cheap LID signal.
    */
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "is"),
    "de" -> Seq("der", "und", "die", "das", "ist"),
    "fr" -> Seq("le", "la", "et", "les", "est"),
    "es" -> Seq("el", "que", "los", "una", "es"))

  /** Stopwords for the quality heuristic (English closed-class). */
  val stopwords: Seq[String] =
    Seq("the", "a", "of", "and", "is", "to", "in")

  /** Appends the four marker scores and the argmax `lang_guess` to a
    * frame carrying a `toks` ATTRIBUTE (tokens projected once — the
    * inline markerCount form would re-run the normalize+split scan per
    * language; CollapseProject keeps multi-referenced non-cheap
    * aliases materialized, see Dedup for the general hazard). Shared
    * by [[textLangId]] (per-doc output) and [[langidConfusion]] (the
    * accuracy monitor) so the two can never disagree on the
    * classifier.
    */
  private def withLangGuess(d: DataFrame, keep: Seq[Column]): DataFrame = {
    val scored = d.select(
      keep ++
      langMarkers.map { case (lang, words) =>
        markerCountIn(col("toks"), words).as(s"${lang}_score")
      }: _*)
    val Seq(en, de, fr, es) =
      Seq("en", "de", "fr", "es").map(l => col(s"${l}_score"))
    scored.withColumn("lang_guess",
      when(en >= de && en >= fr && en >= es, "en")
        .when(de >= fr && de >= es, "de")
        .when(fr >= es, "fr")
        .otherwise("es"))
  }

  /** Marker-word-count language ID: score each language by how many
    * tokens are that language's closed-class markers; argmax with a
    * fixed tie-break order (en > de > fr > es).
    */
  def textLangId(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    withLangGuess(d, Seq(col("doc_id")))
      .select("doc_id", "lang_guess", "en_score", "de_score", "fr_score", "es_score")
      .orderBy("doc_id")
  }

  /** Language-ID confusion matrix — the accuracy monitor the labeled
    * corpus makes free: [[textLangId]]'s guess crossed with the
    * upstream `lang` label, per (label, guess) cell with the row share
    * of its label in INTEGRAL ppm. This is how a production pipeline
    * watches a heuristic classifier drift as the corpus mix shifts —
    * the diagonal is per-language recall, off-diagonal cells name the
    * specific confusion to fix (same monitor role as
    * [[graft.operators.Similarity]]'s recall report for ANN). One
    * scan, one bounded-key partial agg (|langs|² cells), share via a
    * window over the ≤|langs|-row frame.
    */
  def langidConfusion(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.requireLang(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("toks"))
    withLangGuess(d, Seq(col("lang")))
      .groupBy("lang", "lang_guess")
      .agg(count(lit(1)).as("n_docs"))
      .withColumn("lang_total",
        sum("n_docs").over(Window.partitionBy("lang")))
      .select(col("lang"), col("lang_guess"), col("n_docs"),
              expr("(n_docs * 1000000) div lang_total").as("share_ppm"))
      .orderBy("lang", "lang_guess")
  }

  /** Length / letter-ratio / stopword-ratio quality score. All-integer
    * outputs (FLOOR(100*a/b) ratios) so the oracle matches exactly.
    */
  def textQualityScore(s: SparkSession, dir: String): DataFrame = {
    // Normalize once, tokenize once; every statistic reads the
    // attributes (the inline form re-ran the whitespace regex ~4×/row).
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("toks"))
    d.select(
        col("doc_id"),
        length(col("norm")).cast("long").as("n_chars"),
        size(col("toks")).cast("long").as("n_tokens"),
        markerCountIn(col("toks"), stopwords).as("n_stop"),
        length(regexp_replace(col("norm"), "[^a-z]", "")).cast("long").as("n_alpha"))
      .withColumn("stop_x100", ratioX100(col("n_stop"), col("n_tokens")))
      .withColumn("alpha_x100", ratioX100(col("n_alpha"), col("n_chars")))
      .withColumn("quality_score",
        least(lit(100L), floor((col("stop_x100") + col("alpha_x100")) / 2.0).cast("long")))
      .select("doc_id", "n_chars", "n_tokens", "stop_x100", "alpha_x100", "quality_score")
      .orderBy("doc_id")
  }

  /** Whitespace + BPE-ish-regex token counts per document. */
  def textTokenCount(s: SparkSession, dir: String): DataFrame = {
    // Single normalization pass feeding both tokenizers.
    Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(
        col("doc_id"),
        wsTokenCountOfNorm(col("norm")).as("ws_tokens"),
        bpeTokenCountOfNorm(col("norm")).as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** Per-language tokenizer fertility — the table a multilingual
    * corpus build reads before freezing a tokenizer: languages where
    * the BPE-ish tokenizer emits many tokens per character (or per
    * whitespace word) are the ones it serves poorly, and their
    * training cost inflates by exactly that ratio. Same token
    * definitions as [[textTokenCount]] (one normalize pass feeding
    * both tokenizers — "token" means one thing engine-wide), summed
    * per lang in ONE partial-aggregated shuffle over a
    * langs-bounded key space; ratios integral ×100 (sum div sum —
    * order-independent, hash-exact) computed from the 1-row-per-lang
    * aggregate, never per doc.
    */
  def tokenFertilityByLang(s: SparkSession, dir: String): DataFrame = {
    Tables.requireLang(Tables.documents(s, dir))
      .select(col("lang"), normText(col("text")).as("norm"))
      .select(col("lang"),
        length(col("norm")).cast("long").as("chars"),
        wsTokenCountOfNorm(col("norm")).as("ws_tokens"),
        bpeTokenCountOfNorm(col("norm")).as("bpe_tokens"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
           sum("chars").as("total_chars"),
           sum("ws_tokens").as("total_ws_tokens"),
           sum("bpe_tokens").as("total_bpe_tokens"))
      .select(col("lang"), col("n_docs"), col("total_chars"),
        col("total_ws_tokens"), col("total_bpe_tokens"),
        // chars can be 0 for an all-whitespace language (ANSI would
        // raise DIVIDE_BY_ZERO); null = "no measurable text", mirrored
        // in the oracle. ws_tokens >= n_docs >= 1, no guard needed.
        when(col("total_chars") > 0,
          expr("(100 * total_bpe_tokens) div total_chars")).as("tokens_per_100_chars"),
        expr("(100 * total_bpe_tokens) div total_ws_tokens").as("tokens_per_100_words"))
      .orderBy("lang")
  }

  /** Corpus-wide n-gram document frequency, top `k` — the boilerplate
    * detector of a training-data pipeline (an n-gram appearing in a
    * large fraction of documents is template/navigation text, a
    * primary pretraining contaminant). Distinct n-grams per document
    * ([[Dedup.wordNgrams]] — the dedup family's shingle definition,
    * so "n-gram" means the same thing engine-wide), explode, ONE
    * partial-aggregated count shuffle, top-k via TakeOrderedAndProject
    * (no global sort materializes; ties broken on the n-gram for
    * determinism). At 100 TB the agg keys are the distinct n-gram
    * strings — bounded by vocabulary, not corpus size.
    */
  def topNgrams(s: SparkSession, dir: String, n: Int = 2, k: Int = 100): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(explode(Dedup.wordNgrams(col("toks"), n)).as("ngram"))
      .groupBy("ngram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("ngram"))
      .limit(k)
  }

  /** Distinctive terms per document: the top `k` terms ranked by
    * term frequency within the doc, rarest-in-corpus first on ties
    * (tf desc, document frequency asc, term asc) — TF-IDF's ranking
    * without its logarithm, because ln() is libm-dependent and a
    * 1-ulp difference across engines flips a floor; the all-integer
    * rank order is engine-exact AND monotone in tf·idf for fixed tf.
    * Two bounded shuffles: per-(doc, term) counts (partial-agg'd, key
    * space = doc-term pairs) and per-term document frequency (key
    * space = vocabulary); the df table joins back on the term key.
    */
  def docTopTerms(s: SparkSession, dir: String, k: Int = 3): DataFrame = {
    val terms = Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = terms.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tf").desc, col("df").asc, col("term"))
    tf.join(df, "term")
      .withColumn("term_rank", row_number().over(w).cast("long"))
      .filter(col("term_rank") <= k)
      .select("doc_id", "term_rank", "term", "tf", "df")
      .orderBy("doc_id", "term_rank")
  }

  /** BM25 retrieval ranking of the corpus against a fixed query-term
    * list — the scoring half of a search/RAG index, ALL-INTEGRAL so it
    * is partition-order-independent and hash-checkable: with k1=1.2,
    * b=0.75 the per-term weight tf·(k1+1)/(tf+k1·(1−b+b·dl/avgdl))
    * clears to the integer ratio 22·tf·S/(10·S·tf+3·S+9·dl·N) once
    * avgdl=S/N is substituted (S=corpus tokens, N=docs, dl=doc
    * length), the float idf is replaced by its exact monotone
    * surrogate (N−df), and each term contributes
    * (1000·22·(N−df)·tf·S) div (10·S·tf+3·S+9·dl·N) — an integer, so
    * the doc score is an order-independent integer SUM (a float BM25
    * sums in partition order and can never hash-match).
    *
    * Plan, not a search engine: per-term tf is a row-local
    * `array-filter size` over the one projected token array (NO
    * explode/shuffle for a fixed query); (N, S, df…) is ONE 1-row
    * corpus aggregate cross-joined back broadcast; top-k lands via
    * TakeOrderedAndProject (no global sort materializes) and the rank
    * window runs on the ≤k survivors. Numerator bound
    * 22000·N·tf·S < 2^63 holds through sf10-scale test data, and is
    * ENFORCED: one eager read of the 1-row stats aggregate requires
    * 22000·N·maxTf·S to fit int64 — with ANSI off Spark would wrap
    * silently (the DuckDB oracle errors loudly), so past the bound a
    * deployment drops the ×1000 print scale or moves the contribution
    * to DECIMAL instead of shipping wrong ranks.
    */
  def bm25Rank(s: SparkSession, dir: String,
               queryTerms: Seq[String] = Seq("spark", "vector", "dup"),
               k: Int = 50): DataFrame = {
    require(queryTerms.nonEmpty && queryTerms == queryTerms.distinct,
      s"bm25_rank expects distinct, non-empty query terms, got $queryTerms")
    // Referenced twice (corpus stats agg, scoring projection) — one
    // shared tokenize scan.
    val toks = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id") +: size(col("toks")).cast("long").as("dl") +:
        queryTerms.zipWithIndex.map { case (t, i) =>
          size(filter(col("toks"), x => x === lit(t))).cast("long").as(s"tf_$i")
        }: _*))
    val tfCols = queryTerms.indices.map(i => col(s"tf_$i"))
    val maxTf = if (tfCols.size == 1) tfCols.head else greatest(tfCols: _*)
    val statCols = count(lit(1)).as("n_docs") +: sum(col("dl")).as("s_tokens") +:
      max(maxTf).as("max_tf") +:
      queryTerms.indices.map(i =>
        sum(when(col(s"tf_$i") > 0, 1L).otherwise(0L)).as(s"df_$i"))
    val stats = toks.agg(statCols.head, statCols.tail: _*)
    // Overflow guard off the stats row the plan needs anyway (the agg
    // runs over the cached scan — one tiny eager job): fail loudly
    // BEFORE silent int64 wraparound can ship wrong ranks.
    locally {
      val st = stats.head()
      def lv(f: String): Long = if (st.isNullAt(st.fieldIndex(f))) 0L else st.getAs[Long](f)
      val bound = BigInt(22000L) * lv("n_docs") * lv("max_tf") * lv("s_tokens")
      require(bound <= Long.MaxValue,
        s"bm25_rank integer surrogate would overflow int64 " +
        s"(22000·N=${lv("n_docs")}·maxTf=${lv("max_tf")}·S=${lv("s_tokens")} = $bound): " +
        "drop the x1000 print scale or compute contributions in DECIMAL")
    }
    val scored = toks.crossJoin(broadcast(stats))
    val prepared = queryTerms.indices.foldLeft(scored) { (d, i) =>
      val num = lit(22000L) * (col("n_docs") - col(s"df_$i")) * col(s"tf_$i") * col("s_tokens")
      val den = lit(10L) * col("s_tokens") * col(s"tf_$i") +
        lit(3L) * col("s_tokens") + lit(9L) * col("dl") * col("n_docs")
      d.withColumn(s"__num_$i", num).withColumn(s"__den_$i", den)
        .withColumn(s"c_$i", expr(s"__num_$i div __den_$i"))
    }
    val score = queryTerms.indices.map(i => col(s"c_$i")).reduce(_ + _)
    val matched = queryTerms.indices
      .map(i => when(col(s"tf_$i") > 0, 1L).otherwise(0L)).reduce(_ + _)
    val top = prepared
      .select(col("doc_id"), score.as("bm25_x1000"), matched.as("n_terms_matched"))
      .filter(col("n_terms_matched") > 0)
      .orderBy(col("bm25_x1000").desc, col("doc_id"))
      .limit(k)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("bm25_x1000").desc, col("doc_id"))).cast("long"))
      .select("doc_id", "rank", "bm25_x1000", "n_terms_matched")
      .orderBy("doc_id")
  }

  /** Corpus-trained bigram language-model fluency score per document —
    * the KenLM-perplexity-filter stand-in every pretraining pipeline
    * runs (gibberish and boilerplate have improbable token
    * transitions), kept ALL-INTEGRAL so it is engine-exact where a
    * log-prob sum never could be: each bigram (w1,w2) scores
    * floor(1e6·c(w1,w2)/c(w1·)) — its conditional probability in
    * micro-units, c(w1·) the bigram-head marginal so probabilities
    * per head sum to ~1e6 — and a doc's fluency is the integer mean
    * over its bigram occurrences (sum div count, order-independent).
    *
    * Plan: ONE positional-bigram explode of the corpus; the model
    * (c2, then c1 as a second partial agg over it) is vocab²-bounded
    * and joins BACK to the exploded corpus through the size-guarded
    * broadcast — at 100 TB the corpus bigrams never shuffle for the
    * probability lookup, only the slim (doc_id, prob) pairs shuffle
    * for the per-doc mean. Docs with <2 tokens carry n_bigrams=0 and
    * a NULL score (nothing to measure ≠ fluent).
    */
  def textBigramFluency(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // Referenced twice (model counts, per-doc scoring join) — one
    // shared bigram-explode scan.
    val ex = graft.Caches.cached(docs
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(transform(
        sequence(lit(1), size(col("toks")) - 1),
        i => struct(element_at(col("toks"), i).as("w1"),
                    element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2")))
    val c2 = ex.groupBy("w1", "w2").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy("w1").agg(sum(col("c2")).as("c1"))
    val model = c2.join(c1, "w1")
      .select(col("w1"), col("w2"), expr("c2 * 1000000 div c1").as("prob_micro"))
    val perDoc = ex.join(Hints.maybeBroadcast(model), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("prob_micro")).as("sp"))
      .select(col("doc_id"), col("n_bigrams"), expr("sp div n_bigrams").as("fluency_micro"))
    docs.select(col("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("fluency_micro"))
      .orderBy("doc_id")
  }

  /** Impact-ordered inverted-index build — the index half of the
    * search/RAG story [[bm25Rank]] scores against: every term's
    * posting list, postings ranked by (tf desc, doc_id) and cut at
    * `maxPostings` (impact ordering — the truncation that lets a
    * query engine stop after the first block), document frequency
    * carried per term. One corpus explode + one (doc,term) partial
    * agg; the df table is vocab-bounded and joins back through the
    * size-guarded broadcast; the per-term rank window ships with a
    * map-side WindowGroupLimit so full posting lists never cross the
    * exchange — key space is the vocabulary, the natural index shard
    * key at 100 TB.
    */
  def invertedIndex(s: SparkSession, dir: String, maxPostings: Int = 10): DataFrame = {
    // Referenced twice (df aggregate, posting-rank window) — one
    // shared tokenize+explode+aggregate scan.
    val tf = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf")))
    val df = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("term")
      .orderBy(col("tf").desc, col("doc_id"))
    tf.withColumn("posting_rank", row_number().over(w).cast("long"))
      .filter(col("posting_rank") <= maxPostings)
      .join(Hints.maybeBroadcast(df), "term")
      .select("term", "posting_rank", "doc_id", "tf", "df")
      .orderBy("term", "posting_rank")
  }

  /** PII patterns over normalized (lowercased) text, applied in a fixed
    * sequence so counts never overlap: emails first, then phone-shaped
    * digit runs, then any remaining ≥5-digit run. Kept inside the
    * RE2 ∩ java.util.regex common subset (no backrefs, no lookaround)
    * so the DuckDB oracle's regexp engine agrees byte-for-byte.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z][a-z]+" -> "<email>",
    "\\+?[0-9][0-9() -]{6,}[0-9]"              -> "<phone>",
    "[0-9]{5,}"                                -> "<num>")

  /** PII redaction pass — the scrub step every pretraining pipeline
    * runs before text leaves the ingest zone. Counts each pattern
    * (on the text as it looks when that pattern's turn comes — the
    * sequence is the contract) and emits the fully redacted text.
    * Row-local single scan like every TextOps operator; at 100 TB
    * this is a map stage fused into whatever projection follows.
    */
  def textPiiRedact(s: SparkSession, dir: String): DataFrame = {
    val stages = piiPatterns.zipWithIndex.foldLeft(
      Tables.documents(s, dir).select(col("doc_id"), normText(col("text")).as("red0"))
    ) { case (df, ((pat, repl), i)) =>
      // Each stage counts on, then rewrites, the PREVIOUS stage's
      // attribute — projected stepwise so the regex scans run once
      // per stage, not once per downstream reference.
      // native match count == size(regexp_extract_all(...))
      // value-for-value; it skips materializing every match as an
      // array element (r22, same kernel as bpeTokenCountOfNorm).
      df.withColumn(s"n$i", regexpCountNative(col(s"red$i"), pat))
        .withColumn(s"red${i + 1}", regexp_replace(col(s"red$i"), pat, repl))
    }
    stages.select(
        col("doc_id"),
        col("n0").as("n_emails"),
        col("n1").as("n_phones"),
        col("n2").as("n_nums"),
        col(s"red${piiPatterns.size}").as("redacted"))
      .orderBy("doc_id")
  }

  /** Gopher-style document quality rules (length, mean word length,
    * alphabetic-word ratio) with integer ×100 statistics and a
    * composite `keep` verdict — the rule-based pre-filter stage of a
    * pretraining pipeline ([[textQualityScore]] is the scored variant;
    * this is the hard gate). Row-local single scan; the thresholds are
    * the contract, so they ship as defaults, not magic numbers.
    */
  def textGopherFilter(s: SparkSession, dir: String,
                       minWords: Long = 5, maxWords: Long = 100000,
                       minMeanLenX100: Long = 300, maxMeanLenX100: Long = 1000,
                       minAlphaX100: Long = 70): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("norm"), split(col("norm"), " ").as("toks"))
    d.select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_words"),
        // single-space normalized text: word chars = len - (n-1) separators
        (length(col("norm")) - (size(col("toks")) - 1)).cast("long").as("n_word_chars"),
        size(filter(col("toks"), x => x.rlike("[a-z]"))).cast("long").as("n_alpha_words"))
      .withColumn("mean_word_len_x100", ratioX100(col("n_word_chars"), col("n_words")))
      .withColumn("alpha_words_x100", ratioX100(col("n_alpha_words"), col("n_words")))
      .withColumn("keep",
        col("n_words").between(minWords, maxWords) &&
        col("mean_word_len_x100").between(minMeanLenX100, maxMeanLenX100) &&
        col("alpha_words_x100") >= minAlphaX100)
      .select("doc_id", "n_words", "mean_word_len_x100", "alpha_words_x100", "keep")
      .orderBy("doc_id")
  }

  /** Gopher-style REPETITION signals — the second half of the quality
    * gate [[textGopherFilter]] doesn't cover: a document dominated by
    * one repeated phrase (navigation text, keyword stuffing, decoder
    * loops) passes length/alpha rules while being worthless training
    * data. Emits the distinct-token ratio and the share of the most
    * frequent word bigram, both as ×100 integers, plus the composite
    * `keep` verdict.
    *
    * Fully ROW-LOCAL, zero shuffle: the top-bigram count is a run-
    * length maximum over the doc's SORTED bigram multiset, computed
    * with the `aggregate` higher-order function — no explode, no
    * per-(doc, ngram) aggregation (the obvious explode+groupBy shape
    * shuffles one row per bigram occurrence, i.e. the whole corpus,
    * to compute a per-doc statistic). At 100 TB this is a pure map
    * stage like every other TextOps operator.
    */
  def textRepetitionFilter(s: SparkSession, dir: String,
                           minDistinctX100: Long = 30,
                           maxTopBigramX100: Long = 20): DataFrame = {
    // zip_with over two slices, NOT transform(sequence)+element_at: a
    // downstream filter on `keep` gets alias-substituted by predicate
    // pushdown all the way to the scan, and element_at(toks, i) per
    // element would re-inline the whole split() PER ELEMENT — measured
    // 20x (1.45 s -> 28.9 s at sf0.1) when pretrain_corpus filters on
    // this operator's verdict. zip_with references toks a CONSTANT
    // number of times however deep the inlining goes.
    val bigrams = when(size(col("toks")) >= 2,
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => concat_ws(" ", a, b)))
      .otherwise(array(concat_ws(" ", col("toks"))))
    // Longest run of equal adjacent elements in the sorted multiset ==
    // the count of the most frequent bigram. State: (prev, run, best).
    val topCount = aggregate(
      col("bigrams"),
      struct(lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (st, x) => {
        val run = when(x === st.getField("prev"), st.getField("run") + 1).otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(st.getField("best"), run).as("best"))
      },
      st => st.getField("best"))
    Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"), array_sort(bigrams).as("bigrams"))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        ratioX100(size(array_distinct(col("toks"))), size(col("toks")))
          .as("distinct_tok_x100"),
        ratioX100(topCount, size(col("bigrams"))).as("top_bigram_x100"))
      .withColumn("keep",
        col("distinct_tok_x100") >= minDistinctX100 &&
        col("top_bigram_x100") <= maxTopBigramX100)
      .orderBy("doc_id")
  }

  /** Canonical fingerprint key per document (sorted distinct tokens),
    * emitted as the string key because it is engine-neutral and
    * oracle-checkable.
    */
  def textFingerprint(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        fingerprintKey(col("text")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Vocabulary build + token-id encoding — the tokenize-to-ids step
    * between a cleaned corpus and a trainer: the top-`vocabSize`
    * tokens by corpus frequency (ties broken lexically) become ids
    * 1..V by rank, every document re-emits as (doc_id, pos, token_id)
    * with out-of-vocabulary tokens mapped to 0.
    *
    * Scale shape: the exploded token stream is cached — vocabulary
    * counting and encoding both consume it, and re-exploding the
    * corpus is the dominant cost. Token counting is one
    * partial-aggregated shuffle bounded by |token types| (zipfian,
    * ≪ occurrences); the V cut is TakeOrderedAndProject (map-side
    * top-V, never a global sort of the type space); id assignment is
    * a window over the V surviving rows only. Encoding joins the
    * V-row vocab through the size guard — a true bounded dimension
    * (V is a constant), the case broadcast exists for. The corpus
    * explodes exactly once and shuffles only for the vocab join.
    */
  def vocabEncode(s: SparkSession, dir: String, vocabSize: Int = 256): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    val exploded = graft.Caches.cached(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "token"))))
    val byFreq = Seq(col("tf").desc, col("token").asc)
    val vocab = exploded.groupBy("token").agg(count(lit(1)).as("tf"))
      .orderBy(byFreq: _*).limit(vocabSize)
      // rank→id over the V cut rows only (single tiny partition by design)
      .withColumn("token_id", row_number().over(Window.orderBy(byFreq: _*)))
      .select("token", "token_id")
    exploded.join(Hints.maybeBroadcast(vocab), Seq("token"), "left")
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
              coalesce(col("token_id").cast("long"), lit(0L)).as("token_id"))
      .orderBy("doc_id", "pos")
  }

  /** Core winnowing selection over any (doc_id, text) frame — exposed
    * for the spec's crafted-document fixtures. Emits the selected
    * fingerprint structs (hash, −position) so tests can assert the
    * coverage guarantee and cross-document collisions on shared
    * substrings; the registered operator projects the compact
    * (count, checksum) signature through [[graft.functions
    * .GraftWinnowSig]], which never materializes the array.
    */
  def winnowingOver(df: DataFrame, k: Int, w: Int): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k, w=$w")
    graft.plans.GraftFunctions.ensureRegistered(df.sparkSession)
    // coalesce: a null text must fingerprint like an empty one (the
    // pre-kernel HOF road's CaseWhen produced (0, []) there too)
    winnowNorm(df)
      .select(col("doc_id"),
        call_function("graft_winnow", col("norm"), lit(k), lit(w)).as("wn"))
      .select(col("doc_id"), col("wn.n_kgrams").as("n_kgrams"),
              col("wn.fps").as("fps"))
  }

  /** Shared normalization stage: codegen'd whitespace-collapse +
    * trim + lower, then a doc_id repartition so per-row kernel work
    * spreads across cores even off a single-row-group scan.
    */
  private def winnowNorm(df: DataFrame): DataFrame = df
    .select(col("doc_id"),
      coalesce(lower(trim(regexp_replace(col("text"), "\\s+", " "))), lit(""))
        .as("norm"))
    .repartition(col("doc_id"))

  /** Winnowing document fingerprints (Schleimer, Wilkerson, Aiken —
    * "Winnowing: Local Algorithms for Document Fingerprinting",
    * SIGMOD 2003): hash every k-char gram of the normalized text,
    * slide a window of `w` consecutive hashes, select each window's
    * minimum (rightmost on ties), and dedup the selections. The
    * winnowing GUARANTEE — any match of length ≥ k+w−1 between two
    * documents shares at least one selected fingerprint — is what
    * makes the ~2/(w+1) density a sound plagiarism/near-dup index
    * where uniform sampling of k-grams is not.
    *
    * The whole selection is the fused codegen'd kernel
    * [[graft.functions.GraftWinnow]] — k-gram hashing, window minima
    * and adjacent dedup as ONE primitive pass per row (byte-offset
    * walk + hash array + monotonic deque) — replacing the interpreted
    * transform/array_min-over-slices/filter HOF chain (O(L·w)
    * interpreted lambda evals per document; see §6's
    * expression-duplication pathology for why the HOF form was also
    * fragile to stage). Normalization (whitespace collapse, trim,
    * lower) stays in the plan as native codegen'd expressions. One
    * scan, zero shuffles beyond the parallelism repartition — the
    * TextOps contract. The checksum (XOR fold of selected hashes —
    * order-insensitive, ANSI-overflow-proof) is the compact signature
    * a cross-corpus fingerprint join would key on. xxhash64 has no
    * DuckDB twin, so correctness rides TextFunctionsSpec: kernel ==
    * the HOF road bit-for-bit on the corpus, the coverage guarantee
    * (every window contains a selection), the density bound,
    * selection stability under duplication, and a shared-substring
    * collision fixture.
    */
  def winnowingFingerprint(s: SparkSession, dir: String,
                           k: Int = 8, w: Int = 4): DataFrame = {
    require(k >= 2 && w >= 1, s"need k >= 2, w >= 1; got k=$k, w=$w")
    graft.plans.GraftFunctions.ensureRegistered(s)
    winnowNorm(Tables.documents(s, dir))
      .select(col("doc_id"),
        call_function("graft_winnow_sig", col("norm"), lit(k), lit(w)).as("sig"))
      .select(col("doc_id"), col("sig.n_kgrams").as("n_kgrams"),
              col("sig.n_fingerprints").as("n_fingerprints"),
              col("sig.fp_checksum").as("fp_checksum"))
      .orderBy("doc_id")
  }
}
