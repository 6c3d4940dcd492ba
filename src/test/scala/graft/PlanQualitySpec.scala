package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{Analytics, EtlOps, Views}

/** Machine-checked plan quality: the properties SURVEY §4 claims
  * (pushdown, pruning, broadcast dims, partial aggregation, window
  * group limits) asserted on the actual physical plans, so a
  * regression that silently de-optimizes a plan fails the suite.
  */
class PlanQualitySpec extends AnyFunSuite with SparkFixture {

  private def plan(df: DataFrame): String = df.queryExecution.executedPlan.toString

  test("filter pushdown reaches the parquet scan with a pruned schema") {
    val p = plan(Analytics.filterPushdown(spark, sf))
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), IsNotNull(l_returnflag)"),
      s"filters not pushed:\n$p")
    // projection pruned to the selected + filter columns, nothing else
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
      .split("ReadSchema: ").last
    assert(!readSchema.contains("l_extendedprice") && !readSchema.contains("l_comment")
      && !readSchema.contains("l_shipdate"), s"schema not pruned: $readSchema")
  }

  // The scan's PushedFilters metadata line truncates at
  // maxMetadataStringLength (default 100 chars) — too short to SEE all
  // of a multi-predicate pushdown. Widen for the assertion, restore.
  private def planFullMeta(df: => DataFrame): String = {
    val key = "spark.sql.maxMetadataStringLength"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "4096")
    try plan(df)
    finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("q6: every range predicate pushed to the scan, 4-column ReadSchema, no join/window") {
    val p = planFullMeta(Analytics.q6ForecastRevenue(spark, sf))
    Seq("GreaterThanOrEqual(l_shipdate", "LessThan(l_shipdate",
        "GreaterThanOrEqual(l_discount,0.05)", "LessThanOrEqual(l_discount,0.07)",
        "LessThan(l_quantity,24.0)").foreach(f =>
      assert(p.contains(f), s"predicate $f not pushed:\n$p"))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
      .split("ReadSchema: ").last
    Seq("l_orderkey", "l_returnflag", "l_tax").foreach(c =>
      assert(!readSchema.contains(c), s"schema not pruned of $c: $readSchema"))
    assert(!p.contains("Join") && !p.contains("Window"),
      s"Q6 must be scan+aggregate only:\n$p")
    assert(p.contains("partial_sum") || p.contains("partial_"),
      s"no map-side partial aggregate:\n$p")
  }

  test("q19: the OR-of-brackets runs in ONE fact scan inside a broadcast join") {
    val p = planFullMeta(Analytics.q19DiscountedRevenue(spark, sf))
    val lineitemScans = p.linesIterator.count(l =>
      l.contains("Scan parquet") && l.contains("lineitem"))
    assert(lineitemScans == 1,
      s"disjunction must not fan into per-bracket scans ($lineitemScans lineitem scans):\n$p")
    assert(p.contains("BroadcastHashJoin"), s"part dim not broadcast:\n$p")
    // the quantity hull Catalyst CAN derive from the disjunction is pushed
    assert(p.contains("GreaterThanOrEqual(l_quantity,1.0)") &&
           p.contains("LessThanOrEqual(l_quantity,30.0)"),
      s"covering quantity hull not pushed:\n$p")
  }

  test("q3 broadcasts the customer dim and takes top-10 without a global sort") {
    val p = plan(Analytics.q3TopUnshipped(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed:\n$p")
  }

  test("dim broadcast is size-guarded: hash-broadcast when small, shuffle join when large") {
    // Small dim (sf0.001 stats are KB): the hint fires on every guarded
    // site and the plan is a BroadcastHashJoin.
    Seq(Views.topActors(spark, sf), Views.topGenres(spark, sf),
        Views.genreRatings(spark, sf), Views.topActorsByRating(spark, sf),
        Analytics.q3TopUnshipped(spark, sf)).foreach { df =>
      assert(plan(df).contains("BroadcastHashJoin"),
        s"small dim not broadcast:\n${plan(df)}")
    }
    // Simulated design-scale dim: disable the session's auto-broadcast,
    // which is also the hint's threshold (every estimate exceeds it →
    // no hint), so the planner's fallback is visible. The plan MUST
    // degrade to a shuffle join rather than attempt the broadcast.
    val conf = spark.conf
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Seq(Views.topActors(spark, sf), Analytics.q3TopUnshipped(spark, sf)).foreach { df =>
        val p = plan(df)
        assert(!p.contains("BroadcastHashJoin"),
          s"forced-large dim still broadcast — the hint ignored the guard:\n$p")
        assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
          s"no shuffle join fallback in forced-large plan:\n$p")
      }
    } finally {
      conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    }
  }

  test("aggregations are partial (map-side combine) before the shuffle") {
    val p = plan(Views.topActors(spark, sf))
    assert(p.contains("partial_"), s"no partial aggregation:\n$p")
  }

  test("top-N per group uses WindowGroupLimit pruning") {
    val p = plan(EtlOps.capTopNPerGroup(spark, sf))
    assert(p.contains("WindowGroupLimit"), s"window limit not inserted:\n$p")
  }

  test("custom vec-sum aggregate partial-aggregates before the exchange") {
    val p = plan(graft.operators.Similarity.embeddingCentroids(spark, sf))
    // TypedImperativeAggregate rides ObjectHashAggregate with a
    // partial mode below the shuffle — one long[dim] state per
    // (partition, label) crosses the wire, not the vectors
    assert(p.contains("ObjectHashAggregate"), s"no object hash aggregate:\n$p")
    assert(p.contains("partial_graft_vec_sum_micro"), s"aggregate not partial:\n$p")
  }

  test("LSH dedup plans never degenerate to an all-pairs join") {
    Seq(graft.operators.Dedup.dedupMinhashLsh(spark, sf),
        graft.operators.Dedup.dedupSimhash(spark, sf),
        graft.operators.Dedup.dedupEmbeddingCosine(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
        s"all-pairs join in an LSH plan:\n$p")
    }
  }

  test("LSH dedup shares one cached hashed-shingle scan (3 plan references, 1 computation)") {
    Seq(graft.operators.Dedup.dedupMinhashLsh(spark, sf),
        graft.operators.Dedup.dedupNgramJaccard(spark, sf)).foreach { df =>
      val p = plan(df)
      assert(p.contains("InMemoryTableScan"),
        s"hashed-shingle scan not cached — banding and verification each recompute it:\n$p")
    }
  }

  test("ANN probe side is broadcast — corpus embeddings never shuffle") {
    // brute force: broadcast nested-loop against the streamed corpus scan
    val bf = plan(graft.operators.Similarity.annBruteforceTopK(spark, sf))
    assert(bf.contains("BroadcastNestedLoopJoin"), s"probe set not broadcast:\n$bf")
    // LSH: band-key equi-join with the broadcast probe bands; the only
    // hash exchanges after it carry (ids, score) triples, not embeddings
    val lsh = graft.operators.Similarity.annLshTopK(spark, sf)
    val p = plan(lsh)
    assert(p.contains("BroadcastHashJoin"), s"probe bands not broadcast:\n$p")
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!shuffledEmbedding, s"embeddings in a shuffle:\n$p")
  }

  test("as-of join is the union+window single-shuffle formulation") {
    val p = plan(graft.operators.Joins.asofJoinEvents(spark, sf))
    val hashExchanges = p.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(hashExchanges <= 1, s"expected <=1 hash shuffle, got $hashExchanges:\n$p")
  }

  test("sample_split_hash is a pure projection — no exchange except the output sort") {
    val p = plan(graft.operators.TrainingOps.sampleSplitHash(spark, sf))
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(_.contains("rangepartitioning")),
      s"hash split must not shuffle data (only the ORDER BY range exchange):\n$p")
  }

  test("pack_sequences windows per shard — its shuffle is the shard hash partitioning") {
    val p = plan(graft.operators.TrainingOps.packSequences(spark, sf))
    assert(p.contains("Window"), s"no window in packing plan:\n$p")
    val hashExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.nonEmpty && hashExchanges.forall(_.contains("shard")),
      s"window must partition by shard (a global-order window would single-thread the corpus):\n$p")
  }

  test("top_ngrams aggregates partially and takes top-k without a global sort") {
    val p = plan(graft.operators.TextOps.topNgrams(spark, sf))
    assert(p.contains("partial_count"), s"no map-side combine:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not pushed into the exchange:\n$p")
  }

  test("IVF ANN broadcasts centroids and probe cells — corpus embeddings never shuffle") {
    val p = plan(graft.operators.Similarity.annIvfTopK(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"probe-cells join not broadcast:\n$p")
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!shuffledEmbedding, s"corpus embeddings in a shuffle:\n$p")
    graft.Caches.clear()
  }

  test("stream_ann_probe: persisted postings scan, broadcast probe cells, map-side top-k prune") {
    val p = plan(graft.operators.Similarity.streamAnnProbe(spark, sf))
    // the per-batch serving plan: the ONLY corpus-scale input is the
    // substrate postings parquet scan; probe cells and centroids ride
    // broadcasts, and the per-probe top-k prunes before its exchange
    assert(p.contains("Scan parquet"), s"persisted postings not a parquet scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"probe-cells join not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned map-side:\n$p")
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!shuffledEmbedding, s"corpus embeddings in a shuffle:\n$p")
    graft.Caches.clear()
  }

  test("adaptive filtered IVF: occupancy and probe cells broadcast — corpus embeddings never shuffle") {
    // the stratum-aware walk must stay metadata-priced: the
    // (cell, label) occupancy table and the kept probe cells ride
    // broadcasts; the only embedding movement is the cached scan
    val p = plan(graft.operators.Similarity.annFilteredIvf(spark, sf))
    assert(p.contains("BroadcastHashJoin"), s"candidate join not broadcast:\n$p")
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!shuffledEmbedding, s"corpus embeddings in a shuffle:\n$p")
    graft.Caches.clear()
  }

  test("streaming incremental dedup batch twin: bloom side is a 1-row broadcast, text never shuffles") {
    val p = plan(graft.operators.Dedup.streamDedupIncremental(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bloom sketch not broadcast:\n$p")
    val shuffledText = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("text"))
    assert(!shuffledText, s"document text in a shuffle:\n$p")
    graft.Caches.clear()
  }

  test("persisted streaming dedup: only the delta slice scans the raw corpus, base read from substrate") {
    val p = planFullMeta(graft.operators.Dedup.streamDedupPersisted(spark, sf))
    // the DELTA slice is the only part of the raw corpus the plan may
    // touch (once per union branch — negatives/positives) — the base
    // must come from the two substrate artifacts, never a documents
    // re-read (that re-derivation is exactly what the persisted shape
    // removes per micro-batch). Delta scans are identified by their
    // doc_id % mod = 0 data filter.
    val docScans = p.linesIterator
      .filter(l => l.contains("Scan parquet") && l.contains("documents.parquet")).toSeq
    assert(docScans.nonEmpty && docScans.forall(
      _.contains(s"% ${graft.operators.Dedup.DefaultDeltaMod}) = 0")),
      s"a non-delta scan of the raw corpus leaked into the per-batch plan:\n${docScans.mkString("\n")}")
    assert(p.contains("dedup_base_hashes_"),
      s"exact-verify side must read the substrate hash table:\n$p")
    assert(p.contains("dedup_base_bloom_"),
      s"bloom side must read the substrate sketch:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"bloom sketch not broadcast:\n$p")
    val shuffledText = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("text"))
    assert(!shuffledText, s"document text in a shuffle:\n$p")
    graft.Caches.clear()
  }

  test("hybrid_rank_rrf: probe broadcast, corpus embeddings never re-exchange, documents scan pruned") {
    val p = planFullMeta(graft.operators.Similarity.hybridRankRrf(spark, sf))
    // the semantic half inherits the IVF discipline: the (single)
    // query vector and its kept cells ride broadcasts, corpus
    // embeddings never enter a hash exchange
    assert(p.contains("BroadcastHashJoin"), s"probe-cells join not broadcast:\n$p")
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("embedding"))
    assert(!shuffledEmbedding, s"corpus embeddings in a shuffle:\n$p")
    // the lexical half reads only (doc_id, text) from documents
    val docSchemas = p.linesIterator
      .filter(l => l.contains("documents.parquet") && l.contains("ReadSchema")).toSeq
    assert(docSchemas.nonEmpty && docSchemas.forall(l =>
        !l.contains("source") && !l.contains("lang") && !l.contains("n_chars")),
      s"documents scan not pruned to (doc_id, text):\n${docSchemas.mkString("\n")}")
    graft.Caches.clear()
  }

  test("embedding_whiten is one row-local pass — no join anywhere in the plan") {
    // the component vector and the mean ride the plan as literals
    // (KB-scale model state), so whitening must plan as scan ->
    // row-local projection -> output sort; any Join means the model
    // state leaked into a data-sized frame
    val p = plan(graft.operators.Similarity.embeddingWhiten(spark, sf))
    assert(!p.contains("Join"), s"whitening grew a join:\n$p")
    graft.Caches.clear()
  }

  test("bpe_apply serves from the persisted vocab leaf — no merge fold in the hot path") {
    val p = planFullMeta(graft.operators.TrainingOps.bpeApply(spark, sf))
    // the encoded vocabulary (word -> n_syms) is a Substrate artifact
    // since r20: serving must read the leaf, and the nMerges-deep
    // nested aggregate-HOF rewrite (whose generated code janino
    // recompiled per bench pass in the r19 driver record — the 8.6x)
    // must not appear anywhere in the serving plan
    assert(p.contains("bpevocab_"),
      s"serving plan must read the substrate vocab leaf:\n$p")
    assert(!p.contains("lambdafunction"),
      s"merge-fold HOF leaked into the serving plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"KB-scale vocab join not broadcast:\n$p")
    graft.Caches.clear()
  }

  test("zorder_key scan prunes to exactly the two id columns") {
    val p = plan(graft.operators.LayoutOps.zorderKey(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
      .split("ReadSchema: ").last
    assert(readSchema.contains("event_id") && readSchema.contains("user_id")
      && !readSchema.contains("props") && !readSchema.contains("event_type")
      && !readSchema.contains("value"), s"schema not pruned: $readSchema")
  }

  test("hilbert_key scan prunes to exactly the two id columns") {
    val p = plan(graft.operators.LayoutOps.hilbertKey(spark, sf))
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
      .split("ReadSchema: ").last
    assert(readSchema.contains("event_id") && readSchema.contains("user_id")
      && !readSchema.contains("props") && !readSchema.contains("event_type")
      && !readSchema.contains("value"), s"schema not pruned: $readSchema")
  }

  test("bm25_rank is one corpus scan per side of a broadcast stats join; top-k never global-sorts") {
    val p = plan(graft.operators.TextOps.bm25Rank(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row corpus stats not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), s"top-k materialized a global sort:\n$p")
    // the token array must never reach an exchange — scores shuffle, text does not
    val shuffledToks = p.linesIterator
      .filter(l => l.contains("Exchange") || l.contains("Broadcast"))
      .exists(l => l.contains("toks") || l.contains("text"))
    assert(!shuffledToks, s"token arrays in an exchange:\n$p")
  }

  test("text_bigram_fluency broadcasts the model back; corpus bigrams never hash-shuffle for the lookup") {
    val p = plan(graft.operators.TextOps.textBigramFluency(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bigram model not broadcast:\n$p")
    // the probability lookup join must not be a sort-merge on (w1, w2)
    assert(!p.contains("SortMergeJoin"), s"corpus bigrams sort-merge-shuffled:\n$p")
  }

  test("assoc_rules joins item supports broadcast; baskets never shuffle") {
    val p = plan(graft.operators.GraphOps.assocRules(spark, sf))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"item supports not broadcast:\n$p")
    val shuffledBaskets = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(l => l.contains("parts") || l.contains("ps"))
    assert(!shuffledBaskets, s"collected baskets in a shuffle:\n$p")
  }

  test("knn_graph broadcasts the neighbor side and prunes top-k map-side") {
    val p = plan(graft.operators.Similarity.knnGraph(spark, sf))
    assert(p.contains("BroadcastNestedLoopJoin"), s"neighbor side not broadcast:\n$p")
    assert(p.contains("WindowGroupLimit"), s"no map-side top-k prune:\n$p")
    // only scored triples shuffle into the ranking window, never vectors
    val shuffledEmbedding = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning"))
      .exists(_.contains("emb"))
    assert(!shuffledEmbedding, s"embeddings in a shuffle:\n$p")
  }

  test("cdc_apply: window+full-merge shape, pushdown on base, pruned log scan") {
    val p = plan(EtlOps.cdcApply(spark, sf))
    assert(p.contains("Window") && p.contains("FullOuter"), s"not a window+full-merge plan:\n$p")
    // snapshot predicate reaches the base scan
    assert(p.contains("GreaterThanOrEqual(c_custkey,8)"),
      s"base cutoff not pushed to the customer scan:\n$p")
    // log scan pruned to the CDC columns — payload strings never read
    val eventsSchema = p.linesIterator
      .filter(l => l.contains("ReadSchema") && l.contains("events.parquet")).toSeq
    assert(eventsSchema.nonEmpty && eventsSchema.forall(!_.contains("props")),
      s"log scan not pruned:\n$p")
    // the window operator itself runs on log columns only
    val windowLines = p.linesIterator.filter(_.trim.startsWith("+- Window")).toSeq ++
      p.linesIterator.filter(_.contains("Window [")).toSeq
    assert(windowLines.forall(!_.contains("c_mktsegment")),
      s"base payload routed through the log window:\n$p")
  }

  test("agg_incremental keeps partial aggregation at both levels") {
    val p = plan(EtlOps.aggIncremental(spark, sf))
    assert(p.contains("partial_"), s"no map-side combine in state build:\n$p")
  }

  test("dedup_substring shuffles hashed windows only — window strings stay executor-local") {
    val p = plan(graft.operators.Dedup.dedupSubstring(spark, sf))
    assert(p.contains("partial_"), s"window count not map-side combined:\n$p")
    val exchanges = p.linesIterator.filter(_.contains("Exchange")).toSeq
    assert(exchanges.forall(l => !l.contains("wins") && !l.contains("toks")),
      s"window/token strings cross an exchange:\n$p")
    graft.Caches.clear()
  }

  test("scd2_build runs row_number and lead in ONE window over one key exchange") {
    val p = plan(EtlOps.scd2Build(spark, sf))
    val hashExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1 && hashExchanges.head.contains("user_id"),
      s"expected exactly one user_id exchange (shared window sort):\n$p")
    // both window functions in a single Window operator
    assert(p.linesIterator.count(_.trim.startsWith("Window")) <= 1 ||
      p.split("Window").length <= 3, s"window functions split across operators:\n$p")
  }

  test("rolling_active_users dedups (day,user) BEFORE the window explode") {
    val p = plan(Analytics.rollingActiveUsers(spark, sf))
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"),
      s"range-join formulation crept in:\n$p")
    // the Generate (explode) must consume an aggregate output, i.e. the
    // distinct (day,user) table, not the raw scan
    val gen = p.linesIterator.find(_.contains("Generate"))
    assert(gen.isDefined, s"no explode in plan:\n$p")
    assert(p.contains("partial_"), s"distinct not partial-aggregated:\n$p")
  }

  test("text_repetition_filter and mix_weighted are pure projections — no exchange before the output sort") {
    Seq(graft.operators.TextOps.textRepetitionFilter(spark, sf),
        graft.operators.TrainingOps.mixWeighted(spark, sf)).foreach { df =>
      val p = plan(df)
      // exactly the rangepartitioning exchange of the final orderBy
      assert("Exchange".r.findAllIn(p).size == 1 && p.contains("rangepartitioning"),
        s"row-local operator grew a shuffle:\n$p")
      assert(!p.contains("Generate"), s"explode crept into the row-local path:\n$p")
    }
  }

  test("decontaminate_ngram broadcasts the eval n-gram set — the corpus side never shuffles its grams") {
    val p = plan(graft.operators.TrainingOps.decontaminate(spark, sf))
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"),
      s"eval side not a broadcast semi-probe:\n$p")
    // the only hash exchanges are the per-doc hit count and the final
    // doc_id left join — never a (doc, ngram)-sized shuffle
    assert(!p.contains("SortMergeJoin LeftSemi") && !p.contains("ShuffledHashJoin LeftSemi"),
      s"gram-level shuffle join:\n$p")
  }

  test("dedup_incremental never FORCES a broadcast of the unbounded base — with auto-broadcast off it degrades to a shuffled join") {
    // At test scale Spark's stats-driven auto-broadcast legitimately
    // fires (base is KBs); the invariant is that no broadcast() HINT
    // overrides the size logic — when the planner can't broadcast
    // (design scale ≈ threshold -1), the join must degrade gracefully.
    val conf = spark.conf
    val prevAuto = conf.get("spark.sql.autoBroadcastJoinThreshold")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(graft.operators.Dedup.dedupIncremental(spark, sf))
      assert(!p.contains("BroadcastHashJoin"),
        s"forced broadcast of the unbounded base — driver OOM at design scale:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"no shuffled join on content_hash:\n$p")
    } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevAuto)
    // base hashes pre-aggregated to distinct map-side before any exchange
    val p2 = plan(graft.operators.Dedup.dedupIncremental(spark, sf))
    assert(p2.contains("HashAggregate(keys=[content_hash"),
      s"base distinct not hash-aggregated:\n$p2")
  }

  test("knn_graph_ivf picks probe cells row-locally: no window or join before the single cell-keyed join") {
    val p = plan(graft.operators.Similarity.knnGraphIvf(spark, sf))
    assert(!p.contains("CartesianProduct"), s"cartesian in IVF graph:\n$p")
    // exactly one Window operator: the final per-probe top-k (cell
    // selection is an array_sort over the centroid literal, not a
    // window; WindowGroupLimit rows don't count)
    assert("Window \\[".r.findAllIn(p).size == 1, s"cell ranking grew a window:\n$p")
    assert(p.contains("WindowGroupLimit"), s"top-k not pruned map-side:\n$p")
    graft.Caches.clear()
  }

  test("merge_intervals windows and rolls up on ONE custkey exchange") {
    val p = plan(Analytics.mergeIntervals(spark, sf))
    // the episode groupBy's keys are a superset of the window's
    // partition key, so the aggregation must reuse the window exchange
    val custExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("o_custkey")).toSeq
    assert(custExchanges.size == 1,
      s"expected one custkey exchange shared by window+rollup, got ${custExchanges.size}:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"interval merge degenerated to a pair join:\n$p")
  }

  test("gap_fill_days reuses the cached daily rollup for spans and fill") {
    val p = plan(Analytics.gapFillDays(spark, sf))
    assert(p.contains("InMemoryTableScan"),
      s"daily rollup not cached — events would rescan per reference:\n$p")
    assert(p.contains("Generate"), s"day spine explode missing:\n$p")
    graft.Caches.clear()
  }

  test("event_transitions aggregates pairs partially after one user window") {
    val p = plan(Analytics.eventTransitions(spark, sf))
    assert(p.contains("partial_"), s"pair counts not map-side combined:\n$p")
    val userExchanges = p.linesIterator
      .filter(l => l.contains("Exchange hashpartitioning") && l.contains("user_id")).toSeq
    assert(userExchanges.size == 1, s"lag window should cost one user_id exchange:\n$p")
  }

  test("skew_report takes top-k map-side and broadcasts only the 1-row total") {
    val p = plan(Analytics.skewReport(spark, sf))
    assert(p.contains("TakeOrderedAndProject"), s"top-k fell back to a global sort:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      s"1-row total not broadcast:\n$p")
    graft.Caches.clear()
  }

  test("hll_states sketches partial-aggregate at both levels") {
    val p = plan(Analytics.hllStates(spark, sf))
    assert(p.contains("partial_hll_sketch_agg") || p.contains("partial_"),
      s"day sketches not map-side combined:\n$p")
    assert(p.contains("hll_union_agg"), s"merge level missing:\n$p")
  }

  test("vocab_encode explodes once (cached), cuts V map-side, broadcasts the vocab") {
    val p = plan(graft.operators.TextOps.vocabEncode(spark, sf))
    assert(p.contains("InMemoryTableScan"),
      s"exploded token stream not cached — corpus would re-explode:\n$p")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocab cut fell back to a global sort of the type space:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"constant-size vocab not broadcast:\n$p")
    graft.Caches.clear()
  }

  test("runtime bloom filter prunes the big side of a selective shuffle join when enabled") {
    // The 100 TB shuffle-join safety net: when a selective dim CANNOT
    // broadcast (the forced-large regime of the size-guard test),
    // Spark can still semi-filter the big side's shuffle with an
    // injected bloom filter built from the dim keys. Local thresholds
    // are tuned so the injection fires on test-size data; at scale the
    // defaults (10 MB creation side) gate it the same way.
    val conf = spark.conf
    val saved = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> conf.getOption(k)).toMap
    conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val p = plan(Analytics.q3TopUnshipped(spark, sf))
      assert(p.contains("might_contain"),
        s"no bloom runtime filter injected on the shuffle join:\n$p")
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("no registered query funnels a corpus-scaling key space through a single task") {
    // The regression net for the whole global-window class of
    // scale-killers (round-8 verdict): walk EVERY SparkEntry query's
    // optimized plan and flag any un-partitioned Window (physical
    // SinglePartition sort of the frame — one task sorts everything)
    // or an explicit repartition-to-1. The logical level is checked
    // deliberately: it is AQE-mode independent, and a global logical
    // Window ALWAYS lowers to an Exchange SinglePartition. The
    // trailing oracle ORDER BY is a global *Sort*, not a Window —
    // range-partitioned, parallel — and is not flagged.
    //
    // A global window whose input subtree carries a GlobalLimit is
    // frame-bounded BY CONSTRUCTION (≤ limit rows reach the sort —
    // bm25_rank's rank over its top-k survivors, vocab_encode's id
    // assignment over the V-row cut) and is exempt mechanically. One
    // window is bounded SEMANTICALLY and allowlisted by name:
    val boundedByConstruction = Map(
      // cumulative sum over distinct DAYS: calendar-bounded frame
      // (Analytics.scala backlogOverTime scaladoc)
      "backlog_over_time" -> "day-grain cumsum, frame = distinct days",
      // suffix-min over the per-size min-price frame: bounded by the
      // p_size domain, not the catalog (Analytics.skylinePareto)
      "skyline_pareto" -> "suffix-min over distinct p_size values")
    import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, Repartition, Window => LWindow}
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val shapes = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty &&
            w.child.collectFirst { case g: GlobalLimit => g }.isEmpty =>
          s"global Window over ${w.orderSpec.map(_.sql).mkString(", ")}"
        case r: Repartition if r.numPartitions == 1 => "repartition(1)"
      }
      if (shapes.nonEmpty && !boundedByConstruction.contains(name))
        Some(s"$name: ${shapes.mkString("; ")}")
      else None
    }
    graft.Caches.clear()
    assert(offenders.isEmpty,
      s"single-task sort funnels over corpus-scaling keys:\n${offenders.mkString("\n")}")
  }

  test("asof_join_nearest: both frames ride ONE user exchange, no join anywhere") {
    val p = plan(graft.operators.Joins.asofJoinNearest(spark, sf))
    val hashExchanges = p.linesIterator
      .filter(_.contains("Exchange hashpartitioning")).toSeq
    assert(hashExchanges.size == 1 && hashExchanges.head.contains("user_id"),
      s"expected exactly one user_id exchange shared by both window frames:\n$p")
    assert(!p.contains("Join"), s"nearest as-of must not plan a join:\n$p")
  }

  test("anomaly_mad: no window, broadcast medians, one cached event scan") {
    try {
      val p = plan(graft.operators.Analytics.anomalyMad(spark, sf))
      assert(!p.contains("Window"), s"MAD must rank through DistRank, never a window:\n$p")
      assert(p.contains("BroadcastHashJoin"), s"per-type medians not broadcast:\n$p")
      assert(p.contains("InMemoryTableScan"), s"shared event scan not cached:\n$p")
    } finally graft.Caches.clear() // an assert failure must not leak the cached frames
  }

  test("token_fertility_by_lang aggregates partially over the lang-bounded key space") {
    val p = plan(graft.operators.TextOps.tokenFertilityByLang(spark, sf))
    assert(p.contains("partial_"), s"no map-side combine:\n$p")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(!readSchema.contains("source") && !readSchema.contains("doc_id"),
      s"scan not pruned to (lang, text): $readSchema")
  }

  test("quantile_bins_sampled: cuts BROADCAST (structurally bounded); corpus never re-exchanges on the types key") {
    // The cut table is (k−1)·|event types| rows by construction, so
    // the bucketing join must be a BroadcastHashJoin — the fallback
    // SMJ re-exchanges the whole corpus hash(event_type), a |types|-ary
    // key, which is the plan this operator exists to avoid. (The
    // size-guarded hint can't see through DistRank's ExistingRDD
    // stats, hence the unconditional broadcast in the operator.)
    val plan = graft.operators.Analytics.quantileBinsSampled(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"cut bucketing must broadcast the bounded cut table:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"quantile_bins_sampled regressed to a corpus re-exchange on event_type:\n$plan")
    Caches.clear()
  }

  test("customer_rfm plans no window at all — two-stage rank only") {
    // The specific round-8 weak flag: quintiles must come from
    // DistRank's range-partition + bounded-offsets prefix, never a
    // Window (partitioned OR global) over the customer frame.
    val p = plan(Analytics.customerRfm(spark, sf))
    assert(!p.contains("Window"), s"customer_rfm grew a window:\n$p")
    assert(!p.contains("SinglePartition"), s"single-partition exchange:\n$p")
  }

  test("all 22 TPC-H plans match their pinned shape: joins, scans, top-k, partial aggs") {
    // The q6/q19/q3 spot checks generalized: every TPC-H key's physical
    // plan is pinned to its expected operator shape. (bhj, smj, top,
    // semi, anti) are EXACT — more shuffle joins means a dim stopped
    // broadcasting; fewer means a fact silently slipped under the
    // broadcast threshold (fine at sf0.001, fatal at scale — the
    // fact-fact pairs are planned shuffled BY CONSTRUCTION via the
    // size guard, so the count is scale-representative). Per-table
    // scan counts are exact too: a disjunction or self-comparison
    // fanning into extra scans is the classic silent plan regression.
    // CartesianProduct is banned outright; BroadcastNestedLoopJoin is
    // allowed only where a 1-row scalar aggregate joins back (q11's
    // HAVING threshold, q22's average balance).
    final case class Shape(bhj: Int, smj: Int, top: Int, semi: Int,
                           anti: Int, bnlj: Int, scans: Map[String, Int])
    val shapes = Map(
      "q1_pricing_summary"     -> Shape(0, 0, 0, 0, 0, 0, Map("lineitem" -> 1)),
      "q2_min_cost_supplier"   -> Shape(6, 3, 1, 0, 0, 0, Map("lineitem" -> 2, "supplier" -> 2, "part" -> 2, "nation" -> 2, "region" -> 2)),
      "q3_top_unshipped"       -> Shape(2, 0, 1, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1)),
      "q4_priority_exists"     -> Shape(1, 0, 0, 1, 0, 0, Map("lineitem" -> 1, "orders" -> 1)),
      "q5_region_volume"       -> Shape(5, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1, "supplier" -> 1, "nation" -> 1, "region" -> 1)),
      "q6_forecast_revenue"    -> Shape(0, 0, 0, 0, 0, 0, Map("lineitem" -> 1)),
      "q7_nation_volume"       -> Shape(5, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1, "supplier" -> 1, "nation" -> 2)),
      "q8_market_share"        -> Shape(6, 1, 0, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1, "supplier" -> 1, "part" -> 1, "nation" -> 2, "region" -> 1)),
      "q9_profit_by_nation"    -> Shape(4, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "supplier" -> 1, "part" -> 1, "nation" -> 1)),
      "q10_returned_revenue"   -> Shape(3, 0, 1, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1, "nation" -> 1)),
      "q11_important_parts"    -> Shape(0, 0, 0, 0, 0, 1, Map("lineitem" -> 2)),
      "q12_late_shipments"     -> Shape(1, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1)),
      "q13_order_distribution" -> Shape(1, 0, 0, 0, 0, 0, Map("orders" -> 1, "customer" -> 1)),
      "q14_promo_share"        -> Shape(1, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "part" -> 1)),
      "q15_top_supplier"       -> Shape(2, 0, 0, 0, 0, 0, Map("lineitem" -> 2, "supplier" -> 1)),
      "q16_supplier_variety"   -> Shape(2, 0, 0, 0, 1, 0, Map("lineitem" -> 1, "supplier" -> 1, "part" -> 1)),
      "q17_small_qty_revenue"  -> Shape(2, 1, 0, 0, 0, 0, Map("lineitem" -> 2, "part" -> 2)),
      "q18_large_orders"       -> Shape(2, 0, 1, 0, 0, 0, Map("lineitem" -> 1, "orders" -> 1, "customer" -> 1)),
      "q19_discounted_revenue" -> Shape(1, 0, 0, 0, 0, 0, Map("lineitem" -> 1, "part" -> 1)),
      "q20_dominant_suppliers" -> Shape(3, 2, 0, 1, 0, 0, Map("lineitem" -> 2, "supplier" -> 1, "part" -> 2, "nation" -> 1)),
      "q21_waiting_suppliers"  -> Shape(3, 1, 1, 0, 0, 0, Map("lineitem" -> 2, "orders" -> 2, "supplier" -> 1)),
      "q22_untapped_customers" -> Shape(1, 0, 0, 0, 1, 1, Map("orders" -> 1, "customer" -> 2)))
    val allTables = Seq("lineitem", "orders", "customer", "supplier",
                        "part", "nation", "region")
    val problems = shapes.toSeq.sortBy(_._1).flatMap { case (name, want) =>
      val lines = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString.linesIterator.toSeq
      def c(pat: String) = lines.count(_.contains(pat))
      val got = Shape(c("BroadcastHashJoin"), c("SortMergeJoin") + c("ShuffledHashJoin"),
        c("TakeOrderedAndProject"), c("LeftSemi"), c("LeftAnti"),
        c("BroadcastNestedLoopJoin"),
        allTables.map(t => t -> lines.count(l =>
          l.contains("Scan parquet") && l.contains(s"/$t"))).filter(_._2 > 0).toMap)
      val errs = Seq(
        (got.bhj != want.bhj) -> s"broadcast joins ${got.bhj} != ${want.bhj}",
        (got.smj != want.smj) -> s"shuffle joins ${got.smj} != ${want.smj}",
        (got.top != want.top) -> s"TakeOrderedAndProject ${got.top} != ${want.top}",
        (got.semi != want.semi) -> s"semi joins ${got.semi} != ${want.semi}",
        (got.anti != want.anti) -> s"anti joins ${got.anti} != ${want.anti}",
        (got.bnlj != want.bnlj) -> s"nested-loop joins ${got.bnlj} != ${want.bnlj}",
        (c("CartesianProduct") != 0) -> "CartesianProduct present",
        (got.scans != want.scans) -> s"scan counts ${got.scans} != ${want.scans}",
        (c("partial_") == 0) -> "no map-side partial aggregation")
        .collect { case (true, msg) => msg }
      if (errs.nonEmpty) Some(s"$name: ${errs.mkString("; ")}") else None
    }
    graft.Caches.clear()
    assert(problems.isEmpty, s"TPC-H plan shapes drifted:\n${problems.mkString("\n")}")
  }

  test("events loader preserves predicate pushdown under the ns-timestamp rewrite") {
    val p = plan(Tables.events(spark, sf).filter(col("event_type") === "purchase")
      .select("event_id", "user_id"))
    assert(p.contains("PushedFilters: [IsNotNull(event_type), EqualTo(event_type,purchase)]"),
      s"event_type filter not pushed:\n$p")
  }

  test("FuseSetOverlap: paired intersect/union sizes fuse to one kernel, lone ones stay builtin") {
    // parquet-backed input, or ConvertToLocalRelation folds the probe away
    val base = Tables.documents(spark, sf).select(
      col("doc_id"),
      split(col("text"), " ").as("x"),
      split(reverse(col("text")), " ").as("y"))
    // the classic user-written Jaccard shape — both builtins over one pair
    val fused = base.select(
      col("doc_id"), col("x"), col("y"),
      size(array_intersect(col("x"), col("y"))).as("i"),
      size(array_union(col("x"), col("y"))).as("u"))
    val op = fused.queryExecution.optimizedPlan.toString
    assert(op.contains("graft_set_overlap"), s"kernel absent:\n$op")
    assert(!op.contains("array_intersect") && !op.contains("array_union"),
      s"builtin road survived the fusion:\n$op")
    // values identical to a driver-side distinct-set recompute
    fused.collect().foreach { r =>
      val (a, b) = (r.getSeq[String](1).toSet, r.getSeq[String](2).toSet)
      assert(r.getInt(3) == (a & b).size && r.getInt(4) == (a | b).size,
        s"fused counts drifted for doc ${r.getLong(0)}")
    }
    // a lone intersect has no second set build to save — no rewrite
    val lone = base.select(size(array_intersect(col("x"), col("y"))).as("i"))
    val lp = lone.queryExecution.optimizedPlan.toString
    assert(!lp.contains("graft_set_overlap") && lp.contains("array_intersect"),
      s"lone intersect should stay builtin:\n$lp")
    // SQL road fuses identically
    base.createOrReplaceTempView("fuse_probe")
    val sqlRoad = spark.sql(
      """SELECT size(array_intersect(x, y)) AS i, size(array_union(x, y)) AS u
         FROM fuse_probe""")
    assert(sqlRoad.queryExecution.optimizedPlan.toString.contains("graft_set_overlap"))
  }

  test("pagerank round: exactly ONE corpus-scale Exchange (the groupBy(dst)) under the no-broadcast regime") {
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, BroadcastExchangeExec}
    import graft.operators.GraphOps
    // Corpus-scale regime: at 100 TB neither ranks nor edges broadcast,
    // and AQE's local-read rewrites (a small-scale artifact) would hide
    // the partitioning the round is designed to carry.
    try Caches.staticRounds(spark) {
      val (nodes, edgesDeg) = GraphOps.pageRankInputs(spark, sf)
      val ranks0 = Caches.roundCheckpoint(
        nodes.select(col("node"), lit(1000000000000L).as("rank")), reliable = false)
      // the checkpointed round CARRIES hash(node) through the LogicalRDD —
      // the property that lets every later round skip re-exchanging ranks
      ranks0.queryExecution.optimizedPlan match {
        case lr: org.apache.spark.sql.execution.LogicalRDD =>
          assert(lr.outputPartitioning.toString.contains("hashpartitioning(node"),
            s"round checkpoint lost its partitioning: ${lr.outputPartitioning}")
        case other => fail(s"checkpointed round is not a LogicalRDD: ${other.getClass}")
      }
      val round = GraphOps.pageRankRound(edgesDeg, nodes, ranks0, 150000000000L)
      val exec = round.queryExecution.executedPlan
      // tree traversal stops at InMemoryTableScan leaves, so these are
      // the ROUND's exchanges only — cache-build shuffles don't count
      val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
      assert(shuffles.size == 1,
        s"pagerank round must cost exactly one shuffle, got ${shuffles.size}:\n$exec")
      assert(shuffles.head.outputPartitioning.toString.contains("dst"),
        s"the round's one shuffle must be the groupBy(dst): ${shuffles.head.outputPartitioning}")
      val bcasts = exec.collect { case b: BroadcastExchangeExec => b }
      assert(bcasts.isEmpty, s"nothing may broadcast at corpus scale:\n$exec")
    } finally Caches.clear()
  }

  test("label-prop and kcore rounds: exactly ONE corpus-scale Exchange each under the no-broadcast regime") {
    import org.apache.spark.sql.execution.exchange.{ShuffleExchangeExec, BroadcastExchangeExec}
    import graft.operators.GraphOps
    val conf = spark.conf
    try Caches.staticRounds(spark) {
      def shape(df: DataFrame, want: String, label: String): Unit = {
        val exec = df.queryExecution.executedPlan
        val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.size == 1,
          s"$label round must cost exactly one shuffle, got ${shuffles.size}:\n$exec")
        assert(shuffles.head.outputPartitioning.toString.contains(want),
          s"$label's one shuffle must key on $want: ${shuffles.head.outputPartitioning}")
        assert(exec.collect { case b: BroadcastExchangeExec => b }.isEmpty,
          s"$label: nothing may broadcast at corpus scale:\n$exec")
      }
      val (sym, nodes) = GraphOps.labelPropInputs(spark, sf)
      // round-0 init exactly as labelPropagation builds it: the
      // single-column checkpoint carries an unambiguous hash(node)
      val labels0 = Caches.roundCheckpoint(nodes, reliable = false)
        .select(col("node"), col("node").as("label"))
      shape(GraphOps.labelPropRound(sym, nodes, labels0), "dst", "label-prop")

      // DELTA round (r19, opt-in): in the natural regime the
      // affected-set restriction must be a BROADCAST semi-join (the
      // frontier is small by the switch condition) and the round may
      // add at most two frontier-scale shuffles (changed→sym semi,
      // affected distinct) on top of the one vote repartition(dst) —
      // never a second corpus-scale exchange of the edge list.
      {
        val prevAutoB = conf.get("spark.sql.autoBroadcastJoinThreshold")
        conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
        try {
          val labels0 = Caches.roundCheckpoint(nodes, reliable = false)
            .select(col("node"), col("node").as("label"))
          val changedSmall = nodes.limit(5).select("node")
          val exec = GraphOps.labelPropRoundDelta(sym, labels0, changedSmall)
            .queryExecution.executedPlan
          val shuffles = exec.collect { case e: ShuffleExchangeExec => e }
          val bcasts = exec.collect { case b: BroadcastExchangeExec => b }
          assert(bcasts.nonEmpty,
            s"delta round: the affected-set restriction must broadcast:\n$exec")
          assert(shuffles.size <= 3,
            s"delta round: at most 3 shuffles (votes-on-dst + 2 frontier-scale), got ${shuffles.size}:\n$exec")
          assert(shuffles.exists(_.outputPartitioning.toString.contains("dst")),
            s"delta round: the vote repartition on dst must survive:\n$exec")
        } finally conf.set("spark.sql.autoBroadcastJoinThreshold", prevAutoB)
      }

      val edges = Caches.cached(graft.operators.GraphOps.copurchaseEdges(spark, sf))
      val ksym = Caches.cached(
        edges.select(col("a").as("src"), col("b").as("dst"))
          .union(edges.select(col("b").as("src"), col("a").as("dst")))
          .repartition(col("dst")))
      val alive0 = Caches.roundCheckpoint(
        ksym.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_degree"))
          .filter(col("core_degree") >= 3), reliable = false)
      shape(GraphOps.kcoreRound(ksym, alive0, 3), "src", "kcore")
    } finally Caches.clear()
  }

  test("attribution: ONE fused Window; denominator rides the cached rollup, not a second events pass") {
    try {
      // The credit log plans exactly ONE Window operator: pre-r21 the
      // two last() withColumns carried an intervening Project that
      // blocked CollapseWindow, so the plan walked the same user frame
      // twice (two Window ops over one sort).
      val events = graft.Tables.events(spark, sf)
        .filter(col("event_type").isin("view", "click", "purchase"))
        .select(col("user_id"), col("event_id"), col("ts_ns"), col("event_type"),
                floor(col("value") * 100).cast("long").as("cents"))
      val pc = plan(Analytics.attributionCreditsOver(events, 7L * 86400L * 1000000000L))
      assert("Window ".r.findAllIn(pc).size == 1,
        s"credit log must plan exactly one fused Window operator:\n$pc")
      // The full key: the per-channel rollup is cached and BOTH the
      // report and the share denominator read it — pre-r21 the
      // denominator was a separate count over the credit frame, which
      // re-ran the corpus-scale user sort + window (ReuseExchange never
      // fires across the two differently-pruned subtrees). The final
      // plan must show the two InMemoryTableScans and NO Window or
      // events scan outside the cached subtree.
      val p = plan(Analytics.attributionLastTouch(spark, sf))
      assert("InMemoryTableScan".r.findAllIn(p).size == 2,
        s"report + denominator must both read the cached rollup:\n$p")
    } finally Caches.clear()
  }
}
