package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions

/** Approximate-nearest-neighbor search over the `embeddings` corpus
  * (SURVEY.md §2 "Similarity search"). The reference has no vector
  * surface; this is part of the engine-superset for LLM-data
  * pipelines.
  *
  * Probe set: a deterministic 2% sample (`vec_id % 100 < 2`) standing
  * in for an external query batch — always broadcast, never shuffled.
  *
  * Scale design (SURVEY.md §4):
  * - brute force scores the corpus against the broadcast probe set in
  *   the scan stage (no shuffle of embeddings); only scored
  *   (probe_id, vec_id, score) triples — 24 bytes each — shuffle into
  *   the per-probe top-k window.
  * - the LSH path buckets the corpus by an `nBits` random-hyperplane
  *   signature (one long per vector); the probe side explodes into its
  *   own bucket plus all hamming-1 neighbors (multi-probe, recall ↑),
  *   so the big side still shuffles nothing but (bucket, id, vec) for
  *   bucket-matched candidates — a O(n / 2^nBits · probes) slice of
  *   the corpus, never the n² cross product.
  */
object Similarity {

  /** Session conf key capping [[knnGraph]]'s corpus broadcast (bytes
    * or a "512m"-style size string). Default 1 GiB: comfortably above
    * any corpus the exact-all-pairs contract is meant for (~10⁵
    * vectors × KB each) and comfortably below where a broadcast kills
    * the driver — past it, [[knnGraphIvf]] is the path.
    */
  val KnnBroadcastLimitKey = "spark.graft.knnBroadcastLimit"
  val KnnBroadcastLimitDefault = "1g"

  /** THE probe-batch predicate: every ANN tier and the recall
    * comparisons against the exact baseline select probes through this
    * one definition — a drifted copy would silently score different
    * probe sets across tiers.
    */
  private def probeBatch(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") % 100 < 2)

  /** Deterministic probe subset — stands in for a query batch. */
  private def probes(emb: DataFrame): DataFrame =
    probeBatch(emb)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"))

  /** The canonical probe batch as (probe_id, probe_emb) rows — exposed
    * so StreamingSpec feeds the SAME probe set through MemoryStream
    * instead of copying the [[probeBatch]] predicate (the drift hazard
    * that definition exists to prevent).
    */
  private[graft] def probeBatchOf(s: SparkSession, dir: String): DataFrame =
    probes(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** Exact cosine — the codegen'd Catalyst expression
    * ([[graft.functions.CosineSim]]) — scored as floor(1e6·cos)
    * BIGINT: deterministic across partitionings (each dot product is
    * one fused row-local loop), integer output for stable rows-only
    * checks and tests.
    */
  private def scoreX1e6(a: Column, b: Column): Column =
    floor(call_function("graft_cosine", a, b) * 1e6).cast("long")

  /** THE top-k step: every ANN tier re-ranks its candidates through
    * this one definition, and the DuckDB oracles replay the same rule.
    * Per `by` group it ranks on (`score` desc, `neighbor_id` asc),
    * keeps the first `k` rows and selects (`by`, rank, neighbor_id,
    * `keep`…, `score`). One definition because [[annRecallReport]]
    * compares the tiers' (probe, neighbor) rows against brute force:
    * a drifted tie-break would move recall with no index change. No
    * final sort — batch callers order by (`by`, rank) themselves and
    * the streaming probe emits unordered.
    */
  private[graft] def topK(scored: DataFrame, by: String, score: String, k: Int,
                          keep: String*): DataFrame =
    scored
      .withColumn("rank", row_number().over(
        Window.partitionBy(by).orderBy(col(score).desc, col("neighbor_id"))))
      .filter(col("rank") <= k)
      .select(by, ("rank" +: "neighbor_id" +: keep :+ score): _*)

  /** The IVF centroid table (cell, centroid): what probes rank cells
    * against, and the `ivf_centroids` leaf of the serving index.
    */
  private def centroidFrame(s: SparkSession, centroids: Array[Array[Float]]): DataFrame =
    s.createDataFrame(centroids.toSeq.zipWithIndex.map { case (c, i) => (i, c) })
      .toDF("cell", "centroid")

  /** THE IVF cell ranking: `probes` (probe_id, probe_emb, any carried
    * columns) × the broadcast `centers`, each probe's cells ranked by
    * (centroid cosine desc, cell asc) into `cell_rank`. Every
    * window-ranked IVF tier probes through it, so the batch, filtered,
    * PQ and streaming tiers cannot pick different cells.
    */
  private def rankedCells(probes: DataFrame, centers: DataFrame): DataFrame =
    probes.crossJoin(broadcast(centers))
      .select(probes.columns.toSeq.map(col) :+ col("cell") :+
              scoreX1e6(col("probe_emb"), col("centroid")).as("cell_sim"): _*)
      .withColumn("cell_rank", row_number().over(
        Window.partitionBy("probe_id").orderBy(col("cell_sim").desc, col("cell"))))

  /** THE IVF search body: each probe keeps its `nProbeCells` best cells
    * ([[rankedCells]]), ONE broadcast (cell)-keyed equi-join pairs it
    * with those cells' `postings` (cell, vec_id, …), each candidate is
    * scored as `score` by `scoreOf`, and [[topK]] re-ranks. No
    * distinct(): cells partition the corpus, so a (probe, neighbor)
    * pair can only arise once — unlike LSH bands. [[annIvfTopK]] runs
    * it over the in-memory assignment, [[annIvfPqTopK]] over PQ codes
    * and the streaming probe over the persisted serving index.
    */
  private[graft] def ivfSearch(probes: DataFrame, centers: DataFrame, postings: DataFrame,
                               k: Int, nProbeCells: Int, score: String = "cosine_x1e6",
                               scoreOf: Column = scoreX1e6(col("probe_emb"), col("embedding"))
                              ): DataFrame = {
    val probeCells = rankedCells(probes, centers)
      .filter(col("cell_rank") <= nProbeCells)
      .select("probe_id", "probe_emb", "cell")
    topK(postings
        .join(broadcast(probeCells), Seq("cell"))
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id").as("neighbor_id"), scoreOf.as(score)),
      "probe_id", score, k)
  }

  /** Baseline: exact cosine top-k per probe. Corpus scanned once;
    * probe set broadcast; per-probe ranking by (score desc, vec_id)
    * for full determinism.
    */
  def annBruteforceTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
    val scored = emb
      .join(broadcast(probes(emb)), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
              scoreX1e6(col("probe_emb"), col("embedding")).as("cosine_x1e6"))
    topK(scored, "probe_id", "cosine_x1e6", k).orderBy("probe_id", "rank")
  }

  /** Attribute-FILTERED vector search: per probe, exact cosine top-k
    * among corpus vectors sharing the probe's `label` — the
    * metadata-predicate + ANN serving shape ("nearest docs in MY
    * language/collection"). The filter is applied BEFORE scoring
    * (pre-filtering): post-filtering a plain top-k silently loses
    * recall whenever fewer than k of the unfiltered neighbors match
    * the predicate, and a selective predicate makes the pre-filtered
    * exact scan CHEAPER than unfiltered ANN — the corpus join
    * condition (label match) prunes candidates row-locally off the
    * broadcast probe table, so only matching rows are scored at all.
    * At 100 TB the same plan rides an IVF index per label partition
    * (cell lists stored label-segmented); here the label equi-join is
    * the partition. Output schema extends [[annBruteforceTopK]] with
    * the label so recall against it is directly measurable per
    * stratum.
    */
  def annFilteredTopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = Tables.requireLabel(Tables.embeddings(s, dir))
    val p = probeBatch(emb)
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
              col("label").as("probe_label"))
    val scored = emb
      .join(broadcast(p), col("label") === col("probe_label") &&
            col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("label"),
              scoreX1e6(col("probe_emb"), col("embedding")).as("cosine_x1e6"))
    topK(scored, "probe_id", "cosine_x1e6", k, "label").orderBy("probe_id", "rank")
  }

  /** Label-segmented IVF — the 100 TB serving form [[annFilteredTopK]]'s
    * own doc names: the inverted lists are keyed (cell, label), so a
    * filtered probe reads ONLY its probed cells' slice of its own
    * label stratum and scores nothing else. Composes the existing IVF
    * machinery ([[ivfAssigned]] — shared memoized quantizer, trained
    * label-blind on the full corpus exactly like the unfiltered tier)
    * with the label predicate IN THE JOIN KEY: the broadcast-hash
    * probe join matches on (cell, label), which is the Spark plan of
    * a segmented-list read — candidates outside the probe's stratum
    * are rejected at the hash lookup, before any cosine runs.
    *
    * Pre-filtering, like the exact tier: post-filtering an unfiltered
    * top-k loses recall whenever < k unfiltered neighbors share the
    * label. Approximate by contract (cell pruning) yet HASH-VERIFIED
    * since r16 — the oracle replays the default stratum-aware dial
    * deterministically. Recall vs
    * [[annFilteredTopK]] ≈ the probed fraction on the adversarially
    * near-uniform test corpus; SimilaritySpec floors it and pins
    * full-probe equality (nProbeCells = nCells reproduces the exact
    * filtered result bit-for-bit — the segmentation itself loses
    * nothing, only cell pruning does).
    *
    * The default dial is STRATUM-AWARE (nProbeCells <= 0): a label
    * stratum's per-cell lists are 1/|labels| as dense as the
    * unfiltered corpus, so a FIXED nprobe prices recall differently
    * per stratum — sparse strata scatter their true top-k across more
    * cells. Instead each probe walks its ranked cells (centroid
    * similarity desc) and keeps them until the cells already kept
    * cover `coverageX1000/1000` of its OWN stratum's rows: the
    * (cell, label) occupancy table is a bounded aggregate (≤
    * nCells·|labels| rows, broadcast — segmented-list METADATA a real
    * deployment keeps anyway), the walk is one window cumsum, and
    * cells with zero stratum mass are never probed at all. On the
    * adversarially-uniform corpus expected recall ≈ the covered
    * fraction (0.9 default → spec floor 0.85); clustered corpora
    * reach the same coverage in far fewer cells. A positive
    * `nProbeCells` forces the classic fixed dial (the allprobe
    * identity key passes nCells).
    *
    * Output schema matches [[annFilteredTopK]] so per-stratum recall
    * is directly measurable.
    */
  def annFilteredIvf(s: SparkSession, dir: String, k: Int = 10,
                     nCells: Int = 16, nProbeCells: Int = 0,
                     coverageX1000: Int = 900): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    require(nProbeCells > 0 || (coverageX1000 >= 1 && coverageX1000 <= 1000),
      s"coverageX1000 $coverageX1000 must be in [1, 1000]")
    val emb = graft.Caches.cached(
      Tables.requireLabel(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("embedding"), col("label")))
    val (assigned0, centroids) = ivfAssigned(emb, nCells, dir)
    // adaptive probing reads the assignment twice (occupancy +
    // candidates) — one shared scan
    val assigned = if (nProbeCells > 0) assigned0 else graft.Caches.cached(assigned0)
    val ranked = rankedCells(
      probeBatch(emb).select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
                             col("label").as("probe_label")),
      centroidFrame(s, centroids))
    val probeCells = (if (nProbeCells > 0)
        ranked.filter(col("cell_rank") <= nProbeCells)
      else {
        val occ = assigned.groupBy(col("cell").as("o_cell"), col("label").as("o_label"))
          .agg(count(lit(1)).as("occ"))
        val cumBefore = Window.partitionBy("probe_id").orderBy("cell_rank")
          .rowsBetween(Window.unboundedPreceding, -1)
        val stratumTotal = Window.partitionBy("probe_id")
        ranked
          // inner join: a cell holding none of the probe's stratum is
          // never probed (it could contribute no candidate)
          .join(broadcast(occ),
                col("cell") === col("o_cell") && col("probe_label") === col("o_label"))
          .withColumn("cum_before", coalesce(sum("occ").over(cumBefore), lit(0L)))
          .withColumn("stratum_n", sum("occ").over(stratumTotal))
          // keep cells while coverage-so-far < target: the first
          // EXCLUDED cell already has cum_before >= τ·stratum
          .filter(col("cum_before") * 1000 < col("stratum_n") * coverageX1000)
      })
      .select(col("probe_id"), col("probe_emb"), col("probe_label"),
              col("cell").as("p_cell"))
    // no distinct(): cells partition the corpus (see ivfSearch)
    val scored = assigned
      .join(broadcast(probeCells),
            col("cell") === col("p_cell") && col("label") === col("probe_label"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"), col("label"),
              scoreX1e6(col("probe_emb"), col("embedding")).as("cosine_x1e6"))
    topK(scored, "probe_id", "cosine_x1e6", k, "label").orderBy("probe_id", "rank")
  }

  /** Shared IVF coarse quantizer: graft's own Lloyd loop
    * ([[lloydFit]], deterministic lowest-vec_id seeding) — cell
    * assignment plus the centroid matrix. Centroids live on the driver
    * by construction (nCells × dim — trained model state, not data).
    * Backs [[annIvfTopK]], [[annFilteredIvf]], [[knnGraphIvf]] and
    * [[annIvfpqTopK]]. The fit is memoized for the session via
    * [[graft.Caches.model]] keyed on (dir, nCells): the seeded fit is
    * a pure function of the corpus, so reuse is bit-identical and
    * repeat invocations skip straight to the row-local assignment
    * stage (train-once, serve-many — the real index contract).
    * Assignment is the codegen'd `graft_kmeans_assign` with cell
    * indexes 0..nCells-1 standing in for the Lloyd cluster ids.
    *
    * Seeding is maxmin ([[maxminSeeds]]), and that choice is about
    * SCALE, not recall: the fit converges to near-uniform cell
    * occupancy (measured 21-41 per cell at k=16 on the test corpus,
    * where the previous MLlib k-means|| fit gave 1-60), so the
    * (cell,)-keyed candidate shuffle has no hot partitions and a
    * probed cell's cost is predictable — at a fixed probe fraction a
    * SKEWED quantizer actually scores higher recall (its giant cells
    * cover more mass per probe) but pays for it with exactly the
    * skew that kills distributed scans; the probe dials price the
    * difference explicitly instead.
    */
  private def ivfAssigned(emb: DataFrame, nCells: Int,
                          dir: String): (DataFrame, Array[Array[Float]]) = {
    GraftFunctions.ensureRegistered(emb.sparkSession)
    val m = ivfModel(emb, nCells, dir)
    // withColumn, not select: pass-through columns (e.g. the label a
    // segmented index keeps alongside each posting) survive assignment
    val assigned = emb.withColumn("cell",
      call_function("graft_kmeans_assign", col("embedding"),
        typedLit(m.cids.indices.map(_.toLong)),
        typedLit(m.assignCents)).cast("int"))
    (assigned, m.rankCents.map(_.toArray).toArray)
  }

  /** The substrate-persisted IVF SERVING index: cell-assigned corpus
    * postings (cell, vec_id, embedding) plus the bounded centroid
    * table — the two artifacts an online vector-search service loads
    * at startup, written once per (corpus, nCells). Deterministic by
    * the quantizer contract (memoized maxmin-seeded [[lloydFit]], all
    * integral), so the leaf bytes are a pure function of the key and
    * a parquet round-trip of float embeddings is bit-exact — which is
    * what lets [[streamAnnProbe]] stay hash-equal to [[annIvfTopK]].
    */
  private[graft] def ivfIndexArtifacts(s: SparkSession, dir: String,
                                       nCells: Int = 16): (String, String) = {
    val realDir = graft.Substrate.canonicalDir(s, dir)
    def emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val cellsPath = graft.Substrate.materialized(
      s, "ivf_cells", realDir, Seq(nCells)) {
      ivfAssigned(emb, nCells, dir)._1
        .select(col("cell"), col("vec_id"), col("embedding"))
    }
    val centroidsPath = graft.Substrate.materialized(
      s, "ivf_centroids", realDir, Seq(nCells)) {
      centroidFrame(s, ivfAssigned(emb, nCells, dir)._2)
    }
    (cellsPath, centroidsPath)
  }

  /** SURVEY §2 `stream_ann_probe`: ONLINE vector search — the ANN
    * family's streaming member, completing the persisted-index pattern
    * the dedup family has (`stream_dedup_persisted` /
    * `stream_dedup_minhash`): arriving query vectors probe the
    * substrate-persisted IVF index ([[ivfIndexArtifacts]]) per
    * micro-batch via
    * [[graft.streaming.EventStreams.annProbePersisted]]. This
    * registered twin runs the SAME per-batch transform over the
    * canonical deterministic probe batch, so the stream is
    * hash-verifiable: output is bit-equal to [[annIvfTopK]] at the
    * same dial (both run [[ivfSearch]] — only where the index bytes
    * come from differs), and the key shares its quantizer-literal
    * oracle. StreamingSpec proves
    * foreachBatch over micro-batch splits == this twin.
    */
  def streamAnnProbe(s: SparkSession, dir: String, k: Int = 10,
                     nCells: Int = 16, nProbeCells: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val (cellsPath, centroidsPath) = ivfIndexArtifacts(s, dir, nCells)
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    graft.streaming.EventStreams.annProbePersisted(
        probes(emb), cellsPath, centroidsPath, k, nProbeCells)
      .orderBy("probe_id", "rank")
  }

  /** Scale path #2: IVF (inverted-file) ANN — the partition-based
    * alternative to LSH bucketing. A k-means coarse quantizer
    * (MLlib, fixed seed) assigns every corpus vector to exactly ONE
    * of `nCells` cells; a probe searches only its `nProbeCells`
    * closest cells (by cosine to the centroid) and re-ranks
    * exhaustively inside them.
    *
    * Why both this and [[annLshTopK]]: IVF cells PARTITION the corpus
    * (no per-band duplication, no `distinct()` over candidates —
    * each neighbor can arrive at a probe once), adapt to the data's
    * actual cluster structure, and make the recall/cost dial explicit
    * (`nProbeCells / nCells` of the corpus scored per probe). The
    * price is a training pass; at 100 TB the quantizer trains on a
    * sample and the assignment is one row-local map stage — the
    * centroid table (nCells × dim floats) is broadcast-sized by
    * construction, and only (probe, cell)-matched candidates shuffle,
    * never the full corpus.
    *
    * Output schema matches [[annBruteforceTopK]] so recall is
    * directly measurable (SimilaritySpec asserts it at the defaults,
    * and that probing EVERY cell reproduces brute force exactly).
    *
    * The recall of any partition-based ANN is data-dependent: on a
    * clustered corpus a few cells hold each probe's true neighbors
    * and a small `nProbeCells` suffices; the synthetic test
    * embeddings are near-uniform (the adversarial case — true top-k
    * scatter across cells ~uniformly), where recall ≈ the probed
    * fraction. The default 8/16 measures 0.80-0.86 on the test
    * corpora; production corpora with real cluster structure run far
    * tighter dials (nProbeCells ≪ nCells).
    */
  def annIvfTopK(s: SparkSession, dir: String, k: Int = 10,
                 nCells: Int = 16, nProbeCells: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = graft.Caches.cached(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
    val (assigned, centroids) = ivfAssigned(emb, nCells, dir)
    ivfSearch(probes(emb), centroidFrame(s, centroids), assigned, k, nProbeCells)
      .orderBy("probe_id", "rank")
  }

  /** Exact k-nearest-neighbor GRAPH: every corpus vector gets its k
    * nearest others by cosine — the all-pairs generalization of
    * [[annBruteforceTopK]] (whose probes are a 2% sample). The kNN
    * graph is the backbone structure for semantic-dedup clustering,
    * graph-based label propagation, and diversity sampling over a
    * training corpus.
    *
    * Shape: one side of the self-comparison is broadcast, the scored
    * (id, neighbor, score) triples flow through a partial-top-k window
    * (WindowGroupLimit map-side prune — at most k·partitions rows per
    * vector reach the exchange). Exact all-pairs is O(n²) BY CONTRACT —
    * right as the oracle-checked baseline and for corpus shards up to
    * ~10⁵ vectors (the broadcast side: n·dim floats). At 100 TB the
    * same output shape comes from the candidate generators this file
    * already has: IVF cells ([[annIvfTopK]] — score within cells only)
    * or banded SRP-LSH ([[annLshTopK]]) with per-vector probing, each
    * trading the n² term for a recall dial.
    */
  def knnGraph(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
    val corpus = emb.select(col("vec_id").as("neighbor_id"), col("embedding").as("n_emb"))
    // The O(n²)-by-contract guard made LOUD: nothing else stops a user
    // pointing this at 10⁸ vectors, and the corpus broadcast collapses
    // (driver collect + per-executor copy) long before the n² compute
    // does. The optimizer's own size estimate for the corpus subplan
    // (parquet footer sizes, same machinery as Hints.maybeBroadcast)
    // is checked against a hard limit — crossing it is a REQUEST to
    // use the candidate-pruned path, not something to degrade around.
    val limit = Hints.parseBytes(
      s.conf.get(Similarity.KnnBroadcastLimitKey, Similarity.KnnBroadcastLimitDefault))
    // The plan estimate reflects COMPRESSED parquet bytes; the broadcast
    // materializes deserialized rows at a small multiple of that. A 4x
    // expansion factor (float arrays decode near 1:1, but row/object
    // headers and the driver+executor copies stack) keeps the guard on
    // the protective side of the limit it advertises.
    val est = corpus.queryExecution.optimizedPlan.stats.sizeInBytes * 4
    require(est <= limit,
      s"knn_graph broadcasts the ENTIRE embedding corpus (~$est bytes deserialized, " +
      s"4x the plan estimate, > limit $limit from ${Similarity.KnnBroadcastLimitKey}): " +
      "exact all-pairs is " +
      "O(n²) by contract and corpus-broadcast-bound — use knnGraphIvf " +
      "(knn_graph_ivf), which prunes candidates by IVF cell and never broadcasts the corpus")
    val scored = emb.join(broadcast(corpus), col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"),
              scoreX1e6(col("embedding"), col("n_emb")).as("cosine_x1e6"))
    topK(scored, "vec_id", "cosine_x1e6", k).orderBy("vec_id", "rank")
  }

  /** The kNN graph over IVF candidates — the 100 TB path [[knnGraph]]'s
    * contract points at, made concrete. EVERY vector is a probe, so the
    * broadcast-probe trick is unavailable; instead:
    *
    * 1. the coarse quantizer assigns each vector to its cell (row-local
    *    map after a sample-trained k-means);
    * 2. each vector picks its `nProbeCells` nearest cells ROW-LOCALLY —
    *    the centroid matrix is a literal in the plan (driver-side model
    *    state, nCells × dim), ranked with an `array_sort(transform(...))`
    *    over it: no window, no shuffle for cell selection;
    * 3. ONE shuffled join on the cell key pairs probes with cell
    *    members; exact cosine scores within cells, partial-top-k
    *    window per probe.
    *
    * Shuffle volume is n·(1 + nProbeCells) embedding rows vs the exact
    * graph's n-row broadcast replicated to every task (which stops
    * fitting in memory at ~10⁵ vectors); compute is the probed
    * fraction (~nProbeCells/nCells) of n². Cells partition the corpus,
    * so a (probe, neighbor) pair arises at most once — no distinct().
    * At 100 TB `nCells` grows ~√n (cells stay executor-sized, the
    * centroid literal stays KB-MB), and cell-size skew is the k-means
    * balance — AQE's skew-join split handles a hot cell. Recall is the
    * probed fraction on adversarially-uniform vectors, far higher on
    * clustered corpora (SimilaritySpec measures both this dial and
    * exact agreement when probing all cells).
    */
  def knnGraphIvf(s: SparkSession, dir: String, k: Int = 5,
                  nCells: Int = 16, nProbeCells: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = graft.Caches.cached(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
    val (assigned0, centroids) = ivfAssigned(emb, nCells, dir)
    // Referenced twice (probe side, corpus side) — one shared scan.
    val assigned = graft.Caches.cached(assigned0)
    val centroidLit = typedLit(centroids.map(_.toSeq).toSeq)
    // (-sim, cell) structs sort ascending == (sim desc, cell asc):
    // deterministic cell ranking without a window.
    val rankedCells = array_sort(transform(centroidLit, (c, i) =>
      struct((-call_function("graft_cosine", col("embedding"), c)).as("neg_sim"),
             i.as("cell"))))
    val probeSide = assigned
      .select(col("vec_id").as("probe_id"), col("embedding").as("probe_emb"),
              explode(slice(rankedCells, 1, nProbeCells)).as("pc"))
      .select(col("probe_id"), col("probe_emb"), col("pc.cell").as("cell"))
    // post-rename: vec_id IS the probe, neighbor_id the cell member
    val scored = assigned.join(probeSide, Seq("cell"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id").as("vec_id"), col("vec_id").as("neighbor_id"),
              scoreX1e6(col("probe_emb"), col("embedding")).as("cosine_x1e6"))
    topK(scored, "vec_id", "cosine_x1e6", k).orderBy("vec_id", "rank")
  }

  /** Product-quantization ANN — the MEMORY tier of the family:
    * [[embeddingQuantize]] cuts 4× per vector, PQ cuts d·4 float bytes
    * to `nSub` small codes (64-dim float → 16 one-byte codes at the
    * defaults, 16×) by splitting each vector into `nSub`
    * subvectors and snapping each to its nearest of `nCodes`
    * per-subspace centroids; search scores probes against the
    * RECONSTRUCTED (decoded) vectors — asymmetric distance
    * computation, the FAISS `IndexPQ` shape — so the original corpus
    * embeddings are never touched after indexing. The default dial is
    * PQ16x8 (16 subspaces × 256 codes — the standard FAISS budget;
    * the r15 16×64 dial measured 0.69 recall@10 on the near-uniform
    * synthetic corpus, and 8-bit codebooks at the same subspace count
    * lift it past 0.85 while keeping 16× compression); clustered
    * production embeddings run far better still at the same budget.
    *
    * Plan: `nSub` MLlib k-means fits train the codebooks (driver
    * model state, nSub·nCodes·subDim floats — KB-scale; at 100 TB the
    * fits run on a sample, the same contract as the IVF quantizer).
    * ENCODE is pure codegen: per subspace, an `aggregate`-HOF argmin
    * over the codebook literal (first-min index — deterministic), no
    * MLlib in the hot path, one row-local map over the corpus.
    * DECODE flattens codebook rows selected by the stored codes —
    * again a literal lookup, so candidate scoring reads 8-byte codes
    * plus a plan constant, never the embedding column. Probes are the
    * standard broadcast 2% sample; only (probe, neighbor, score)
    * triples shuffle into the per-probe top-k window.
    *
    * HASH-VERIFIED since r16: k-means is not SQL-expressible, but the
    * TRAINED codebooks are deterministic seeded model state, so the
    * oracle embeds them as literals and replays encode+ADC exactly
    * (SparkEntry's codebook-literal oracle — the [[annSq8TopK]] move
    * one level up). SimilaritySpec additionally asserts recall vs
    * brute force, the compression ratio, and that codes decode to the
    * centroid the encoder chose.
    */
  def annPqTopK(s: SparkSession, dir: String, k: Int = 10,
                nSub: Int = 16, nCodes: Int = 256, trainMod: Int = 1): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = graft.Caches.cached(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim must split into $nSub subspaces")
    // nSub independent subspace quantizers (seeded — the index is a
    // pure function of the corpus)
    // Codebooks are model state, not data — at 100 TB the fits run on
    // a deterministic 1/trainMod slice (the only non-row-local part of
    // the index build; needs ≳40·nCodes training points per subspace).
    // The tiny test corpora train on everything (trainMod=1). The nSub
    // fits are INDEPENDENT seeded jobs, so they submit concurrently —
    // each fit is deterministic on its own, and the scheduler overlap
    // cuts the training wall-clock ~nSub-fold on an idle cluster.
    // The 16 fitted codebooks are session-memoized ([[graft.Caches
    // .model]] keyed on (dir, hyperparameters)): the fits are seeded
    // (42+m), so a re-fit is bit-identical and repeat invocations
    // skip straight to the codegen'd encode — train-once/serve-many,
    // and the training cost (≈ all of this operator's wall time)
    // is paid once per session per corpus.
    val codebooks = pqCodebooks(emb, dim, nSub, nCodes, trainMod, dir)
    val cbLit = typedLit(codebooks) // array<array<array<float>>> plan literal
    // argmin_c L2²(sub_m, CB[m][c]) — the codegen'd PqEncode fused
    // loop (codebook bound as a plan constant); bit-compatible with
    // the (dist, idx) struct-sort HOF road, which SimilaritySpec
    // keeps as the equivalence oracle
    val encoded = graft.Caches.cached(emb.select(col("vec_id"),
      call_function("graft_pq_encode", col("embedding"), cbLit).as("codes")))
    val decoded = flatten(transform(sequence(lit(1), lit(nSub)),
      m => element_at(element_at(cbLit, m), element_at(col("codes"), m) + 1)))
    val scored = encoded
      .select(col("vec_id"), decoded.as("decoded"))
      .join(broadcast(probes(emb)), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
              scoreX1e6(col("probe_emb"), col("decoded")).as("adc_cosine_x1e6"))
    topK(scored, "probe_id", "adc_cosine_x1e6", k).orderBy("probe_id", "rank")
  }

  /** Shared PQ codebook training: `nSub` independent seeded MLlib
    * k-means fits over the subspace slices of a deterministic
    * 1/trainMod corpus sample, session-memoized via
    * [[graft.Caches.model]] on (dir, hyperparameters) — the
    * train-once/serve-many contract. Backs [[annPqTopK]] and
    * [[annIvfPqTopK]]; both share the memo key, so an IVF-PQ call
    * after a PQ call (or vice versa) pays zero additional training.
    */
  private def pqCodebooks(emb: DataFrame, dim: Int, nSub: Int, nCodes: Int,
                          trainMod: Int, dir: String): Seq[Seq[Seq[Float]]] = {
    val subDim = dim / nSub
    graft.Caches.model("pq_codebooks", dir, nSub, nCodes, trainMod) {
      val train = graft.Caches.cached(emb.filter(col("vec_id") % trainMod === 0))
      train.count() // materialize once before the concurrent fits share it
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      Await.result(
        Future.sequence((0 until nSub).map { m => Future {
          val sub = train.select(org.apache.spark.ml.functions.array_to_vector(
            slice(col("embedding"), m * subDim + 1, subDim)).as("features"))
          new org.apache.spark.ml.clustering.KMeans()
            .setK(nCodes).setSeed(42L + m).setMaxIter(5)
            .setFeaturesCol("features").setPredictionCol("code")
            .fit(sub).clusterCenters.map(_.toArray.map(_.toFloat).toSeq).toSeq
        }}),
        scala.concurrent.duration.Duration.Inf)
    }
  }

  /** The fitted IVF coarse quantizer exactly as the serving tiers see
    * it: `assignCents` are the micro/1e6 DOUBLES [[ivfAssigned]] hands
    * `graft_kmeans_assign` (the assignment arithmetic), `rankCents`
    * their FLOAT recast as staged in the broadcast centroid table (the
    * probe-side cell-ranking arithmetic — the cast matters: the oracle
    * must replay each stage with the same constants that stage read).
    */
  private[graft] final case class IvfModel(cids: Seq[Long],
                                           assignCents: Seq[Seq[Double]],
                                           rankCents: Seq[Seq[Float]])

  /** The one IVF quantizer definition: the session-memoized
    * maxmin-seeded [[lloydFit]] at (dir, nCells), as [[IvfModel]]. The
    * serving tiers ([[ivfAssigned]]) and the DuckDB oracle generators
    * ([[ivfDefaultModel]]) both read it, so they cannot see different
    * fits or different constants.
    */
  private def ivfModel(emb: DataFrame, nCells: Int, dir: String): IvfModel = {
    val fit = graft.Caches.model("ivf_quantizer", dir, nCells) {
      lloydFit(emb, nCells, maxIters = 10, seedMaxmin = true)
    }
    val cents = fit.centroidMicro.map(_.map(_ / 1e6))
    IvfModel(fit.cids.toSeq, cents.map(_.toSeq).toSeq,
             cents.map(_.map(_.toFloat).toSeq).toSeq)
  }

  /** Driver-side hook for the DuckDB oracle generators: the
    * session-memoized IVF model at a dial ([[ivfModel]], shared with
    * [[ivfAssigned]], so after any IVF-tier call this is a lookup, not
    * a fit).
    */
  private[graft] def ivfDefaultModel(s: SparkSession, dir: String,
                                     nCells: Int = 16): IvfModel = {
    GraftFunctions.ensureRegistered(s)
    ivfModel(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")), nCells, dir)
  }

  /** The DEFAULT-dial PQ codebooks (the ones `ann_pq_topk` /
    * `ann_ivfpq_*` serve with) as driver-side values — the hook the
    * DuckDB oracle generator uses to replay encode+ADC exactly: the
    * codebooks are deterministic seeded model state, so embedding them
    * as SQL literals turns the whole PQ scoring path into
    * oracle-checkable arithmetic. Memoized (Caches.model), so after a
    * serving call this is a lookup, not a fit.
    */
  private[graft] def pqDefaultCodebooks(s: SparkSession, dir: String,
                                        nSub: Int = 16, nCodes: Int = 256,
                                        trainMod: Int = 1): Seq[Seq[Seq[Float]]] = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim must split into $nSub subspaces")
    pqCodebooks(emb, dim, nSub, nCodes, trainMod, dir)
  }

  /** IVF-PQ — the two index tiers COMPOSED, the production ANN shape
    * at 100 TB (FAISS `IndexIVFPQ`): the coarse quantizer prunes WHICH
    * vectors are scored (candidates = members of the probe's
    * `nProbeCells` nearest cells, ~nProbeCells/nCells of the corpus),
    * and product quantization prunes WHAT is read to score them
    * (8-byte codes + the codebook plan literal, never the embedding
    * column). [[annIvfTopK]] bounds compute but still reads full
    * vectors; [[annPqTopK]] bounds bytes but still scores the whole
    * corpus per probe; composed, per-probe cost is
    * (nProbeCells/nCells) · n codes — the only configuration whose
    * serving cost stays flat as BOTH corpus size and vector width
    * grow.
    *
    * Plan: cell assignment and PQ encode are row-local maps off one
    * shared scan (both models are session-memoized driver state,
    * trained on samples at scale); probes rank cells against the
    * broadcast centroid table; ONE shuffled join on the cell key pairs
    * probes with cell members, decode+ADC-score runs row-local on the
    * join output, and the per-probe top-k is a partial-top-k window.
    * Candidates arise at most once per probe (cells partition the
    * corpus) — no distinct().
    *
    * Rows-only (k-means state is not SQL-expressible); SimilaritySpec
    * pins the contract: probing EVERY cell reproduces [[annPqTopK]]
    * EXACTLY (same ADC scores, same tie-breaks — the candidate
    * generator changes, the scorer doesn't), recall@k vs brute force
    * at the defaults, and determinism across invocations.
    */
  def annIvfPqTopK(s: SparkSession, dir: String, k: Int = 10,
                   nCells: Int = 16, nProbeCells: Int = 8,
                   nSub: Int = 16, nCodes: Int = 256, trainMod: Int = 1): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = graft.Caches.cached(
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    require(dim % nSub == 0, s"dim $dim must split into $nSub subspaces")
    val (assigned, centroids) = ivfAssigned(emb, nCells, dir)
    val codebooks = pqCodebooks(emb, dim, nSub, nCodes, trainMod, dir)
    val cbLit = typedLit(codebooks)
    // the stored index: (vec_id, cell, codes) — 8-byte codes replace
    // the d·4-byte embedding for every candidate read from here on
    val encoded = graft.Caches.cached(assigned.select(col("vec_id"), col("cell"),
      call_function("graft_pq_encode", col("embedding"), cbLit).as("codes")))
    val decoded = flatten(transform(sequence(lit(1), lit(nSub)),
      m => element_at(element_at(cbLit, m), element_at(col("codes"), m) + 1)))
    ivfSearch(probes(emb), centroidFrame(s, centroids), encoded, k, nProbeCells,
              "adc_cosine_x1e6", scoreX1e6(col("probe_emb"), decoded))
      .orderBy("probe_id", "rank")
  }

  /** Per-vector symmetric int8 quantization — the 4× storage/bandwidth
    * cut an embedding corpus takes before it ships to ANN serving:
    * q_i = floor(127·x_i / max|x|), scale kept per vector. Row-local,
    * zero shuffle.
    *
    * Cross-engine determinism (the full-hash oracle): every arithmetic
    * step is float→double widening (exact), one multiply, one divide,
    * floor — identical IEEE sequence in Spark and DuckDB, no libm. The
    * quantized array is pinned by scalar columns (position-weighted
    * checksum + min/max) rather than shipping an int8 list through the
    * dtype-sensitive compare. The expensive subexpressions (the
    * max-abs scale, the quantized array) are projected to attributes
    * in separate selects — referencing the scale inside the per-element
    * lambda directly would re-run array_max PER ELEMENT (the
    * expression-duplication hazard, O(d²)).
    */
  def embeddingQuantize(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
    val withScale = emb.select(col("vec_id"), col("embedding"),
      array_max(transform(col("embedding"), v => abs(v))).cast("double").as("scale"))
    val quantized = withScale.select(col("vec_id"), col("scale"),
      when(col("scale") > 0,
        transform(col("embedding"),
          v => floor(lit(127.0) * v.cast("double") / col("scale")).cast("long")))
        .otherwise(transform(col("embedding"), _ => lit(0L))).as("q"))
    quantized.select(
        col("vec_id"),
        floor(col("scale") * 1e9).cast("long").as("scale_x1e9"),
        aggregate(
          zip_with(col("q"), sequence(lit(1), size(col("q"))),
            (qi, i) => qi * i.cast("long")),
          lit(0L), (acc, x) => acc + x).as("q_checksum"),
        array_min(col("q")).as("q_min"),
        array_max(col("q")).as("q_max"))
      .orderBy("vec_id")
  }

  /** Scalar-quantization (int8) ANN serving tier — the FAISS
    * IndexScalarQuantizer/SQ8 shape completing the memory-tier family
    * next to [[annPqTopK]]: the corpus stores ONE BYTE per dimension
    * (4× smaller than float32 — what shuffles, spills, and caches at
    * 100 TB), quantized by [[embeddingQuantize]]'s exact rule
    * (`floor(127·x/max|x|)`, the max-magnitude element pinned to
    * ±127), and probes score asymmetrically: full-float query against
    * the codes via the fused [[graft.functions.CosineSq8]] kernel.
    * The dequantization scale cancels in cosine, so the scoring path
    * never reads it — pure codes.
    *
    * The quantized corpus is a [[graft.Substrate]] table (parquet,
    * once per canonical dir — the stored index a real deployment
    * writes at ingest); scoring is the brute-force plan shape
    * (broadcast probes, map-side partial top-k) over 1/4 the bytes.
    *
    * UNLIKE the other approximate tiers this one is fully
    * ORACLE-CHECKED: quantization and scoring are both expressible in
    * ANSI SQL (floor/greatest/expanded sums — same double-exactness
    * trick as the brute-force oracle), so the DuckDB hash witnesses
    * the exact scores, not just a recall floor. SimilaritySpec adds
    * the recall-vs-exact floor and the kernel==cast-road parity.
    */
  def annSq8TopK(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val codesPath = graft.Substrate.materialized(s, "sq8codes", realDir, Nil) {
      // scale staged as an attribute: referenced twice downstream and
      // from inside the quantize lambda — inlining it would re-run the
      // array_max per element (the §6 expression-duplication trap)
      emb.select(col("vec_id"), col("embedding"),
          array_max(transform(col("embedding"), v => abs(v))).cast("double").as("scale"))
        .select(col("vec_id"),
          when(col("scale") > 0,
            transform(col("embedding"),
              v => floor(lit(127.0) * v.cast("double") / col("scale")).cast("byte")))
            .otherwise(transform(col("embedding"), _ => lit(0).cast("byte")))
            .as("codes"))
    }
    val codes = Tables.parquet(s, codesPath)
    val scored = codes
      .join(broadcast(probes(emb)), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
        floor(call_function("graft_cosine_sq8", col("probe_emb"), col("codes")) * 1e6)
          .cast("long").as("cosine_x1e6"))
    topK(scored, "probe_id", "cosine_x1e6", k).orderBy("probe_id", "rank")
  }

  /** Embedding-space data quality: flag vectors ABNORMALLY FAR from
    * their label's centroid — mislabeled rows, corrupted encodes, and
    * truncation artifacts all surface as centroid-distance outliers,
    * and a training pipeline wants them quarantined before they pull
    * the class manifold around. All-integer arithmetic end to end:
    * per-position micro units ([[graft.functions.VectorFunctions]]'s
    * `graft_vec_sum_micro` builds the centroid sums in ONE custom
    * aggregate pass — no position explode on the engine side),
    * squared L2 distance via the fused codegen'd `graft_l2sq`
    * kernel ([[graft.functions.L2SqMicro]] — one primitive loop,
    * row-local, exact in BIGINT), and the outlier
    * verdict `dist² · n > 2 · Σdist²` (i.e. dist² > 2× the label
    * mean) compared in DECIMAL(38) so no corpus size can overflow it.
    * Two broadcast joins of |labels|-bounded frames onto the cached
    * scan; nothing wider than (vec_id, label, dist²) ever shuffles.
    */
  def embeddingOutliers(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = graft.Caches.cached(
      Tables.requireLabel(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("label"), col("embedding")))
    val cents = emb.groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
           call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
      .select(col("label").as("c_label"),
              expr("transform(sums, s -> s div n_vectors)").as("centroid_micro"))
    val withDist = emb.join(Hints.maybeBroadcast(cents), col("label") === col("c_label"))
      .select(col("vec_id"), col("label"),
        call_function("graft_l2sq", col("embedding"), col("centroid_micro")).as("dist2"))
    val stats = withDist.groupBy(col("label").as("s_label"))
      .agg(count(lit(1)).as("n_label"), sum("dist2").as("sum_dist2"))
    withDist.join(Hints.maybeBroadcast(stats), col("label") === col("s_label"))
      .select(col("vec_id"), col("label"), col("dist2"),
        (col("dist2").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * col("n_label") >
         col("sum_dist2").cast(org.apache.spark.sql.types.DecimalType(38, 0)) * 2)
          .as("is_outlier"))
      .orderBy("vec_id")
  }

  /** Per-label embedding centroids via the custom
    * [[graft.functions.VecSumMicro]] AGGREGATE: one groupBy whose
    * per-group state is a single long[dim] of exact micro-unit sums —
    * partial-aggregated, so the exchange carries one fixed-width
    * state per (partition, label) instead of every vector (the
    * explode + groupBy(label, pos) road shuffles n·dim rows). This is
    * the k-means-update / SemDeDup-representative primitive.
    *
    * Output explodes the summed vector to (label, pos) rows AFTER
    * aggregation — |labels|·dim rows, nothing at any corpus size.
    * `centroid_micro` is the TRUNCATED (toward zero, Spark `div`)
    * per-component mean in micro-units; sums can be negative, so the
    * oracle mirrors truncation explicitly (DuckDB `//` floors).
    * Dimension is locked by the first vector; mixed widths fail.
    */
  def embeddingCentroids(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    Tables.requireLabel(Tables.embeddings(s, dir))
      .groupBy("label")
      .agg(count(lit(1)).as("n_vectors"),
           call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
      .select(col("label"), col("n_vectors"), posexplode(col("sums")))
      .select(col("label"), (col("pos") + 1).cast("long").as("pos"),
              col("n_vectors"), col("col").as("sum_micro"),
              expr("col div n_vectors").as("centroid_micro"))
      .orderBy("label", "pos")
  }

  /** ANN recall report — every approximate tier scored against the
    * exact brute-force baseline in one query: recall@k per tier
    * (LSH multi-probe, IVF, PQ, IVF-PQ, SQ8), the number a serving team
    * watches as corpora and index parameters drift. Each tier's
    * (probe, neighbor) set left-semi-joins the exact set and reduces
    * to a 1-row count; four bounded rows union into the report.
    * Trained model state (PQ codebooks, IVF quantizer) comes from the
    * session memo ([[graft.Caches]].model), so the report prices the
    * SERVING indexes — the same ones the ann_* keys use, not a
    * refit. Micro-unit recall; hash-verified since r16 (with every
    * tier SQL-replayable the monitor is five semi-join counts vs the
    * exact top-k), floor-asserted in SimilaritySpec consistently with
    * each tier's own spec.
    */
  def annRecallReport(s: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val exact = graft.Caches.cached(
      annBruteforceTopK(s, dir, k).select("probe_id", "neighbor_id"))
    def tierRow(name: String, df: DataFrame): DataFrame =
      recallRow(name, df.select("probe_id", "neighbor_id"), exact, Seq("probe_id", "neighbor_id"))
    tierRow("ivf", annIvfTopK(s, dir, k))
      .unionAll(tierRow("ivfpq", annIvfPqTopK(s, dir, k)))
      .unionAll(tierRow("lsh", annLshTopK(s, dir, k)))
      .unionAll(tierRow("pq", annPqTopK(s, dir, k)))
      .unionAll(tierRow("sq8", annSq8TopK(s, dir, k)))
      .orderBy("tier")
  }

  /** One recall row (tier, n_hits, n_expected, recall_x1e6): how many
    * `got` rows the `want` rows contain on `keys` (a left-semi join
    * reduced to a 1-row count), over the size of `want`, in integral
    * ppm. The expected count rides a broadcast 1-row aggregate, so
    * nothing reaches the driver. Shared by [[annRecallReport]] and
    * [[hybridRecallReport]].
    */
  private def recallRow(tier: String, got: DataFrame, want: DataFrame,
                        keys: Seq[String]): DataFrame =
    got.join(want, keys, "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .crossJoin(broadcast(want.agg(count(lit(1)).as("n_expected"))))
      .select(lit(tier).as("tier"), col("n_hits"), col("n_expected"),
        when(col("n_expected") > 0,
          expr("(n_hits * 1000000) div n_expected")).as("recall_x1e6"))

  /** The RRF fusion body over explicit (id, lex_rank) / (id, sem_rank)
    * lists — factored so the serving key and its recall monitor
    * ([[hybridRecallReport]], which fuses the EXACT semantic list the
    * same way) run the identical fusion code. Both inputs are bounded
    * top-k lists, so the full-outer join and the rank window run on a
    * dial-sized frame.
    */
  private def rrfFuse(lex: DataFrame, sem: DataFrame, kRrf: Int): DataFrame = {
    require(kRrf > 0, s"kRrf $kRrf must be positive")
    lex.join(sem, Seq("id"), "full_outer")
      .select(col("id"), col("lex_rank"), col("sem_rank"),
        (coalesce(expr(s"1000000 div ($kRrf + lex_rank)"), lit(0L)) +
         coalesce(expr(s"1000000 div ($kRrf + sem_rank)"), lit(0L)))
          .as("rrf_x1e6"))
      .withColumn("fused_rank",
        row_number().over(Window.orderBy(col("rrf_x1e6").desc, col("id")))
          .cast("long"))
  }

  /** SURVEY §2 `hybrid_rank_rrf`: hybrid lexical+semantic retrieval by
    * reciprocal-rank fusion — the RAG-serving join of the two index
    * halves the engine already builds: [[graft.operators.TextOps
    * .bm25Rank]]'s lexical top-k for the fixed query-term list, and
    * [[annIvfTopK]]'s semantic top-k for the canonical query vector
    * (probe `queryId` — the lowest id in the deterministic probe
    * batch), fused as RRF (Cormack et al. 2009): each list contributes
    * 1e6 div (kRrf + rank) and absent-from-a-list contributes 0. RRF
    * is INTEGRAL (integer division of constants by small ranks), so
    * the fused score is a pure function of the two rank lists and
    * hash-verifies where any score-normalization fusion (min-max,
    * z-score over floats) never could.
    *
    * Shape: both halves are top-k SERVING lists (≤ kLex + kSem rows
    * total), so the fusion join and the final rank window run on a
    * frame bounded by the dials, not the corpus — the lexical half's
    * GlobalLimit keeps the fused window mechanically inside
    * PlanQualitySpec's bounded-window exemption. The semantic half
    * inherits the IVF discipline (probe set broadcast against the
    * KB-scale centroid table, ONE cell-keyed equi-join, corpus
    * embeddings never re-exchanged), and the probe filter prunes the
    * broadcast side to the single query vector before any scoring.
    * At 100 TB nothing changes: each half is already the tier's
    * serving plan, and fusion is rank arithmetic on 2k rows.
    */
  def hybridRankRrf(s: SparkSession, dir: String, kLex: Int = 50,
                    kSem: Int = 10, kRrf: Int = 60,
                    queryId: Long = 0L): DataFrame = {
    val lex = graft.operators.TextOps.bm25Rank(s, dir, k = kLex)
      .select(col("doc_id").as("id"), col("rank").as("lex_rank"))
    val sem = annIvfTopK(s, dir, k = kSem)
      .filter(col("probe_id") === queryId)
      .select(col("neighbor_id").as("id"), col("rank").as("sem_rank"))
    rrfFuse(lex, sem, kRrf)
      .select("id", "fused_rank", "rrf_x1e6", "lex_rank", "sem_rank")
      .orderBy("id")
  }

  /** SURVEY §2 `hybrid_recall_report`: the hybrid tier's QUALITY
    * MONITOR — the role [[annRecallReport]] plays for the ANN tiers
    * and `dedup_lsh_eval` for the banding, here for the fused serving
    * list: how much does IVF cell pruning in the semantic half move
    * the FUSED answer? Two bounded rows: recall@k of the IVF semantic
    * list vs the exact brute-force list for the query vector ('sem'),
    * and overlap@k of the served fusion vs the fusion computed with
    * the EXACT semantic list through the SAME [[rrfFuse]] code
    * ('fused') — the monitor cannot drift from the serving path it
    * audits. Integral ppm; both sides replayable, so the whole
    * monitor hash-verifies (exact expanded-sum cosine + the
    * quantizer-literal IVF replay + the bm25 chain + integer fusion).
    * Everything is top-k-bounded: the exact half prices one probe
    * against the corpus (one scan), the counts are 1-row aggregates.
    */
  def hybridRecallReport(s: SparkSession, dir: String, k: Int = 10,
                         kLex: Int = 50, kRrf: Int = 60,
                         queryId: Long = 0L): DataFrame = {
    val lex = graft.Caches.cached(
      graft.operators.TextOps.bm25Rank(s, dir, k = kLex)
        .select(col("doc_id").as("id"), col("rank").as("lex_rank")))
    val exactSem = graft.Caches.cached(
      annBruteforceTopK(s, dir, k).filter(col("probe_id") === queryId)
        .select(col("neighbor_id").as("id"), col("rank").as("sem_rank")))
    val servedSem = graft.Caches.cached(
      annIvfTopK(s, dir, k).filter(col("probe_id") === queryId)
        .select(col("neighbor_id").as("id"), col("rank").as("sem_rank")))
    def topIds(fused: DataFrame) =
      fused.filter(col("fused_rank") <= k).select("id")
    val semRow = recallRow("sem",
      servedSem.select("id"), exactSem.select("id"), Seq("id"))
    val fusedRow = recallRow("fused",
      topIds(rrfFuse(lex, servedSem, kRrf)),
      topIds(rrfFuse(lex, exactSem, kRrf)), Seq("id"))
    semRow.unionAll(fusedRow).orderBy("tier")
  }

  /** Mean-pooled document embeddings from chunk embeddings — the
    * pooling step between chunk-level encoding and doc-level retrieval
    * (long docs embed as chunks; search/cluster/dedup often want ONE
    * vector per doc). Chunks align to docs by the deterministic
    * `vec_id div chunksPerDoc` layout the corpus was encoded with;
    * pooling is [[graft.functions.VecSumMicro]]'s exact integral
    * micro-sums TRUNC-divided by the chunk count — the
    * [[embeddingCentroids]] arithmetic on a corpus-scaling key.
    *
    * That key difference is the plan point: label-keyed centroids
    * could tolerate any agg shape, but doc-keyed pooling at 100 TB
    * must partial-aggregate (one long[dim] state per (partition, doc)
    * merging through ObjectHashAggregate) and must NOT collect or
    * broadcast anything — and doesn't. Per-dim rows out (posexplode),
    * the family's array-output convention.
    */
  def docEmbeddingPool(s: SparkSession, dir: String, chunksPerDoc: Int = 4): DataFrame = {
    require(chunksPerDoc > 0, s"chunksPerDoc $chunksPerDoc must be positive")
    GraftFunctions.ensureRegistered(s)
    Tables.embeddings(s, dir)
      .groupBy(expr(s"vec_id div $chunksPerDoc").as("doc_key"))
      .agg(count(lit(1)).as("n_chunks"),
           call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
      .select(col("doc_key"), col("n_chunks"), posexplode(col("sums")))
      .select(col("doc_key"), (col("pos") + 1).cast("long").as("pos"),
              col("n_chunks"), col("col").as("sum_micro"),
              expr("col div n_chunks").as("pooled_micro"))
      .orderBy("doc_key", "pos")
  }

  /** SURVEY §2 `diversity_kcenter`: greedy k-center (farthest-point /
    * maxmin) DIVERSITY selection over the embedding corpus — the
    * "pick the spread" counterpart of `semdedup_keep_central`'s
    * "drop the dups": k representatives such that each new pick is
    * the point FARTHEST from everything already picked (Gonzalez
    * 1985, the 2-approximation to optimal k-center). The coverage-
    * sampling step a training-data mix runs to seed a diverse
    * eval/annotation set.
    *
    * ALL-INTEGRAL under the kmeans_fit contract so the selection is
    * hash-checkable: embeddings quantize to micro longs
    * (floor(1e6·x)), distances are exact integer squared-L2, the
    * argmax tie-breaks (d² desc, vec_id asc), and the seed is the
    * lowest vec_id (the kmeans_fit seeding convention). Per round —
    * driver-synced like CC/PageRank/BPE/Lloyd — ONE pass over the
    * cached quantized corpus computes each point's min-d² to the
    * selected set (the ≤k selected vectors ride the plan as a
    * LITERAL, so the pass is row-local: zero shuffle, a k·64-term
    * fold inside codegen) and a TakeOrderedAndProject syncs the
    * 1-row argmax. Selected ids are excluded explicitly so a
    * degenerate all-duplicates corpus can never re-pick an id.
    *
    * At 100 TB: k passes over the corpus, each row-local with a
    * 1-row reduce — no window, no join, no corpus shuffle anywhere;
    * the selected set is KB-scale model state. The known scale dial
    * is sampling the candidate pool (k-center on a uniform sample is
    * the standard approximation) — the plan is unchanged, only the
    * input filter.
    *
    * Oracle: the full greedy replayed as k unrolled MATERIALIZED
    * rounds (the kmeans_fit discipline — no selected state embedded;
    * DuckDB recomputes every argmax from the parquet). SimilaritySpec
    * proves == a single-node greedy recompute and the non-increasing
    * selection-distance invariant.
    */
  def diversityKcenter(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    import s.implicits._
    val q = graft.Caches.cached(
      Tables.embeddings(s, dir).select(col("vec_id"),
        expr("transform(embedding, x -> CAST(floor(1000000 * CAST(x AS DOUBLE)) AS BIGINT))")
          .as("qv")))
    def qvOf(id: Long): Seq[Long] =
      q.filter(col("vec_id") === id).head().getSeq[Long](1)
    // Contract guard (ADVICE r20): with n < k the greedy loop's
    // limit(1).head() would throw a bare NoSuchElementException
    // mid-round; fail up front with the operator named, matching the
    // kmeans_fit seeding discipline. One cheap count over the cached
    // frame the loop reuses anyway.
    val n = q.count()
    require(n >= k,
      s"diversity_kcenter: corpus holds $n vectors but k=$k centers were requested")
    val seedId = q.agg(min("vec_id")).head().getLong(0)
    var centerQvs = Vector(qvOf(seedId))
    var centerIds = Vector(seedId)
    val picked = scala.collection.mutable.ArrayBuffer[(Long, Long, Option[Long])](
      (1L, seedId, None))
    for (r <- 2 to k) {
      // min integer squared-L2 to the selected set — selected vectors
      // are a plan literal, the whole distance block is row-local
      val minD2 = array_min(transform(
        typedLit(centerQvs.map(_.toSeq)),
        c => aggregate(
          zip_with(col("qv"), c, (a, b) => (a - b) * (a - b)),
          lit(0L), (acc, x) => acc + x)))
      val top = q
        .filter(!col("vec_id").isInCollection(centerIds))
        .select(col("vec_id"), minD2.as("d2"))
        .orderBy(col("d2").desc, col("vec_id").asc)
        .limit(1).head()
      val (id, d2) = (top.getLong(0), top.getLong(1))
      picked += ((r.toLong, id, Some(d2)))
      centerIds :+= id
      centerQvs :+= qvOf(id)
    }
    picked.toSeq.toDF("center_rank", "vec_id", "maxmin_d2")
      .orderBy("center_rank")
  }

  /** ONE exact k-means iteration (Lloyd step) — assignment + centroid
    * update — over the embedding corpus, seeded deterministically by
    * the k lowest vec_ids. The MLlib path ([[annIvfTopK]]'s coarse
    * quantizer) is float-iterative and can only be recall-tested;
    * this operator is the same computation made ORACLE-CHECKABLE: the
    * squared-L2 sums evaluate left-associated in IEEE double (the
    * same operation order as the oracle's expanded per-dimension SQL,
    * so the argmin is bit-identical), ties break by centroid id, and
    * the update side reuses [[graft.functions.VecSumMicro]]'s exact
    * integral micro-sums.
    *
    * Scale shape: the k seed vectors are a constant-size quantizer
    * collected once to the driver (k·dim doubles — the same plan-
    * literal move as the IVF cell matrix), so assignment is ROW-LOCAL
    * against a literal array — zero shuffle; the update is one
    * partial-aggregated groupBy with a long[dim] state per cluster.
    * A full Lloyd loop is this operator iterated with the output
    * centroids fed back as seeds (the driver-sync-per-round contract
    * of the CC/PageRank/BPE family). Clusters left empty by the
    * assignment drop out (the caller reseeds — standard Lloyd).
    *
    * Assignment is the fused codegen'd `graft_kmeans_assign`
    * ([[graft.functions.KmeansAssign]]): the seed matrix rides the
    * plan as a constant and the k·dim argmin runs as one primitive
    * loop inside whole-stage codegen — bit-compatible with the
    * array_min-over-HOF-distances construction it replaced
    * (spec-pinned in SimilaritySpec).
    */
  def kmeansStep(s: SparkSession, dir: String, k: Int = 8): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    require(k >= 1, s"k must be >= 1, got $k")
    val emb = Tables.embeddings(s, dir)
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id"), col("embedding")).collect()
      .sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble)))
    require(seeds.nonEmpty, "no seed vectors with vec_id < k")
    val assigned = emb.select(col("vec_id"), col("embedding"),
        call_function("graft_kmeans_assign", col("embedding"),
          typedLit(seeds.map(_._1).toSeq),
          typedLit(seeds.map(_._2.toSeq).toSeq))
          .as("cluster_id"))
    assigned.groupBy("cluster_id")
      .agg(count(lit(1)).as("n_vectors"),
           call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
      .select(col("cluster_id"), col("n_vectors"), posexplode(col("sums")))
      .select(col("cluster_id"), (col("pos") + 1).cast("long").as("pos"),
              col("n_vectors"), col("col").as("sum_micro"),
              expr("col div n_vectors").as("centroid_micro"))
      .orderBy("cluster_id", "pos")
  }

  /** Result of a full Lloyd run: parallel cluster-id / integral-
    * centroid / final-membership arrays plus how it stopped. KB-scale
    * driver state (k·dim longs) — model, not data.
    */
  private[graft] final case class LloydResult(
      cids: Array[Long], centroidMicro: Array[Array[Long]],
      nVectors: Array[Long], iters: Int, converged: Boolean)

  /** Deterministic Gonzalez farthest-point seeding: anchor = the
    * lowest vec_id's vector; each subsequent seed is the corpus
    * vector MAXIMIZING its minimum `graft_l2sq` distance to the
    * already-chosen set (ties → lowest vec_id). k−1 corpus scans,
    * each a row-local `least(...)` over ≤k codegen'd kernels against
    * plan-literal seeds — the spread-out init Lloyd needs when ids
    * carry no spatial information (lowest-id seeds can start
    * clumped, collapsing cells the loop never recovers; spread seeds
    * are what make IVF cell occupancy — and thus recall at a fixed
    * probe fraction — balanced).
    */
  private def maxminSeeds(emb: DataFrame, k: Int): Array[Array[Long]] = {
    def toMicro(r: org.apache.spark.sql.Row): Array[Long] =
      r.getSeq[Float](1).map(x => math.floor(1000000.0 * x.toDouble).toLong).toArray
    val anchor = emb.select(col("vec_id"), col("embedding"))
      .orderBy("vec_id").limit(1).collect()
    require(anchor.nonEmpty, "empty corpus")
    val chosen = scala.collection.mutable.ArrayBuffer(toMicro(anchor(0)))
    while (chosen.size < k) {
      val d2s = chosen.map(c =>
        call_function("graft_l2sq", col("embedding"), typedLit(c.toSeq)))
      val minD2 = if (d2s.size == 1) d2s.head else least(d2s.toSeq: _*)
      val far = emb.select(col("vec_id"), col("embedding"), minD2.as("min_d2"))
        .orderBy(col("min_d2").desc, col("vec_id")).limit(1).collect()
      chosen += toMicro(far(0))
    }
    chosen.toArray
  }

  /** Full Lloyd loop over the embedding corpus — [[kmeansStep]]
    * iterated to convergence under the driver-sync-per-round contract
    * of the CC/PageRank/BPE family. Every quantity is integral or a
    * pure function of integral state, so the whole trajectory is
    * deterministic and replayable:
    *
    * - seeds: the k lowest vec_ids; a seed's initial centroid is its
    *   embedding micro-scaled (`floor(1e6·x)` per position).
    * - assignment: the codegen'd `graft_kmeans_assign` argmin against
    *   `centroid_micro / 1e6` doubles (ties → lowest cid) — row-local
    *   against a plan-constant seed matrix, zero shuffle.
    * - update: [[graft.functions.VecSumMicro]] exact integral sums,
    *   one partial-aggregated groupBy collecting k·dim longs to the
    *   driver per round; `centroid_micro = sum_micro div n` (toward-
    *   zero, Spark's `div`).
    * - empty clusters: re-seeded from the corpus vectors farthest
    *   (codegen'd `graft_l2sq`) from their own cluster's UPDATED
    *   centroid — ranked (dist² desc, vec_id asc), matched to empty
    *   cids in ascending-cid order. Standard Lloyd farthest-point
    *   re-seed, made deterministic.
    * - convergence: every centroid_micro array exactly equal to the
    *   previous round's (long equality — no float tolerance) and no
    *   re-seed fired. Stops early; `maxIters` caps.
    *
    * Scale shape: per round one corpus scan (assignment fused into
    * the scan stage) and one k-row aggregate; driver traffic is the
    * k·dim centroid matrix — the same bounded-sync economics as
    * PageRank's rank vector. The corpus never shuffles.
    */
  private[graft] def lloydFit(emb: DataFrame, k: Int, maxIters: Int,
                              seedMaxmin: Boolean = false): LloydResult = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(maxIters >= 1, s"maxIters must be >= 1, got $maxIters")
    val s = emb.sparkSession
    GraftFunctions.ensureRegistered(s)
    val (cids, seedMicro) =
      if (seedMaxmin) (Array.tabulate(k)(_.toLong), maxminSeeds(emb, k))
      else {
        val seeds = emb.filter(col("vec_id") < k)
          .select(col("vec_id"), col("embedding")).collect()
          .sortBy(_.getLong(0))
          .map(r => (r.getLong(0),
            r.getSeq[Float](1).map(x => math.floor(1000000.0 * x.toDouble).toLong).toArray))
        require(seeds.nonEmpty, "no seed vectors with vec_id < k")
        (seeds.map(_._1), seeds.map(_._2))
      }
    var micro = seedMicro
    var nVec = Array.fill[Long](cids.length)(0L)
    var iters = 0
    var converged = false
    while (iters < maxIters && !converged) {
      iters += 1
      val assigned = emb.select(col("vec_id"), col("embedding"),
        call_function("graft_kmeans_assign", col("embedding"),
          typedLit(cids.toSeq),
          typedLit(micro.map(_.map(_ / 1e6).toSeq).toSeq)).as("cluster_id"))
      val stats = assigned.groupBy("cluster_id")
        .agg(count(lit(1)).as("n"),
             call_function("graft_vec_sum_micro", col("embedding")).as("sums"))
        .collect()
        .map(r => r.getLong(0) ->
          (r.getLong(1), r.getSeq[Long](2).toArray))
        .toMap
      val next = cids.map(c => stats.get(c).map { case (n, sums) =>
        (n, sums.map(sm => if (sm >= 0) sm / n else -((-sm) / n)))
      })
      val emptyCids = cids.zip(next).collect { case (c, None) => c }
      val updated = cids.indices.map(i => next(i).map(_._2).getOrElse(micro(i))).toArray
      val reseeded: Map[Long, Array[Long]] =
        if (emptyCids.isEmpty) Map.empty
        else {
          // farthest-from-own-updated-centroid re-seed, deterministic
          val centsDf = s.createDataFrame(
            cids.zip(updated).map { case (c, m) => (c, m.toSeq) }.toSeq)
            .toDF("cluster_id", "centroid_micro")
          val far = assigned.join(broadcast(centsDf), "cluster_id")
            .select(col("vec_id"), col("embedding"),
              call_function("graft_l2sq", col("embedding"), col("centroid_micro")).as("d2"))
            .orderBy(col("d2").desc, col("vec_id"))
            .limit(emptyCids.length).collect()
          require(far.length == emptyCids.length,
            s"corpus too small to re-seed ${emptyCids.length} empty clusters")
          emptyCids.sorted.zip(far).map { case (c, r) =>
            c -> r.getSeq[Float](1)
              .map(x => math.floor(1000000.0 * x.toDouble).toLong).toArray
          }.toMap
        }
      val newMicro = cids.indices.map(i =>
        reseeded.getOrElse(cids(i), updated(i))).toArray
      converged = reseeded.isEmpty &&
        cids.indices.forall(i => java.util.Arrays.equals(newMicro(i), micro(i)))
      nVec = cids.indices.map(i => next(i).map(_._1).getOrElse(0L)).toArray
      micro = newMicro
    }
    LloydResult(cids, micro, nVec, iters, converged)
  }

  /** The memoized full-Lloyd fit behind `kmeans_fit` — shared with the
    * DuckDB oracle generator (which needs the realized round count to
    * unroll the trajectory), so generating the oracle after the query
    * ran is a lookup, not a refit.
    */
  private[graft] def kmeansFitModel(s: SparkSession, dir: String, k: Int = 8,
                                    maxIters: Int = 20): LloydResult = {
    GraftFunctions.ensureRegistered(s)
    graft.Caches.model("kmeans_fit", dir, k, maxIters) {
      val emb = graft.Caches.cached(
        Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))
      lloydFit(emb, k, maxIters)
    }
  }

  /** Registered full-Lloyd operator: [[lloydFit]]'s final state as a
    * per-(cluster, dim) frame — `kmeans_step` run to fixpoint. The
    * output is pure model state (k·dim rows built driver-side, the
    * same bounded object the IVF tiers memoize); its correctness
    * claim is the ==single-node-Lloyd spec in SimilaritySpec, plus
    * the live identity that [[annIvfTopK]]'s quantizer IS this fit
    * (`Caches.model` shared key).
    *
    * `n_vectors` is the membership of the final assignment round; on
    * a converged run that assignment is already the fixpoint of the
    * reported centroids (the round that proved convergence re-derived
    * them exactly).
    */
  def kmeansFit(s: SparkSession, dir: String, k: Int = 8,
                maxIters: Int = 20): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val fit = kmeansFitModel(s, dir, k, maxIters)
    val rows = for {
      i <- fit.cids.indices
      pos <- 1 to fit.centroidMicro(i).length
    } yield (fit.cids(i), pos.toLong, fit.nVectors(i),
             fit.centroidMicro(i)(pos - 1), fit.iters.toLong, fit.converged)
    s.createDataFrame(rows.toSeq)
      .toDF("cluster_id", "pos", "n_vectors", "centroid_micro",
            "n_iters", "converged")
      .orderBy("cluster_id", "pos")
  }

  /** The mean-centered micro-quantized corpus (vec_id, xm) and its
    * mean: embeddings quantized once to micro-units (floor(1e6·x), the
    * [[graft.functions.VecSumMicro]] convention), the per-position mean
    * taken with trunc division in one 64-key aggregate collected to
    * the driver, and xm = xq − mu with the mean riding the plan as a
    * literal. The one centering of [[embeddingTopPc]] and
    * [[embeddingWhiten]], so the eigensolver and the whitening it
    * feeds center identically. The mean is model state
    * ([[graft.Caches.model]], keyed by corpus dir like `top_pc_vec`):
    * collected once, then shared by both operators and every warm
    * build.
    */
  private def centeredMicro(s: SparkSession, dir: String): (DataFrame, Array[Long]) = {
    val xq = Tables.embeddings(s, dir).select(col("vec_id"),
      expr("transform(embedding, e -> CAST(FLOOR(e * CAST(1000000 AS DOUBLE)) AS BIGINT))")
        .as("xq"))
    val mu: Array[Long] = graft.Caches.model("centered_micro_mean", dir) {
      xq.select(posexplode(col("xq")).as(Seq("pos", "x")))
        .groupBy("pos").agg(sum("x").as("sx"), count(lit(1)).as("n"))
        .select(col("pos"), expr("sx div n").as("mu"))
        .orderBy("pos").collect().map(_.getLong(1))
    }
    (xq.select(col("vec_id"), zip_with(col("xq"), lit(mu), (a, b) => a - b).as("xm")), mu)
  }

  /** Distributed POWER ITERATION for the corpus's top principal
    * component — the linear-algebra member of the embedding family
    * (what "all-but-the-top" post-processing and PCA whitening remove
    * before indexing; the dominant direction is also the first thing
    * an embedding-drift review looks at). `iters` rounds of
    * v ← C·v over the mean-centered corpus, under the
    * [[kmeansFit]]/PageRank driver-sync contract: per round ONE pass
    * over the cached micro-quantized corpus, a 64-key partial
    * aggregate, and a dim-sized driver rescale — nothing corpus-sized
    * ever leaves the executors.
    *
    * ALL-INTEGRAL so the DuckDB oracle replays every round bit-for-bit
    * (a float normalize would be partition-order-dependent and could
    * never hash): embeddings quantized to micro-units once
    * (floor(1e6·x), the [[graft.functions.VecSumMicro]] convention),
    * mean-centered with trunc division, per-vector projections
    * trunc-rescaled by 1e6 before the weighted sum (keeps every
    * per-term product ≤ 2⁴⁸), component sums accumulated in
    * DECIMAL(38,0) (exact and order-independent where a long would
    * overflow past ~40k vectors; DuckDB's HUGEINT twin), and each
    * round renormalized to L∞ = 1e6 by BigInt trunc division (no
    * square root anywhere — L∞ scaling preserves the direction and
    * integer-sqrt rounding can never drift between engines). The
    * fixed all-ones start vector makes every round — including the
    * sign — deterministic in both engines.
    */
  def embeddingTopPc(s: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    require(iters >= 1 && iters <= 32, s"iters $iters out of range")
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val (xm0, mu) = centeredMicro(s, dir)
    val xm = graft.Caches.cached(xm0)
    var v = Array.fill(mu.length)(1000000L)
    for (_ <- 1 to iters) {
      val sums = xm
        .select(col("xm"),
          aggregate(zip_with(col("xm"), lit(v), (a, b) => a * b),
            lit(0L), (acc, x) => acc + x).as("dot"))
        .select(col("xm"), expr("dot div 1000000").as("w"))
        .select(col("w"), posexplode(col("xm")).as(Seq("pos", "xd")))
        .groupBy("pos")
        .agg(sum((col("xd") * col("w")).cast(dec)).as("s"))
        .orderBy("pos").collect()
      val sArr = sums.map(r => BigInt(r.getDecimal(1).toBigInteger))
      val mx = sArr.map(_.abs).max
      require(mx > 0, "power iteration collapsed — degenerate (constant) corpus")
      // BigInt '/' truncates toward zero — the engines' shared div rule
      v = sArr.map(x => ((x * 1000000) / mx).toLong).toArray
    }
    s.createDataFrame(v.zipWithIndex.toSeq.map { case (x, i) => (i + 1L, x) })
      .toDF("pos", "v_micro")
      .orderBy("pos")
  }

  /** SURVEY §2 `embedding_whiten`: all-but-the-top (ABTT, Mu &
    * Viswanath 2018) post-processing — remove the corpus's dominant
    * direction from every mean-centered embedding before indexing
    * (the top PC carries corpus-frequency signal, not semantics; every
    * serious embedding pipeline strips it ahead of cosine retrieval).
    * This operator makes [[embeddingTopPc]]'s hash-verified
    * eigensolver LOAD-BEARING: its component is the model state here.
    *
    * ALL-INTEGRAL so the whitening replays exactly: the same micro
    * quantization and trunc-div mean centering as the eigensolver,
    * projection coefficient c = Σ xm·v in longs (bounded ≤ 2⁴⁸·64),
    * and the removed component trunc(c·vᵢ / Σv²) computed in
    * DECIMAL(38,0) (c·vᵢ crosses 2⁶³; DuckDB's HUGEINT twin) — so
    * whitened_micro is a pure integer function of the corpus.
    *
    * Scale shape: v is KB-scale model state ([[graft.Caches.model]] —
    * the eigensolver runs once per (corpus, iters)); the mean is a
    * 64-row driver sync, memoized the same way; whitening itself is
    * ONE row-local pass (the vector and mean ride the plan as
    * literals — no join anywhere,
    * pinned in PlanQualitySpec), emitted in the family's per-dim row
    * convention. Residual near-orthogonality |Σ wᵢ·vᵢ| < Σ|vᵢ| (per-
    * position truncation < 1) is spec-pinned in SimilaritySpec along
    * with a single-node recompute equality.
    */
  def embeddingWhiten(s: SparkSession, dir: String, iters: Int = 8): DataFrame = {
    val v: Array[Long] = graft.Caches.model("top_pc_vec", dir, iters) {
      embeddingTopPc(s, dir, iters).collect().map(_.getLong(1))
    }
    val d: Long = v.map(x => x * x).sum
    require(d > 0, "whitening needs a non-degenerate top component")
    centeredMicro(s, dir)._1
      .select(col("vec_id"), col("xm"),
        aggregate(zip_with(col("xm"), lit(v), (a, b) => a * b),
          lit(0L), (acc, x) => acc + x).as("c"))
      .select(col("vec_id"), col("c"), posexplode(col("xm")).as(Seq("pos0", "xd")))
      .select(col("vec_id"), (col("pos0") + 1).cast("long").as("pos"),
        col("xd"), col("c"),
        element_at(lit(v), (col("pos0") + 1).cast("int")).as("vi"))
      .select(col("vec_id"), col("pos"),
        (col("xd") - expr(s"(CAST(c AS DECIMAL(38,0)) * vi) div ${d}L"))
          .cast("long").as("whitened_micro"))
      .orderBy("vec_id", "pos")
  }

  /** Scale path: banded (OR-amplified) SRP-LSH with MULTI-PROBE on the
    * broadcast side. Corpus and probes each compute `nBands` band keys;
    * a corpus vector is a candidate for a probe iff ANY band key
    * matches either the probe's own key or one of its hamming-1
    * variants (each single-bit flip of a band = crossing ONE
    * hyperplane — the nearest neighboring bucket, the classic
    * multi-probe recall boost at zero corpus-side cost: the probe
    * table just grows ×(1+bits), and it is broadcast). The corpus is
    * scored map-side with NO shuffle of embeddings — only candidate
    * (probe_id, neighbor_id, score) triples shuffle into distinct +
    * per-probe top-k. Exact cosine re-ranks candidates; single-probe
    * band-match prob is p^r with p = 1-θ/π — multi-probe adds the
    * r one-bit-off buckets, ≈ (1+r(1-p)/p)·p^r per band. Output schema
    * matches [[annBruteforceTopK]] so recall is directly measurable
    * (SimilaritySpec asserts it).
    */
  def annLshTopK(s: SparkSession, dir: String, k: Int = 10,
                 nBands: Int = 12, bitsPerBand: Int = 3): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val emb = Tables.embeddings(s, dir)
    def srp(c: Column) = call_function("graft_srp_sig", c, lit(nBands * bitsPerBand))
    // Signature projected to an attribute before banding — the SRP scan
    // runs once per row, not once per band (expression duplication).
    val corpusBands = emb.select(
        col("vec_id"), col("embedding"), srp(col("embedding")).as("sig"))
      .select(col("vec_id"), col("embedding"),
              explode(sliceBands(col("sig"), nBands, bitsPerBand)).as("bd"))
      .select(col("vec_id"), col("embedding"), col("bd.band_idx"), col("bd.band_hash"))
    // Probe side: own bucket + every hamming-1 bucket per band.
    val probeBands = probes(emb)
      .select(col("probe_id"), col("probe_emb"), srp(col("probe_emb")).as("sig"))
      .select(col("probe_id"), col("probe_emb"),
              explode(sliceBands(col("sig"), nBands, bitsPerBand)).as("bd"))
      .select(col("probe_id"), col("probe_emb"), col("bd.band_idx"), col("bd.band_hash"))
      .select(col("probe_id"), col("probe_emb"), col("band_idx"),
              explode(array(col("band_hash") +:
                (0 until bitsPerBand).map(bit =>
                  col("band_hash").bitwiseXOR(lit(1L << bit))): _*)).as("band_hash"))
    val scored = corpusBands
      .join(broadcast(probeBands), Seq("band_idx", "band_hash"))
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id").as("neighbor_id"),
              scoreX1e6(col("probe_emb"), col("embedding")).as("cosine_x1e6"))
      .distinct() // a candidate can match on several bands
    topK(scored, "probe_id", "cosine_x1e6", k).orderBy("probe_id", "rank")
  }
}
