package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._
import graft.functions.VectorFunctions._
import graft.plans.GraftFunctions

/** Content-level deduplication family (SURVEY.md §2 "Dedup family") —
  * the reference's key-level dedupe (`dedupe_by_tmdb_id`,
  * /root/reference/02_etl.py:224-231) generalized to document content
  * for LLM training-data pipelines.
  *
  * Scale design (SURVEY.md §4): signatures are computed row-local with
  * codegen'd Catalyst expressions (graft_minhash / graft_simhash /
  * graft_srp_sig — one scan, no shuffle); only the band→bucket join
  * shuffles, and it shuffles fixed-width signatures, never document
  * text. Candidate pairs (≪ n²) are verified exactly post-join.
  * All-pairs comparison never happens at any stage.
  *
  * Every operator emits one verdict row per document —
  * (id, rep_id, is_dup) — so the output is the actionable "which doc
  * to keep" table a pipeline filters on. `rep_id` is the one-hop
  * representative (smallest verified neighbor); [[connectedComponents]]
  * resolves the full undirected near-dup graph to true components for
  * the rare chained clusters (see [[dedupClusters]]).
  */
object Dedup {

  /** The delta/base split modulus (`doc_id % DefaultDeltaMod == 0` is
    * the delta) shared by every incremental key's engine default AND
    * its SparkEntry oracle SQL — one constant both sides interpolate,
    * so a dial change can never silently decouple engine from oracle.
    */
  val DefaultDeltaMod: Int = 10

  // ----------------------------------------------------------------
  // shared building blocks
  // ----------------------------------------------------------------

  /** Distinct word n-gram shingles of a token array. Documents shorter
    * than `n` tokens fall back to a single whole-document shingle
    * (sequence(1, k) would silently generate a DESCENDING range for
    * k < 1, so the short case must be explicit).
    *
    * PUSHDOWN-SAFETY CONTRACT: element_at(toks, i) per position makes
    * this expression QUADRATIC in doc length if `toks` is ever
    * alias-inlined by predicate pushdown (the measured 20×
    * text_repetition_filter cliff — see its zip_with fix). Every
    * consumer here feeds a Generate (explode) or Aggregate immediately,
    * which blocks that pushdown, and the zip_with-fold alternative
    * measures ~2× slower at n=8 (7 intermediate arrays per row) — so
    * the fast form stays. Do NOT expose a filterable verdict column
    * computed from this expression without re-checking the plan.
    */
  def wordNgrams(toks: Column, n: Int): Column =
    when(size(toks) >= n,
      array_distinct(transform(
        sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))))
    .otherwise(array(concat_ws(" ", toks)))

  /** MinHash signature via the codegen'd [[graft.functions.MinHashSig]]
    * (one hash per shingle + universal-hash mixing). Row-local, one
    * pass, emits nPerms longs per document. Requires
    * GraftFunctions.ensureRegistered on the session.
    */
  def minhashSignature(shingleCol: Column, nPerms: Int): Column =
    call_function("graft_minhash", shingleCol, lit(nPerms))

  /** Exact Jaccard similarity of two array columns as floor(1000*j)
    * (integer output: engine-neutral, no float-compare hazards).
    */
  def jaccardX1000(a: Column, b: Column): Column =
    // fused sorted-merge kernel — one pass for |∩|, |∪| and the
    // division, vs two interpreted set builds ([[graft.functions
    // .SetOverlap]]; bit-identical to the array_intersect/union road)
    call_function("graft_set_overlap", a, b).getField("j_x1000")

  /** (doc_id, hs) from (doc_id, text) rows, where hs = xxhash64 of
    * each distinct word n-gram shingle: tokens, then [[wordNgrams]],
    * then the hash. The one shingle derivation of the LSH family —
    * the persisted corpus table ([[hashedShingles]]) and the streaming
    * delta's row-local recompute
    * ([[graft.streaming.EventStreams.dedupMinhashPersisted]]) both
    * call it, so a streamed document hashes exactly as its substrate
    * row does.
    *
    * Tokens are projected to an attribute BEFORE shingling: wordNgrams
    * references its input inside a transform() lambda (outside the
    * lambda argument), so an inline tokens() expression would be
    * re-evaluated per element_at — ~3 regex+split passes per shingle
    * position (measured 16× slower at sf0.1). Hashed-shingle Jaccard
    * equals string-shingle Jaccard up to a ~2⁻⁶⁴-per-pair collision.
    */
  private[graft] def shingleHashes(docs: DataFrame, shingleN: Int): DataFrame =
    docs.select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), wordNgrams(col("toks"), shingleN).as("sh"))
      .select(col("doc_id"), transform(col("sh"), x => xxhash64(x)).as("hs"))

  /** The ONE corpus-wide text scan the LSH dedup family shares:
    * [[shingleHashes]] over the whole corpus. Cached, because the plan
    * references it three times (banding + both verification sides)
    * and Spark re-executes non-cached subtrees per reference — the
    * cache turns three tokenize+shingle scans into one (measured 3.4×
    * at sf0.1). Footprint is 8 bytes/shingle (no strings), the 100 TB
    * analogue of persisting a signature table; LRU-evictable, and
    * reuse across calls is a feature, not a leak.
    */
  private[graft] def hashedShingles(s: SparkSession, dir: String, shingleN: Int): DataFrame = {
    // MATERIALIZED once per (canonical dir, shingleN) and read back as
    // parquet on later calls ([[graft.Substrate]]): eight dedup keys
    // consume this signature table per sweep, and the scaladoc's "100 TB
    // analogue of persisting a signature table" is now literal — the
    // tokenize+shingle+hash derivation runs once per ingest, not per
    // query. xxhash64 over integer-free strings → bit-exact round-trip.
    // The per-query cache below still collapses the MULTIPLE references
    // within one operator into one in-memory scan.
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val path = graft.Substrate.materialized(s, "shingles", realDir, Seq(shingleN)) {
      shingleHashes(Tables.documents(s, dir), shingleN)
    }
    // Deliberately NOT Substrate.readFanout (r22): the A/B measured
    // the fan-out STRONGLY negative here (dedup_lsh_eval 2.5 s bare vs
    // 5.8 s fanned, minhash_lsh 0.9 vs 2.8, min-of-4 at sf0.1/32) —
    // the signature scan's own CPU is small and every consumer
    // re-exchanges within a stage or two, so the extra Exchange plus
    // 32-partition cache build is pure overhead. The fan-out pays off
    // only where the scan stage itself does heavy row-local work (the
    // mm codec family).
    graft.Caches.cached(Tables.parquet(s, path))
  }

  /** Candidate pairs (a < b) from an exploded (id, band_idx, band_hash)
    * table: ONE shuffle groups ids per bucket (a self-join formulation
    * would scan the corpus and recompute every signature twice), then
    * pairs expand bucket-locally — O(Σ bucket²) with LSH-sized
    * buckets, never O(n²). Buckets larger than `maxBucket` are dropped
    * entirely: an over-full bucket means the band value is too common
    * to be a dedup signal (a stopword-like band), and the cap is what
    * stops a degenerate corpus from exploding a 100 TB job.
    */
  private[graft] def candidatePairs(bands: DataFrame, id: String,
                                    maxBucket: Int = 1024): DataFrame = {
    bands
      .groupBy("band_idx", "band_hash")
      .agg(collect_list(col(id)).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .filter(col("a") < col("b"))
      .distinct()
  }

  /** The MinHash banding step: (`id`, band_idx, band_hash) for every
    * (doc_id, hs) row, through the fused one-pass banded MinHash
    * (signature mins computed ONCE per row, bands in the same loop).
    * `useOph` swaps in the O(shingles + perms) one-permutation-hashing
    * construction ([[graft.functions.OphMinHashBands]]) — same banding
    * statistics up to densification noise; candidate sets may differ
    * but the exact post-verification output does not (DedupSpec
    * asserts classic == OPH end to end on the corpus). Every batch
    * key, substrate build and streaming probe bands here, so the base
    * index and a probing delta can never band differently.
    */
  private[graft] def minhashBands(hashed: DataFrame, id: Column, nPerms: Int, nBands: Int,
                                  useOph: Boolean = false): DataFrame = {
    require(nPerms % nBands == 0,
      s"nPerms ($nPerms) must be divisible by nBands ($nBands) — integer " +
        "division would silently drop the trailing permutations from the banding")
    val bandFn = if (useOph) "graft_minhash_oph" else "graft_minhash_bands"
    hashed.select(id,
      posexplode(call_function(bandFn, col("hs"), lit(nPerms), lit(nBands)))
        .as(Seq("band_idx", "band_hash")))
  }

  /** Within-corpus MinHash candidates with both sides' shingles
    * attached: [[minhashBands]], then [[candidatePairs]], then the
    * `sh_a` / `sh_b` joins — (b, a, sh_a, sh_b). The bound half of the
    * family's bound-then-verify split; each caller applies its own
    * exact scorer on top.
    */
  private def bandedCandidates(hashed: DataFrame, nPerms: Int, nBands: Int,
                               useOph: Boolean = false): DataFrame = {
    val cand = candidatePairs(minhashBands(hashed, col("doc_id"), nPerms, nBands, useOph), "doc_id")
    val shA = hashed.select(col("doc_id").as("a"), col("hs").as("sh_a"))
    val shB = hashed.select(col("doc_id").as("b"), col("hs").as("sh_b"))
    cand.join(shA, "a").join(shB, "b")
  }

  /** The hot-band prune of a base band index: band keys shared by
    * more than `maxBucket` rows carry no dedup signal (stopword-like
    * bands) and are dropped — the same cap [[candidatePairs]] applies
    * within a corpus, applied where the base's buckets live.
    */
  private[graft] def pruneHotBands(bands: DataFrame, maxBucket: Int): DataFrame = {
    val hotKeys = bands.groupBy("band_idx", "band_hash")
      .agg(count(lit(1)).as("n")).filter(col("n") > maxBucket)
      .select("band_idx", "band_hash")
    bands.join(hotKeys, Seq("band_idx", "band_hash"), "left_anti")
  }

  /** Delta-vs-base probe: distinct (`id`, base_id) pairs whose bands
    * collide on one (band_idx, band_hash)-keyed equi-join against the
    * (pruned) base index.
    */
  private def probeBase(deltaBands: DataFrame, baseBands: DataFrame, id: String): DataFrame =
    deltaBands.join(baseBands, Seq("band_idx", "band_hash"))
      .select(col(id), col("base_id")).distinct()

  /** The base half of the MinHash delta-vs-base split over the corpus
    * shingle table: the pruned band index (band_idx, band_hash,
    * base_id) and the verify side (base_id, sh_b).
    */
  private def minhashBaseBands(hashed: DataFrame, deltaMod: Int, nPerms: Int,
                               nBands: Int, maxBucket: Int): DataFrame =
    pruneHotBands(minhashBands(hashed.filter(col("doc_id") % deltaMod =!= 0),
      col("doc_id").as("base_id"), nPerms, nBands), maxBucket)

  private def minhashBaseShingles(hashed: DataFrame, deltaMod: Int): DataFrame =
    hashed.filter(col("doc_id") % deltaMod =!= 0)
      .select(col("doc_id").as("base_id"), col("hs").as("sh_b"))

  /** The delta-vs-base MinHash near-dup verdict: band the delta's
    * (doc_id, hs) rows, [[probeBase]] the pruned base index, verify
    * each candidate with exact [[jaccardX1000]] ≥ τ against the base
    * shingles (base_id, sh_b), and pick each delta doc's best partner
    * by (Jaccard desc, base_id asc) as a partial-aggregable
    * max(struct(jac, −base_id)) — no window, no global sort. One row
    * per delta doc: (doc_id, is_near_dup, best_base_id,
    * best_jaccard_x1000), partner columns null when nothing verifies.
    */
  private[graft] def minhashNearDup(delta: DataFrame, baseBands: DataFrame,
                                    baseShingles: DataFrame, nPerms: Int, nBands: Int,
                                    tauX1000: Long): DataFrame = {
    val best = probeBase(minhashBands(delta, col("doc_id"), nPerms, nBands), baseBands, "doc_id")
      .join(delta.select(col("doc_id"), col("hs").as("sh_d")), "doc_id")
      .join(baseShingles, "base_id")
      .select(col("doc_id"), col("base_id"),
              jaccardX1000(col("sh_d"), col("sh_b")).as("jac"))
      .filter(col("jac") >= tauX1000)
      .groupBy("doc_id")
      .agg(max(struct(col("jac"), (-col("base_id")).as("neg_base"))).as("m"))
      .select(col("doc_id"), (-col("m.neg_base")).as("best_base_id"),
              col("m.jac").as("best_jaccard_x1000"))
    delta.select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("best_base_id").isNotNull.as("is_near_dup"),
              col("best_base_id"), col("best_jaccard_x1000"))
  }

  /** (vec_id, embedding) of the corpus, cached: every embedding dedup
    * plan references it several times (band build, verify sides, id
    * list), and without the cache each reference re-scans and
    * re-decodes the float arrays from parquet (measured 3.47 s vs
    * 1.25 s at sf0.1 under pass-isolated caching).
    */
  private def cachedEmbeddings(s: SparkSession, dir: String): DataFrame =
    graft.Caches.cached(Tables.embeddings(s, dir).select(col("vec_id"), col("embedding")))

  /** The SRP-LSH band step: (vec_id, band_idx, band_hash). The
    * signature is projected to an attribute before banding, so the SRP
    * dot-product scan runs once per row, not once per band.
    */
  private def srpBands(emb: DataFrame, nBands: Int, bitsPerBand: Int): DataFrame =
    emb.select(col("vec_id"),
        call_function("graft_srp_sig", col("embedding"), lit(nBands * bitsPerBand)).as("sig"))
      .select(col("vec_id"), explode(sliceBands(col("sig"), nBands, bitsPerBand)).as("bd"))
      .select(col("vec_id"), col("bd.band_idx"), col("bd.band_hash"))

  /** The family's content hash: sha2-256 of the normalized text. What
    * "exact duplicate" means everywhere in graft — batch, streaming and
    * the corpus card — and what shuffles at 100 TB (32 bytes/doc, never
    * the text).
    */
  private[graft] def contentHash(text: Column): Column = sha2(normText(text), 256)

  /** (doc_id, content_hash, h) from (doc_id, text): the content hash
    * plus its 64-bit bloom key. The key hashes the CONTENT HASH, not
    * the raw text: the xxhash64 input is then a fixed 64-byte ASCII
    * string — cheaper than re-hashing whole documents, and exactly two
    * XXH64 stripes with an empty tail, which is what makes the screen's
    * bit positions replayable straight-line in the DuckDB oracle
    * (SparkEntry.bloomProbeOracle).
    */
  private[graft] def bloomKeyed(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .withColumn("h", xxhash64(col("content_hash")))

  /** The OR-merged `graft_bloom` membership sketch over bloom keys. */
  private[graft] def bloomSketch(h: Column, numBits: Int, numHashes: Int): Column =
    call_function("graft_bloom", h, lit(numBits), lit(numHashes)).as("bloom")

  /** The bloom screen: every keyed row ([[bloomKeyed]]) probes the
    * broadcast 1-row sketch ROW-LOCALLY, yielding (doc_id,
    * content_hash, maybe_dup). A negative is definitively new (no
    * false negatives); only positives need the exact hash join.
    */
  private[graft] def bloomScreen(keyed: DataFrame, sketch: DataFrame): DataFrame =
    keyed.crossJoin(broadcast(sketch))
      .select(col("doc_id"), col("content_hash"),
        call_function("graft_bloom_contains", col("bloom"), col("h")).as("maybe_dup"))

  /** Both directions of each scored pair (a, b, `score`) as (doc_id,
    * partner, `score`) rows, so every member of a pair gets a verdict —
    * via a 2-row explode, NOT a union of two selects over `scored` (a
    * union would reference the subtree twice and re-execute the
    * candidate join; same multi-reference hazard as everywhere else).
    */
  private def bothDirections(scored: DataFrame, score: String): DataFrame =
    scored.select(explode(array(
        struct(col("a").as("doc_id"), col("b").as("partner"), col(score)),
        struct(col("b").as("doc_id"), col("a").as("partner"), col(score)))).as("e"))
      .select(col("e.doc_id"), col("e.partner"), col(s"e.$score").as(score))

  /** One verdict row per doc: rep_id = smallest verified neighbor
    * below it (one-hop), else itself; is_dup = a smaller rep exists.
    */
  private def verdicts(ids: DataFrame, id: String, verified: DataFrame): DataFrame = {
    val reps = verified.groupBy(col("b").as(id)).agg(min("a").as("smaller_rep"))
    ids.join(reps, Seq(id), "left")
      .select(
        col(id),
        coalesce(col("smaller_rep"), col(id)).as(s"rep_$id"),
        col("smaller_rep").isNotNull.as("is_dup"))
      .orderBy(id)
  }

  /** True connected components over the undirected verified-pair graph:
    * every doc labeled with the SMALLEST id reachable through any chain
    * of verified near-dup edges. One-hop rep pointers are NOT enough —
    * a pair of docs linked only through a shared LARGER neighbor
    * (edges (1,3),(2,3)) never merges under a<b pointer chasing; label
    * propagation must run across BOTH directions of every edge, which
    * is why this takes the raw edge list, not verdict rows (verdicts
    * keep only min(a) per b and lose the second edge).
    *
    * Each round does (a) neighbor-min propagation over the symmetrized
    * edge list and (b) a pointer-jump (label ← label(label)), so labels
    * cross a component in O(log diameter) rounds — the
    * large-star/small-star recipe of the MapReduce-CC literature.
    *
    * Structural decisions that matter at scale:
    *  - The loop runs ONLY over vertices that appear in an edge (at real
    *    dup rates a small fraction of the corpus); the full id table
    *    joins back exactly once at the end — and not at all when the
    *    edge set is empty (early exit: every doc is trivially its own
    *    representative).
    *  - Each round applies the neighbor-min and then TWO pointer jumps
    *    against the previous round's label snapshot. A second jump
    *    costs one more small join inside the same round but follows
    *    two hops of the old pointer graph, cutting the number of
    *    rounds (≈ fixed per-round scheduling + checkpoint cost, the
    *    dominant term) for chain-heavy components.
    *  - Rounds run on the round driver ([[graft.Caches.rounds]]), so
    *    each round ends in an EAGER checkpoint, which both materializes
    *    the round and TRUNCATES logical lineage. Truncation is not
    *    optional: a round references the previous frame four times
    *    (neighbor side, join spine, two pointer-jump sides), so the
    *    un-truncated logical plan grows 4^rounds — an 8-round chain
    *    OOMed the driver just BUILDING the plan string. `cache()` does
    *    not help (it truncates physical execution, not the logical
    *    plan the analyzer re-walks every round). The checkpointed
    *    frame is the touched-vertex set — two longs per row — so the
    *    RDD materialization that bypasses AQE is irrelevant here,
    *    unlike the corpus-wide iteration this replaced.
    *  - The driver frees the previous round's checkpoint as soon as
    *    the next one is materialized, so exactly one round is ever
    *    pinned (not maxIters+1 accumulating in the block manager per
    *    call).
    * The convergence signal is a `changed` column folded into the
    * round's frame and read with one cheap aggregate over the already-
    * materialized checkpoint (the old limit-1 `isEmpty` left the
    * round's cache partially populated and recomputed through an
    * unpersisted parent).
    *
    * Fault tolerance: the default `localCheckpoint` stores round
    * blocks on executors — fast, but on a real cluster an executor
    * loss mid-iteration fails the job unrecoverably (lineage is
    * truncated, the blocks are gone). Pass `reliable = true` on a
    * cluster to use reliable `checkpoint()` instead: each round (two
    * longs per touched vertex) is written to the checkpoint directory,
    * surviving executor loss for the price of a small HDFS/object-store
    * write per round. The caller owns `sc.setCheckpointDir` and the
    * directory's cleanup (Spark removes the files on context stop only
    * with `spark.cleaner.referenceTracking.cleanCheckpoints`).
    *
    * @param ids      one row per document (column `id`)
    * @param edges    verified near-dup pairs, columns `a`, `b` (any
    *                 order, deduplication not required)
    * @param reliable use reliable `checkpoint()` (requires the session's
    *                 checkpoint dir to be set) instead of
    *                 `localCheckpoint` — see fault-tolerance note
    */
  def connectedComponents(ids: DataFrame, edges: DataFrame, id: String,
                          maxIters: Int = 20, reliable: Boolean = false): DataFrame = {
    val repCol = s"rep_$id"
    // Symmetrize once; referenced every round, so cache the (a,b) pairs
    // (two longs per edge — the text never enters the iteration).
    // Cached hash(b): the per-round neighbor-min join (sym.b == lbl.id)
    // re-exchanges only the label side, never the edge list.
    val sym = graft.Caches.cached(
      edges.select(col("a"), col("b"))
        .union(edges.select(col("b").as("a"), col("a").as("b")))
        .repartition(col("b")))
    // Empty edge set: skip the loop AND the rep join — nothing is a dup.
    if (sym.isEmpty)
      return ids.select(col(id), col(id).as(repCol), lit(false).as("is_dup")).orderBy(id)

    // Round 0 fuses the first neighbor-min into label init: the touched
    // vertex set is sym's group-by spine anyway, so labeling each vertex
    // least(id, min neighbor) costs the same one aggregate as a plain
    // distinct — and star/pair components (the overwhelming shape at
    // real dup rates) are already converged, so the loop below runs ONE
    // confirming round instead of propagate + confirm. One round saved
    // is one checkpoint + three joins saved — the fixed per-round cost
    // dominates this operator end to end.
    // NOT staticRounds (GraphOps.pageRank's r22 treatment): this
    // round's pointer-jump self-joins key on rep1/rep2 — never
    // co-partitioned with the carried hash(id), and the checkpointed
    // sides are LogicalRDDs the static planner cannot size, so AQE's
    // runtime broadcast of the node-scale sides is load-bearing here
    // (r22 A/B at sf0.1/32: 4.0 s adaptive vs 12.4 s static).
    // State: the (id, rep) labels and whether the last round changed
    // any; a round that changes none is the fixpoint.
    val (labels, _) = graft.Caches.rounds(sym.sparkSession, maxIters, reliable) { round =>
      (round.checkpoint(sym.groupBy(col("a").as(id))
        .agg(min(col("b")).as("nbr0"))
        .select(col(id), least(col(id), col("nbr0")).as(repCol))), true)
    } {
      case (_, (_, false)) => None
      case (round, (cur, _)) =>
        val lbl  = cur.select(col(id).as("l_id"), col(repCol).as("l_rep"))
        val par  = cur.select(col(id).as("p_id"), col(repCol).as("p_rep"))
        val par2 = cur.select(col(id).as("q_id"), col(repCol).as("q_rep"))
        val nbrMin = sym.join(lbl, col("b") === col("l_id"))
          .groupBy(col("a")).agg(min("l_rep").as("nbr_rep"))
        val next = round.checkpoint(
          cur.join(nbrMin, col(id) === col("a"), "left")
            .select(col(id), col(repCol).as("old_rep"),
                    least(col(repCol), coalesce(col("nbr_rep"), col(repCol))).as("rep1"))
            .join(par, col("rep1") === col("p_id"), "left")
            .select(col(id), col("old_rep"),
                    least(col("rep1"), coalesce(col("p_rep"), col("rep1"))).as("rep2"))
            .join(par2, col("rep2") === col("q_id"), "left")
            .select(col(id), col("old_rep"),
                    least(col("rep2"), coalesce(col("q_rep"), col("rep2"))).as(repCol))
            .select(col(id), col(repCol), (col(repCol) =!= col("old_rep")).as("changed")))
        // Cheap aggregate over the materialized checkpoint.
        val changed = next.agg(coalesce(max(col("changed")), lit(false))).head().getBoolean(0)
        Some((next.select(col(id), col(repCol)), changed))
    }
    ids.join(labels, Seq(id), "left")
      .select(col(id), coalesce(col(repCol), col(id)).as(repCol))
      .withColumn("is_dup", col(repCol) =!= col(id))
      .orderBy(id)
  }

  // ----------------------------------------------------------------
  // operators
  // ----------------------------------------------------------------

  /** Exact dedup by hash of the normalized text: group on the 256-bit
    * digest (what shuffles at 100 TB — 32 bytes/doc, not the text),
    * keep the smallest doc_id per group. SQL-expressible → oracle
    * groups on the normalized text itself (bit-identical groups,
    * collision probability ~0).
    */
  def dedupExactHash(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), contentHash(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .select("keep_doc_id", "n_copies")
      .orderBy("keep_doc_id")
  }

  /** Keep-BEST dedup resolution: within each near-dup cluster
    * ([[dedupClusters]] — true CC over the verified MinHash edges),
    * keep the HIGHEST-QUALITY member ([[TextOps.textQualityScore]]),
    * not the smallest id — the policy real corpus builds run: when a
    * page was crawled five times, ship the cleanest copy. Tie-break is
    * the smaller doc_id for determinism.
    *
    * One extra shuffle over [[dedupClusters]]: the component-keyed
    * window that picks each cluster's argmax — component ids are the
    * key space, quality rows are (id, long) pairs. The quality join is
    * doc_id-keyed against frames that already carry that partitioning.
    */
  def dedupKeepBest(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val clusters = dedupClusters(s, dir)
    val quality = TextOps.textQualityScore(s, dir)
      .select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy("rep_doc_id")
      .orderBy(col("quality_score").desc, col("doc_id"))
    clusters.join(quality, "doc_id")
      .select(col("doc_id"),
              first_value(col("doc_id")).over(w).as("best_doc_id"))
      .withColumn("is_kept", col("doc_id") === col("best_doc_id"))
      .orderBy("doc_id")
  }

  /** Incremental (delta-vs-base) exact dedup — the shape every
    * CONTINUOUSLY-ingesting pipeline actually runs: a new batch is
    * deduped against the accumulated corpus without rescanning it for
    * pairs. The delta here is the deterministic `doc_id % deltaMod == 0`
    * slice standing in for "today's crawl"; base is everything else.
    * Emits one row per delta doc: its content hash and whether it is
    * NEW (hash absent from base) — the filter a downstream appender
    * applies before extending the corpus.
    *
    * Scale shape: both sides reduce to 32-byte sha2-256 hashes before
    * any join (the [[dedupExactHash]] rule — text never shuffles); the
    * base side pre-aggregates to DISTINCT hashes (map-side partial
    * dedup), then ONE hash-keyed shuffle joins delta against base. No
    * broadcast: the base corpus grows without bound, so this must stay
    * a shuffled join — at 100 TB it is a sort-merge/shuffled-hash join
    * on fixed-width keys, and bucketing the corpus's hash column
    * ([[graft.sources.Sources]] bucketed write) removes even that
    * exchange on the base side.
    */
  def dedupIncremental(s: SparkSession, dir: String, deltaMod: Int = DefaultDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    // Shared by the base and delta sides — one scan+hash, not two.
    val hashed = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), contentHash(col("text")).as("content_hash")))
    val base = hashed.filter(col("doc_id") % deltaMod =!= 0)
      .select(col("content_hash")).distinct()
      .withColumn("in_base", lit(true))
    hashed.filter(col("doc_id") % deltaMod === 0)
      .join(base, Seq("content_hash"), "left")
      .select(
        col("doc_id"),
        col("content_hash"),
        col("in_base").isNull.as("is_new"))
      .orderBy("doc_id")
  }

  /** Batch twin of the STREAMING delta-vs-base dedup
    * ([[graft.streaming.EventStreams.dedupIncremental]] — identical
    * bloom-screen-then-exact-verify plan on a bounded delta): the
    * deterministic `doc_id % deltaMod == 0` slice plays the stream,
    * the rest the accumulated base. Output (doc_id, content_hash,
    * is_new) is the EXACT verdict, so it hash-verifies against the
    * same oracle as [[dedupIncremental]]; StreamingSpec proves
    * stream == batch on the same rows, and DedupSpec's bloom-probe
    * specs cover the screen's soundness.
    */
  def streamDedupIncremental(s: SparkSession, dir: String,
                             deltaMod: Int = DefaultDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    val docs = Tables.documents(s, dir)
    graft.streaming.EventStreams.dedupIncremental(
        docs.filter(col("doc_id") % deltaMod === 0).select("doc_id", "text"),
        docs.filter(col("doc_id") % deltaMod =!= 0).select("text"))
      .orderBy("doc_id")
  }

  /** The PERSISTED dedup-base artifacts behind the at-scale streaming
    * shape ([[streamDedupPersisted]]): (1) the base corpus's distinct
    * sha2-256 hash table with its 64-bit bloom key attached, and
    * (2) the OR-merged `graft_bloom` sketch over that key — both
    * published once per ingest through [[graft.Substrate]] (atomic,
    * content-keyed, corpus-fingerprinted), so every later consumer —
    * batch or micro-batch — re-plans a manifest-sized parquet read
    * instead of re-deriving anything from the raw corpus. Both builds
    * are deterministic bytes: the hash table is distinct strings +
    * their xxhash64, the sketch a bitwise-OR fold (order-free). At
    * 100 TB the deployment dial is bucketing the hash table on
    * content_hash at write so the verify join co-locates; the bloom
    * stays KB-scale regardless.
    */
  private[graft] def dedupBaseArtifacts(s: SparkSession, dir: String,
      deltaMod: Int = DefaultDeltaMod, numBits: Int = 1 << 17,
      numHashes: Int = 5): (String, String) = {
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val hashes = graft.Substrate.materialized(
        s, "dedup_base_hashes", realDir, Seq(deltaMod)) {
      Tables.documents(s, dir).filter(col("doc_id") % deltaMod =!= 0)
        .select(contentHash(col("text")).as("content_hash"))
        .distinct()
        .withColumn("h", xxhash64(col("content_hash")))
    }
    val bloom = graft.Substrate.materialized(
        s, "dedup_base_bloom", realDir, Seq(deltaMod, numBits, numHashes)) {
      graft.plans.GraftFunctions.ensureRegistered(s)
      Tables.parquet(s, hashes).agg(bloomSketch(col("h"), numBits, numHashes))
    }
    (hashes, bloom)
  }

  /** Batch twin of the streaming dedup's AT-SCALE shape
    * ([[graft.streaming.EventStreams.dedupIncrementalPersisted]]):
    * the base side is the two substrate artifacts of
    * [[dedupBaseArtifacts]], so the per-(micro-)batch plan touches the
    * raw corpus only as the DELTA slice (once per union branch) plus
    * two manifest-sized substrate reads — never a base re-derivation
    * (PlanQualitySpec pins that scan set). Output is the same EXACT
    * verdict as [[dedupIncremental]],
    * hash-verified against the same oracle; StreamingSpec proves
    * stream == batch over the persisted base.
    */
  def streamDedupPersisted(s: SparkSession, dir: String,
                           deltaMod: Int = DefaultDeltaMod): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    val (hashes, bloom) = dedupBaseArtifacts(s, dir, deltaMod)
    graft.streaming.EventStreams.dedupIncrementalPersisted(
        Tables.documents(s, dir).filter(col("doc_id") % deltaMod === 0)
          .select("doc_id", "text"),
        hashes, bloom)
      .orderBy("doc_id")
  }

  /** The PERSISTED near-dup base behind the streaming MinHash shape
    * ([[streamDedupMinhash]]) — [[dedupBaseArtifacts]]' move for the
    * LSH family: (1) the base corpus's PRUNED banded-MinHash index
    * (band_idx, band_hash, base_id) with hot band keys (> maxBucket
    * members — stopword-like bands carrying no dedup signal) removed
    * at publish time ([[pruneHotBands]]), and (2) the base
    * hashed-shingle table keyed for the verify join. Both derive from
    * the already-persisted corpus shingle substrate through the same
    * two definitions the batch [[dedupIncrementalMinhash]] builds its
    * in-memory base with, and are deterministic integer bytes (xxhash64
    * signatures; the prune is a pure count threshold), published once
    * per ingest through [[graft.Substrate]]. Every micro-batch then
    * probes a manifest-sized parquet band index instead of re-banding
    * the base — the persisted LSH index every production 100 TB
    * near-dup pipeline keeps. At scale the deployment dial is
    * bucketing the band index on (band_idx, band_hash) at write so
    * the probe join co-locates.
    */
  private[graft] def minhashBaseArtifacts(s: SparkSession, dir: String,
      deltaMod: Int = DefaultDeltaMod, nPerms: Int = 64, nBands: Int = 16,
      shingleN: Int = 3, maxBucket: Int = 1024): (String, String) = {
    GraftFunctions.ensureRegistered(s)
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val bands = graft.Substrate.materialized(
        s, "minhash_base_bands", realDir,
        Seq(deltaMod, nPerms, nBands, shingleN, maxBucket)) {
      minhashBaseBands(hashedShingles(s, dir, shingleN), deltaMod, nPerms, nBands, maxBucket)
    }
    val shingles = graft.Substrate.materialized(
        s, "minhash_base_shingles", realDir, Seq(deltaMod, shingleN)) {
      minhashBaseShingles(hashedShingles(s, dir, shingleN), deltaMod)
    }
    (bands, shingles)
  }

  /** Batch twin of the streaming MINHASH near-dup's at-scale shape —
    * [[streamDedupPersisted]]'s move for the LSH family: the
    * deterministic delta slice runs the SAME per-micro-batch function
    * ([[graft.streaming.EventStreams.dedupMinhashPersisted]]) against
    * the two [[minhashBaseArtifacts]] substrate leaves, so the
    * foreachBatch stream and this key share one plan and one oracle
    * (identical output contract to [[dedupIncrementalMinhash]] —
    * hash-verified against the same exact-Jaccard SQL; the banding
    * can only MISS vs the oracle, and a miss at the shipped dials is
    * the legitimate failure [[dedupIncrementalMinhash]]'s scaladoc
    * documents). StreamingSpec proves foreachBatch == this key across
    * micro-batch splits.
    */
  def streamDedupMinhash(s: SparkSession, dir: String,
                         deltaMod: Int = DefaultDeltaMod, nPerms: Int = 64,
                         nBands: Int = 16, shingleN: Int = 3,
                         tauX1000: Long = 800, maxBucket: Int = 1024): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    val (bands, shingles) =
      minhashBaseArtifacts(s, dir, deltaMod, nPerms, nBands, shingleN, maxBucket)
    graft.streaming.EventStreams.dedupMinhashPersisted(
        Tables.documents(s, dir).filter(col("doc_id") % deltaMod === 0)
          .select("doc_id", "text"),
        bands, shingles, nPerms, nBands, shingleN, tauX1000)
      .orderBy("doc_id")
  }

  /** Bloom-prefiltered incremental exact dedup — what
    * [[dedupIncremental]]'s shuffled probe join costs at 100 TB is
    * exactly what this removes for the clean majority of a delta: the
    * base corpus collapses ONCE into a `graft_bloom` membership
    * sketch (a [[graft.functions.BloomSketch]] — partial bitsets
    * merged by bitwise OR, so the build shuffles numBits/8 bytes per
    * partition, never keys), the KB-scale sketch broadcasts, and
    * every delta row screens ROW-LOCALLY with the codegen'd
    * `graft_bloom_contains` probe. Only bloom-POSITIVES (true dups +
    * the bounded false-positive tail) enter the exact semi-join; a
    * bloom-negative is definitively new — the no-false-negative
    * guarantee is what makes the skip sound, the same
    * candidate-then-verify discipline as the LSH family.
    *
    * Output is the self-monitoring form ([[dedupLshEval]]'s
    * argument): per delta doc the screen verdict AND the exact one,
    * so the realized FP rate is one aggregation away — DedupSpec
    * asserts exact-==-unfiltered equality (soundness) and the
    * (1−e^(−kn/m))^k FP ceiling (effectiveness).
    */
  def dedupBloomProbe(s: SparkSession, dir: String, deltaMod: Int = DefaultDeltaMod,
                      numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    graft.plans.GraftFunctions.ensureRegistered(s)
    // TWO hashes with distinct jobs: xxhash64 feeds the bloom (the
    // sketch needs a 64-bit integer key), but the EXACT verification
    // joins on the family's sha2-256 content hash — at the
    // multi-billion-doc scale this operator targets, 64-bit birthday
    // collisions are expected, and a verify keyed on the screen's own
    // hash would inherit them as false "exact" dups ([[dedupExactHash]]
    // / [[dedupIncremental]] define duplication by sha2-256).
    val hashed = graft.Caches.cached(bloomKeyed(Tables.documents(s, dir)))
    val base = hashed.filter(col("doc_id") % deltaMod =!= 0)
    val sketch = base.agg(bloomSketch(col("h"), numBits, numHashes))
    // cached: both the positives branch and the final join consume the
    // screen — without it the sketch build and the whole-delta probe
    // execute twice
    val screened = graft.Caches.cached(
      bloomScreen(hashed.filter(col("doc_id") % deltaMod === 0), sketch))
    // exact verification for the positives only — the negatives never
    // reach a shuffle (left join keeps them with in_base null)
    val positives = screened.filter(col("maybe_dup"))
      .join(base.select(col("content_hash")).distinct()
              .withColumn("in_base", lit(true)),
            Seq("content_hash"), "left")
      .select(col("doc_id"), col("in_base").isNotNull.as("is_dup"))
    screened.join(positives, Seq("doc_id"), "left")
      .select(col("doc_id"), col("maybe_dup"),
              coalesce(col("is_dup"), lit(false)).as("is_dup"))
      .orderBy("doc_id")
  }

  /** Incremental NEAR-dup: today's delta batch probed against the
    * accumulated corpus's MinHash band index — the continuously-
    * ingesting counterpart of [[dedupMinhashLsh]], exactly as
    * [[dedupIncremental]] is for exact hashes. It runs the family's one
    * delta-vs-base body, [[minhashNearDup]], over the in-memory corpus
    * shingle table: the base side is the same pruned band index and
    * base shingle table that [[minhashBaseArtifacts]] persists for the
    * streaming twin ([[streamDedupMinhash]]), built by the same two
    * definitions, so the batch and streaming keys differ only in where
    * the base bytes come from. A new batch costs: band its own
    * signatures, ONE equi-join on the (band_idx, band_hash) key against
    * the index, exact Jaccard verification on the surviving candidates
    * — base text never rescanned, base×base pairs never reconsidered,
    * and the join is keyed both sides (the delta grows with batch
    * size, so neither side broadcasts by construction).
    *
    * The stopword-band valve is [[pruneHotBands]] on the INDEX side: a
    * band key shared by more than `maxBucket` base docs carries no
    * dedup signal and is dropped before the probe join.
    *
    * Output: one row per DELTA doc — is it a near-dup of the base,
    * and its best base partner by (Jaccard desc, base_id). Oracle is
    * the exact all-pairs delta×base SQL at τ = 0.8, which has TWO
    * miss modes to stay aware of: (a) the probabilistic any-band
    * recall bound (≥ 1-1e-4 at the shipped parameters — same argument
    * as the all-pairs operator), and (b) the `maxBucket` hot-band
    * valve, a DETERMINISTIC prune: a true ≥τ pair whose every shared
    * band is hotter than `maxBucket` is dropped by the engine but
    * found by the oracle. On the verify corpus the hottest band
    * bucket is far below the default 1024, so the valve is provably
    * inert there; a corpus with degenerate band keys (boilerplate
    * shingles) would need maxBucket raised — or the miss accepted and
    * the oracle check relaxed — and that is a legitimate-looking
    * oracle failure, not an engine bug.
    */
  def dedupIncrementalMinhash(s: SparkSession, dir: String, deltaMod: Int = DefaultDeltaMod,
                              nPerms: Int = 64, nBands: Int = 16,
                              shingleN: Int = 3, tauX1000: Long = 800,
                              maxBucket: Int = 1024): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    GraftFunctions.ensureRegistered(s)
    val hashed = hashedShingles(s, dir, shingleN)
    minhashNearDup(hashed.filter(col("doc_id") % deltaMod === 0),
        minhashBaseBands(hashed, deltaMod, nPerms, nBands, maxBucket),
        minhashBaseShingles(hashed, deltaMod), nPerms, nBands, tauX1000)
      .orderBy("doc_id")
  }

  /** The MinHash-LSH pipeline up to (and including) exact verification:
    * returns (ids, verified pairs a<b). Shared by [[dedupMinhashLsh]]
    * (one-hop verdicts) and [[dedupClusters]] (true connected
    * components, which needs the FULL edge set — verdict rows lose
    * every edge that is not the min).
    */
  private def minhashVerifiedPairs(s: SparkSession, dir: String,
                                   nPerms: Int, nBands: Int,
                                   shingleN: Int, tauX1000: Long): (DataFrame, DataFrame) = {
    GraftFunctions.ensureRegistered(s)
    val hashed = hashedShingles(s, dir, shingleN)
    val verified = bandedCandidates(hashed, nPerms, nBands)
      .filter(jaccardX1000(col("sh_a"), col("sh_b")) >= tauX1000)
      .select("a", "b")
    (hashed.select("doc_id"), verified)
  }

  /** MinHash(64 perms) + LSH(16 bands × 4) over word-3-gram shingles,
    * candidates verified with exact shingle Jaccard ≥ 0.8. The
    * ~(1/16)^(1/4) ≈ 0.5 banding threshold over-generates candidates
    * slightly; exact verification trims to the true near-dup set.
    */
  def dedupMinhashLsh(s: SparkSession, dir: String,
                      nPerms: Int = 64, nBands: Int = 16,
                      shingleN: Int = 3, tauX1000: Long = 800): DataFrame = {
    val (ids, verified) = minhashVerifiedPairs(s, dir, nPerms, nBands, shingleN, tauX1000)
    verdicts(ids, "doc_id", verified)
  }

  /** MinHash-LSH near-dup detection resolved to TRUE clusters: every
    * doc labeled with the smallest doc_id in its connected component of
    * the verified-pair graph ([[connectedComponents]] over the same
    * verified edges [[dedupMinhashLsh]] judges one-hop).
    *
    * MATERIALIZED once per (canonical dir, params) and read back as
    * parquet on later calls ([[graft.Substrate]], the co-purchase-memo
    * pattern): the cluster map is the substrate FOUR keys resolve
    * policies over (`dedup_clusters`, `dedup_keep_best`,
    * `dedup_soft_weight`, `dedup_rate_by_source`), and a production
    * dedup pipeline persists its cluster assignment once per ingest —
    * the iterative component loop is the single most expensive line in
    * the family, exactly what must not re-run per policy query. Pure
    * deterministic longs + a bool → bit-exact round trip.
    */
  def dedupClusters(s: SparkSession, dir: String,
                    nPerms: Int = 64, nBands: Int = 16,
                    shingleN: Int = 3, tauX1000: Long = 800): DataFrame = {
    val realDir = graft.Substrate.canonicalDir(s, dir)
    Tables.parquet(s, graft.Substrate.materialized(
      s, "dedup_clusters", realDir, Seq(nPerms, nBands, shingleN, tauX1000)) {
      val (ids, verified) = minhashVerifiedPairs(s, dir, nPerms, nBands, shingleN, tauX1000)
      connectedComponents(ids, verified, "doc_id")
    }).orderBy("doc_id")
  }

  /** Soft dedup: keep EVERY document but down-weight members of a
    * near-dup cluster by its size — `weight_x1000 =
    * floor(1000 / cluster_size)` — the unbiased alternative to
    * dropping duplicates: the expected token distribution matches the
    * hard-deduplicated corpus while no document (and none of the
    * in-cluster variation) is lost. Clusters are the MinHash-LSH
    * verified transitive components of [[dedupClusters]] (same
    * params, same component loop), so the two keys cannot drift.
    *
    * Shape at 100 TB: one COUNT shuffle keyed by the component
    * representative (three longs per row — text never enters) + one
    * join back on the rep; a rounding error next to the component
    * iteration that precedes it.
    */
  def dedupSoftWeight(s: SparkSession, dir: String,
                      nPerms: Int = 64, nBands: Int = 16,
                      shingleN: Int = 3, tauX1000: Long = 800): DataFrame = {
    val comp = dedupClusters(s, dir, nPerms, nBands, shingleN, tauX1000)
      .select(col("doc_id"), col("rep_doc_id"))
    val sizes = comp.groupBy("rep_doc_id")
      .agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "rep_doc_id")
      .select(col("doc_id"), col("rep_doc_id"), col("cluster_size"),
              floor(lit(1000.0) / col("cluster_size")).cast("long").as("weight_x1000"))
      .orderBy("doc_id")
  }

  /** Per-SOURCE near-dup audit — the mixing-table report a corpus
    * build reads before weighting sources ([[graft.operators
    * .TrainingOps]]' mix keys consume sources as units; this is the
    * health column next to each row): how much of each source is
    * near-duplicated (cluster members beyond the keeper → `n_dropped`,
    * `dup_ppm`), and how much of it collides with OTHER sources
    * (`n_cross_source` = docs whose cluster spans >1 source — the
    * contamination axis `corpus_overlap_matrix` measures pairwise,
    * rolled up to the per-source rate). Clusters are
    * [[dedupClusters]]' verified transitive components at the same
    * parameters, so the audit cannot drift from the dedup it audits.
    *
    * Shape at 100 TB: after the shared component loop, one
    * COUNT-DISTINCT-source shuffle keyed by cluster representative
    * (two longs + a short source string per row), one rep-keyed join
    * back, one ~|sources|-group rollup. Text never enters a shuffle.
    */
  def dedupRateBySource(s: SparkSession, dir: String,
                        nPerms: Int = 64, nBands: Int = 16,
                        shingleN: Int = 3, tauX1000: Long = 800): DataFrame = {
    val comp = dedupClusters(s, dir, nPerms, nBands, shingleN, tauX1000)
      .select(col("doc_id"), col("rep_doc_id"), col("is_dup"))
    val docs = comp.join(
      Tables.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
    val clusterSources = docs.groupBy("rep_doc_id")
      .agg(countDistinct(col("source")).as("n_sources"))
    docs.join(clusterSources, "rep_doc_id")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
           sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
           sum(when(col("n_sources") > 1, 1L).otherwise(0L)).as("n_cross_source"))
      .select(col("source"), col("n_docs"), col("n_dropped"), col("n_cross_source"),
              expr("1000000 * n_dropped div n_docs").as("dup_ppm"))
      .orderBy("source")
  }

  /** 64-bit SimHash over the token multiset + 4×16-bit hamming-band
    * bucketing; candidates verified with bit_count(xor) ≤ 3. A pair
    * within hamming distance d is guaranteed to agree on ≥ one of
    * (d+1) bands, so 4 bands exactly covers d ≤ 3 — a DETERMINISTIC
    * cover, unlike MinHash banding's probabilistic recall.
    *
    * Hash-verified since r16: the xxhash64-derived signature replays
    * in SQL via the per-token XXH64 expansion (variable-length tokens
    * handled as conditional tail rounds), so the oracle rebuilds the
    * per-(doc, bit) signed accumulation, the 4×16 banding, and the
    * bit_count hamming verify relationally. DedupSpec keeps the
    * full-strength structural check: banded verdicts == plain
    * all-pairs hamming verdicts, exactly (the cover argument made a
    * test).
    */
  def dedupSimhash(s: SparkSession, dir: String, maxHamming: Int = 3): DataFrame = {
    // One codegen'd pass (graft.functions.SimHash64): each token hashed
    // once, 64 signed bit-position accumulators, sign bit k of the
    // result = accumulated weight at position k is positive. All
    // row-local — signatures shuffle, text never does. Cached (16
    // bytes/doc) because the plan references it four times: banding,
    // both verification sides, and the output's signature column.
    GraftFunctions.ensureRegistered(s)
    val withSig = graft.Caches.cached(
      Tables.documents(s, dir)
        .select(col("doc_id"), call_function("graft_simhash", tokens(col("text"))).as("simhash")))
    val bands = withSig.select(
        col("doc_id"),
        explode(array((0 until 4).map(b =>
          struct(lit(b).as("band_idx"),
                 shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL)).as("band_hash"))): _*)).as("bd"))
      .select(col("doc_id"), col("bd.band_idx"), col("bd.band_hash"))
    val cand = candidatePairs(bands, "doc_id")
    val sigA = withSig.select(col("doc_id").as("a"), col("simhash").as("sim_a"))
    val sigB = withSig.select(col("doc_id").as("b"), col("simhash").as("sim_b"))
    val verified = cand.join(sigA, "a").join(sigB, "b")
      .filter(bit_count(col("sim_a").bitwiseXOR(col("sim_b"))) <= maxHamming)
      .select("a", "b")
    verdicts(withSig.select("doc_id"), "doc_id", verified)
      .join(withSig, "doc_id")
      .select("doc_id", "simhash", "rep_doc_id", "is_dup")
      .orderBy("doc_id")
  }

  /** Word-bigram Jaccard scoring within MinHash-LSH candidates: for
    * every doc, the best VERIFIED partner (exact bigram Jaccard ≥ τ)
    * and its score (×1000); docs with no verified partner report
    * (null, 0, false). Bigrams + a laxer banding recall weaker
    * matches than [[dedupMinhashLsh]]'s 3-gram/0.8 setting.
    * Filtering to ≥ τ BEFORE best-partner selection keeps the per-doc
    * aggregation off the (much larger) sub-threshold candidate set —
    * and makes the output a pure function of the corpus, so the
    * DuckDB all-pairs oracle can verify it exactly.
    *
    * Banding 86 bands × 3 rows (nPerms = 258): recall at J ≥ 0.5 is
    * 1-(1-0.5³)⁸⁶ ≈ 1-1e-5 — as good as the old 32×2 — while the
    * background candidate rate drops ~8× (2-row bands admit nearly
    * every pair with J ≥ 0.2: measured 390k → 50k candidates at
    * sf0.1, identical verified output). Candidate volume, not
    * signature width, is what hurts at 100 TB — the extra perms are
    * row-local in the fused one-pass expression.
    */
  def dedupNgramJaccard(s: SparkSession, dir: String,
                        nPerms: Int = 258, nBands: Int = 86,
                        tauX1000: Long = 500, useOph: Boolean = false): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val hashed = hashedShingles(s, dir, 2)
    // At 258 perms the row-local banding scan is the operator's
    // dominant cost, exactly the regime the OPH variant caps.
    val scored = bandedCandidates(hashed, nPerms, nBands, useOph)
      .select(col("a"), col("b"), jaccardX1000(col("sh_a"), col("sh_b")).as("j"))
      .filter(col("j") >= tauX1000)
    val best = bothDirections(scored, "j").groupBy("doc_id")
      .agg(max(struct(col("j"), (col("partner") * -1).as("neg_partner"))).as("top"))
      .select(col("doc_id"),
              (col("top.neg_partner") * -1).as("best_match_id"),
              col("top.j").as("best_jaccard_x1000"))
    hashed.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("best_match_id"),
        coalesce(col("best_jaccard_x1000"), lit(0L)).as("best_jaccard_x1000"),
        col("best_match_id").isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  /** Asymmetric CONTAINMENT scoring within near-dup candidates: for
    * every doc, the best partner measured by containment
    * c(a→b) = |A∩B| / |A| — "how much of a is inside b" — the signal
    * that catches a short document quoted verbatim inside a longer one,
    * where symmetric Jaccard (diluted by the longer doc's extra
    * shingles) scores low. Bigram shingles, exact containment
    * post-verification, same fused-band candidate generation as
    * [[dedupNgramJaccard]].
    *
    * CANDIDATE CONTRACT: pairs are drawn from MinHash-LSH banding,
    * which indexes symmetric Jaccard — so the operator scores
    * containment AMONG pairs with J ≥ tauJX1000/1000 (recall
    * ≥ 1-1e-5 at the 86×3 banding), and that J-floor is part of the
    * operator's definition (it is what makes the output a pure
    * function of the corpus, exactly checkable by the all-pairs
    * oracle). Fully-asymmetric search (tiny A inside huge B at
    * J ≈ |A|/|B| → 0) needs a prefix-filter/containment-LSH index —
    * out of scope here; at 100 TB the standing alternative is
    * [[dedupSubstring]], whose shared-window signal is already
    * length-ratio-independent.
    */
  def dedupContainment(s: SparkSession, dir: String,
                       nPerms: Int = 258, nBands: Int = 86,
                       tauJX1000: Long = 500, tauContX1000: Long = 900): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val hashed = hashedShingles(s, dir, 2)
    // Score once per pair; per-direction containment divides the SAME
    // intersection by each side's own shingle count. The J-floor filter
    // keeps the per-doc aggregation off the sub-threshold candidate mass
    // (and matches the oracle's all-pairs J ≥ τ scope).
    // ONE overlap kernel pass per pair, projected to an attribute so
    // the inter and J extracts below share it (two references — the
    // CollapseProject rule)
    val scored = bandedCandidates(hashed, nPerms, nBands)
      .select(col("a"), col("b"),
              call_function("graft_set_overlap", col("sh_a"), col("sh_b")).as("ov"),
              size(col("sh_a")).cast("long").as("na"),
              size(col("sh_b")).cast("long").as("nb"))
      .select(col("a"), col("b"), col("ov.inter").as("inter"),
              col("na"), col("nb"), col("ov.j_x1000").as("j"))
      .filter(col("j") >= tauJX1000)
    val both = scored.select(explode(array(
        struct(col("a").as("doc_id"), col("b").as("partner"),
               floor(lit(1000.0) * col("inter") / col("na")).cast("long").as("cont")),
        struct(col("b").as("doc_id"), col("a").as("partner"),
               floor(lit(1000.0) * col("inter") / col("nb")).cast("long").as("cont")))).as("e"))
      .select(col("e.doc_id"), col("e.partner"), col("e.cont"))
    val best = both.groupBy("doc_id")
      .agg(max(struct(col("cont"), (col("partner") * -1).as("neg_partner"))).as("top"))
      .select(col("doc_id"),
              (col("top.neg_partner") * -1).as("container_id"),
              col("top.cont").as("containment_x1000"))
    hashed.select("doc_id").join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("container_id"),
        coalesce(col("containment_x1000"), lit(0L)).as("containment_x1000"),
        (coalesce(col("containment_x1000"), lit(0L)) >= tauContX1000).as("is_contained"))
      .orderBy("doc_id")
  }

  /** Character-level fuzzy dedup: each document's best partner by
    * LEVENSHTEIN distance over the normalized text — the edit-based
    * view of similarity (typo/OCR/near-verbatim variants) that
    * set-based Jaccard can't rank: two docs with the same shingle SET
    * but different orderings tie on Jaccard and separate on edit
    * distance.
    *
    * CANDIDATE CONTRACT (same as [[dedupContainment]]): pairs are the
    * MinHash-LSH verified set at bigram Jaccard ≥ τ, so the output is
    * a pure function of the corpus (any-band collision ≥ 1-1e-4 at
    * the threshold) and the oracle reproduces it from exact all-pairs
    * SQL. Levenshtein is O(|a|·|b|) PER PAIR — affordable precisely
    * because it runs on the verified candidates (≪ n²), never
    * all-pairs; both text sides join to the slim pair frame by key.
    * Docs without a verified partner report (-1, not-dup).
    */
  def dedupEditDistance(s: SparkSession, dir: String,
                        nPerms: Int = 258, nBands: Int = 86,
                        tauX1000: Long = 500): DataFrame = {
    val (ids, verified) = minhashVerifiedPairs(s, dir, nPerms, nBands, 2, tauX1000)
    // referenced for BOTH pair sides — cached, or the documents scan +
    // regex normalization runs twice (the hashedShingles rule)
    val norm = graft.Caches.cached(
      Tables.documents(s, dir)
        .select(col("doc_id"), normText(col("text")).as("norm")))
    val scored = verified
      .join(norm.select(col("doc_id").as("a"), col("norm").as("na")), "a")
      .join(norm.select(col("doc_id").as("b"), col("norm").as("nb")), "b")
      .select(col("a"), col("b"),
              levenshtein(col("na"), col("nb")).cast("long").as("lev"))
    val best = bothDirections(scored, "lev").groupBy("doc_id")
      .agg(min(struct(col("lev"), col("partner"))).as("top"))
      .select(col("doc_id"), col("top.partner").as("best_match_id"),
              col("top.lev").as("best_lev"))
    ids.join(best, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("best_match_id"),
        coalesce(col("best_lev"), lit(-1L)).as("best_lev"),
        col("best_match_id").isNotNull.as("is_dup"))
      .orderBy("doc_id")
  }

  /** Windowed exact-substring dedup: flag documents that share a
    * VERBATIM run of `windowTokens` consecutive tokens with any other
    * document — the distributed approximation of suffix-array
    * exact-substring dedup ("Deduplicating Training Data Makes
    * Language Models Better"-style): any shared substring of ≥
    * 2·windowTokens-1 tokens necessarily contains a shared aligned
    * window, so long verbatim passages (licenses, templates, quoted
    * articles) are caught even when whole-document similarity is low —
    * the case the MinHash family is blind to by design.
    *
    * Shape at 100 TB: windows are hashed row-local (8 bytes each —
    * strings never shuffle; same collision argument as
    * [[hashedShingles]]); ONE count shuffle keyed by window hash
    * (partial-aggregated, keys bounded by the distinct-window
    * vocabulary), one join back to count each doc's shared windows.
    * Short documents fall back to a single whole-document window
    * (degrading to exact dedup, never silently skipped).
    */
  def dedupSubstring(s: SparkSession, dir: String, windowTokens: Int = 8): DataFrame = {
    val hashed = graft.Caches.cached(
      Tables.documents(s, dir)
        .select(col("doc_id"), tokens(col("text")).as("toks"))
        .select(col("doc_id"), wordNgrams(col("toks"), windowTokens).as("wins"))
        .select(col("doc_id"), transform(col("wins"), x => xxhash64(x)).as("whs")))
    val exploded = hashed.select(col("doc_id"), explode(col("whs")).as("wh"))
    // windows are distinct per doc, so plain COUNT(*) = distinct docs
    val winDf = exploded.groupBy("wh").agg(count(lit(1)).as("n_docs"))
    val perDoc = exploded.join(winDf, "wh")
      .groupBy("doc_id")
      .agg(sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("shared"))
    hashed.select(col("doc_id"), size(col("whs")).cast("long").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
              coalesce(col("shared"), lit(0L)).as("n_shared_windows"),
              (coalesce(col("shared"), lit(0L)) > 0).as("has_shared"))
      .orderBy("doc_id")
  }

  /** Shared SRP-LSH → exact-cosine-verify pipeline behind both
    * embedding dedup surfaces: returns (all vec_ids, verified a<b
    * pairs with cosine ≥ tau). [[dedupEmbeddingCosine]] reduces the
    * pairs to min-partner verdicts; [[dedupSemanticClusters]] feeds
    * the FULL edge set to [[connectedComponents]] (the same
    * verdict-vs-closure split as the MinHash family's
    * minhashVerifiedPairs).
    */
  private def embeddingVerifiedPairs(s: SparkSession, dir: String,
                                     nBands: Int, bitsPerBand: Int,
                                     tau: Double): (DataFrame, DataFrame) = {
    GraftFunctions.ensureRegistered(s)
    val emb = cachedEmbeddings(s, dir)
    val cand = candidatePairs(srpBands(emb, nBands, bitsPerBand), "vec_id")
    val embA = emb.select(col("vec_id").as("a"), col("embedding").as("emb_a"))
    val embB = emb.select(col("vec_id").as("b"), col("embedding").as("emb_b"))
    val verified = cand.join(embA, "a").join(embB, "b")
      .filter(call_function("graft_cosine", col("emb_a"), col("emb_b")) >= tau)
      .select("a", "b")
    (emb.select("vec_id"), verified)
  }

  /** Incremental SEMANTIC dedup — delta-vs-base on embeddings,
    * completing the incremental trio ([[dedupIncremental]] exact
    * hash, [[dedupIncrementalMinhash]] textual fuzzy, this one
    * paraphrase-level): is each NEW vector a near-duplicate of the
    * EXISTING corpus? The base side never self-joins and never
    * rescans at delta time — its band table is the persisted index
    * (the same deployment contract as the MinHash pair), the delta's
    * bands probe it, and only (band-matched) candidate pairs read
    * embeddings back for the exact-cosine verify. The hot-bucket cap
    * ([[pruneHotBands]]) and the band probe ([[probeBase]]) are the
    * MinHash path's own definitions (a stopword-band bucket would
    * otherwise quadratically explode candidates).
    *
    * The verdict is `MIN(base_id)` over verified partners — the
    * family's min-id representative convention, chosen deliberately
    * over best-cosine: a float score ordering can tie-break
    * differently across engines on near-equal scores, while
    * threshold + MIN is a pure integer function of the verified set.
    */
  def dedupIncrementalEmbedding(s: SparkSession, dir: String, deltaMod: Int = DefaultDeltaMod,
                                nBands: Int = 8, bitsPerBand: Int = 6,
                                tau: Double = 0.9, maxBucket: Int = 1024): DataFrame = {
    require(deltaMod > 1, s"deltaMod $deltaMod must exceed 1")
    GraftFunctions.ensureRegistered(s)
    val emb = cachedEmbeddings(s, dir)
    val bands = srpBands(emb, nBands, bitsPerBand)
    val prunedBase = pruneHotBands(bands.filter(col("vec_id") % deltaMod =!= 0)
      .select(col("vec_id").as("base_id"), col("band_idx"), col("band_hash")), maxBucket)
    val cand = probeBase(bands.filter(col("vec_id") % deltaMod === 0), prunedBase, "vec_id")
    val embD = emb.select(col("vec_id"), col("embedding").as("emb_d"))
    val embB = emb.select(col("vec_id").as("base_id"), col("embedding").as("emb_b"))
    val best = cand.join(embD, "vec_id").join(embB, "base_id")
      .filter(call_function("graft_cosine", col("emb_d"), col("emb_b")) >= tau)
      .groupBy("vec_id").agg(min(col("base_id")).as("rep_base_id"))
    emb.select("vec_id").filter(col("vec_id") % deltaMod === 0)
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("rep_base_id").isNotNull.as("is_near_dup"),
              col("rep_base_id"))
      .orderBy("vec_id")
  }

  /** Embedding near-dup: banded random-hyperplane LSH (8 bands ×
    * 6 bits — a cos ≥ 0.9 pair shares a given 6-bit band w.p.
    * (1-θ/π)^6 ≈ 0.39, so ANY-band collision catches it w.p.
    * 1-(1-0.39)^8 ≈ 0.98), exact cosine ≥ τ verification within
    * band buckets. Only (vec_id, band keys) shuffle through the
    * candidate join; embeddings join back solely for the ≪n²
    * verified candidates.
    */
  def dedupEmbeddingCosine(s: SparkSession, dir: String,
                           nBands: Int = 8, bitsPerBand: Int = 6,
                           tau: Double = 0.9): DataFrame = {
    val (ids, verified) = embeddingVerifiedPairs(s, dir, nBands, bitsPerBand, tau)
    verdicts(ids, "vec_id", verified)
      .orderBy("vec_id")
  }

  /** SemDeDup-style semantic clustering: true connected components of
    * the embedding near-dup graph (cosine ≥ tau edges, SRP-LSH
    * candidate generation, exact verify) — the semantic twin of
    * [[dedupClusters]], sharing [[connectedComponents]]. A cluster of
    * paraphrases {A≈B, B≈C} collapses to one representative even when
    * A and C themselves sit below the pair threshold — the property a
    * min-partner verdict ([[dedupEmbeddingCosine]]) cannot provide.
    * Same scale shape as the MinHash closure: only fixed-width
    * signatures and (a, b) long pairs shuffle, iteration touches only
    * vertices with edges.
    */
  def dedupSemanticClusters(s: SparkSession, dir: String,
                            nBands: Int = 8, bitsPerBand: Int = 6,
                            tau: Double = 0.9): DataFrame = {
    // Materialized per (canonical dir, params) like [[dedupClusters]]
    // — the semantic cluster map is likewise resolved by more than one
    // policy key (`dedup_semantic_clusters`, `semdedup_keep_central`)
    // and is a pure deterministic function of its inputs (longs+bool).
    val realDir = graft.Substrate.canonicalDir(s, dir)
    Tables.parquet(s, graft.Substrate.materialized(
      s, "semantic_clusters", realDir, Seq(nBands, bitsPerBand, tau)) {
      val (ids, verified) = embeddingVerifiedPairs(s, dir, nBands, bitsPerBand, tau)
      connectedComponents(ids, verified, "vec_id")
    }).orderBy("vec_id")
  }

  /** SemDeDup's actual KEEP rule, completing the semantic family:
    * [[dedupSemanticClusters]] finds the paraphrase clusters, this
    * picks each cluster's representative as the member CLOSEST TO THE
    * CLUSTER CENTROID (the paper's rule — the most typical member,
    * where min-id is arbitrary and [[dedupKeepBest]]'s quality argmax
    * is text-based).
    *
    * All-integral for cross-engine exactness: member vectors and the
    * centroid live in micro-units (floor(1e6·x) — the same per-element
    * op as [[graft.functions.VecSumMicro]], which computes the
    * per-cluster sums as ONE partial-aggregated long[dim] state),
    * centroid = sum div n (Java/SQL truncating division in both
    * engines), distance = Σ(x_i − c_i)² in long arithmetic (≤ 4e12 per
    * dim · dim ≪ 2⁶³). A float centroid would be partition-order-
    * dependent and could never hash-match.
    *
    * Scale shape: clustering is the shared CC iterator; the centroid
    * aggregate shuffles one fixed-width state per (partition, cluster);
    * the centroid table (|clusters| rows) joins back size-guard-
    * broadcast; the distance is the codegen'd `graft_l2sq` kernel
    * ([[graft.functions.L2SqMicro]], row-local); one
    * cluster-keyed window picks the argmin. Nothing corpus-broadcast,
    * nothing driver-side.
    */
  def semdedupKeepCentral(s: SparkSession, dir: String,
                          nBands: Int = 8, bitsPerBand: Int = 6,
                          tau: Double = 0.9): DataFrame = {
    GraftFunctions.ensureRegistered(s)
    val cc = dedupSemanticClusters(s, dir, nBands, bitsPerBand, tau)
      .select(col("vec_id"), col("rep_vec_id").as("component"))
    val emb = cachedEmbeddings(s, dir)
    val members = cc.join(emb, "vec_id")
    val cents = members.groupBy("component")
      .agg(call_function("graft_vec_sum_micro", col("embedding")).as("sum_micro"),
           count(lit(1)).as("n_members"))
      .select(col("component"),
              expr("transform(sum_micro, s -> s div n_members)").as("centroid_micro"))
    val d = members.join(Hints.maybeBroadcast(cents), "component")
      .select(col("vec_id"), col("component"),
        call_function("graft_l2sq", col("embedding"), col("centroid_micro"))
          .as("center_dist"))
    val w = Window.partitionBy("component").orderBy(col("center_dist"), col("vec_id"))
    d.withColumn("is_kept", row_number().over(w) === 1)
      .select("vec_id", "component", "center_dist", "is_kept")
      .orderBy("vec_id")
  }

  /** Paragraph-granularity cross-document dedup — the CCNet/RefinedWeb
    * boilerplate strip: where the doc-level family keeps or drops
    * WHOLE documents, this removes the repeated UNITS inside otherwise
    * unique ones (navigation chrome, license footers, template
    * headers — the highest-volume contaminant in crawled corpora).
    * Units here are fixed `windowTokens`-token chunks (the corpus has
    * no newline structure; a real crawl splits on lines — the
    * semantics are identical); a unit is boilerplate when it appears
    * in ≥ `minDf` DISTINCT documents, and each document re-emits with
    * its boilerplate units removed, original order preserved.
    *
    * Plan: one chunk posexplode, unit df by two partial aggs over the
    * distinct (unit, doc) projection (key space = distinct units —
    * vocabulary-of-phrases-bounded, not corpus-bounded), verdicts join
    * back on the unit key, and documents reassemble via
    * array_sort(collect_list(struct(ord, unit))) — per-key state
    * bounded by the doc's own size, the same irreducible-reassembly
    * contract as mm_chunk_roundtrip. Nothing ever shuffles full
    * documents except their own chunks.
    */
  def dedupParagraphs(s: SparkSession, dir: String,
                      windowTokens: Int = 10, minDf: Int = 2): DataFrame = {
    require(windowTokens >= 1 && minDf >= 2,
      s"windowTokens=$windowTokens must be >=1 and minDf=$minDf >=2")
    // Referenced twice (df count, verdict join) — one shared
    // chunk-explode scan, the vocab_encode discipline.
    val units = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), posexplode(transform(
        sequence(lit(0), expr(s"(size(toks) - 1) div $windowTokens")),
        i => concat_ws(" ", slice(col("toks"), i * windowTokens + 1, lit(windowTokens))))))
      .withColumnRenamed("pos", "ord").withColumnRenamed("col", "unit"))
    val df = units.select("unit", "doc_id").distinct()
      .groupBy("unit").agg(count(lit(1)).as("unit_df"))
    val flagged = units.join(df, "unit")
      .withColumn("is_boilerplate", col("unit_df") >= minDf)
    flagged.groupBy("doc_id")
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("is_boilerplate"), 1L).otherwise(0L)).as("n_dropped"),
        concat_ws(" ", transform(
          array_sort(collect_list(when(!col("is_boilerplate"),
            struct(col("ord"), col("unit"))))),
          u => u("unit"))).as("clean_text"))
      .orderBy("doc_id")
  }

  /** LSH candidate-recall evaluation — the quality monitor a
    * production approximate-dedup pipeline runs CONTINUOUSLY: what
    * fraction of the true near-dup pairs does the banding actually
    * surface as candidates, and how many candidates does it spend to
    * get them. The verify stage already makes LSH dedup PRECISE (every
    * candidate is exact-scored before any verdict); recall is the one
    * property banding can silently lose as the corpus drifts, and
    * this operator prices it against ground truth on a deterministic
    * probe sample (every `sampleMod`-th doc vs the whole corpus — the
    * full all-pairs truth is n² by definition and exists only at
    * evaluation sample scale; the ANN family's probe-subset pattern).
    *
    * Output: one row — true pairs, candidates touching the sample,
    * hits, recall and candidate-efficiency in micro-units. All counts
    * are 1-row partial aggs crossJoin-broadcast together; the truth
    * side joins the sample's shingle arrays through the size guard.
    */
  def dedupLshEval(s: SparkSession, dir: String,
                   nPerms: Int = 258, nBands: Int = 86,
                   tauX1000: Long = 500, sampleMod: Int = 20): DataFrame = {
    require(sampleMod > 0, "sampleMod must be positive")
    GraftFunctions.ensureRegistered(s)
    val hashed = hashedShingles(s, dir, 2)
    val candTouching = candidatePairs(minhashBands(hashed, col("doc_id"), nPerms, nBands), "doc_id")
      .filter(col("a") % sampleMod === 0 || col("b") % sampleMod === 0)
    // EXACT truth via the inverted-index similarity join, not a
    // sample×corpus nested loop: sample postings ⋈ corpus postings on
    // the shingle hash, common-shingle counts per pair, then
    // j = floor(1000·c/(na+nb−c)) — the same IEEE op sequence as
    // [[jaccardX1000]] (shingle arrays are distinct by construction,
    // so |∩| IS the posting-match count). Pairs sharing zero shingles
    // — the overwhelming majority — never materialize at all, where
    // the nested loop paid an O(|A|+|B|) intersection for each
    // (measured 12.8 s → 2.5 s at sf0.1). One posting-keyed shuffle +
    // one pair-keyed partial agg; posting-join fan-out is
    // Σ_shingle df_sample·df_corpus — sample-bounded on one side, and
    // the 100 TB dial is dropping ultra-hot shingles from the INDEX
    // side (a documented recall trade this exact evaluator refuses).
    val sampleSizes = hashed.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id").as("pa"), size(col("hs")).cast("long").as("na"))
    val samplePost = hashed.filter(col("doc_id") % sampleMod === 0)
      .select(col("doc_id").as("pa"), explode(col("hs")).as("h"))
    val corpusPost = hashed
      .select(col("doc_id").as("pb"), size(col("hs")).cast("long").as("nb"),
              explode(col("hs")).as("h"))
    val truth = corpusPost
      .join(Hints.maybeBroadcast(samplePost), Seq("h"))
      .filter(col("pa") =!= col("pb"))
      .groupBy("pa", "pb", "nb").agg(count(lit(1)).as("c"))
      .join(Hints.maybeBroadcast(sampleSizes), Seq("pa"))
      .filter(floor(lit(1000.0) * col("c") / (col("na") + col("nb") - col("c")))
                .cast("long") >= tauX1000)
      .select(least(col("pa"), col("pb")).as("a"),
              greatest(col("pa"), col("pb")).as("b"))
      .distinct()
    val hits = candTouching.join(truth, Seq("a", "b"), "left_semi")
    truth.agg(count(lit(1)).as("n_true_pairs"))
      .crossJoin(broadcast(candTouching.agg(count(lit(1)).as("n_candidates"))))
      .crossJoin(broadcast(hits.agg(count(lit(1)).as("n_hits"))))
      .select(col("n_true_pairs"), col("n_candidates"), col("n_hits"),
        when(col("n_true_pairs") > 0,
          expr("(n_hits * 1000000) div n_true_pairs")).as("recall_x1e6"),
        when(col("n_candidates") > 0,
          expr("(n_hits * 1000000) div n_candidates")).as("efficiency_x1e6"))
  }

  /** Cross-corpus overlap audit: the source×source shingle-overlap
    * matrix — how much of each corpus pair is shared text, BEFORE
    * anyone mixes them into a training run (the between-corpus
    * complement of the within-corpus dedup family; `decontaminate_
    * ngram` is its train-vs-eval special case). Per unordered source
    * pair: shared distinct 3-gram shingles, each side's distinct
    * total, and Jaccard in exact micro-units via inclusion-exclusion.
    *
    * Never a corpus×corpus join: distinct (source, shingle-hash)
    * pairs reduce each corpus to its shingle SET (one partial-agg
    * shuffle), the shingle-grouped source set is bounded by |sources|
    * (collect_set state ≤ the source list), and pair counts expand
    * row-locally into a ≤|sources|² aggregate. The complete matrix —
    * zero-overlap pairs included, that absence being the audit's
    * point — comes from the bounded source-list cross, not from data.
    * 8-byte xxhash64 shingles travel, never strings (the
    * hash-group == string-group argument of [[hashedShingles]]).
    */
  def corpusOverlapMatrix(s: SparkSession, dir: String, shingleN: Int = 3): DataFrame = {
    val sh = graft.Caches.cached(
      Tables.documents(s, dir)
        .select(col("source"), tokens(col("text")).as("toks"))
        .select(col("source"), explode(wordNgrams(col("toks"), shingleN)).as("g"))
        .select(col("source"), xxhash64(col("g")).as("h"))
        .distinct())
    val perSource = sh.groupBy("source").agg(count(lit(1)).as("n_shingles"))
    val shared = sh.groupBy("h").agg(collect_set(col("source")).as("ss"))
      .filter(size(col("ss")) >= 2)
      .select(explode(col("ss")).as("source_a"), col("ss"))
      .select(col("source_a"), explode(col("ss")).as("source_b"))
      .filter(col("source_a") < col("source_b"))
      .groupBy("source_a", "source_b")
      .agg(count(lit(1)).as("shared_shingles"))
    val srcs = perSource.select(col("source"), col("n_shingles"))
    val matrix = srcs.select(col("source").as("source_a"), col("n_shingles").as("n_a"))
      .crossJoin(broadcast(
        srcs.select(col("source").as("source_b"), col("n_shingles").as("n_b"))))
      .filter(col("source_a") < col("source_b"))
    matrix.join(Hints.maybeBroadcast(shared), Seq("source_a", "source_b"), "left")
      .withColumn("shared_shingles", coalesce(col("shared_shingles"), lit(0L)))
      .select(col("source_a"), col("source_b"), col("shared_shingles"),
        col("n_a"), col("n_b"),
        expr("(shared_shingles * 1000000) div (n_a + n_b - shared_shingles)")
          .as("jaccard_x1e6"))
      .orderBy("source_a", "source_b")
  }

  /** Split-leakage audit: near-dup pairs that CROSS the train/test
    * boundary of [[TrainingOps.sampleSplitHash]]'s deterministic
    * hash split — the held-out set silently containing paraphrases of
    * training documents is the leak `decontaminate_ngram` can't see
    * (that key matches verbatim n-grams against an EXTERNAL eval set;
    * this one finds whole near-dup documents across an internal
    * split). Per unordered split pair: verified-pair count and the
    * distinct documents involved — the complete matrix, zero rows
    * included (a train-test cell at 0 being exactly what the audit
    * wants to prove), from the bounded split-list cross.
    *
    * Shape at 100 TB: pairs come from the shared LSH
    * candidate-then-verify path (never all-pairs); split labels join
    * by doc_id as longs+enum, the summary is ≤|splits|² rows. The
    * same verified-edge set as [[dedupClusters]], so the two audits
    * cannot disagree about what a near-dup is.
    */
  def splitLeakage(s: SparkSession, dir: String,
                   nPerms: Int = 64, nBands: Int = 16,
                   shingleN: Int = 3, tauX1000: Long = 800,
                   trainPct: Int = 80): DataFrame = {
    val (_, verified) = minhashVerifiedPairs(s, dir, nPerms, nBands, shingleN, tauX1000)
    val sp = TrainingOps.sampleSplitHash(s, dir, trainPct)
      .select(col("doc_id"), col("split"))
    // referenced by both aggregates below — cached, or the LSH verify
    // pipeline runs twice
    val lab = graft.Caches.cached(verified
      .join(sp.select(col("doc_id").as("a"), col("split").as("s_a")), "a")
      .join(sp.select(col("doc_id").as("b"), col("split").as("s_b")), "b")
      .select(least(col("s_a"), col("s_b")).as("split_a"),
              greatest(col("s_a"), col("s_b")).as("split_b"),
              col("a"), col("b")))
    val nPairs = lab.groupBy("split_a", "split_b").agg(count(lit(1)).as("n_pairs"))
    val nDocs = lab
      .select(col("split_a"), col("split_b"),
              explode(array(col("a"), col("b"))).as("doc"))
      .groupBy("split_a", "split_b")
      .agg(countDistinct(col("doc")).as("n_docs"))
    val splits = sp.select(col("split")).distinct()
    val combos = splits.select(col("split").as("split_a"))
      .crossJoin(broadcast(splits.select(col("split").as("split_b"))))
      .filter(col("split_a") <= col("split_b"))
    combos.join(
        Hints.maybeBroadcast(nPairs.join(nDocs, Seq("split_a", "split_b"))),
        Seq("split_a", "split_b"), "left")
      .select(col("split_a"), col("split_b"),
              coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
              coalesce(col("n_docs"), lit(0L)).as("n_docs"))
      .orderBy("split_a", "split_b")
  }
}
