package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions.TextFunctions._

/** Training-data assembly operators over the `documents` corpus — the
  * steps between a deduplicated corpus and a training run (SURVEY.md
  * §2 "Training-data assembly"). Extends the reference pipeline's
  * load-for-analytics endpoint (/root/reference/02_etl.py:246-258)
  * toward the LLM-pretraining consumer.
  */
object TrainingOps {

  /** Deterministic hash-based train/test split: bucket =
    * int(md5(doc_id)[0:8]) mod 100, split = bucket < trainPct.
    *
    * Hash-based (not `rand()`/`sampleBy`) on purpose: the assignment
    * is a pure row-local function of the KEY, so it is reproducible
    * across runs, engines, partitionings and cluster sizes, stable
    * under backfills (a re-ingested doc lands in the same split), and
    * needs no stored split table. Zero shuffle: a projection the
    * optimizer prunes to (doc_id) — the 100 TB cost is one scan.
    * md5 rather than xxhash64 because the oracle must compute the
    * same bucket (md5 is the one keyed hash every engine agrees on).
    */
  def sampleSplitHash(s: SparkSession, dir: String, trainPct: Int = 80): DataFrame = {
    require(trainPct >= 0 && trainPct <= 100, s"trainPct $trainPct outside [0,100]")
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .withColumn("split", when(col("bucket") < trainPct, "train").otherwise("test"))
      .orderBy("doc_id")
  }

  /** Exact-k uniform sample — the distributed RESERVOIR equivalent.
    * The classic streaming reservoir keeps k survivors under a random
    * tag; distributed, the same result is the global top-k by tag,
    * and a keyed hash replaces the RNG so the tag is a pure function
    * of the row: the sample is exactly-k, uniform over the md5 tag
    * order, and IDENTICAL on every cluster/partitioning/rerun (the
    * property a reproducible training run actually needs — "random"
    * plus a seed file is what a hash tag already is).
    *
    * Scale: `orderBy.limit(k)` plans TakeOrderedAndProject — each
    * partition keeps its local top-k heap (k·partitions rows move,
    * bounded), never a global sort of the corpus; the scan prunes to
    * the id column. The rank over the k survivors sits above the
    * GlobalLimit — a k-row frame by construction. Appending to the
    * corpus only displaces the highest tags: the sample is STABLE
    * under growth (≈ k·(growth/n) rows churn), which a pct-filter
    * sample ([[sampleSplitHash]]) gives up in exchange for its
    * zero-coordination form.
    */
  def sampleReservoir(s: SparkSession, dir: String, k: Int = 100): DataFrame = {
    require(k > 0, s"k $k must be positive")
    val tagged = Tables.documents(s, dir)
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("tag"))
      .orderBy("tag", "doc_id")
      .limit(k)
    // Contractual output ordering: the k-row rank window happens to
    // emit tag order today, but plan-incidental order is not a
    // contract — the oracle specifies ORDER BY tag, doc_id.
    tagged.withColumn("sample_rank",
      row_number().over(Window.orderBy("tag", "doc_id")).cast("long"))
      .orderBy("tag", "doc_id")
  }

  /** Concat-and-chunk sequence packing: documents are laid end-to-end
    * in token space and cut into fixed `ctxLen`-token context windows
    * (the GPT-style pretraining layout — a document may straddle a
    * window boundary). Emits, per document, its token count and the
    * first/last window it occupies within its shard.
    *
    * Packing is per-SHARD (shard = doc_id mod nShards, window ids are
    * (shard, chunk) pairs): a single global token order would funnel
    * the whole corpus through ONE sort partition — the number-one
    * window-function scale trap. Sharded, each shard's running sum
    * sorts independently (perfect parallelism at any corpus size) and
    * the layout stays deterministic: shard and order derive from
    * doc_id alone, so the same corpus packs identically on any
    * cluster. Window offsets use integral `div`, exact at any
    * magnitude (a per-shard token cumsum at 100 TB crosses 2^53; a
    * double quotient would mis-chunk past that).
    *
    * Token counts reuse the BPE-ish regex of
    * [[TextOps.textTokenCount]], so "token" means the same thing
    * across the engine's text surface.
    */
  def packSequences(s: SparkSession, dir: String,
                    ctxLen: Int = 512, nShards: Int = 8): DataFrame =
    packSequencesOver(Tables.documents(s, dir), ctxLen, nShards)

  /** SURVEY §2 `stream_pack_sequences` batch twin: the delta slice
    * (`doc_id % DefaultDeltaMod == 0` — the incremental family's
    * shared split) packed with the same shard-cumsum rule. The
    * STREAMING form is
    * [[graft.streaming.EventStreams.packSequencesStateful]] — per-shard
    * running token offsets carried in flatMapGroupsWithState state, so
    * arriving docs pack exactly where the batch road would have put
    * them; StreamingSpec proves stream == this twin across micro-batch
    * splits. Hash-verified by the `pack_sequences` oracle restricted to
    * the same delta.
    */
  def streamPackSequences(s: SparkSession, dir: String,
                          ctxLen: Int = 512, nShards: Int = 8): DataFrame =
    packSequencesOver(
      Tables.documents(s, dir)
        .filter(col("doc_id") % Dedup.DefaultDeltaMod === 0),
      ctxLen, nShards)

  /** SURVEY §2 `stream_pack_tws`: the r19 `transformWithState` spike
    * PROMOTED to a load-bearing registered key (r19 verdict item 7) —
    * this function runs the REAL Spark 4.x tws streaming query (
    * [[graft.streaming.EventStreams.packSequencesStatefulTws]]: one
    * ValueState[Long] running token offset per shard) end to end per
    * invocation: a file-stream source over the delta slice of the
    * documents parquet, Trigger.AvailableNow, a parquet sink, and the
    * landed rows returned. The correctness gate therefore
    * hash-verifies the NEW stateful API against the same DuckDB
    * oracle as [[streamPackSequences]] every round — the migration
    * cannot rot into an unexercised spike. StreamingSpec keeps the
    * three-way tws == fMGWS == batch-twin equality across crafted
    * micro-batch splits.
    *
    * Operational notes carried from the spike: tws REQUIRES the
    * RocksDB state store provider (set for the query, restored
    * after); the whole delta lands in ONE batch (maxFilesPerTrigger
    * is set above any real file count) so the per-shard in-batch sort
    * satisfies the append-log order contract regardless of file
    * enumeration order. At 100 TB this is the same plan a production
    * run executes continuously: constant nShards-long state, row-local
    * token counting, one shard-keyed exchange per micro-batch.
    */
  def streamPackSequencesTwsRun(s: SparkSession, dir: String,
                                ctxLen: Int = 512, nShards: Int = 8): DataFrame = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = s.conf.getOption(key)
    s.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      // Per-invocation scratch, deleted at Caches.clear(): the sink
      // dir must outlive this call because the returned frame reads it
      // lazily.
      val out  = graft.Caches.scratchDir("graft_tws_out")
      val ckpt = graft.Caches.scratchDir("graft_tws_ckpt")
      val docPath = s"$dir/documents.parquet"
      // the file-stream source requires a DIRECTORY base path: a
      // Spark-written table (documents.parquet/ a dir of parts)
      // streams directly; the testdata tables are SINGLE FILES, so
      // those stream the parent dir with a glob filter selecting
      // exactly the documents table
      val hp = new org.apache.hadoop.fs.Path(docPath)
      val isDir = hp.getFileSystem(s.sparkContext.hadoopConfiguration)
        .getFileStatus(hp).isDirectory
      val reader = s.readStream
        .schema(Tables.parquet(s, docPath).schema)
        .option("maxFilesPerTrigger", "1000000")
      val src = (if (isDir) reader.parquet(docPath)
                 else reader.option("pathGlobFilter", "documents.parquet").parquet(dir))
        .filter(col("doc_id") % Dedup.DefaultDeltaMod === 0)
        .select("doc_id", "text")
      val packed = graft.streaming.EventStreams
        .packSequencesStatefulTws(src, ctxLen, nShards)
        .toDF()
      val q = packed
        .writeStream.outputMode("append")
        .format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Explicit schema (the stream's own): an EMPTY delta slice lands
      // zero files and schema inference over the bare sink dir would
      // throw; the seeded read returns the correctly-typed empty frame
      // instead (ADVICE r20).
      s.read.schema(packed.schema).parquet(out).orderBy("doc_id")
    } finally prev match {
      case Some(v) => s.conf.set(key, v)
      case None    => s.conf.unset(key)
    }
  }

  /** The packing body over an explicit docs frame — factored so the
    * full-corpus key, the delta-slice streaming twin, and crafted spec
    * fixtures all run the identical plan.
    */
  private[graft] def packSequencesOver(docs: DataFrame,
                                       ctxLen: Int = 512, nShards: Int = 8): DataFrame = {
    require(ctxLen > 0 && nShards > 0, "ctxLen and nShards must be positive")
    val counted = docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(
        col("doc_id"),
        (col("doc_id") % nShards).as("shard"),
        bpeTokenCountOfNorm(col("norm")).as("n_tokens"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    counted
      .withColumn("tok_end", sum(col("n_tokens")).over(w))
      .withColumn("tok_start", col("tok_end") - col("n_tokens"))
      .select(
        col("doc_id"), col("shard"), col("n_tokens"),
        expr(s"tok_start div $ctxLen").as("first_chunk"),
        // An empty document occupies no window; report its insertion
        // point (tok_end - 1 would point into the PREVIOUS window).
        when(col("n_tokens") === 0, expr(s"tok_start div $ctxLen"))
          .otherwise(expr(s"(tok_end - 1) div $ctxLen")).as("last_chunk"))
      .orderBy("doc_id")
  }

  /** Deterministic stratified sampling: within each stratum (`lang`),
    * rows rank by md5(doc_id) — a uniform, engine-agreed pseudo-random
    * order — and the top ceil(pct% · stratum size) survive, so every
    * stratum is represented at the SAME rate regardless of how skewed
    * the stratum sizes are (uniform sampling starves small strata —
    * exactly the languages a pretraining mix most wants to keep).
    *
    * Same reproducibility rationale as [[sampleSplitHash]] (pure
    * function of the key, stable across runs/engines/partitionings),
    * but with an exact per-stratum COUNT guarantee. The quota
    * arithmetic is integral ((n·pct + 99) div 100): a double
    * `ceil(0.01·pct·n)` computes 0.1·750 = 75.000000000000014 and
    * quietly over-admits.
    *
    * Scale: strata are few but each stratum's row count grows with
    * the corpus, so the rank is NOT a per-stratum `row_number` window
    * (one task sorting a whole language) — it is
    * [[DistRank.withPrefix]]'s two-stage exact rank with `lang` as
    * the group key: range partition on (lang, md5, doc_id), in-cell
    * prefix, bounded (parts × langs) offsets frame broadcast back.
    * The stratum size falls out of the same offsets frame (no second
    * count-over window). When "pct in expectation" suffices, the
    * zero-shuffle hash-threshold form (keep iff bucket < pct — the
    * [[sampleSplitHash]] trick) is cheaper still.
    */
  def sampleStratified(s: SparkSession, dir: String, pct: Int = 10): DataFrame = {
    require(pct >= 0 && pct <= 100, s"pct $pct outside [0,100]")
    val base = Tables.requireLang(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
              md5(col("doc_id").cast("string")).as("__h"))
    DistRank.withPrefix(base, Seq("lang"), Seq(col("__h"), col("doc_id")),
        lit(1L), "sample_rank", groupTotalOut = Some("strat_size"))
      .filter(col("sample_rank") * 100 <= col("strat_size") * pct + 99)
      .select("doc_id", "lang", "sample_rank", "strat_size")
      .orderBy("doc_id")
  }

  /** Default mixture weights (percent) for [[mixWeighted]]: an
    * up-sampled high-quality source (2.5 epochs), a half-rate source,
    * a down-sampled low-quality source; everything else passes through
    * at 1 epoch. The values are the demo contract — real pipelines
    * pass their own map.
    */
  val defaultMixWeights: Seq[(String, Int)] =
    Seq("src0" -> 250, "src1" -> 125, "src2" -> 50)

  /** Deterministic weighted source mixing — the "mixture weights" step
    * that turns a cleaned corpus into a training mix (some sources
    * repeated >1 epoch, some sub-sampled). A weight of `w` percent
    * means every doc ships `w div 100` whole copies plus one more iff
    * its md5 bucket < `w mod 100` — so a source's total copy count is
    * `w%` of the source in expectation (binomially concentrated — the
    * md5 buckets are uniform but independent), per-doc assignment is
    * a pure function of the key (reproducible across runs, engines,
    * partitionings, stable under backfill — the [[sampleSplitHash]]
    * argument), and fractional epochs need no RNG state.
    *
    * Zero shuffle: a row-local projection over (doc_id, source). The
    * manifest (doc_id, n_copies) is what a downstream packer consumes;
    * exploding the copies is the consumer's choice, not forced here —
    * at 100 TB you never materialize 2.5× the corpus just to count it.
    */
  def mixWeighted(s: SparkSession, dir: String,
                  weights: Seq[(String, Int)] = defaultMixWeights,
                  defaultPct: Int = 100): DataFrame = {
    require(defaultPct >= 0 && weights.forall(_._2 >= 0),
      "mixture weights must be non-negative")
    val weightCol = weights.foldLeft(null: Column) { case (acc, (src, w)) =>
      if (acc == null) when(col("source") === src, w)
      else acc.when(col("source") === src, w)
    } match {
      case null => lit(defaultPct)
      case c    => c.otherwise(defaultPct)
    }
    Tables.documents(s, dir)
      .select(
        col("doc_id"), col("source"),
        weightCol.cast("long").as("weight_pct"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
          .cast("long") % 100).as("bucket"))
      .withColumn("n_copies",
        expr("weight_pct div 100") +
          when(col("bucket") < col("weight_pct") % 100, 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Eval-set decontamination: flag every training document sharing a
    * verbatim `n`-token n-gram with any held-out eval document — the
    * benchmark-leakage scrub every pretraining pipeline runs before
    * freezing a mix. Eval membership here is the deterministic
    * `doc_id % evalMod == 0` slice (a stand-in for the real benchmark
    * table); n-grams are [[Dedup.wordNgrams]], the engine-wide shingle
    * definition, with its short-doc whole-text fallback.
    *
    * Scale shape: the eval side of the join is DISTINCT n-grams of the
    * EVAL SET ONLY — benchmark suites are MBs while the corpus is TBs,
    * so the eval n-gram set is size-guard-broadcast
    * ([[Hints.maybeBroadcast]]) and the training side never shuffles:
    * a broadcast semi-probe per shingle, then a per-doc count
    * aggregate on doc_id keys. Docs with zero hits are preserved by a
    * left join against the (doc_id)-pruned corpus scan.
    */
  def decontaminate(s: SparkSession, dir: String,
                    evalMod: Int = 97, n: Int = 8): DataFrame = {
    require(evalMod > 1, s"evalMod $evalMod must exceed 1")
    // The n-gram build (scan + normalize + split + n-way concat) is the
    // operator's dominant row-local cost and BOTH join sides consume it
    // — the family's one-shared-scan rule (see Dedup.hashedShingles):
    // cache the pre-explode array frame, explode per consumer.
    val ngrams = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.wordNgrams(col("toks"), n).as("ngs")))
    val grams = ngrams.select(col("doc_id"), explode(col("ngs")).as("ng"))
    val evalGrams = Hints.maybeBroadcast(
      grams.filter(col("doc_id") % evalMod === 0).select("ng").distinct())
    val hits = grams.filter(col("doc_id") % evalMod =!= 0)
      .join(evalGrams, Seq("ng"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("hits"))
    Tables.documents(s, dir)
      .filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("hits"), lit(0L)).as("n_hits"))
      .withColumn("contaminated", col("n_hits") > 0)
      .orderBy("doc_id")
  }

  /** The END-TO-END pretraining-corpus pipeline: the engine's
    * operators composed into the flow a real training-data build runs —
    * quality gates (Gopher hard rules ∧ repetition signals), exact
    * dedup (keep the min-id copy), eval-set decontamination (drops the
    * eval slice itself and every contaminated doc), then mixture
    * weighting; emits the final (doc_id, source, n_tokens, n_copies)
    * manifest a sequence packer consumes.
    *
    * Built BY COMPOSITION of the individually-hash-verified operators —
    * each stage's verdict frame joins on doc_id, so the pipeline
    * inherits every stage's oracle and proves the operators compose.
    * The joined frames are slim verdict rows (ids + booleans + counts,
    * never text), each reaching its join through one doc_id hash
    * exchange; a production build would additionally FUSE the
    * row-local stages (gopher + repetition + token count share one
    * scan-projection — see [[graft.operators.TextOps]]) — composition,
    * not fusion, is what this surface exists to demonstrate.
    */
  def pretrainCorpus(s: SparkSession, dir: String): DataFrame = {
    val gopher = TextOps.textGopherFilter(s, dir)
      .select(col("doc_id"), col("keep").as("keep_gopher"))
    val rep = TextOps.textRepetitionFilter(s, dir)
      .select(col("doc_id"), col("n_tokens"), col("keep").as("keep_rep"))
    val keepers = Dedup.dedupExactHash(s, dir)
      .select(col("keep_doc_id").as("doc_id"))
    val decon = decontaminate(s, dir)
      .select(col("doc_id"), col("contaminated"))
    val mix = mixWeighted(s, dir)
      .select(col("doc_id"), col("source"), col("n_copies"))
    mix.join(rep, "doc_id").join(gopher, "doc_id")
      .join(decon, "doc_id") // inner: the eval slice leaves the corpus
      .join(keepers, Seq("doc_id"), "left_semi")
      .filter(col("keep_gopher") && col("keep_rep") &&
              !col("contaminated") && col("n_copies") >= 1)
      .select("doc_id", "source", "n_tokens", "n_copies")
      .orderBy("doc_id")
  }

  /** Per-source sequence-length histogram: documents bucketed by
    * floor(log2(n_tokens)) — the shape diagnostic behind every packing
    * and curriculum decision (how much of a source is sub-context-
    * window crumbs vs truncation-length monsters). The bucket is
    * computed WITHOUT libm — length(bin(n)) - 1 is exact integer
    * arithmetic that every engine agrees on, where a float log2 would
    * sit one ulp from a bucket boundary at exact powers of two
    * (n_tokens = 0 lands in bucket 0 alongside n = 1: `bin(0)` is
    * "0" in both engines). Token counts reuse the BPE-ish regex of
    * [[TextOps.textTokenCount]]. One partial-aggregated shuffle whose
    * key space is sources × ~40 buckets — nothing at any corpus size.
    */
  def seqLenHistogram(s: SparkSession, dir: String): DataFrame = {
    Tables.documents(s, dir)
      .select(col("source"), bpeTokenCount(col("text")).as("n_tokens"))
      .withColumn("len_bucket", (length(bin(col("n_tokens"))) - 1).cast("long"))
      .groupBy("source", "len_bucket")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sum_tokens"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"))
      .orderBy("source", "len_bucket")
  }

  /** Distributed BPE tokenizer training: `nMerges` rounds of
    * highest-count adjacent-pair merging, the classic byte-pair-
    * encoding trainer (Sennrich et al. 2016) re-expressed for a
    * corpus that does not fit one machine.
    *
    * The scale move happens BEFORE the loop: the corpus collapses
    * ONCE to the distinct-word table with counts — one
    * vocabulary-bounded shuffle — and every training round runs over
    * that table only, never rescanning documents. A round is then:
    * (1) adjacent symbol pairs per word via `zip_with` over two
    * slices (row-local, weighted by the word's corpus count, overlaps
    * counted at every position), (2) one partial-aggregated groupBy
    * over the pair key space (bounded by vocab², in practice tiny),
    * (3) the argmax pair — ONE row — synced to the driver (the same
    * driver-sync-per-round contract as [[Dedup.connectedComponents]]'
    * convergence flag), (4) a row-local greedy left-to-right fold
    * (`aggregate` HOF) rewriting each word's symbol array. Ties break
    * by (count desc, left, right), so the merge list is a pure
    * function of the corpus — reproducible across runs, engines and
    * partitionings; each round runs on the round driver
    * ([[graft.Caches.rounds]]) and ends in an eager checkpoint so the
    * analyzer never re-walks `nMerges` nested lambda plans.
    *
    * Max pair count is non-increasing across rounds (a merge only
    * removes occurrences of other pairs, and pairs it creates occur
    * at most as often as the pair merged) — asserted in the spec,
    * along with exact agreement against an in-memory reference BPE.
    *
    * Output: the ordered merge table (rank, left, right, count at
    * selection time) — the artifact a tokenizer ships. Hash-verified
    * since r16: the oracle replays the FULL training — every round's
    * pair counts, argmax, and greedy rewrite — as a generated
    * MATERIALIZED-CTE chain recomputed from the parquet (SparkEntry's
    * `bpeChainSql`, no model state embedded); TrainingMixSpec keeps
    * the reference-implementation equality and the non-increasing
    * max-pair-count invariant.
    */
  def bpeTrain(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame = {
    import s.implicits._
    bpeRounds(s, dir, nMerges)._1.toDF("merge_rank", "left", "right", "pair_count")
      .orderBy("merge_rank")
  }

  /** [[bpeTrain]]'s round loop: the merge list (rank, left, right,
    * count) and the last round's (word, syms, cnt) frame. Every round
    * rewrites every distinct word by the merge it just picked, so the
    * last round holds each word's symbols after all merges in rank
    * order — the encoding [[bpeApply]] persists.
    */
  private def bpeRounds(s: SparkSession, dir: String,
                        nMerges: Int): (Seq[(Long, String, String, Long)], DataFrame) = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val words0 = Tables.documents(s, dir)
      .select(explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
      .select(col("word"), expr("filter(split(word, ''), ch -> ch <> '')").as("syms"),
              col("cnt"))
    // State: the rewritten words and the merges so far. Once no word
    // has two symbols left there is no pair to merge, and the loop ends.
    val (words, merges) = graft.Caches.rounds(s, nMerges, reliable = false)(
      round => (round.checkpoint(words0), Vector.empty[(Long, String, String, Long)])) {
      case (round, (words, merges)) =>
        val top = words.filter(size(col("syms")) >= 2)
          .select(col("cnt"), explode(zip_with(
            slice(col("syms"), lit(1), size(col("syms")) - 1),
            slice(col("syms"), lit(2), size(col("syms")) - 1),
            (l, r) => struct(l.as("l"), r.as("r")))).as("p"))
          .groupBy(col("p.l").as("l"), col("p.r").as("r"))
          .agg(sum("cnt").as("pc"))
          .orderBy(desc("pc"), col("l"), col("r"))
          .limit(1).collect()
        top.headOption.map { t =>
          val (l, r, pc) = (t.getString(0), t.getString(1), t.getLong(2))
          val merged = l + r
          // Greedy left-to-right non-overlapping rewrite: append, unless
          // the running tail is exactly (l) and the element is (r) — then
          // the tail becomes the merged symbol. "aaa" + (a,a) -> [aa, a].
          (round.checkpoint(
            words.select(col("word"),
              aggregate(col("syms"), array().cast("array<string>"),
                (acc, x) => when(
                    size(acc) > 0 && element_at(acc, -1) === lit(l) && x === lit(r),
                    concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
                  .otherwise(concat(acc, array(x)))).as("syms"),
              col("cnt"))),
           merges :+ ((round.index.toLong, l, r, pc)))
        }
    }
    (merges, words)
  }

  /** Deterministic global training-order shuffle — the "shuffle the
    * corpus before sharding" step every pretraining run needs, as a
    * pure function of (doc_id, seed): shuffle key = 48 bits of
    * md5(doc_id:seed) (md5 for the same reason as
    * [[sampleSplitHash]] — the one keyed hash both engines compute
    * identically), shard = key mod nShards, position = rank of
    * (key, doc_id) WITHIN the shard. Same corpus, same seed → same
    * layout on any cluster, any partitioning; a new seed is a fresh
    * permutation.
    *
    * Scale shape: the key is a row-local projection; ranking
    * partitions by SHARD, so no global sort-partition funnel (the
    * same trap [[packSequences]] documents) — each shard's window
    * sorts independently and shard count is the parallelism dial. At
    * 100 TB the materializing form is `repartitionByRange(shard,
    * key)` + `sortWithinPartitions` + partitioned write, which is
    * exactly this plan with the window replaced by the writer.
    */
  def corpusShuffle(s: SparkSession, dir: String, nShards: Int = 8,
                    seed: Int = 42): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    val key = conv(substring(
        md5(concat(col("doc_id").cast("string"), lit(s":$seed"))), 1, 12), 16, 10)
      .cast("long")
    val w = Window.partitionBy("shard").orderBy(col("shuffle_key"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), key.as("shuffle_key"))
      .withColumn("shard", col("shuffle_key") % nShards)
      .withColumn("shard_pos", row_number().over(w).cast("long"))
      .select("doc_id", "shard", "shard_pos", "shuffle_key")
      .orderBy("doc_id")
  }

  /** Quality-ranked token-budget selection per source — the
    * data-selection step of corpus assembly ("keep only the best N
    * tokens of each source"): within a source, docs rank by
    * (quality desc, doc_id), BPE token counts accumulate over that
    * order, and a doc is selected while the running total stays
    * within `budget`. Greedy-by-quality under a token budget is the
    * standard curation rule when a source must shrink to fit its mix
    * allocation (the knob [[mixWeighted]] applies by REPLICATION,
    * this one applies by TRUNCATION).
    *
    * Quality is [[TextOps.textQualityScore]]'s integer score and
    * tokens are [[TextOps.textTokenCount]]'s BPE-ish count — same
    * definitions as everywhere else in the engine, recomputed here in
    * the same single normalize+tokenize pass. The running total is
    * [[DistRank.withPrefix]]'s two-stage exact prefix sum (range
    * partition on (source, quality desc, doc_id) → in-cell running
    * sum → bounded offsets frame broadcast back), NOT a per-source
    * window — a single hot source would otherwise sort in one task,
    * and source counts are small precisely when sources are huge.
    */
  def corpusBudgetSelect(s: SparkSession, dir: String, budget: Long = 1000): DataFrame = {
    require(budget >= 0, s"budget $budget must be non-negative")
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("source"), normText(col("text")).as("norm"))
      .select(col("doc_id"), col("source"), col("norm"),
              split(col("norm"), " ").as("toks"))
    val scored = d
      .select(
        col("doc_id"), col("source"),
        bpeTokenCountOfNorm(col("norm")).as("n_tokens"),
        markerCountIn(col("toks"), TextOps.stopwords).as("n_stop"),
        size(col("toks")).cast("long").as("n_ws"),
        length(regexp_replace(col("norm"), "[^a-z]", "")).cast("long").as("n_alpha"),
        length(col("norm")).cast("long").as("n_chars"))
      .withColumn("quality_score",
        least(lit(100L),
          floor((ratioX100(col("n_stop"), col("n_ws"))
                 + ratioX100(col("n_alpha"), col("n_chars"))) / 2.0).cast("long")))
    DistRank.withPrefix(scored, Seq("source"),
        Seq(col("quality_score").desc, col("doc_id")),
        col("n_tokens"), "cum_tokens")
      .withColumn("selected", col("cum_tokens") <= budget)
      .select("doc_id", "source", "n_tokens", "quality_score", "cum_tokens", "selected")
      .orderBy("doc_id")
  }

  /** Exact integer square root as a Column: floor(sqrt(double)) then a
    * ±1 correction. Double sqrt is correctly rounded in every IEEE
    * engine but floor() of it can still land one off near perfect
    * squares — the two guards make the result EXACTLY isqrt(a) no
    * matter which way the engine rounded, so Spark and the oracle
    * agree bit-for-bit with no libm trust. Valid for a < 2^62.
    */
  private[graft] def isqrt(a: Column): Column = {
    val r0 = floor(sqrt(a.cast("double"))).cast("long")
    when(r0 * r0 > a, r0 - 1)
      .when((r0 + 1) * (r0 + 1) <= a, r0 + 1)
      .otherwise(r0)
  }

  /** Temperature-flattened source mixing (T=2) — the multilingual /
    * multi-source rebalance: sampling a source proportionally to
    * (its share)^(1/T) instead of its share, so big sources shrink
    * and small ones upsample (the standard fix for head-language
    * dominance). T=2 keeps the whole computation EXACT-INTEGRAL:
    * weight = isqrt(1e12·n_s/N) ≈ 1e6·√share (the ±1-corrected
    * [[isqrt]] — engine-independent with no libm trust), allocation =
    * budget·w_s div Σw, and epochs_x1e6 = alloc·1e6 div n_s shows the
    * replication factor (>1e6 ⇒ the source repeats — temperature
    * sampling's deliberate upsampling of rare sources).
    *
    * Plan: one corpus scan → per-source token partial agg (key space
    * = sources), then two 1-row corpus totals cross-joined broadcast;
    * everything after the first agg is arithmetic over a frame the
    * size of the source list.
    */
  def mixTemperature(s: SparkSession, dir: String,
                     budgetTokens: Long = 10000): DataFrame = {
    require(budgetTokens >= 0, s"budget $budgetTokens must be non-negative")
    // Referenced twice (total agg, weighted projection) — one shared
    // tokenize+aggregate scan.
    val perSource = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("source"), normText(col("text")).as("norm"))
      .select(col("source"),
        bpeTokenCountOfNorm(col("norm")).as("n_tokens"))
      .groupBy("source").agg(sum(col("n_tokens")).as("n_tokens")))
    val total = perSource.agg(sum(col("n_tokens")).as("total_tokens"))
    // share at 1e6 granularity, then ×1e6 before the root, so the
    // widest intermediate is 1e12 (n_s·1e6 is the only product that
    // grows with the corpus — headroom to ~9·10¹² tokens per source)
    val weighted = perSource.crossJoin(broadcast(total))
      .withColumn("share_x1e6", expr("(n_tokens * 1000000) div total_tokens"))
      .withColumn("weight_x1e6", isqrt(col("share_x1e6") * lit(1000000L)))
      .drop("total_tokens")
    val sumW = weighted.agg(sum(col("weight_x1e6")).as("sum_w"))
    weighted.crossJoin(broadcast(sumW))
      .select(col("source"), col("n_tokens"), col("share_x1e6"), col("weight_x1e6"),
        expr(s"($budgetTokens * weight_x1e6) div sum_w").as("alloc_tokens"))
      .withColumn("epochs_x1e6", expr("(alloc_tokens * 1000000) div n_tokens"))
      .orderBy("source")
  }

  /** Per-source dataset card — the manifest row a training mix is
    * audited by: document count, token/char volume, language spread,
    * and exact-dup count within the source (docs minus distinct
    * normalized-content hashes). One partial-aggregated shuffle whose
    * key space is the SOURCE list (dozens, not corpus-sized); the two
    * distinct aggregates piggyback on the same expand. Token counts
    * reuse the BPE-ish regex of [[TextOps.textTokenCount]] and the
    * content hash is [[Dedup.dedupExactHash]]'s sha2-256, so the card
    * reports the same numbers the pipeline's other stages act on.
    */
  def corpusManifest(s: SparkSession, dir: String): DataFrame = {
    Tables.requireLang(Tables.documents(s, dir))
      .select(
        col("source"), col("lang"),
        bpeTokenCount(col("text")).as("toks"),
        length(normText(col("text"))).cast("long").as("chars"),
        Dedup.contentHash(col("text")).as("h"))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        countDistinct(col("lang")).as("n_langs"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_exact_dups"))
      .orderBy("source")
  }

  /** Balanced output-shard assignment: write the corpus as `nShards`
    * shards with near-equal TOKEN totals (training-data shards feed
    * one worker each; a doc-count-balanced split leaves the
    * long-document shard a straggler). Greedy LPT — sort by size
    * descending, each item to the currently-lightest bin — is the
    * classic heuristic but is inherently sequential; its
    * order-statistics cousin used here is fully declarative: rank
    * docs by (tokens desc, doc_id) and deal round-robin,
    * shard = (rank−1) mod n. Consecutive ranks have near-equal sizes,
    * so each dealing round adds ≈equal weight to every shard — the
    * imbalance bound is one round's size spread, tightest exactly
    * where it matters (the big-doc head is dealt first, one giant per
    * shard). Deterministic: a pure function of (tokens, doc_id), no
    * RNG, identical on any cluster.
    *
    * The global rank is the corpus-scaling window this repo never
    * gives to a single sort task: [[DistRank.withPrefix]]'s two-stage
    * exact rank (range exchange + bounded offsets broadcast). Shard
    * totals (bounded key space = nShards) join back through the size
    * guard so the output carries its own balance evidence.
    */
  def shardAssignBalanced(s: SparkSession, dir: String, nShards: Int = 8): DataFrame = {
    require(nShards > 0, s"nShards $nShards must be positive")
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), bpeTokenCount(col("text")).as("n_tokens"))
    val ranked = DistRank.withPrefix(docs, Nil,
        Seq(col("n_tokens").desc, col("doc_id")), lit(1L), "size_rank")
      .withColumn("shard", expr(s"(size_rank - 1) % $nShards"))
    val totals = ranked.groupBy("shard")
      .agg(count(lit(1)).as("shard_docs"), sum("n_tokens").as("shard_tokens"))
    ranked.join(Hints.maybeBroadcast(totals), Seq("shard"))
      .select("doc_id", "n_tokens", "size_rank", "shard",
              "shard_docs", "shard_tokens")
      .orderBy("doc_id")
  }

  /** Epoch-replication plan — [[corpusBudgetSelect]]'s missing half:
    * that operator answers "which docs fit UNDER a token budget"; a
    * real mixture also has sources whose quota EXCEEDS their corpus
    * (the high-quality source every recipe over-samples), where the
    * answer is "repeat the whole source N times plus a partial
    * epoch". Per source: `full_epochs = budget div src_tokens`, and
    * the remainder selects a deterministic partial epoch by
    * hash-order token prefix (`md5(doc_id)` order — the epoch
    * SHUFFLE order, deliberately not the quality order: a partial
    * epoch must be an unbiased sample of the source, not its best
    * slice). `n_copies = full_epochs + (1 if in the partial
    * prefix)`, so Σ n_copies·n_tokens lands within one doc of the
    * budget — the materialization multiplier a pack/shuffle stage
    * downstream consumes.
    *
    * Scale shape: one bounded-key aggregate for source totals
    * (broadcast back), one [[DistRank.withPrefix]] pass for the
    * hash-order running token sums — no per-source window funnel, no
    * doc replication HERE (the plan is rows × small ints; exploding
    * copies is the consumer's call). A source with zero tokens fails
    * loudly: its quota is unsatisfiable, and div-by-zero on both
    * engines is the correct refusal.
    */
  def corpusEpochs(s: SparkSession, dir: String,
                   budgetPerSource: Long = 5000): DataFrame = {
    require(budgetPerSource >= 0, s"budget $budgetPerSource must be non-negative")
    // one-shared-scan rule: the token count (the dominant row-local
    // cost) computes once for both the totals and the ranked pass
    val d = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
              bpeTokenCountOfNorm(normText(col("text"))).as("n_tokens")))
    val totals = d.groupBy(col("source").as("t_source"))
      .agg(sum("n_tokens").as("src_tokens"))
    val ranked = DistRank.withPrefix(d, Seq("source"),
        Seq(md5(col("doc_id").cast("string")), col("doc_id")),
        col("n_tokens"), "cum_tokens")
    ranked.join(Hints.maybeBroadcast(totals), col("source") === col("t_source"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        expr(s"$budgetPerSource div src_tokens").as("full_epochs"),
        col("cum_tokens"),
        (col("cum_tokens") <= expr(s"$budgetPerSource % src_tokens")).as("in_partial"))
      .withColumn("n_copies",
        col("full_epochs") + when(col("in_partial"), 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Contamination AUDIT — [[decontaminate]]'s eval-side twin: that
    * operator flags which TRAIN docs to drop; this one reports, per
    * EVAL doc, how badly it has leaked into the training corpus —
    * how many train docs share an n-gram with it, the total shared
    * count, and the single worst contaminator — the table a
    * benchmark owner reads to decide whether a split is salvageable
    * or the eval item must be retired. Shares the family's cached
    * one-scan shingle frame (identical plan → identical
    * [[graft.Caches.cached]] entry as `decontaminate`'s, so running
    * both costs one n-gram build).
    *
    * The stop-gram valve is the scale guard: an n-gram appearing in
    * more than `maxDf` train docs is boilerplate (license headers,
    * navigation chrome), and joining through it would square the
    * candidate pairs the way a hot LSH band would — pruned
    * deterministically BEFORE the eval⋈train join, mirrored exactly
    * in the oracle. Everything that shuffles is (gram-hash, doc_id)
    * pairs and bounded per-pair counts.
    */
  def contaminationReport(s: SparkSession, dir: String, evalMod: Int = 97,
                          n: Int = 8, maxDf: Int = 1024): DataFrame = {
    require(evalMod > 1, s"evalMod $evalMod must exceed 1")
    require(maxDf > 0, s"maxDf $maxDf must be positive")
    val ngrams = graft.Caches.cached(Tables.documents(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), Dedup.wordNgrams(col("toks"), n).as("ngs")))
    // wordNgrams emits the per-doc DISTINCT shingle set, so each
    // (doc, ng) row below is unique and the pair counts are set sizes
    val grams = ngrams.select(col("doc_id"), explode(col("ngs")).as("ng"))
    val trainG = grams.filter(col("doc_id") % evalMod =!= 0)
      .select(col("doc_id").as("train_doc_id"), col("ng"))
    val hot = trainG.groupBy("ng").agg(count(lit(1)).as("df"))
      .filter(col("df") > maxDf).select("ng")
    val prunedTrain = trainG.join(hot, Seq("ng"), "left_anti")
    val pairs = grams.filter(col("doc_id") % evalMod === 0)
      .select(col("doc_id").as("eval_doc_id"), col("ng"))
      .join(prunedTrain, Seq("ng"))
      .groupBy("eval_doc_id", "train_doc_id")
      .agg(count(lit(1)).as("shared_ngrams"))
    val per = pairs.groupBy("eval_doc_id")
      .agg(count(lit(1)).as("n_contaminating_docs"),
           sum("shared_ngrams").as("total_shared"))
    val w = Window.partitionBy("eval_doc_id")
      .orderBy(col("shared_ngrams").desc, col("train_doc_id"))
    val worst = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("eval_doc_id"), col("train_doc_id").as("worst_train_doc_id"),
              col("shared_ngrams").as("worst_shared"))
    ngrams.select(col("doc_id").as("eval_doc_id"))
      .filter(col("eval_doc_id") % evalMod === 0)
      .join(per, Seq("eval_doc_id"), "left")
      .join(worst, Seq("eval_doc_id"), "left")
      .select(col("eval_doc_id"),
        coalesce(col("n_contaminating_docs"), lit(0L)).as("n_contaminating_docs"),
        coalesce(col("total_shared"), lit(0L)).as("total_shared"),
        col("worst_train_doc_id"), col("worst_shared"))
      .orderBy("eval_doc_id")
  }

  /** Apply a trained BPE merge list to the corpus — the tokenize step
    * that consumes [[bpeTrain]]'s artifact: per document, word count,
    * post-merge token count and fertility (tokens per 1M words).
    *
    * The encoded VOCABULARY (word → post-merge symbol count) is a
    * classic build-once/serve-many artifact, [[graft.Substrate]]-
    * persisted per (corpus, nMerges) — the same contract as the dedup
    * band index and the IVF postings. The BUILD is [[bpeTrain]]'s own
    * round loop ([[bpeRounds]]): training already rewrites every
    * distinct word by each merge, greedy left-to-right in rank order,
    * and BPE application is BY DEFINITION those rewrites replayed, so
    * the leaf is the last round's (word, symbol count) — no second
    * implementation of the rewrite and no second documents scan.
    * SERVING is: explode the corpus to words, one size-guarded join
    * against the KB-scale persisted vocab, one per-doc partial agg —
    * no merge fold in the hot path at all. (r19 forensics: a fold in
    * the serving plan was janino-recompiled per bench pass when the
    * 100-entry codegen cache evicted under the full-sweep ordering —
    * a stable ~8× inflation the persisted leaf removes structurally.)
    *
    * Hash-verified since r16: the oracle replays training AND
    * application end to end through the same generated CTE chain
    * (SparkEntry's `bpeChainSql` + the per-word symbol-count join);
    * TrainingMixSpec additionally proves token counts equal a
    * reference in-memory BPE apply word-for-word, and monotone
    * non-increase in nMerges.
    */
  def bpeApply(s: SparkSession, dir: String, nMerges: Int = 10): DataFrame = {
    require(nMerges >= 1, s"nMerges must be >= 1, got $nMerges")
    val realDir = graft.Substrate.canonicalDir(s, dir)
    val vocabPath = graft.Substrate.materialized(s, "bpevocab", realDir, Seq(nMerges)) {
      bpeRounds(s, dir, nMerges)._2
        .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    }
    val encoded = Tables.parquet(s, vocabPath)
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("word"))
      .filter(col("word") =!= "")
      .join(Hints.maybeBroadcast(encoded), Seq("word"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("n_bpe_tokens"))
      .withColumn("fertility_ppm", expr("(n_bpe_tokens * 1000000) div n_words"))
      .orderBy("doc_id")
  }

  /** Importance (weight-proportional) sampling: keep each document
    * with probability `n_chars / max(n_chars)` — the
    * length-proportional inclusion a token-budgeted mix uses so that
    * sampling UNITS (documents) don't distort sampling MASS (tokens).
    * The acceptance test is the [[sampleSplitHash]] discipline made
    * weighted: u = 32 bits of md5(doc_id:imp) is the deterministic
    * uniform draw, and `u · max < n_chars · 2^32` keeps the compare
    * INTEGRAL (never a float probability). Like every hash-keyed
    * sample here it is reproducible across engines/partitionings and
    * stable under backfill; the max is a 1-row broadcast. Survivors
    * carry `weight_ppm` (inclusion probability, ppm) — the
    * Horvitz-Thompson reweighting input downstream estimators need.
    */
  def sampleImportance(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val mx = d.agg(max("n_chars").as("max_chars"))
    d.crossJoin(broadcast(mx))
      .withColumn("u",
        conv(substring(md5(concat(col("doc_id").cast("string"), lit(":imp"))), 1, 8),
             16, 10).cast("long"))
      .filter(col("u") * col("max_chars") < col("n_chars") * lit(4294967296L))
      .select(col("doc_id"), col("n_chars"),
              expr("(n_chars * 1000000) div max_chars").as("weight_ppm"))
      .orderBy("doc_id")
  }

  /** Short-to-long curriculum ordering — the classic curriculum
    * schedule (easy examples first, difficulty ∝ length) as a global
    * training-order index: documents sort by log2-length bucket
    * ascending, hash-shuffled WITHIN each bucket (md5(doc_id:cur) —
    * deterministic, so the curriculum is a pure function of the
    * corpus), position assigned by [[DistRank.withPrefix]]'s
    * two-stage distributed rank — never a single-task global window
    * (the corpus-scaling sort key is exactly the trap DistRank
    * exists for; [[corpusShuffle]] is the same shape without the
    * difficulty key). The log2 bucket is `length(bin(n))` — an
    * integral log both engines compute identically.
    */
  def curriculumOrder(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .select(col("doc_id"), col("n_chars"),
              length(bin(col("n_chars"))).cast("long").as("len_bucket"),
              md5(concat(col("doc_id").cast("string"), lit(":cur"))).as("tag"))
    DistRank.withPrefix(d, Nil,
        Seq(col("len_bucket"), col("tag"), col("doc_id")),
        lit(1L), "curriculum_pos")
      .select("doc_id", "n_chars", "len_bucket", "curriculum_pos")
      .orderBy("doc_id")
  }
}
