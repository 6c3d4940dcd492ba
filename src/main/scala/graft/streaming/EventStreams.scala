package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import graft.functions.OracleSafe.sum2
import graft.operators.Dedup

/** Structured Streaming pipelines over the event stream (SURVEY.md §2
  * "Streaming"). Each transform takes its source DataFrame/Dataset as
  * input, so one query runs as a batch or incrementally (the
  * Structured Streaming model, Armbrust et al., SIGMOD 2018). The
  * batch twins registered in `SparkEntry.queries` CALL their
  * transform on the bounded events table rather than re-typing it:
  * `Analytics.streamWindowedCounts` runs [[windowedCounts]],
  * `streamQuarantine` [[quarantineCounts]], `streamHeavyHitters`
  * [[windowHeavyHitters]], `streamSlidingCounts` [[slidingCounts]],
  * `streamSessionWindows` [[sessionWindowCounts]],
  * `streamTopkTrending` [[trendingCounts]] + [[rankTrending]] and
  * `streamEnrich` [[enrich]]; the dedup, ANN-probe and packing twins
  * call their stream functions too. On a bounded source the analyzer drops the
  * `withWatermark` node (EliminateEventTimeWatermark), so a twin's
  * plan is the plain batch aggregate; StreamingSpec pins that per
  * twin and proves MemoryStream results == twin results on the same
  * rows. Four twins are written apart because their batch semantics
  * differ, and each says why: `streamDedupIds`, `streamCdcApply`,
  * `streamIntervalJoin` and `sessionizeEvents`.
  *
  * This is the streaming analogue of the reference's incremental
  * ingest loop (/root/reference/02_etl.py:50-62 pages through the API
  * and upserts) re-expressed as continuous pipelines: windowed
  * aggregation, in-window dedup, and stateful sessionization.
  *
  * Scale notes: all three are key-partitioned stateful ops — state
  * lives in the state store sharded by the grouping key, watermarks
  * bound its size (late data beyond the watermark is dropped; window,
  * session, and dedup state is evicted once the watermark passes its
  * event-time stamp), so a 1000-executor cluster holds state for
  * active keys only, never the full history.
  */
object EventStreams {

  /** Event row as fed to the typed streaming ops. */
  case class Ev(event_id: Long, user_id: Long, event_type: String,
                ts: java.sql.Timestamp, value: Double)

  /** A closed (or force-flushed) user session. */
  case class SessionOut(user_id: Long, session_start_s: Long, session_end_s: Long,
                        n_events: Long, session_value: Double)

  /** Per-user open-session accumulator kept in the state store. */
  case class SessionState(start_s: Long, end_s: Long, n: Long, value: Double)

  /** Raw ingest row (payload still unparsed) as fed to the streaming
    * quarantine front door. */
  case class RawEv(event_id: Long, event_type: String,
                   ts: java.sql.Timestamp, props: String)

  /** The ingest quarantine verdict, one row-local column over
    * (event_id, props): true when the payload parses as a JSON
    * document. Every 7th event's payload is deterministically mangled
    * (trailing brace dropped, unambiguously invalid JSON to any
    * parser) so the corrupt path runs at every scale factor against
    * the read-only testdata; a real feed skips the mangle. The parse
    * is PERMISSIVE `from_json` routing any unparseable payload into a
    * `_corrupt` record column, so ok = "parsed as a JSON document"
    * exactly like the oracle's json_valid: a valid payload with a
    * missing/null field is OK. A NULL payload is not
    * (json_valid(NULL) is not true), guarded explicitly because
    * from_json maps NULL input to a null struct, not a corrupt record.
    * [[quarantineCounts]] and [[graft.operators.EtlOps.ingestQuarantine]]
    * both aggregate it.
    */
  private[graft] def quarantineOk: Column = {
    val mangled = when(col("event_id") % 7 === 0,
        expr("substring(props, 1, length(props) - 1)"))
      .otherwise(col("props"))
    val parsed = from_json(mangled, StructType.fromDDL("k INT, _corrupt STRING"),
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt"))
    mangled.isNotNull && parsed.getField("_corrupt").isNull
  }

  /** Streaming malformed-record quarantine — the CONTINUOUS form of
    * [[graft.operators.EtlOps.ingestQuarantine]]: the same
    * [[quarantineOk]] verdict, aggregated per day window × type so the
    * quarantine RATE is a live dashboard series instead of a batch
    * postmortem — a feed that starts shipping garbage moves this line
    * within one micro-batch. Parse is row-local (stateless, before the
    * shuffle); state is one count row per (day, type) key,
    * watermark-evicted. Run as a batch by Analytics.streamQuarantine.
    */
  def quarantineCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(col("ts"), col("event_type"), quarantineOk.as("ok"))
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n_rows"),
           sum(when(col("ok"), 1L).otherwise(0L)).as("n_ok"),
           sum(when(col("ok"), 0L).otherwise(1L)).as("n_quarantined"))
      .select(col("window.start").as("window_start"), col("event_type"),
              col("n_rows"), col("n_ok"), col("n_quarantined"))

  /** Tumbling 1-hour counts + sums per event type, 2h watermark.
    * Run as a batch by Analytics.streamWindowedCounts.
    */
  def windowedCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum2(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  /** Per-window heavy hitters via the engine's Misra-Gries aggregate
    * ([[graft.functions.FreqSketch]], `graft_freq_sketch`) — the
    * custom TypedImperativeAggregate composing with Structured
    * Streaming state exactly like the built-in sketches: ≤ k
    * counters of partial-summary state per window key in the state
    * store, merged on every micro-batch, evicted when the watermark
    * closes the window. The "what dominates this stream right now"
    * dashboard question answered with BOUNDED state on an unbounded
    * stream — an exact windowed groupBy(item) would grow state with
    * item cardinality instead. Run as a batch by
    * Analytics.streamHeavyHitters.
    */
  def windowHeavyHitters(events: DataFrame, k: Int = 64): DataFrame = {
    graft.plans.GraftFunctions.ensureRegistered(events.sparkSession)
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(call_function("graft_freq_sketch", col("event_type"), lit(k)).as("sketch"))
      .select(col("window.start").as("window_start"),
              explode(col("sketch")).as(Seq("item", "est_count")))
  }

  /** Sliding 1-hour windows every 15 minutes, 2h watermark: the state
    * store holds width/slide = 4 open windows per (window, type) key
    * group and the watermark closes them in slide-sized steps —
    * overlapping freshness the tumbling form can't give, for 4× the
    * state and pre-shuffle row replication. Run as a batch by
    * Analytics.streamSlidingCounts.
    */
  def slidingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum2(col("value")).as("sum_value"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based sessions via the NATIVE `session_window` aggregation —
    * the built-in counterpart of [[sessionize]]'s custom
    * flatMapGroupsWithState: the state store holds one mergeable
    * [start, end) span per open session and extends/merges it as
    * events arrive; the 2h watermark closes and EVICTS sessions whose
    * end has passed, which is what bounds state on an infinite
    * stream. Window end = last event + gap, so two events exactly
    * `gap` apart start separate sessions ([t, t+gap) is end-exclusive).
    * Use this form when per-session output is start/end/aggregates;
    * drop to [[sessionize]] only when the per-event custom state
    * (running payloads, early emission) genuinely can't be expressed
    * as an aggregate. Run as a batch by Analytics.streamSessionWindows.
    */
  def sessionWindowCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), sum2(col("value")).as("session_value"))
      .select(col("user_id"),
              col("session_window.start").as("session_start"),
              col("session_window.end").as("session_end"),
              col("n_events"), col("session_value"))

  /** Streaming first-occurrence dedup per (user_id, event_type) —
    * `dropDuplicatesWithinWatermark` keyed state: a key's state row is
    * stamped with its event time and EVICTED once the watermark passes
    * it (plain `dropDuplicates` without the event-time column in the
    * keys would keep state forever). A duplicate arriving within the
    * 2h horizon of the first occurrence is dropped; beyond it the key
    * re-emits — the bounded-state trade every infinite-stream dedup
    * makes. Batch twin: Analytics.streamDedupIds, written apart because
    * it picks the earliest by event time where the stream keeps the
    * first *arrival* (the same row for an in-order replay).
    */
  def dedupIds(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"),
              col("event_id").as("first_event_id"), col("ts"))

  /** Streaming delta-vs-base exact dedup —
    * [[graft.operators.Dedup.dedupIncremental]]'s contract as a
    * CONTINUOUS stream: every arriving document is answered "new or
    * already in the accumulated corpus" within its micro-batch. The
    * base side is STATIC (the persisted corpus; stream-static
    * re-plans it per micro-batch, so an appended base snapshot is
    * picked up on the next batch) and collapses into two bounded
    * artifacts per batch:
    *
    *  1. a `graft_bloom` membership sketch (KB-scale, broadcast) —
    *     every delta row screens ROW-LOCALLY, and a bloom-NEGATIVE is
    *     definitively new (no false negatives), so the clean majority
    *     of a delta never reaches a shuffle;
    *  2. the distinct sha2-256 hash set — only bloom-POSITIVES (true
    *     dups + the bounded false-positive tail) enter this exact
    *     verify join, the [[graft.operators.Dedup.dedupBloomProbe]]
    *     screen-then-verify discipline made continuous.
    *
    * Output: (doc_id, content_hash, is_new) — the EXACT verdict (the
    * bloom is an optimization, never the answer), so the batch twin
    * hash-verifies against the same DuckDB oracle as
    * `dedup_incremental`. Append-mode stateless plan: no watermark, no
    * state store — the state IS the base corpus, which is exactly
    * where a continuously-ingesting pipeline keeps it.
    *
    * 100 TB note: re-deriving the sketch and hash set from the raw
    * base per micro-batch is the honest demo shape, not the deployed
    * one — [[dedupIncrementalPersisted]] is the at-scale form, reading
    * both artifacts from the [[graft.Substrate]] tier so each
    * micro-batch re-plans a manifest-sized read, not a corpus scan.
    *
    * The bloom keys on xxhash64 of the sha2 hex digest, exactly as
    * [[graft.operators.Dedup.dedupBloomProbe]] — one screen-key
    * convention across the family (fixed-width input, replayable).
    */
  def dedupIncremental(delta: DataFrame, base: DataFrame,
                       numBits: Int = 1 << 17, numHashes: Int = 5): DataFrame = {
    val s = delta.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(s)
    val baseHashed = base
      .select(Dedup.contentHash(col("text")).as("content_hash"))
      .withColumn("h", xxhash64(col("content_hash")))
    val sketch = baseHashed.agg(Dedup.bloomSketch(col("h"), numBits, numHashes))
    screenThenVerify(delta, sketch, baseHashed.select("content_hash").distinct())
  }

  /** The AT-SCALE form of [[dedupIncremental]]: the base side is the
    * two PERSISTED substrate artifacts
    * ([[graft.operators.Dedup.dedupBaseArtifacts]] publishes them once
    * per ingest) — the distinct-hash parquet table and the OR-merged
    * bloom — so the stream-static re-plan each micro-batch performs is
    * a manifest-sized parquet read, never a corpus scan. NOTE: the
    * artifact paths are content-addressed (fixed by the corpus
    * fingerprint when this method is called), so an ingest that
    * REFRESHES the base publishes a NEW leaf the running stream's
    * pinned paths never see — to pick up a refreshed base, restart
    * the query with re-resolved paths or re-resolve them inside a
    * `foreachBatch` wrapper. Identical verdict algebra to the demo
    * form; only where the base bytes come from changes.
    */
  def dedupIncrementalPersisted(delta: DataFrame, hashesPath: String,
                                bloomPath: String): DataFrame = {
    val s = delta.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(s)
    val sketch = graft.Tables.parquet(s, bloomPath)
    val baseHashes = graft.Tables.parquet(s, hashesPath).select("content_hash")
    screenThenVerify(delta, sketch, baseHashes)
  }

  /** Shared screen-then-verify tail of the streaming dedups: the delta
    * is keyed and screened by the same two definitions the batch
    * [[graft.operators.Dedup.dedupBloomProbe]] uses
    * ([[graft.operators.Dedup.bloomKeyed]], then
    * [[graft.operators.Dedup.bloomScreen]] against the broadcast 1-row
    * sketch), and only bloom-positives pay the exact hash join (a
    * bloom-negative is definitively new — no false negatives).
    */
  private def screenThenVerify(delta: DataFrame, sketch: DataFrame,
                               baseHashes: DataFrame): DataFrame = {
    val screened = Dedup.bloomScreen(Dedup.bloomKeyed(delta), sketch)
    val negatives = screened.filter(!col("maybe_dup"))
      .select(col("doc_id"), col("content_hash"), lit(true).as("is_new"))
    val positives = screened.filter(col("maybe_dup"))
      .join(baseHashes.withColumn("in_base", lit(true)),
            Seq("content_hash"), "left")
      .select(col("doc_id"), col("content_hash"), col("in_base").isNull.as("is_new"))
    negatives.unionByName(positives)
  }

  /** The MINHASH near-dup analogue of [[dedupIncrementalPersisted]]:
    * arriving documents compute their hashed word-shingles ROW-LOCALLY
    * with [[graft.operators.Dedup.shingleHashes]] — the derivation the
    * persisted corpus shingle table is built with, so arriving text
    * with no substrate row yet hashes bit-for-bit as it would there —
    * and then run [[graft.operators.Dedup.minhashNearDup]], the same
    * delta-vs-base body as the batch
    * [[graft.operators.Dedup.dedupIncrementalMinhash]]: band, probe the
    * substrate-persisted PRUNED base band index with one
    * (band_idx, band_hash)-keyed equi-join, verify band-collision
    * candidates with exact shingle Jaccard against the persisted base
    * shingle table, and fold each document's best match as a
    * partial-aggregable max(struct(jac, −base_id)). Only the base side
    * differs from the batch key: persisted leaves here, the in-memory
    * corpus table there.
    *
    * This is a BATCH transform by construction (the per-document
    * aggregation needs the batch's candidates complete): run it
    * inside `foreachBatch`, where each micro-batch is a bounded
    * DataFrame — the registered batch twin
    * ([[graft.operators.Dedup.streamDedupMinhash]]) runs the same
    * function over the deterministic delta slice, which is what keeps
    * the stream hash-verifiable (StreamingSpec proves foreachBatch
    * output == batch twin across micro-batch splits). Base artifacts
    * are content-addressed substrate paths pinned at call time — the
    * same refresh caveat as [[dedupIncrementalPersisted]].
    */
  def dedupMinhashPersisted(batch: DataFrame, bandsPath: String,
                            shinglesPath: String, nPerms: Int = 64,
                            nBands: Int = 16, shingleN: Int = 3,
                            tauX1000: Long = 800): DataFrame = {
    val s = batch.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(s)
    Dedup.minhashNearDup(graft.Caches.cached(Dedup.shingleHashes(batch, shingleN)),
      graft.Tables.parquet(s, bandsPath), graft.Tables.parquet(s, shinglesPath), nPerms, nBands, tauX1000)
  }

  /** A token-counted doc headed into the packer. */
  case class TokDoc(doc_id: Long, shard: Int, n_tokens: Long)

  /** A packed doc: which fixed-length context windows it occupies. */
  case class PackedDoc(doc_id: Long, shard: Long, n_tokens: Long,
                       first_chunk: Long, last_chunk: Long)

  /** STATEFUL streaming sequence packing — online training-data
    * assembly: arriving documents are token-counted row-locally and
    * packed into fixed `ctxLen`-token context windows exactly where
    * the batch packer would put them, because the per-shard RUNNING
    * TOKEN OFFSET is carried in `flatMapGroupsWithState` state across
    * micro-batches (one long per shard — constant state, never
    * evicted). Within a batch each shard's arrivals sort by doc_id
    * (bounded by the batch), so as long as arrival order respects
    * doc_id per shard — the usual append-log contract — the stream is
    * bit-equal to the batch cumsum road:
    * [[graft.operators.TrainingOps.streamPackSequences]] is the
    * registered hash-verified twin, and StreamingSpec proves
    * stream == twin across micro-batch splits. At 100 TB the state
    * store holds nShards longs; everything else is a row-local map.
    */
  def packSequencesStateful(docs: DataFrame, ctxLen: Int = 512,
                            nShards: Int = 8): Dataset[PackedDoc] = {
    require(ctxLen > 0 && nShards > 0, "ctxLen and nShards must be positive")
    val s = docs.sparkSession
    import s.implicits._
    tokenCounted(docs, nShards).groupByKey(_.shard)
      .flatMapGroupsWithState[Long, PackedDoc](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (shard, it, state: GroupState[Long]) =>
          val (out, off) = packShard(shard, it, state.getOption.getOrElse(0L), ctxLen)
          state.update(off)
          out
      }
  }

  /** The packers' input: each doc's shard and BPE token count. */
  private def tokenCounted(docs: DataFrame, nShards: Int): Dataset[TokDoc] = {
    import graft.functions.TextFunctions.{bpeTokenCountOfNorm, normText}
    docs
      .select(col("doc_id"), normText(col("text")).as("norm"))
      .select(col("doc_id"),
              (col("doc_id") % nShards).cast("int").as("shard"),
              bpeTokenCountOfNorm(col("norm")).as("n_tokens"))
      .as[TokDoc](org.apache.spark.sql.Encoders.product[TokDoc])
  }

  /** The packers' state step: one shard's arrivals in doc_id order,
    * packed from running token offset `off0`. Returns the packed docs
    * and the offset to carry into the next micro-batch.
    */
  private def packShard(shard: Int, docs: Iterator[TokDoc], off0: Long,
                        ctxLen: Int): (Iterator[PackedDoc], Long) = {
    var off = off0
    val out = docs.toArray.sortBy(_.doc_id).map { d =>
      val start = off
      off += d.n_tokens
      val last = if (d.n_tokens == 0) start / ctxLen else (off - 1) / ctxLen
      PackedDoc(d.doc_id, shard.toLong, d.n_tokens, start / ctxLen, last)
    }
    (out.iterator, off)
  }

  /** r19 MIGRATION SPIKE (verdict item 8): [[packSequencesStateful]]
    * re-expressed under Spark 4.x's `transformWithState` — the API
    * that succeeds `mapGroupsWithState`/`flatMapGroupsWithState`. The
    * state loop is IDENTICAL (one ValueState[Long] running token
    * offset per shard; the same [[packShard]] step), so
    * StreamingSpec proving tws == fMGWS == the hash-verified batch
    * twin across micro-batch splits answers the migration question:
    * for this family (cdc / attribution / cusum / pack_sequences —
    * all bounded per-key state, no timeouts in this operator) the
    * port is MECHANICAL: GroupState.getOption → ValueState.exists/get,
    * state.update unchanged, the timeout enum becomes TimeMode, and
    * the processor moves from a closure to a StatefulProcessor class.
    * Operational deltas that are NOT mechanical, found by this spike:
    * (a) transformWithState REQUIRES the RocksDB state store provider
    * (the default HDFS-backed provider throws at query start) — a
    * deployment-config migration, not a code one; (b) timeout-based
    * expiry (the attribution operator) becomes explicit registered
    * timers + handleExpiredTimer. Keys stay on fMGWS until Spark
    * deprecates it in earnest; this proves the exit is cheap.
    */
  def packSequencesStatefulTws(docs: DataFrame, ctxLen: Int = 512,
                               nShards: Int = 8): Dataset[PackedDoc] = {
    require(ctxLen > 0 && nShards > 0, "ctxLen and nShards must be positive")
    val s = docs.sparkSession
    import s.implicits._
    tokenCounted(docs, nShards).groupByKey(_.shard)
      .transformWithState(new PackSequencesProcessor(ctxLen),
        org.apache.spark.sql.streaming.TimeMode.None(), OutputMode.Append())
  }

  /** The [[packSequencesStatefulTws]] state loop as a
    * StatefulProcessor: [[packShard]] with its offset in a ValueState. */
  private[graft] class PackSequencesProcessor(ctxLen: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Int, TokDoc, PackedDoc] {
    import org.apache.spark.sql.streaming.{TimeMode, TimerValues, TTLConfig}
    @transient private var offState: org.apache.spark.sql.streaming.ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      offState = getHandle.getValueState[Long](
        "off", org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(shard: Int, it: Iterator[TokDoc],
                                 tv: TimerValues): Iterator[PackedDoc] = {
      val (out, off) =
        packShard(shard, it, if (offState.exists()) offState.get() else 0L, ctxLen)
      offState.update(off)
      out
    }
  }

  /** The IVF probe transform over a PERSISTED serving index — online
    * vector search, the ANN family's streaming member: arriving query
    * vectors run [[graft.operators.Similarity.ivfSearch]], the one IVF
    * search body `annIvfTopK` also runs, over the substrate-persisted
    * serving index instead of the in-memory assignment: the broadcast
    * centroid table (bounded: nCells rows) ranks cells, each probe
    * keeps its nProbeCells nearest, ONE (cell)-keyed equi-join pairs
    * it with the persisted cell postings, and the shared top-k step
    * re-ranks by exact cosine. Only where the index bytes come from
    * differs, so the output is bit-equal to the batch tier at the same
    * dial — which is what keeps the stream hash-verifiable.
    *
    * BATCH transform by construction (the per-probe top-k needs the
    * probe's candidate set complete; every probe's candidates arrive
    * in its own micro-batch, so batch splits can never change a
    * verdict): run it inside `foreachBatch` — StreamingSpec proves
    * foreachBatch output == the registered batch twin across
    * micro-batch splits. Index artifacts are content-addressed
    * substrate paths pinned at call time — the same refresh caveat as
    * [[dedupIncrementalPersisted]]. At 100 TB the centroid table stays
    * KB-scale broadcast state and each micro-batch shuffles only
    * probe×nProbeCells rows into the postings join.
    */
  def annProbePersisted(batch: DataFrame, cellsPath: String,
                        centroidsPath: String, k: Int = 10,
                        nProbeCells: Int = 8): DataFrame = {
    val s = batch.sparkSession
    graft.plans.GraftFunctions.ensureRegistered(s)
    graft.operators.Similarity.ivfSearch(batch.select(col("probe_id"), col("probe_emb")),
      graft.Tables.parquet(s, centroidsPath), graft.Tables.parquet(s, cellsPath), k, nProbeCells)
  }

  /** Stream-stream event-time interval join: each purchase joins the
    * signups of the same user whose event time falls within
    * `horizonSec` BEFORE the purchase — the continuous analogue of
    * the batch as-of/range join surface ([[graft.operators.Joins]]).
    * Both sides carry watermarks, so the state store holds only rows
    * inside the watermark horizon per key: Spark derives the eviction
    * bound from the interval condition (a signup can be dropped once
    * the purchase-side watermark passes signup ts + horizon), which
    * is what keeps a 100 TB/day stream's join state finite. Batch
    * twin: Analytics.streamIntervalJoin, written apart because it
    * compares event times at ns precision where this join compares
    * Spark timestamps at µs grain.
    */
  def intervalJoin(signups: DataFrame, purchases: DataFrame,
                   horizonSec: Long = 3600): DataFrame = {
    import org.apache.spark.sql.functions.expr
    val s = signups.withWatermark("ts", "2 hours").alias("s")
    val p = purchases.withWatermark("ts", "2 hours").alias("p")
    s.join(p, expr(
        s"""s.user_id = p.user_id
            AND p.ts > s.ts
            AND p.ts <= s.ts + INTERVAL $horizonSec SECONDS"""))
      .select(col("s.user_id").as("user_id"),
              col("s.event_id").as("signup_event_id"),
              col("p.event_id").as("purchase_event_id"),
              col("s.ts").as("signup_ts"), col("p.ts").as("purchase_ts"),
              col("p.value").as("purchase_value"))
  }

  /** Stream-static ENRICHMENT: each event picks up its user's
    * dimension attributes as it flows — the lookup-join every
    * streaming pipeline runs in front of routing/aggregation. The
    * static side is re-planned per micro-batch (Structured Streaming's
    * stream-static contract, so a reloaded dim snapshot is picked up
    * on the next batch) and goes through the same size-guarded
    * broadcast as the batch dims ([[graft.operators.Hints]]): small
    * dim → per-batch broadcast hash join, no state store, no
    * watermark; a dim too big to broadcast degrades to a shuffled
    * join rather than a driver OOM. LEFT join: an event with no dim
    * row must flow (null attributes), never silently drop. Run as a
    * batch by Analytics.streamEnrich.
    */
  def enrich(events: DataFrame, dim: DataFrame,
             eventKey: String = "user_id", dimKey: String = "c_custkey"): DataFrame =
    events.join(graft.operators.Hints.maybeBroadcast(dim),
        events(eventKey) === dim(dimKey), "left")
      .select(events("event_id"), events("ts"), events(eventKey),
              dim("c_mktsegment").as("segment"), events("value"))

  /** Durable load stage for a streaming pipeline: append sink to
    * partitioned parquet with exactly-once progress via the checkpoint
    * (the streaming analogue of the reference's idempotent load —
    * re-running after failure never duplicates a committed batch; a
    * mutable-key upsert target would use a table format's MERGE on
    * top of the same plumbing).
    */
  def toParquetSink(df: DataFrame, path: String,
                    checkpoint: String): org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .format("parquet")
      .option("path", path)
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Append)
      .start()

  /** Stream → warehouse Load stage: every micro-batch runs through
    * [[graft.sources.Sources.writeJdbcUpsert]]'s set-based MERGE via
    * `foreachBatch` — the streaming form of the reference's
    * `ON CONFLICT DO UPDATE` loaders (02_etl.py:84-105), keyed on
    * `keyCols` so a key re-emitted across batches UPDATES its row.
    *
    * Delivery is effectively-once BY IDEMPOTENCE, not transactionally:
    * the checkpoint makes progress exactly-once, but a crash between a
    * batch's MERGE and its checkpoint commit REPLAYS the batch — and
    * replaying an upsert of the same rows converges to the same table
    * (the property SourcesSpec proves for reruns). That composition —
    * retry-able sink + idempotent set-based write — is the standard
    * production contract for streaming into a keyed store; only a sink
    * that records batchId transactionally with the data does better.
    */
  def toJdbcUpsertSink(df: DataFrame, url: String, table: String,
                       keyCols: Seq[String], checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.sources.Sources.writeJdbcUpsert(batch, url, table, keyCols)
      }
      .option("checkpointLocation", checkpoint)
      .outputMode(OutputMode.Update)
      .start()

  /** Gap-based sessionization (30-min inactivity) with CUSTOM state:
    * one `SessionState` per user in the state store, extended on each
    * event, closed + emitted either by an in-batch gap or by an
    * event-time timeout once the watermark passes the gap horizon.
    * Batch twin: Analytics.sessionizeEvents, written apart because its
    * session ids come from a per-event lag spine (a window pass), not
    * from typed per-user state.
    */
  def sessionize(events: Dataset[Ev], gapSec: Long = 1800): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionOut(uid, s.start_s, s.end_s, s.n, s.value))
          } else {
            // In-batch events arrive unordered; sort by event time.
            val sorted = evs.toSeq.sortBy(e => (e.ts.getTime, e.event_id))
            var open = state.getOption
            val closed = Seq.newBuilder[SessionOut]
            sorted.foreach { e =>
              val ts = math.floorDiv(e.ts.getTime, 1000L)
              open match {
                case Some(s) if ts - s.end_s <= gapSec =>
                  open = Some(SessionState(s.start_s, ts, s.n + 1, s.value + e.value))
                case Some(s) =>
                  closed += SessionOut(uid, s.start_s, s.end_s, s.n, s.value)
                  open = Some(SessionState(ts, ts, 1, e.value))
                case None =>
                  open = Some(SessionState(ts, ts, 1, e.value))
              }
            }
            open.foreach { s =>
              state.update(s)
              // Close the session once event time passes end + gap.
              state.setTimeoutTimestamp((s.end_s + gapSec) * 1000L)
            }
            closed.result().iterator
          }
      }
  }

  /** The CDC current view a change row produced for its key. The
    * register timestamp rides along at FULL µs grain: seconds-grain
    * output would alias two updates of one key inside a second, and a
    * downstream merge needs the exact register order to pick winners.
    */
  case class CdcOut(user_id: Long, last_event_id: Long, last_ts_us: Long,
                    last_op: String, is_live: Boolean, last_value: Double)

  /** Latest change kept per key in the state store. Event time at µs
    * grain — Spark's own timestamp precision, so the (ts_us, event_id)
    * register order is EXACTLY the batch twin's (ts_ns, event_id) rank
    * order on µs-encoded data (a ms-grain register would re-order
    * sub-ms neighbors; the testdata carries real µs components).
    */
  case class CdcLatest(ts_us: Long, event_id: Long, op: String, value: Double)

  private def epochMicros(ts: java.sql.Timestamp): Long =
    ts.getTime * 1000L + (ts.getNanos % 1000000) / 1000L

  /** Streaming CDC apply — the continuous form of
    * [[graft.operators.EtlOps.applyChanges]]' log collapse: one
    * latest-wins register per key in the state store (`error` events
    * are tombstones, everything else upserts), emitting the key's new
    * CURRENT row whenever a change batch moves it forward. Update
    * output mode is the point: downstream sees a continuously-correct
    * current view (is_live=false IS the delete, kept visible so a sink
    * can propagate it — the [[toJdbcUpsertSink]] contract), not an
    * append log it must re-collapse.
    *
    * Late/duplicate data is handled by the register itself: a change
    * older than the state's (ts, event_id) is absorbed without output
    * (max is order-insensitive), so replayed partitions and unordered
    * micro-batches converge to the same state — the idempotence that
    * makes the operator safe behind an at-least-once source. State is
    * one fixed-size register per key EVER SEEN — tombstoned keys
    * deliberately keep theirs: the 'D' register is what absorbs a
    * late replay of an older 'U' for that key (drop the register and
    * the replay RESURRECTS the deleted row). Sharded by key across
    * the state store: 100 TB of change history costs |keys| registers,
    * never the log. A deployment with unbounded key churn bounds that
    * by retiring registers past its replay horizon —
    * [[cdcStateEvicting]] is exactly that variant; this operator
    * keeps NoTimeout because its contract is exact convergence under
    * arbitrary replay (StreamingSpec shuffles and replays batches
    * and asserts state equals the batch collapse). Batch twin:
    * Analytics.streamCdcApply, written apart because this register
    * is typed per-key state, which a batch source has no plan for;
    * the twin computes the same collapse as a window rank.
    */
  def cdcState(changes: Dataset[Ev]): Dataset[CdcOut] = {
    import changes.sparkSession.implicits._
    changes
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcLatest, CdcOut](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[CdcLatest]) =>
          cdcStep(uid, evs, state)._2
      }
  }

  /** The CDC register step [[cdcState]] and [[cdcStateEvicting]]
    * share: fold the key's incoming changes (`error` events are 'D'
    * tombstones, everything else 'U') into its latest-wins register by
    * (ts_us, event_id). When the register moved, it is stored and its
    * new current row is the output; otherwise the output is empty.
    * Returns the register with that output.
    */
  private def cdcStep(uid: Long, evs: Iterator[Ev],
                      state: GroupState[CdcLatest]): (CdcLatest, Iterator[CdcOut]) = {
    val incoming = evs.map { e =>
      CdcLatest(epochMicros(e.ts), e.event_id,
        if (e.event_type == "error") "D" else "U", e.value)
    }
    val latest = (state.getOption.iterator ++ incoming)
      .maxBy(c => (c.ts_us, c.event_id))
    if (state.getOption.contains(latest)) (latest, Iterator.empty)
    else {
      state.update(latest)
      (latest, Iterator(CdcOut(uid, latest.event_id, latest.ts_us, latest.op,
        latest.op != "D", latest.value)))
    }
  }

  /** Far-future timeout pin (9999-12-31T23:59:59.999Z): a live CDC
    * register must never time out, but EventTimeTimeout offers no
    * per-key "unset" — a key that was tombstoned and then re-upserted
    * would otherwise keep its old eviction clock. Pinning live
    * registers here is the unset.
    */
  private val NeverMs = 253402300799999L

  /** [[cdcState]] with a REPLAY-HORIZON: identical register semantics
    * (latest-wins by (ts_us, event_id), tombstones absorb late
    * replays of older upserts), but tombstoned registers RETIRE once
    * the watermark passes `horizonSec` past their event time —
    * EventTimeTimeout doing for CDC state what [[rateCusum]]'s
    * dead-feed reset does for its charts. The trade is explicit and
    * the deployment picks it: [[cdcState]]'s NoTimeout converges
    * under ARBITRARY replay but its state tracks every key ever seen;
    * this variant's state tracks live keys plus a `horizonSec` tail
    * of tombstones, and a replay older than an already-evicted
    * tombstone would resurrect the row — sound exactly when the
    * source's redelivery window (Kafka retention, checkpoint
    * recovery depth) is inside the horizon, which is the bound a real
    * deployment has anyway. Eviction is state-only (emits nothing:
    * the delete row was already emitted when the tombstone landed).
    *
    * Live registers are pinned to [[NeverMs]] — re-upserting a
    * tombstoned key must CANCEL its eviction clock, and re-arming on
    * every invocation is the only unset the API offers. The tombstone
    * arm is clamped strictly ahead of the current watermark (the
    * [[rateCusum]] discipline): a tombstone already past its horizon
    * when it lands retires at the next watermark advance, not via an
    * IllegalArgumentException.
    */
  def cdcStateEvicting(changes: Dataset[Ev], horizonSec: Long = 86400L,
                       delay: String = "1 hour"): Dataset[CdcOut] = {
    require(horizonSec > 0, s"horizonSec must be positive, got $horizonSec")
    import changes.sparkSession.implicits._
    changes
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[CdcLatest, CdcOut](
        OutputMode.Update, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[CdcLatest]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val (latest, out) = cdcStep(uid, evs, state)
            val wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
              if (latest.op == "D")
                math.max(latest.ts_us / 1000L + horizonSec * 1000L, wm + 1L)
              else NeverMs)
            out
          }
      }
  }

  /** One settled purchase's channel credit. µs grain for the same
    * reason as [[CdcOut]]: the batch twin's (ts_ns, event_id) order
    * must be reproducible downstream.
    */
  case class CreditOut(user_id: Long, event_id: Long, ts_us: Long,
                       channel: String, cents: Long)

  /** The last-touch register: latest settled touch of the user. */
  case class Touch(ts_us: Long, event_id: Long, channel: String)

  /** An event buffered until the watermark settles its order. */
  case class PendingEv(ts_us: Long, event_id: Long,
                       event_type: String, cents: Long)

  /** Per-user attribution state: the touch register plus the
    * still-unsettled buffer. The buffer is bounded by the watermark
    * delay (only events newer than the watermark wait); the register
    * lives at most `lookback` past its own event time.
    */
  case class AttribState(touch: Option[Touch], buf: List[PendingEv])

  /** Streaming last-touch attribution — the CONTINUOUS form of
    * [[graft.operators.Analytics.attributionLastTouch]]'s credit log
    * (the rollup is a downstream aggregation; the credit decision is
    * the stateful part): per user, each purchase is credited to the
    * latest PRECEDING view/click within `lookbackSec`, in the
    * (event-time, event_id) total order — the marketing pipeline's
    * real-time revenue-by-channel feed.
    *
    * Credit needs its inputs IN ORDER (a purchase must see exactly
    * the touches before it), so events buffer in per-user state until
    * the global watermark passes them — only then can no earlier
    * event still arrive (the [[rateCusum]] discipline applied to a
    * sequence rule instead of a counting rule; emission latency = the
    * watermark delay, the price of disorder-correct credit). Settled
    * events replay oldest-first: touches advance the register
    * MONOTONICALLY in the total order (a boundary-row replay can
    * never move it backwards), purchases read it through the lookback
    * test and emit exactly once (Append mode).
    *
    * State is self-retiring without a dedicated horizon knob: the
    * buffer drains to the watermark, and the register is dropped once
    * the watermark passes `touch + lookback` — beyond that point no
    * admissible purchase could still credit it (anything later is out
    * of window by definition), so eviction is exact, not a trade. The
    * EventTimeTimeout re-arm (clamped strictly ahead of the current
    * watermark) walks both: a user whose feed dies still settles
    * buffered purchases and retires the register as OTHER users'
    * events advance the watermark. At 100 TB: state is per ACTIVE
    * user (delay window of events + 3 longs), sharded by user across
    * the state store — the same scaling story as [[sessionize]].
    */
  def attributionCredits(events: Dataset[Ev], lookbackSec: Long = 7 * 86400L,
                         delay: String = "2 hours"): Dataset[CreditOut] = {
    require(lookbackSec > 0, s"lookbackSec must be positive, got $lookbackSec")
    import events.sparkSession.implicits._
    val lookbackUs = lookbackSec * 1000000L
    events
      .filter(e => e.event_type == "view" || e.event_type == "click" ||
                   e.event_type == "purchase")
      .withWatermark("ts", delay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[AttribState, CreditOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, evs: Iterator[Ev], state: GroupState[AttribState]) =>
          var st = state.getOption.getOrElse(AttribState(None, Nil))
          if (!state.hasTimedOut) {
            val inc = evs.map(e => PendingEv(epochMicros(e.ts), e.event_id,
              e.event_type, math.floor(e.value * 100).toLong)).toList
            st = st.copy(buf = st.buf ::: inc)
          }
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          // settle: only events strictly behind the watermark have a
          // final position — anything else could still be preceded
          val (ripe, pending) = st.buf.partition(_.ts_us < wmUs)
          val out = Seq.newBuilder[CreditOut]
          ripe.sortBy(p => (p.ts_us, p.event_id)).foreach { p =>
            if (p.event_type == "purchase") {
              val ch = st.touch match {
                case Some(t) if t.ts_us >= p.ts_us - lookbackUs => t.channel
                case _ => "none"
              }
              out += CreditOut(uid, p.event_id, p.ts_us, ch, p.cents)
            } else if (st.touch.forall(t =>
                t.ts_us < p.ts_us ||
                (t.ts_us == p.ts_us && t.event_id < p.event_id))) {
              st = st.copy(touch = Some(Touch(p.ts_us, p.event_id, p.event_type)))
            }
          }
          st = st.copy(buf = pending)
          val registerDead = st.touch.forall(t => wmUs > t.ts_us + lookbackUs)
          if (st.buf.isEmpty && registerDead) state.remove()
          else {
            state.update(st)
            // re-arm at the next thing the watermark must pass: the
            // oldest buffered event (settle it) or the register's
            // expiry (retire it); clamped ahead of the watermark so
            // the arm is always legal
            val armUs =
              if (st.buf.nonEmpty) st.buf.iterator.map(_.ts_us).min
              else st.touch.get.ts_us + lookbackUs
            state.setTimeoutTimestamp(
              math.max(armUs / 1000L + 1L, state.getCurrentWatermarkMs() + 1L))
          }
          out.result().iterator
      }
  }

  /** Tumbling 1-hour counts per event type — the aggregation half of
    * the trending-topics pattern. Ranking is NOT expressible inside a
    * streaming aggregation (a rank window over an updating aggregate
    * has no incremental form), so the stream emits counts and
    * [[rankTrending]] runs per micro-batch via `foreachBatch` — the
    * standard split: incremental state in the engine, per-snapshot
    * ranking on each batch's (small, window×type-sized) output. Run
    * as a batch, with [[rankTrending]], by Analytics.streamTopkTrending.
    */
  def trendingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"),
              col("event_type"), col("n_events"))

  /** Per-window top-k rank over a counts snapshot — shared verbatim by
    * the `foreachBatch` sink and the batch twin
    * (Analytics.streamTopkTrending, which also runs [[trendingCounts]]),
    * so stream and batch ranking cannot drift. Input: (window_start, event_type, n_events).
    */
  def rankTrending(counts: DataFrame, k: Int = 3): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("window_start")
      .orderBy(col("n_events").desc, col("event_type"))
    counts
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("window_start", "rank", "event_type", "n_events")
  }

  /** One closed CUSUM window: the window's count, both chart values
    * AFTER absorbing it, and the threshold verdicts. */
  case class CusumOut(event_type: String, win: Long, n_events: Long,
                      cusum_up: Long, cusum_dn: Long,
                      flag_surge: Boolean, flag_drop: Boolean)

  /** CUSUM accumulator per event type: both one-sided charts, the last
    * CLOSED window, and the still-open windows' counts. The map is
    * bounded by the watermark delay: a window stays open only until
    * the watermark passes its end, so at most
    * ceil(delay/windowSec)+1 entries per key. */
  case class CusumState(s_up: Long, s_dn: Long, last_closed: Long,
                        counts: Map[Long, Long])

  /** Streaming CUSUM rate monitor — the CONTINUOUS form of
    * [[graft.operators.Analytics.anomalyCusum]]: per event type, count
    * events into `windowSec` tumbling windows against a FIXED
    * reference rate `baseline(type)` (the stream cannot know the
    * corpus mean the batch chart centers on — a reference value is
    * how deployed CUSUM charts run; re-fit it from the batch twin on
    * whatever cadence drift reviews allow), maintaining both
    * one-sided charts in per-type state. Same integral scale ×4
    * (κ = B/4, h = 2B): up-deviation 4x − 5B, down 3B − 4x, flag at
    * 8B.
    *
    * A window CLOSES only when the GLOBAL event-time watermark passes
    * its end — never earlier. Until then its count accumulates in
    * state, so an out-of-order event that is behind the newest window
    * but still inside the watermark delay lands in its own window's
    * count rather than being dropped (the frontier rule an earlier
    * revision used closed a window at the first later-window event
    * and silently under-counted exactly that disorder). Both paths
    * walk the same close loop: the per-batch data path (the watermark
    * advanced between triggers) and EventTimeTimeout (other types'
    * events advance the watermark, so a feed that dies PERMANENTLY
    * still has its silence walked and flag_drop fires). Emission
    * latency is therefore the watermark delay — the price of
    * disorder-correct counts, same trade windowedCounts makes. That
    * is the dq_freshness argument made sequential: a silently-dead
    * feed passes every value expectation while this chart pages
    * someone.
    *
    * After the dead-feed page is delivered — an EMPTY window trips
    * flag_drop with nothing newer buffered — the key's state is
    * DROPPED and the timeout not re-armed (classic CUSUM
    * reset-after-alarm): a feed left dead indefinitely emits nothing
    * further and cannot overflow the chart; when data returns the
    * chart restarts fresh from the returning window.
    *
    * Events older than the watermark never reach the operator
    * (late replays of closed windows cannot re-close them);
    * redelivery of an OPEN window's events does recount them:
    * exactly-once window counts under an at-least-once source require
    * the watermarked [[dedupIds]] stage upstream (the standard
    * dedup-then-aggregate topology; this operator deliberately keeps
    * two longs + a bounded window map per TYPE rather than an id set
    * per window). State is bounded by the type enum × the watermark
    * horizon — still the cheapest state table in this module.
    */
  def rateCusum(events: Dataset[Ev], windowSec: Long,
                baseline: Map[String, Long]): Dataset[CusumOut] = {
    import events.sparkSession.implicits._
    require(windowSec > 0, s"windowSec $windowSec must be positive")
    events
      .withWatermark("ts", "2 hours")
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[CusumState, CusumOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (etype: String, evs: Iterator[Ev], state: GroupState[CusumState]) =>
          val b = baseline.getOrElse(etype, 1L)
          val out = Seq.newBuilder[CusumOut]
          // 1. fold new events into their windows' open counts — any
          // order, any window newer than the last closed one; disorder
          // inside the watermark delay lands correctly by construction
          var st =
            if (state.hasTimedOut) state.get
            else {
              val ws = evs.map(e =>
                math.floorDiv(math.floorDiv(e.ts.getTime, 1000L), windowSec)).toSeq
              // Long.MinValue = "nothing closed yet": until a window
              // actually elapses, even an event EARLIER than the first
              // seen window must still fold (it is inside the
              // watermark or Spark would have dropped it)
              var s0 = state.getOption.getOrElse(
                CusumState(0L, 0L, Long.MinValue, Map.empty))
              ws.foreach { w =>
                if (w > s0.last_closed) // else: replay of a closed window — absorbed
                  s0 = s0.copy(counts =
                    s0.counts.updated(w, s0.counts.getOrElse(w, 0L) + 1L))
              }
              s0
            }
          // 2. close, oldest first, every window whose end the
          // watermark has passed — gaps close as count 0 (the
          // dead-feed path is this same loop with nothing buffered).
          // The FIRST window ever closed is the key's first window
          // with data — the batch twin's spine starts at min(bucket)
          // for the same reason. An event behind that first close is
          // necessarily behind the watermark too (we close only
          // watermark-elapsed windows), so absorption loses nothing
          // Spark would have delivered.
          val wmWin = math.floorDiv(
            state.getCurrentWatermarkMs() / 1000L, windowSec)
          def nextToClose(s: CusumState): Long =
            if (s.last_closed != Long.MinValue) s.last_closed + 1
            else if (s.counts.nonEmpty) s.counts.keysIterator.min
            else Long.MaxValue
          var dead = false
          while (!dead && nextToClose(st) < wmWin) {
            val w = nextToClose(st)
            val x = st.counts.getOrElse(w, 0L)
            val su = math.max(0L, st.s_up + (4L * x - 5L * b))
            val sd = math.max(0L, st.s_dn + (3L * b - 4L * x))
            out += CusumOut(etype, w, x, su, sd, su > 8L * b, sd > 8L * b)
            st = CusumState(su, sd, w, st.counts - w)
            // dead-feed alarm delivered (empty window tripped the drop
            // chart, nothing newer buffered): reset-after-alarm
            dead = x == 0L && sd > 8L * b && st.counts.isEmpty
          }
          if (dead) state.remove()
          else {
            state.update(st)
            // re-arm: fire when the watermark passes the oldest still-
            // unclosed window's end. The close loop left nextToClose
            // ≥ wmWin, so the timestamp is strictly ahead of the
            // current watermark; and a persisted state always has
            // either a close or a buffered count, so it is finite.
            state.setTimeoutTimestamp((nextToClose(st) + 1) * windowSec * 1000L)
          }
          out.result().iterator
      }
  }
}
