package graft

import org.apache.spark.sql.DataFrame

/** Explicit lifecycle for operator-internal `cache()` calls.
  *
  * The dedup family caches shared scans (hashed shingles, simhash
  * signatures) and the connected-components fixpoint result — reuse
  * within one operator invocation is the point, but a returned cached
  * frame with no owner leaks one in-memory relation per call. Every
  * operator cache is therefore created through [[cached]], and every
  * entry-point main (Verify, Bench, Plans, StageProf) calls [[clear]]
  * between queries so no relation outlives the query that built it. Library users embed
  * the same call at their own batch boundaries.
  */
object Caches {
  private val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
  private val cleanups = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** Round materialization for iterative operators (connected
    * components, PageRank): eager local checkpoint by default —
    * truncates lineage so the analyzer re-walks a constant-depth plan
    * per round — or reliable `checkpoint()` when `reliable` (requires
    * the session's checkpoint dir; survives executor loss on a real
    * cluster, where local checkpoint blocks die with their executor).
    */
  def roundCheckpoint(df: DataFrame, reliable: Boolean): DataFrame =
    if (reliable) df.checkpoint(true) else df.localCheckpoint(true)

  /** Run an iterative fixpoint loop (PageRank, label propagation,
    * connected components, BFS, k-core peel) with adaptive execution
    * and auto-broadcast OFF, restoring the session's previous values
    * after. The loops' per-round plans are hand-co-partitioned and
    * shape-pinned (one corpus-scale Exchange per round riding cached
    * hash partitionings + checkpoint-carried partitionings — see
    * PlanQualitySpec): there is nothing left for AQE to discover, and
    * what it does instead is pure overhead ×iters — it re-plans every
    * round's checkpoint action, converts the node-scale side to a
    * fresh per-round broadcast (driver collect + rebuild each round;
    * at corpus scale that side GROWS with the graph, so the static
    * no-broadcast SMJ is also the only shape that survives 100 TB),
    * and its partition coalescing re-keys the carried partitionings
    * so later rounds pay a re-Exchange the static plan never has.
    * Measured on graph_pagerank at sf0.1/32 cores: min-of-3 9.8-11.2 s
    * with AQE on vs 7.7-7.9 s static (r22 ledger). Conf-scoped and
    * restored — every non-loop plan keeps AQE exactly as the session
    * set it.
    */
  def staticRounds[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
    val aqeKey = "spark.sql.adaptive.enabled"
    val bcKey  = "spark.sql.autoBroadcastJoinThreshold"
    val aqePrev = s.conf.get(aqeKey)
    val bcPrev  = s.conf.get(bcKey)
    s.conf.set(aqeKey, "false")
    s.conf.set(bcKey, "-1")
    try body
    finally {
      s.conf.set(aqeKey, aqePrev)
      s.conf.set(bcKey, bcPrev)
    }
  }

  /** Free a checkpointed round's materialized blocks (call once its
    * successor exists; the final round should instead be registered
    * via [[onClear]]). The checkpointed frame's plan is exactly a
    * LogicalRDD over the persisted RDD; a reliable-checkpoint RDD
    * holds no block-manager blocks, so unpersist is a harmless no-op
    * there. If a future Spark stops exposing the bare LogicalRDD this
    * silently becomes a no-op — acceptable (blocks then live until
    * [[clear]]), but keep the match in ONE place so a fix reaches
    * every iterator.
    */
  def unpersistRound(df: DataFrame): Unit = df.queryExecution.logical match {
    case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.unpersist(false)
    case _ => ()
  }

  /** Cache `df` and register it for the next [[clear]]. */
  def cached(df: DataFrame): DataFrame = synchronized {
    df.cache()
    frames += df
    df
  }

  private val models =
    new java.util.concurrent.ConcurrentHashMap[Seq[Any], ModelHolder]()

  /** Session-lifetime memo for TRAINED MODEL STATE (PQ codebooks, the
    * IVF coarse quantizer): KB-scale driver objects that are pure,
    * seeded functions of (corpus dir, hyperparameters), so a re-fit
    * returns bit-identical state and reuse is purely a time win — the
    * fits dominate those operators' wall time, and a real index
    * deployment trains once and serves many. Deliberately NOT dropped
    * by [[clear]]: clear() manages executor block-manager memory
    * between queries; model state is bounded driver memory with no
    * blocks to leak. [[clearModels]] resets (tests that re-measure
    * training, or a corpus that changed under the same path).
    *
    * Locking is PER KEY, not global: the map access goes through
    * `ConcurrentHashMap.computeIfAbsent` (which only installs a lazy
    * holder — O(1) under the bin lock) and the fit itself runs under
    * the holder's own monitor via `lazy val`. A multi-minute KMeans
    * fit therefore never blocks a concurrent caller training a
    * DIFFERENT key, nor [[cached]]/[[clear]] (which take the Caches
    * monitor). Two concurrent callers of the SAME key still dedupe to
    * one fit — the second blocks on the holder until the first's
    * result is published. A fit that THROWS is not cached: its holder
    * (which captured the failing thunk) is evicted, so the next call
    * installs and runs a fresh fit rather than replaying the failure.
    */
  def model[T](key: Any*)(fit: => T): T = {
    val k = key.toSeq
    val holder = models.computeIfAbsent(k,
      _ => new ModelHolder(() => { modelMisses.incrementAndGet(); fit }))
    try holder.value.asInstanceOf[T]
    catch { case e: Throwable => models.remove(k, holder); throw e }
  }

  private final class ModelHolder(fit: () => Any) {
    lazy val value: Any = fit()
  }

  /** Drop all memoized model state. */
  def clearModels(): Unit = models.clear()

  private val modelMisses = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Number of model fits actually executed (memo misses) since JVM
    * start — the observable for "the second invocation did not
    * retrain" (monotone; tests diff it around calls).
    */
  def modelMissCount: Int = modelMisses.get()

  /** Register a cleanup thunk to run at the next [[clear]] — for
    * materializations `DataFrame.unpersist` cannot reach (e.g. the
    * RDD behind a checkpointed frame, which the cache manager does
    * not track). Must be idempotent and non-throwing.
    */
  def onClear(f: () => Unit): Unit = synchronized { cleanups += f }

  /** Unpersist (BLOCKING, best-effort) every registered frame and run
    * every registered cleanup. Idempotent: frames already unpersisted
    * by their operator are a no-op. Never throws from the unpersist
    * path — a removal failure degrades to the old async behaviour.
    */
  def clear(): Unit = synchronized {
    // BLOCKING unpersist (r21): with blocking=false the removal is
    // async on the BlockManagerMaster, so a caller that immediately
    // re-caches (Bench's pass loop, any re-invoked operator) stacks
    // fresh blocks on top of zombie ones still awaiting cleanup —
    // storage memory fills, MEMORY_AND_DISK starts evicting to disk,
    // and on a slow-disk host each successive pass gets slower (the
    // r20 driver record's assoc_rules grew 8.4→32 s across four
    // in-process passes with zero recompiles and no GC signature —
    // exactly an accumulating-state curve). Blocking waits only for
    // block drop (milliseconds locally) and makes the memory state
    // deterministic at every clear(). The wait can surface RPC
    // failures (executor lost on a real cluster) that fire-and-forget
    // never did — swallowed per frame, because clear() is a
    // boundary-hygiene call and its callers (Bench's pass loop, batch
    // drivers) must not die on a failed block drop.
    frames.foreach(f => try f.unpersist(true)
                        catch { case _: Exception => () })
    frames.clear()
    cleanups.foreach(f => f())
    cleanups.clear()
  }
}
