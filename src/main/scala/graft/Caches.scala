package graft

import org.apache.spark.sql.DataFrame

/** The per-query release list: everything an operator materializes
  * beyond its returned plan is created through one of three
  * registrars, and [[clear]] releases all of it.
  *
  *  - [[cached]]: a `cache()`d shared scan (hashed shingles, simhash
  *    signatures, symmetric edge lists), unpersisted at [[clear]].
  *  - [[rounds]]: the round driver of every iterative fixpoint loop
  *    (PageRank, BFS, label propagation, k-core, connected components,
  *    BPE training). It checkpoints each round, frees each round's
  *    predecessor once the round exists, and leaves the final round
  *    backing the returned plan until [[clear]].
  *  - [[scratchDir]]: a per-query temp dir (an extract landing dir, a
  *    streaming sink and checkpoint), deleted at [[clear]].
  *
  * Every entry-point main (Verify, Bench, Plans, StageProf) calls
  * [[clear]] between queries so nothing outlives the query that built
  * it. Library users embed the same call at their own batch
  * boundaries. The model memo ([[model]]) is separate: it is
  * session-lifetime driver state, not per-query.
  */
object Caches {
  // Keyed by what each release frees, so freeing a round early drops
  // its entry and the list holds at most one round generation per loop.
  private val releases = scala.collection.mutable.LinkedHashMap.empty[AnyRef, () => Unit]

  private def register(key: AnyRef)(release: => Unit): Unit =
    synchronized { releases(key) = () => release }

  /** The checkpoints one round of a [[rounds]] loop makes: its
    * generation. A round may make more than one (BFS checkpoints its
    * fresh frontier and the merged settled set).
    *
    * @param index 0 for the init round, then 1, 2, … per step
    */
  private[graft] final class Round private[Caches] (val index: Int, reliable: Boolean) {
    private[Caches] val made = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    /** Checkpoint `df` eagerly as part of this round's generation. */
    def checkpoint(df: DataFrame): DataFrame = {
      val cp = roundCheckpoint(df, reliable)
      made += cp
      cp
    }
  }

  /** Drive an iterative fixpoint loop, one checkpointed round at a
    * time. `init` builds round 0's state; `step` builds each next
    * round's state from the last accepted one, for at most `maxRounds`
    * steps. A step that returns `Some` is accepted and the previous
    * generation is freed (its successor is materialized by then); a
    * step that returns `None` ends the loop, and whatever it
    * checkpointed is freed. A loop that converges on an accepted round
    * carries that in its state and returns `None` from the next step.
    * The last accepted generation backs the returned state and stays
    * registered until [[clear]].
    *
    * `staticInit` and `staticSteps` run round 0 and the steps under
    * [[staticRounds]]; its scaladoc has the reasons and the A/Bs, and
    * each loop's scaladoc says why it does or does not use it.
    */
  private[graft] def rounds[S](s: org.apache.spark.sql.SparkSession, maxRounds: Int,
                               reliable: Boolean, staticInit: Boolean = false,
                               staticSteps: Boolean = false)
                              (init: Round => S)(step: (Round, S) => Option[S]): S = {
    def scoped[T](static: Boolean)(body: => T): T = if (static) staticRounds(s)(body) else body
    @annotation.tailrec
    def loop(gen: Round, state: S): S =
      if (gen.index >= maxRounds) state
      else {
        val next = new Round(gen.index + 1, reliable)
        scoped(staticSteps)(step(next, state)) match {
          case Some(st) => gen.made.foreach(unpersistRound); loop(next, st)
          case None => next.made.foreach(unpersistRound); state
        }
      }
    val first = new Round(0, reliable)
    loop(first, scoped(staticInit)(init(first)))
  }

  /** Eager local checkpoint by default — truncates lineage so the
    * analyzer re-walks a constant-depth plan per round — or reliable
    * `checkpoint()` when `reliable` (requires the session's checkpoint
    * dir; survives executor loss on a real cluster, where local
    * checkpoint blocks die with their executor). The round's blocks
    * are released by [[unpersistRound]] once [[rounds]] has its
    * successor or, at the latest, by [[clear]].
    */
  private[graft] def roundCheckpoint(df: DataFrame, reliable: Boolean): DataFrame = {
    val round = if (reliable) df.checkpoint(true) else df.localCheckpoint(true)
    roundRdd(round).foreach(rdd => register(rdd)(rdd.unpersist(false)))
    round
  }

  /** Run `body` (the static phases of a [[rounds]] loop: PageRank,
    * BFS and k-core throughout, label propagation's init and its
    * non-delta rounds) with adaptive execution and auto-broadcast OFF,
    * restoring the session's previous values after. The loops'
    * per-round plans are hand-co-partitioned and shape-pinned (one
    * corpus-scale Exchange per round riding cached hash partitionings
    * + checkpoint-carried partitionings — see PlanQualitySpec): there
    * is nothing left for AQE to discover, and what it does instead is
    * pure overhead ×iters — it re-plans every round's checkpoint
    * action, converts the node-scale side to a fresh per-round
    * broadcast (driver collect + rebuild each round; at corpus scale
    * that side GROWS with the graph, so the static no-broadcast SMJ is
    * also the only shape that survives 100 TB), and its partition
    * coalescing re-keys the carried partitionings so later rounds pay
    * a re-Exchange the static plan never has.
    * Measured on graph_pagerank at sf0.1/32 cores: min-of-3 9.8-11.2 s
    * with AQE on vs 7.7-7.9 s static (r22 ledger). Conf-scoped and
    * restored — every non-loop plan keeps AQE exactly as the session
    * set it.
    */
  private[graft] def staticRounds[T](s: org.apache.spark.sql.SparkSession)(body: => T): T = {
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

  /** Free a checkpointed round's materialized blocks now, once its
    * successor exists, and drop it from the [[clear]] list. A
    * reliable-checkpoint RDD holds no block-manager blocks, so this
    * is a harmless no-op there.
    */
  private def unpersistRound(df: DataFrame): Unit = roundRdd(df).foreach { rdd =>
    rdd.unpersist(false)
    synchronized { releases -= rdd }
  }

  /** The RDD behind a checkpointed round: its plan is exactly a
    * LogicalRDD over the persisted RDD. If a future Spark stops
    * exposing the bare LogicalRDD, rounds are simply never freed —
    * keep the match in ONE place so a fix reaches every loop.
    */
  private def roundRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => Some(lr.rdd)
      case _ => None
    }

  /** Cache `df` and register it for the next [[clear]]. */
  def cached(df: DataFrame): DataFrame = {
    df.cache()
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
    // deterministic at every clear().
    register(df)(df.unpersist(true))
    df
  }

  /** Create a fresh temp dir named `prefix…` for a result that is read
    * lazily after the operator returns (so it cannot be deleted in a
    * `finally`), and register it for deletion at the next [[clear]].
    */
  def scratchDir(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    register(dir)(deleteTree(dir))
    dir.toString
  }

  private def deleteTree(root: java.nio.file.Path): Unit = {
    val walk = java.nio.file.Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => java.nio.file.Files.deleteIfExists(p))
    finally walk.close()
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

  /** Run every registered release: unpersist cached frames
    * (BLOCKING), free final rounds, delete scratch dirs. Best-effort
    * per release — one that throws (a lost block-drop RPC, a scratch
    * dir a /tmp reaper already took) never stops the rest, and
    * [[clear]] itself never throws.
    */
  def clear(): Unit = {
    val pending = synchronized {
      val all = releases.values.toList
      releases.clear()
      all
    }
    pending.foreach(release => try release() catch { case _: Exception => () })
  }
}
