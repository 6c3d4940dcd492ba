package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{GraphOps, TrainingOps}

/** Lifecycle semantics of the per-query release list (what [[Caches.clear]]
  * frees, and that one failing release never stops the rest) and of the
  * model memo: per-key locking (a slow fit must not serialize unrelated
  * keys), same-key dedupe, and failure non-caching.
  */
class CachesSpec extends AnyFunSuite with SparkFixture {

  /** Run `op` between two clear()s and return the persistent RDDs it
    * added that are still pinned before the second clear(), plus the
    * ones of those still pinned after it.
    */
  private def pinnedAround(op: => Unit) = {
    val sc = spark.sparkContext
    Caches.clear()
    val before = sc.getPersistentRDDs.keySet
    op
    val pinned = sc.getPersistentRDDs.filter { case (id, _) => !before(id) }.values.toSeq
    Caches.clear()
    (pinned, sc.getPersistentRDDs.keySet.intersect(pinned.map(_.id).toSet))
  }

  test("pageRank pins its cached inputs plus one round until clear(), not one per round") {
    val (pinned, left) = pinnedAround(GraphOps.pageRank(spark, sf, iters = 4))
    assert(pinned.count(_.isCheckpointed) == 1,
      s"expected the final round only, got ${pinned.map(r => r.id -> r.isCheckpointed)}")
    assert(pinned.exists(!_.isCheckpointed), "the cached nodes/edges inputs were not pinned")
    assert(left.isEmpty, s"clear() left RDDs $left pinned")
  }

  test("connectedComponents pins its cached inputs plus one round until clear()") {
    val (pinned, left) = pinnedAround(GraphOps.graphComponents(spark, sf))
    assert(pinned.count(_.isCheckpointed) == 1,
      s"expected the final round only, got ${pinned.map(r => r.id -> r.isCheckpointed)}")
    assert(pinned.exists(!_.isCheckpointed), "the cached edge list was not pinned")
    assert(left.isEmpty, s"clear() left RDDs $left pinned")
  }

  // The other Caches.rounds loops: whether each caches its inputs, and
  // the most checkpointed RDDs its final round may leave pinned — one,
  // except BFS's merged settled set plus its last fresh frontier.
  private val loops = Seq[(String, Boolean, Int, () => Unit)](
    ("graphBfsHops", true, 2, () => GraphOps.graphBfsHops(spark, sf)),
    ("graphKcore", true, 1, () => GraphOps.graphKcore(spark, sf)),
    ("labelPropagation deltaDiv=0", true, 1,
      () => GraphOps.labelPropagation(spark, sf, deltaDiv = 0)),
    ("labelPropagation deltaDiv=1", true, 1,
      () => GraphOps.labelPropagation(spark, sf, deltaDiv = 1)),
    ("bpeTrain", false, 1, () => TrainingOps.bpeTrain(spark, sf)))

  for ((name, cachesInputs, maxRounds, op) <- loops)
    test(s"$name pins its cached inputs plus its final round until clear(), nothing after") {
      val (pinned, left) = pinnedAround(op())
      val rounds = pinned.count(_.isCheckpointed)
      val detail = pinned.map(r => r.id -> r.isCheckpointed)
      if (maxRounds == 1) assert(rounds == 1, s"expected the final round only, got $detail")
      else assert(rounds >= 1 && rounds <= maxRounds,
        s"expected 1 to $maxRounds final-round checkpoints, got $detail")
      assert(pinned.exists(!_.isCheckpointed) == cachesInputs,
        s"cached inputs pinned: expected $cachesInputs, got $detail")
      assert(left.isEmpty, s"clear() left RDDs $left pinned")
    }

  test("scratchDir exists until clear() and is gone after") {
    val dir = Caches.scratchDir("caches-spec")
    Files.createDirectories(Paths.get(dir, "sub"))
    Files.write(Paths.get(dir, "sub", "part-0"), Array[Byte](1, 2, 3))
    assert(Files.isDirectory(Paths.get(dir)))
    Caches.clear()
    assert(!Files.exists(Paths.get(dir)), s"$dir survived clear()")
  }

  test("clear() runs every later release when a scratch dir was already deleted") {
    val gone = Caches.scratchDir("caches-spec-gone")
    val kept = Caches.scratchDir("caches-spec-kept")
    val df = Caches.cached(spark.range(100).selectExpr("id * 7 AS caches_spec"))
    df.count()
    Files.delete(Paths.get(gone))
    Caches.clear()
    assert(!Files.exists(Paths.get(kept)), s"$kept survived clear()")
    assert(df.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "cached frame still cached after clear()")
  }

  test("model(): a slow fit blocks only its own key, not other keys") {
    // fit A parks until fit B completes; under a GLOBAL fit lock this
    // deadlocks (B waits for the monitor A holds), under per-key
    // locking B finishes and releases A well inside the timeout
    val bDone = new CountDownLatch(1)
    val aEntered = new CountDownLatch(1)
    val a = new Thread(() => Caches.model("caches-spec", "slow-a") {
      aEntered.countDown()
      assert(bDone.await(30, TimeUnit.SECONDS),
        "key B never completed while key A was fitting — global fit lock?")
      "a"
    })
    a.start()
    assert(aEntered.await(30, TimeUnit.SECONDS))
    assert(Caches.model("caches-spec", "fast-b") { "b" } == "b")
    bDone.countDown()
    a.join(30000)
    assert(!a.isAlive, "fit A did not finish")
    // both memoized now: no further misses
    val misses = Caches.modelMissCount
    assert(Caches.model[String]("caches-spec", "slow-a")(fail("refit A")) == "a")
    assert(Caches.model[String]("caches-spec", "fast-b")(fail("refit B")) == "b")
    assert(Caches.modelMissCount == misses)
  }

  test("model(): concurrent same-key callers dedupe to one fit") {
    val before = Caches.modelMissCount
    val fits = new java.util.concurrent.atomic.AtomicInteger(0)
    val threads = (1 to 4).map(_ => new Thread(() =>
      Caches.model("caches-spec", "same-key") { fits.incrementAndGet(); 42 }))
    threads.foreach(_.start()); threads.foreach(_.join(30000))
    assert(fits.get() == 1, s"expected one fit, saw ${fits.get()}")
    assert(Caches.modelMissCount == before + 1)
  }

  test("model(): a throwing fit is not cached — the next call retries") {
    val key = Seq("caches-spec", "boom")
    intercept[RuntimeException] {
      Caches.model(key: _*) { throw new RuntimeException("fit failed") }
    }
    assert(Caches.model(key: _*) { 7 } == 7, "failure must not be memoized")
  }
}
