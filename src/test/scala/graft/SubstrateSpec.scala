package graft

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The substrate publish protocol: atomic first-writer-wins landing,
  * _SUCCESS-guarded rebuild skip (the cross-JVM convergence claim),
  * debris cleanup, and the corpus fingerprint folding regeneration
  * into the key (stale-serving). Each test drives
  * [[Substrate.materialized]] with its own kind string and a private
  * corpus dir so runs can't collide.
  */
class SubstrateSpec extends AnyFunSuite with SparkFixture {

  /** A tiny private corpus dir (one parquet file) the fingerprint can
    * observe changing. */
  private def newCorpus(tag: String, n: Int): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory(s"graft_substrate_$tag").toString
    (1 to n).map(_.toLong).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    dir
  }

  private def plan(dir: String) =
    spark.read.parquet(s"$dir/t.parquet").select(sum("v").as("s"))

  test("build lands atomically with _SUCCESS; a second session-miss skips the rebuild") {
    val corpus = newCorpus("skip", 10)
    var builds = 0
    def build() = { builds += 1; plan(corpus) }
    val p1 = Substrate.materialized(spark, "spec_skip", corpus, Nil)(build())
    assert(Files.exists(Paths.get(p1, "_SUCCESS")), "published leaf must carry the marker")
    assert(builds == 1)
    // same-JVM repeat: the memo short-circuits
    val p2 = Substrate.materialized(spark, "spec_skip", corpus, Nil)(build())
    assert(p2 == p1 && builds == 1, "memo hit must not rebuild")
    // simulate a FRESH JVM (memo gone, leaf on disk): the _SUCCESS
    // check must skip the plan entirely — this is the cross-JVM
    // convergence contract (a reader's files are never overwritten)
    Caches.clearModels()
    val before = Files.list(Paths.get(p1)).toArray.map(_.toString).toSet
    val p3 = Substrate.materialized(spark, "spec_skip", corpus, Nil)(build())
    assert(p3 == p1 && builds == 1, "_SUCCESS-marked leaf must not be rebuilt")
    assert(Files.list(Paths.get(p1)).toArray.map(_.toString).toSet == before,
      "the published files must be untouched byte-for-byte (same part names)")
  }

  test("a marker-less debris leaf is cleared and rebuilt; no temp leaves survive") {
    val corpus = newCorpus("debris", 7)
    val p1 = Substrate.materialized(spark, "spec_debris", corpus, Nil)(plan(corpus))
    // strip the marker — pre-atomic-layout debris / foreign partial dir
    Files.delete(Paths.get(p1, "_SUCCESS"))
    Caches.clearModels()
    val p2 = Substrate.materialized(spark, "spec_debris", corpus, Nil)(plan(corpus))
    assert(p2 == p1 && Files.exists(Paths.get(p1, "_SUCCESS")),
      "debris must be replaced by a fresh _SUCCESS-marked publish")
    // the temp staging leaves (dot-prefixed) must not accumulate
    val base = Paths.get(p1).getParent
    val temps = Files.list(base).toArray.map(_.toString)
      .filter(_.contains("/.spec_debris"))
    assert(temps.isEmpty, s"staging leaves left behind: ${temps.toSeq}")
  }

  test("regenerating the corpus in place derives a NEW leaf (fingerprint in the key)") {
    import spark.implicits._
    val corpus = newCorpus("stale", 5)
    val p1 = Substrate.materialized(spark, "spec_stale", corpus, Nil)(plan(corpus))
    val v1 = spark.read.parquet(p1).head().getLong(0)
    assert(v1 == 15L)
    // regenerate the corpus AT THE SAME PATH with different content —
    // the long-lived-JVM staleness scenario; the fingerprint memo is
    // per-JVM state a fresh session would not carry
    (1 to 6).map(_.toLong).toDF("v").coalesce(1)
      .write.mode("overwrite").parquet(s"$corpus/t.parquet")
    Caches.clearModels()
    val p2 = Substrate.materialized(spark, "spec_stale", corpus, Nil)(plan(corpus))
    assert(p2 != p1, "a changed corpus must land in a fresh content-keyed leaf")
    assert(spark.read.parquet(p2).head().getLong(0) == 21L,
      "the new leaf must serve the regenerated corpus, not stale bytes")
    // and the OLD leaf is still intact for any reader mid-query on it
    assert(Files.exists(Paths.get(p1, "_SUCCESS")))
    assert(spark.read.parquet(p1).head().getLong(0) == 15L)
  }

  test("bench instrumentation: builds are timed and attributed per kind; memo hits cost nothing") {
    val corpus = newCorpus("instr", 9)
    val acc0 = Substrate.accessCount
    val b0 = Substrate.buildSeconds
    val kind0 = Substrate.builtKinds.getOrElse("spec_instr", 0.0)
    val p1 = Substrate.materialized(spark, "spec_instr", corpus, Nil)(plan(corpus))
    assert(Substrate.accessCount == acc0 + 1, "every materialized() call must count")
    assert(Substrate.buildSeconds > b0, "a cold build must add timed seconds")
    assert(Substrate.builtKinds.getOrElse("spec_instr", 0.0) > kind0,
      "the build must be attributed to its kind")
    val bAfterBuild = Substrate.buildSeconds
    val p2 = Substrate.materialized(spark, "spec_instr", corpus, Nil)(plan(corpus))
    assert(p2 == p1 && Substrate.accessCount == acc0 + 2)
    assert(Substrate.buildSeconds == bAfterBuild,
      "a memo hit must add zero build seconds — that is what the bench ledger keys on")
  }

  test("clearAll cold-starts the substrate dir; a fresh-JVM-equivalent call rebuilds the leaf") {
    val corpus = newCorpus("clear", 6)
    val p1 = Substrate.materialized(spark, "spec_clear", corpus, Nil)(plan(corpus))
    assert(Files.exists(Paths.get(p1, "_SUCCESS")))
    // the bench cold-start: wipe the dir AND the in-JVM path memos that
    // point into it (clearAll's contract is fresh-JVM-only precisely
    // because it does not invalidate the memo tier itself)
    Substrate.clearAll(spark)
    Caches.clearModels()
    assert(!Files.exists(Paths.get(p1)), "clearAll must remove published leaves")
    val p2 = Substrate.materialized(spark, "spec_clear", corpus, Nil)(plan(corpus))
    assert(p2 == p1, "same (corpus, params) must re-derive the same content-keyed path")
    assert(Files.exists(Paths.get(p2, "_SUCCESS")), "the rebuilt leaf must republish")
    assert(spark.read.parquet(p2).head().getLong(0) == 21L)
  }

  test("materializedDir publishes arbitrary (non-parquet) files with an explicit marker") {
    val corpus = newCorpus("dirbuild", 4)
    var builds = 0
    def build(tmp: String): Unit = {
      builds += 1
      Files.createDirectories(Paths.get(tmp))
      Files.writeString(Paths.get(tmp, "payload.txt"), "hello")
      ()
    }
    val p1 = Substrate.materializedDir(spark, "spec_dir", corpus, Nil)(build)
    assert(Files.exists(Paths.get(p1, "_SUCCESS")),
      "a generic build that writes no marker must still publish one")
    assert(Files.readString(Paths.get(p1, "payload.txt")) == "hello")
    assert(builds == 1)
    // fresh-JVM equivalent: the marker check skips the build entirely
    Caches.clearModels()
    val p2 = Substrate.materializedDir(spark, "spec_dir", corpus, Nil)(build)
    assert(p2 == p1 && builds == 1, "_SUCCESS-marked dir leaf must not rebuild")
  }

  test("two concurrent writers of one leaf: one publish wins, the loser's temp is gone, both read the same rows") {
    import java.util.concurrent.{CountDownLatch, CyclicBarrier, Executors, TimeUnit}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val corpus = newCorpus("race", 12)
    val inBuild = new CountDownLatch(1)
    val bothBuilding = new CyclicBarrier(2)
    val builds = new java.util.concurrent.atomic.AtomicInteger
    def build() = {
      builds.incrementAndGet()
      inBuild.countDown()
      bothBuilding.await(60, TimeUnit.SECONDS)
      plan(corpus)
    }
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val first = Future(Substrate.materialized(spark, "spec_race", corpus, Nil)(build()))
      // a second JVM has no memo of the first writer's build: drop this
      // one's so the second writer builds and publishes too
      assert(inBuild.await(60, TimeUnit.SECONDS))
      Caches.clearModels()
      val second = Future(Substrate.materialized(spark, "spec_race", corpus, Nil)(build()))
      val p1 = Await.result(first, 2.minutes)
      val p2 = Await.result(second, 2.minutes)
      assert(builds.get == 2, "both writers must have built a temp leaf")
      assert(p1 == p2 && Files.exists(Paths.get(p1, "_SUCCESS")))
      // Rename.NONE refuses the existing leaf: the loser's temp is not
      // moved inside the winner's, and is deleted
      val inside = Files.list(Paths.get(p1)).toArray.map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
      assert(!inside.exists(n => n.startsWith(".spec_race") || n == "_temporary"),
        s"debris inside the published leaf: ${inside.toSeq}")
      val temps = Files.list(Paths.get(p1).getParent).toArray.map(_.toString)
        .filter(_.contains("/.spec_race"))
      assert(temps.isEmpty, s"staging leaves left behind: ${temps.toSeq}")
      val rows = Seq(p1, p2).map(p => spark.read.parquet(p).collect().toSeq)
      assert(rows(0) == rows(1) && rows(0).map(_.getLong(0)) == Seq(78L))
    } finally pool.shutdownNow()
  }
}
