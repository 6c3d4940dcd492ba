package graft

import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.PagedExtract

/** The DISTRIBUTED paged-extract path ([[PagedExtract.land]] — known
  * page count, executor fan-out). The serial open-ended crawl
  * ([[PagedExtract.extract]]) is covered in SourcesSpec.
  *
  * Executor-side fetch bookkeeping: local-mode executors share the
  * test JVM, so a static map observes per-page attempt counts across
  * tasks — the only way to assert retry/resume behavior from outside.
  */
object FetchLog {
  val attempts = new ConcurrentHashMap[(String, Int), AtomicInteger]()
  def bump(run: String, page: Int): Int =
    attempts.computeIfAbsent((run, page), _ => new AtomicInteger).incrementAndGet()
  def count(run: String, page: Int): Int =
    Option(attempts.get((run, page))).map(_.get).getOrElse(0)
}

/** 10 pages (1-based) × 3 records. Pages divisible by `flakyEvery`
  * fail on their first attempt (transient); pages in `dead` fail every
  * attempt (hard).
  */
class SyntheticApi(run: String, flakyEvery: Int = 0, dead: Set[Int] = Set.empty)
    extends PagedExtract.PageApi {
  override def totalPages(): Int = 10
  override def fetch(page: Int): Seq[String] = {
    val attempt = FetchLog.bump(run, page)
    if (dead.contains(page)) throw new RuntimeException(s"page $page is gone")
    if (flakyEvery > 0 && page % flakyEvery == 0 && attempt == 1)
      throw new RuntimeException(s"transient on page $page")
    (0 until 3).map(i => s"""{"id":${(page - 1) * 3 + i},"page":$page}""")
  }
}

/** Keyed twin of [[SyntheticApi]]: keys 11-13 carry 2 detail records
  * each, key 14 has none (the empty-details case); keys in `dead`
  * fail every attempt.
  */
class SyntheticKeyedApi(run: String, dead: Set[Long] = Set.empty)
    extends PagedExtract.KeyedApi {
  override def fetch(key: Long): Seq[String] = {
    FetchLog.bump(run, key.toInt)
    if (dead.contains(key)) throw new RuntimeException(s"key $key is gone")
    if (key == 14L) Seq.empty
    else (0 until 2).map(i => s"""{"parent":$key,"detail":${key * 10 + i}}""")
  }
}

class PagedExtractSpec extends AnyFunSuite with SparkFixture {
  import org.apache.spark.sql.types._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("page", LongType)))

  private val kschema = StructType(Seq(
    StructField("parent", LongType), StructField("detail", LongType)))

  private def newDir() = Files.createTempDirectory("graft_paged").toString

  test("clean distributed extract lands every page exactly once and round-trips") {
    val dir = newDir()
    val report = PagedExtract.land(spark, new SyntheticApi("clean"), dir)
    assert(report.ok && report.skipped.isEmpty)
    assert(report.landed == (1 to 10))
    (1 to 10).foreach(p => assert(FetchLog.count("clean", p) == 1))
    val rows = PagedExtract.readLanded(spark, dir, schema).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.toSeq == (0L until 30L).map(id => (id, id / 3 + 1)))
  }

  test("transient failures are retried and still land") {
    val dir = newDir()
    val report = PagedExtract.land(spark, new SyntheticApi("flaky", flakyEvery = 3), dir)
    assert(report.ok && report.landed == (1 to 10))
    Seq(3, 6, 9).foreach(p =>
      assert(FetchLog.count("flaky", p) == 2, s"page $p must have been retried once"))
    Seq(1, 2, 4, 5, 7, 8, 10).foreach(p => assert(FetchLog.count("flaky", p) == 1))
    assert(PagedExtract.readLanded(spark, dir, schema).count() == 30)
  }

  test("hard failures are tolerated, reported, and healed by a rerun that refetches ONLY the gap") {
    val dir = newDir()
    val broken = PagedExtract.land(spark, new SyntheticApi("dead", dead = Set(4, 7)), dir,
      maxRetries = 1)
    assert(!broken.ok)
    assert(broken.failed.map(_._1) == Seq(4, 7))
    assert(broken.landed == Seq(1, 2, 3, 5, 6, 8, 9, 10))
    assert(FetchLog.count("dead", 4) == 2, "maxRetries=1 -> exactly 2 attempts")
    // The 8 good pages are readable even while 4 and 7 are missing.
    assert(PagedExtract.readLanded(spark, dir, schema).count() == 24)

    // Upstream heals; the rerun must skip every landed page untouched.
    val healed = PagedExtract.land(spark, new SyntheticApi("healed"), dir)
    assert(healed.ok)
    assert(healed.landed == Seq(4, 7) && healed.skipped == Seq(1, 2, 3, 5, 6, 8, 9, 10))
    (1 to 10).filterNot(Set(4, 7)).foreach(p =>
      assert(FetchLog.count("healed", p) == 0, s"landed page $p must not be refetched"))
    assert(PagedExtract.readLanded(spark, dir, schema).count() == 30)

    // Idempotent once complete: a third run fetches nothing at all.
    val noop = PagedExtract.land(spark, new SyntheticApi("noop"), dir)
    assert(noop.ok && noop.landed.isEmpty && noop.skipped == (1 to 10))
    (1 to 10).foreach(p => assert(FetchLog.count("noop", p) == 0))
  }

  test("landedPages accepts page numbers past 99999 (padding grows, matcher must too)") {
    val dir = newDir()
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "page_00007.jsonl"), "{}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "page_123456.jsonl"), "{}\n")
    java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, "not_a_page.jsonl"), "{}\n")
    assert(PagedExtract.landedPages(spark, dir) == Set(7, 123456))
  }

  test("a fully-successful run reclaims the _tmp work area") {
    val dir = newDir()
    assert(PagedExtract.land(spark, new SyntheticApi("tmpclean"), dir).ok)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "_tmp")),
      "_tmp must be deleted once every page landed")
  }

  test("landKeyed: clean run lands every parent key exactly once, empty details included") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(11L, 12L, 13L, 14L).toDF("parent")
    val report = PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("kclean"), dir)
    assert(report.ok && report.skipped.isEmpty)
    assert(report.landed == Seq(11L, 12L, 13L, 14L))
    Seq(11, 12, 13, 14).foreach(k => assert(FetchLog.count("kclean", k) == 1))
    // key 14 has no details: still landed (empty file), still a checkpoint
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "key_14.jsonl")))
    val rows = PagedExtract.readLandedKeys(spark, dir, kschema).collect()
    assert(rows.length == 6) // 11,12,13 × 2 details; 14 × 0
  }

  test("landKeyed: NEGATIVE parent keys land, report, and resume like any other key") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(-5L, 11L).toDF("parent")
    val report = PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("kneg"), dir)
    assert(report.ok && report.landed == Seq(-5L, 11L), s"got $report")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "key_-5.jsonl")))
    // a rerun must SEE the negative key's checkpoint and skip it
    val again = PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("kneg2"), dir)
    assert(again.ok && again.landed.isEmpty && again.skipped == Seq(-5L, 11L))
    assert(FetchLog.count("kneg2", -5) == 0, "landed negative key must not be refetched")
  }

  test("landKeyed: hard failures reported, rerun refetches ONLY the gap") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(11L, 12L, 13L).toDF("parent")
    val broken = PagedExtract.landKeyed(spark, keys,
      new SyntheticKeyedApi("kdead", dead = Set(12L)), dir, maxRetries = 1)
    assert(!broken.ok && broken.failed.map(_._1) == Seq(12L))
    assert(broken.landed == Seq(11L, 13L))
    assert(FetchLog.count("kdead", 12) == 2, "maxRetries=1 -> exactly 2 attempts")

    val healed = PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("khealed"), dir)
    assert(healed.ok && healed.landed == Seq(12L) && healed.skipped == Seq(11L, 13L))
    Seq(11, 13).foreach(k =>
      assert(FetchLog.count("khealed", k) == 0, s"landed key $k must not be refetched"))

    val noop = PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("knoop"), dir)
    assert(noop.ok && noop.landed.isEmpty && noop.skipped == Seq(11L, 12L, 13L))
  }

  test("landKeyedRanges: clean run lands one file per range unit with the same rows as landKeyed") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(11L, 12L, 13L, 14L).toDF("parent")
    // width 2 floorDiv buckets: 11→5, 12/13→6, 14→7
    val report = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rclean"), dir, rangeWidth = 2)
    assert(report.ok && report.skipped.isEmpty, s"got $report")
    assert(report.landed == Seq(5L, 6L, 7L), s"unit ids: $report")
    Seq(11, 12, 13, 14).foreach(k => assert(FetchLog.count("rclean", k) == 1))
    Seq(5L, 6L, 7L).foreach(u =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, s"range_$u.jsonl"))))
    val rows = PagedExtract.readLandedRanges(spark, dir, kschema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    // identical rows to the file-per-key road on the same api
    val kdir = newDir()
    PagedExtract.landKeyed(spark, keys, new SyntheticKeyedApi("rclean2"), kdir)
    val krows = PagedExtract.readLandedKeys(spark, kdir, kschema)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(rows.sameElements(krows), "range road rows diverged from file-per-key road")
  }

  test("landKeyedRanges: a dead key fails its WHOLE unit; heal refetches only that unit's keys") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(11L, 12L, 13L, 14L).toDF("parent")
    val broken = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rdead", dead = Set(12L)), dir, rangeWidth = 2, maxRetries = 1)
    assert(!broken.ok && broken.failed.map(_._1) == Seq(6L),
      s"unit 6 (keys 12,13) must fail as a unit: $broken")
    assert(broken.landed == Seq(5L, 7L))
    // unit-granular resume: the heal refetches BOTH keys of unit 6
    // (the documented trade) and NEITHER key of the landed units
    val healed = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rheal"), dir, rangeWidth = 2)
    assert(healed.ok && healed.landed == Seq(6L) && healed.skipped == Seq(5L, 7L))
    Seq(12, 13).foreach(k => assert(FetchLog.count("rheal", k) == 1,
      s"unit 6's key $k must be refetched by the heal"))
    Seq(11, 14).foreach(k => assert(FetchLog.count("rheal", k) == 0,
      s"landed unit's key $k must NOT be refetched"))
    val noop = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rnoop"), dir, rangeWidth = 2)
    assert(noop.ok && noop.landed.isEmpty && noop.skipped == Seq(5L, 6L, 7L))
    Seq(11, 12, 13, 14).foreach(k => assert(FetchLog.count("rnoop", k) == 0))
  }

  test("landKeyedRanges == landKeyed rows on seeded random key sets and widths, resume is a no-op") {
    import spark.implicits._
    // the ranged road must land EXACTLY the file-per-key road's rows
    // for ANY key shape (negatives, long-range sparsity, duplicates,
    // empty-detail keys) at ANY width — the checkpoint layout is the
    // only degree of freedom
    val api = new PagedExtract.KeyedApi {
      override def fetch(key: Long): Seq[String] =
        if (key % 7 == 0) Seq.empty
        else (0 until (key % 3).toInt.abs + 1).map(i =>
          s"""{"parent":$key,"detail":${key * 31 + i}}""")
    }
    val rnd = new scala.util.Random(19L)
    (1 to 5).foreach { c =>
      val keys = (0 until 10 + rnd.nextInt(20)).map(_ =>
        rnd.nextLong() % (if (c % 2 == 0) 100L else 1000000000000L))
      val width = 1L + rnd.nextInt(64)
      val rdir = newDir(); val kdir = newDir()
      val rrep = PagedExtract.landKeyedRanges(spark, keys.toDF("k"), api, rdir, width)
      val krep = PagedExtract.landKeyed(spark, keys.toDF("k"), api, kdir)
      assert(rrep.ok && krep.ok, s"case $c: $rrep / $krep")
      val rr = PagedExtract.readLandedRanges(spark, rdir, kschema)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      val kr = PagedExtract.readLandedKeys(spark, kdir, kschema)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(rr.sameElements(kr), s"case $c (width $width): roads diverged")
      val again = PagedExtract.landKeyedRanges(spark, keys.toDF("k"), api, rdir, width)
      assert(again.ok && again.landed.isEmpty,
        s"case $c: resume over a complete landing must fetch nothing: $again")
    }
  }

  test("landKeyedRanges: negative keys floorDiv into negative units and resume") {
    import spark.implicits._
    val dir = newDir()
    val keys = Seq(-5L, 11L).toDF("parent")
    // width 4: -5 → unit -2 (floorDiv, not truncation-toward-zero); 11 → 2
    val report = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rneg"), dir, rangeWidth = 4)
    assert(report.ok && report.landed == Seq(-2L, 2L), s"got $report")
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "range_-2.jsonl")))
    val again = PagedExtract.landKeyedRanges(spark, keys,
      new SyntheticKeyedApi("rneg2"), dir, rangeWidth = 4)
    assert(again.ok && again.landed.isEmpty && again.skipped == Seq(-2L, 2L))
    assert(FetchLog.count("rneg2", -5) == 0, "landed negative unit must not be refetched")
  }

  test("demoRangedExtract equals the direct lineitem projection (and demoKeyedExtract)") {
    import org.apache.spark.sql.functions.col
    val direct = Tables.lineitem(spark, sf)
      .filter(col("l_partkey") % 20 === 0 && col("l_suppkey") % 5 === 0)
      .select(col("l_suppkey").cast("long"), col("l_orderkey").cast("long"),
              col("l_partkey").cast("long"), col("l_linenumber").cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    val ranged = PagedExtract.demoRangedExtract(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).sorted
    assert(ranged.sameElements(direct))
    graft.Caches.clear()
  }

  test("landKeyed: numeric-STRING keys land; non-numeric keys are refused loudly, not dropped") {
    import spark.implicits._
    // decimal-integer strings satisfy the long-round-trip contract
    val dir = newDir()
    val report = PagedExtract.landKeyed(spark,
      Seq("11", "12").toDF("parent"), new SyntheticKeyedApi("kstr"), dir)
    assert(report.ok && report.landed == Seq(11L, 12L))
    // a UUID-ish key would cast to null and silently vanish from the
    // fan-out (fetched never, reported nowhere) — the guard refuses
    // the frame instead
    val e = intercept[IllegalArgumentException] {
      PagedExtract.landKeyed(spark,
        Seq("11", "not-a-number").toDF("parent"), new SyntheticKeyedApi("kbad"), newDir())
    }
    assert(e.getMessage.contains("cast LOSSLESSLY to long"))
    assert(FetchLog.count("kbad", 11) == 0, "guard must fire before any fetch")
    // LOSSY casts refuse too: 42.5 would silently truncate to key_42
    // (double columns are refused wholesale — "11.0" is not the
    // textual round-trip of 11; a float key space wants a dictionary)
    val lossy = intercept[IllegalArgumentException] {
      PagedExtract.landKeyed(spark,
        Seq(11.0, 42.5).toDF("parent"), new SyntheticKeyedApi("klossy"), newDir())
    }
    assert(lossy.getMessage.contains("cast LOSSLESSLY to long"))
    val lossyStr = intercept[IllegalArgumentException] {
      PagedExtract.landKeyed(spark,
        Seq("42.5").toDF("parent"), new SyntheticKeyedApi("klossy2"), newDir())
    }
    assert(lossyStr.getMessage.contains("42.5"))
    // NULL keys refuse too: a null has no checkpoint filename, so
    // silently excluding it would be the same fetched-never,
    // reported-nowhere hole — callers filter nulls explicitly
    val withNull = intercept[IllegalArgumentException] {
      PagedExtract.landKeyed(spark,
        Seq(Some(11L), None).toDF("parent"), new SyntheticKeyedApi("knull"), newDir())
    }
    assert(withNull.getMessage.contains("non-null"))
    assert(FetchLog.count("knull", 11) == 0, "null guard must fire before any fetch")
  }

  test("FileKeyedApi: invisible store fails loudly instead of landing every key empty") {
    import spark.implicits._
    // no _KEYS manifest at the root == the store isn't visible from
    // this process (the real-cluster failure mode: executors that
    // don't share the driver's filesystem) — every fetch must throw,
    // so the report carries failures instead of ok=true over empty
    // checkpoints
    val ghost = Files.createTempDirectory("graft_ghost").toString + "/nowhere"
    val report = PagedExtract.landKeyed(spark, Seq(11L).toDF("parent"),
      new PagedExtract.FileKeyedApi(ghost), newDir(), maxRetries = 0)
    assert(!report.ok && report.landed.isEmpty)
    assert(report.failed.head._2.contains("_KEYS"))
    // manifest present: a listed key with no files is partial
    // visibility (loud); an unlisted key is a legitimate empty answer
    val store = Files.createTempDirectory("graft_manif").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(store, "_KEYS"), "7".getBytes)
    val api = new PagedExtract.FileKeyedApi(store)
    intercept[IllegalArgumentException] { api.fetch(7L) }
    assert(api.fetch(8L).isEmpty)
  }

  test("demoKeyedExtract equals the direct lineitem projection") {
    val out = PagedExtract.demoKeyedExtract(spark, sf)
    val direct = Tables.lineitem(spark, sf)
      .filter(org.apache.spark.sql.functions.col("l_partkey") % 20 === 0 &&
              org.apache.spark.sql.functions.col("l_suppkey") % 5 === 0)
      .selectExpr("CAST(l_suppkey AS LONG) supp_key", "CAST(l_orderkey AS LONG) l_orderkey",
        "CAST(l_partkey AS LONG) l_partkey", "CAST(l_linenumber AS LONG) l_linenumber")
    assert(out.exceptAll(direct).count() == 0 && direct.exceptAll(out).count() == 0)
    assert(out.count() > 0 && out.count() == direct.count())
  }

  test("demoExtract pages the documents table in doc_id-rank order") {
    val out = PagedExtract.demoExtract(spark, sf, pageSize = 64).collect()
    val docs = Tables.documents(spark, sf).select("doc_id").orderBy("doc_id").collect()
      .map(_.getLong(0))
    assert(out.length == docs.length)
    out.zipWithIndex.foreach { case (r, i) =>
      assert(r.getLong(0) == docs(i))
      assert(r.getLong(3) == i / 64 + 1, s"doc ${docs(i)} page")
    }
  }

  // ----------------------------------------------------------------
  // real-HTTP adapter (localhost stub server — no external network)
  // ----------------------------------------------------------------

  import graft.sources.HttpTransport
  import com.sun.net.httpserver.{HttpExchange, HttpServer}

  /** Stub HTTP upstream on an ephemeral localhost port. `route` maps
    * (unit, server-side attempt#) → (status, body); every request is
    * bearer-checked (wrong/missing token → 401, which the adapter must
    * classify PERMANENT — so an auth regression fails the whole
    * landing loudly, not via a counter).
    */
  private def withStubServer(run: String, token: String,
                             headers: (Int, Int) => Map[String, String] = (_, _) => Map.empty)
                            (route: (Int, Int) => (Int, String))
                            (body: String => Unit): Unit = {
    val server = HttpServer.create(new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/", (x: HttpExchange) => {
      try {
        val auth = Option(x.getRequestHeaders.getFirst("Authorization"))
        val unit = x.getRequestURI.getQuery.stripPrefix("u=").toInt
        val attempt = FetchLog.bump(run, unit)
        val (code, payload) =
          if (!auth.contains(s"Bearer $token")) (401, "")
          else route(unit, attempt)
        headers(unit, attempt).foreach { case (k, v) =>
          x.getResponseHeaders.set(k, v) }
        val bytes = payload.getBytes("UTF-8")
        x.sendResponseHeaders(code, if (bytes.isEmpty) -1L else bytes.length.toLong)
        if (bytes.nonEmpty) x.getResponseBody.write(bytes)
        x.close()
      } catch { case _: Throwable =>
        // best-effort 500 (headers may already be sent, or the client
        // may have timed out and closed the socket)
        try x.sendResponseHeaders(500, -1L) catch { case _: Throwable => () }
        x.close()
      }
    })
    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    try body(s"http://127.0.0.1:${server.getAddress.getPort}")
    finally server.stop(0)
  }

  test("HTTP page adapter: bearer auth lands through the shared loop; 503/429 retried, 404 fails fast") {
    val run = "http_pages"
    withStubServer(run, token = "sekrit") {
      case (7, _) => (404, "")                       // permanent: gone
      case (3, 1) => (503, "")                       // transient: first ask only
      case (5, 1) => (429, "")                       // transient: rate limit
      case (p, _) => (200, (0 until 2)
        .map(i => s"""{"id":${(p - 1) * 2 + i},"page":$p}""").mkString("\n"))
    } { baseUrl =>
      val cfg = HttpTransport.HttpConfig(baseUrl, bearerToken = Some("sekrit"))
      val api = new HttpTransport.HttpPageApi(cfg, 10, p => s"/pages?u=$p")
      val dir = newDir()
      val report = PagedExtract.land(spark, api, dir, maxRetries = 3, backoffMs = 1)
      assert(report.landed == Seq(1, 2, 3, 4, 5, 6, 8, 9, 10))
      assert(report.failed.map(_._1) == Seq(7))
      assert(report.failed.head._2.contains("HTTP 404"),
        s"failure must carry the status: ${report.failed.head._2}")
      // classification drove the SHARED commit loop's retry budget:
      // transient pages re-asked once, the permanent page exactly once
      // despite maxRetries=3
      assert(FetchLog.count(run, 3) == 2 && FetchLog.count(run, 5) == 2)
      assert(FetchLog.count(run, 7) == 1, "4xx must not be retried")
      assert(FetchLog.count(run, 1) == 1)
      // landed bodies round-trip through the normal distributed read
      val rows = PagedExtract.readLanded(spark, dir, schema)
      assert(rows.count() == 18)
      assert(rows.filter(org.apache.spark.sql.functions.col("page") === 3).count() == 2)
    }
  }

  test("HTTP keyed adapter: read timeout is transient (retried), wrong token is permanent") {
    import spark.implicits._
    val run = "http_keys"
    withStubServer(run, token = "sekrit") {
      case (2, 1) => Thread.sleep(400); (200, "late")  // client times out first ask
      case (k, _) => (200, (0 until 2)
        .map(i => s"""{"parent":$k,"detail":${k * 10 + i}}""").mkString("\n"))
    } { baseUrl =>
      val cfg = HttpTransport.HttpConfig(baseUrl, bearerToken = Some("sekrit"),
        readTimeoutMs = 100)
      val api = new HttpTransport.HttpKeyedApi(cfg, k => s"/key?u=$k")
      val dir = newDir()
      val report = PagedExtract.landKeyed(spark, Seq(1L, 2L, 3L).toDF("k"), api, dir,
        maxRetries = 3, backoffMs = 1)
      assert(report.ok && report.landed == Seq(1L, 2L, 3L))
      assert(FetchLog.count(run, 2) >= 2, "timed-out fetch must be retried")
      assert(PagedExtract.readLandedKeys(spark, dir, kschema).count() == 6)

      // Same server, wrong token: every key 401s — permanent, so each
      // is asked exactly once and the run reports every key failed.
      val badCfg = HttpTransport.HttpConfig(baseUrl, bearerToken = Some("wrong"))
      val badApi = new HttpTransport.HttpKeyedApi(badCfg, k => s"/key?u=$k")
      val bad = PagedExtract.landKeyed(spark, Seq(21L, 22L).toDF("k"), badApi, newDir(),
        maxRetries = 3, backoffMs = 1)
      assert(!bad.ok && bad.failed.map(_._1) == Seq(21L, 22L))
      assert(bad.failed.forall(_._2.contains("HTTP 401")))
      Seq(21, 22).foreach(k =>
        assert(FetchLog.count(run, k) == 1, s"401 on key $k must not be retried"))
    }
  }

  test("429 Retry-After paces the commit loop: the named wait is taken once and the unit lands") {
    val run = "http_retry_after"
    val seen = new java.util.concurrent.ConcurrentHashMap[(Int, Int), Long]()
    withStubServer(run, token = "sekrit",
      headers = { case (4, 1) => Map("Retry-After" -> "1")   // 1 s, well over backoffMs<<0
                  case (6, 1) => Map("Retry-After" -> "9999") // capped by the config
                  case _      => Map.empty }) {
      case (u, a) =>
        seen.put((u, a), System.nanoTime())
        if ((u == 4 || u == 6) && a == 1) (429, "")
        else (200, s"""{"id":$u,"page":$u}""")
    } { baseUrl =>
      val cfg = HttpTransport.HttpConfig(baseUrl, bearerToken = Some("sekrit"))
      val api = new HttpTransport.HttpPageApi(cfg, 4, p => s"/pages?u=$p")
      val dir = newDir()
      val report = PagedExtract.land(spark, api, dir, maxRetries = 3, backoffMs = 1)
      assert(report.ok && report.landed == Seq(1, 2, 3, 4))
      assert(FetchLog.count(run, 4) == 2, "429 is transient: exactly one re-ask")
      // the server-named wait was TAKEN: with backoffMs=1 the retry
      // would otherwise arrive in single-digit ms
      val gapMs = (seen.get((4, 2)) - seen.get((4, 1))) / 1000000L
      assert(gapMs >= 900, s"Retry-After: 1 must pace the retry ~1 s out, got ${gapMs}ms")

      // the CAP bounds a hostile Retry-After: 9999 s shrinks to 200 ms
      val capCfg = cfg.copy(retryAfterCapMs = 200)
      val capApi = new HttpTransport.HttpPageApi(capCfg, 6, p => s"/pages?u=$p")
      val capDir = newDir()
      val t0 = System.nanoTime()
      val capReport = PagedExtract.land(spark, capApi, capDir, maxRetries = 3, backoffMs = 1)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      assert(capReport.ok && capReport.landed == Seq(1, 2, 3, 4, 5, 6))
      assert(FetchLog.count(run, 6) == 2)
      assert(wallMs < 5000, s"capped Retry-After must not park the run: ${wallMs}ms")
    }
  }

  test("serial extract: a carried Retry-After floors the injected backoff sleep once") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dir = newDir()
    var asked = 0
    val landed = PagedExtract.extract(
      page => {
        if (page == 1) { asked += 1 }
        if (page == 1 && asked == 1)
          throw new HttpTransport.TransientFetchError("HTTP 429", Some(750L))
        if (page <= 2) Some(Seq(s"""{"p":$page}""")) else None
      },
      dir, maxRetries = 3, backoffMs = 1, sleep = sleeps += _)
    assert(landed == 2)
    // exactly one sleep, floored by the server's wait (1 << 0 = 1 ms
    // exponential alone); subsequent pages slept nothing
    assert(sleeps.toSeq == Seq(750L))
  }

  test("serial extract fails fast on a permanent upstream answer — zero backoff sleeps") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dir = newDir()
    val e = intercept[RuntimeException] {
      PagedExtract.extract(
        page => if (page <= 2) Some(Seq(s"""{"p":$page}"""))
                else throw new HttpTransport.PermanentFetchError("HTTP 404 from GET /p?u=3"),
        dir, maxRetries = 5, sleep = sleeps += _)
    }
    assert(e.getMessage.contains("permanently") && sleeps.isEmpty)
    // the landed prefix survives the abort
    assert(PagedExtract.landedPages(spark, dir) == Set(1, 2))
  }

  test("serial extract: an interrupt stops the run — rethrown, zero backoff sleeps") {
    val sleeps = scala.collection.mutable.ArrayBuffer.empty[Long]
    val dir = newDir()
    intercept[InterruptedException] {
      PagedExtract.extract(
        page => if (page <= 2) Some(Seq(s"""{"p":$page}"""))
                else throw new InterruptedException("cancelled"),
        dir, maxRetries = 5, sleep = sleeps += _)
    }
    assert(sleeps.isEmpty)
    assert(PagedExtract.landedPages(spark, dir) == Set(1, 2))
  }
}
