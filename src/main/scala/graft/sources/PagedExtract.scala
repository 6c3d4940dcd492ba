package graft.sources

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.{Failure, Success, Try}

/** Paginated extract stage — the engine's analogue of the reference's
  * paged, rate-limited API pull (/root/reference/02_etl.py:22-27
  * `tmdb_get`, :51-62 `fetch_popular_movies` page loop, :204-227
  * `load_cast_for_movies` partial-failure-tolerant fetch loop), made
  * restartable.
  *
  * The reference holds every fetched page in driver memory and loses
  * all of them when a later page fails; this stage lands EACH page to
  * the landing directory the moment it arrives, atomically, and on
  * restart skips pages already landed — so a crashed extract resumes
  * where it stopped, re-fetching nothing and landing every page
  * exactly once (SourcesSpec proves both properties).
  *
  * Deliberate design decisions:
  *  - The fetch loop is DRIVER-side and sequential. Pagination is
  *    inherently serial (whether page N+1 exists is known only after
  *    reading page N) and the reference API is rate-limited — the
  *    remote service is the bottleneck, not Spark. Scale lives
  *    downstream: the landed JSONL is read DISTRIBUTED with an
  *    explicit schema ([[readLanded]]) and flows into
  *    `EtlOps.ingestNormalize`.
  *  - A page is landed by writing to a dot-prefixed temp file and
  *    ATOMIC_MOVE-ing it into place: a crash mid-write leaves a temp
  *    file the next run overwrites, never a half page that both
  *    resume-skip and the reader would trust.
  *  - Transient fetch failures retry with exponential backoff
  *    (`tmdb_get` raises immediately; real extracts need the retry);
  *    a page that stays down after `maxRetries` aborts the run with
  *    the already-landed prefix intact.
  */
object PagedExtract {

  private def pageFile(dir: Path, page: Int): Path =
    dir.resolve(f"page_$page%05d.jsonl")

  /** Pull pages `1..` until `fetchPage` returns None (past the end) or
    * `maxPages` is hit, landing each page as one JSONL file under
    * `landingDir`. Pages already landed by a previous run are skipped
    * without calling `fetchPage`.
    *
    * @param fetchPage page number (1-based) → Some(records as JSON
    *                  object strings), or None when past the last page;
    *                  may throw on transient failure
    * @param sleep     injection point for the backoff (tests pass a
    *                  recorder; production keeps Thread.sleep)
    * @return number of pages landed BY THIS RUN (skipped pages not
    *         counted)
    */
  def extract(fetchPage: Int => Option[Seq[String]],
              landingDir: String,
              maxRetries: Int = 3,
              backoffMs: Long = 100,
              maxPages: Int = 100000,
              sleep: Long => Unit = Thread.sleep): Int = {
    val dir = Paths.get(landingDir)
    Files.createDirectories(dir)
    var landed = 0
    var page = 1
    var done = false
    while (!done && page <= maxPages) {
      if (Files.exists(pageFile(dir, page))) {
        page += 1 // landed by an earlier run — never re-fetch
      } else {
        retrying(maxRetries, backoffMs, sleep)(fetchPage(page)) match {
          case Left(e: HttpTransport.PermanentFetchError) =>
            throw new RuntimeException(
              s"page $page failed permanently (no retry: upstream answered) — " +
              "landed prefix is intact", e)
          case Left(e) =>
            throw new RuntimeException(
              s"page $page failed after $maxRetries retries (landed prefix is intact)", e)
          case Right(None) => done = true
          case Right(Some(records)) =>
            val tmp = dir.resolve(f".tmp_page_$page%05d.jsonl")
            Files.write(tmp, records.asJava)
            Files.move(tmp, pageFile(dir, page),
              StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
            landed += 1
            page += 1
        }
      }
    }
    landed
  }

  /** Run `attempt` until it succeeds: the one retry step of [[extract]]
    * and [[commitLoop]], so the two cannot drift. Left is the failure
    * that ended the retries.
    *  - A transport-classified PERMANENT answer (HTTP 4xx, see
    *    HttpTransport) fails fast: retrying re-asks a question the
    *    upstream already answered.
    *  - A NonFatal error is retried up to `maxRetries` times, after
    *    `sleep(backoffMs << n)` (1x, 2x, 4x, ...), floored by the
    *    Retry-After that failure carried (transport-capped): the server
    *    names the wait once, we take it once.
    *  - Anything else propagates: an interrupted or cancelled fetch must
    *    STOP, not count as one more transient upstream error.
    */
  private def retrying[T](maxRetries: Int, backoffMs: Long, sleep: Long => Unit)(
      attempt: => T): Either[Throwable, T] = {
    @tailrec
    def go(failures: Int): Either[Throwable, T] = Try(attempt) match {
      case Success(v) => Right(v)
      case Failure(e: HttpTransport.PermanentFetchError) => Left(e)
      case Failure(e) if failures >= maxRetries => Left(e)
      case Failure(e) =>
        val retryAfter = e match {
          case t: HttpTransport.TransientFetchError => t.retryAfterMs.getOrElse(0L)
          case _ => 0L
        }
        sleep(math.max(backoffMs << failures, retryAfter))
        go(failures + 1)
    }
    go(0)
  }

  /** Distributed read of the landed pages — explicit schema, per the
    * Sources convention (inference is a second full pass at scale).
    */
  def readLanded(s: SparkSession, landingDir: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(Paths.get(landingDir).resolve("page_*.jsonl").toString)

  // ----------------------------------------------------------------
  // distributed variant — known page count
  // ----------------------------------------------------------------

  /** Client contract for [[land]]: a paged source whose page count is
    * discoverable up front (the reference reads `total_pages` off its
    * first response — 02_etl.py:58). `totalPages` runs on the driver;
    * `fetch(page)` (1-based) runs ON EXECUTORS and may throw —
    * [[land]] owns retry, backoff, and failure tolerance, so
    * implementations stay a thin transport wrapper.
    */
  trait PageApi extends Serializable {
    def totalPages(): Int
    def fetch(page: Int): Seq[String]
  }

  /** Outcome of one [[land]] run: pages landed by THIS run, pages a
    * previous run had already landed (skipped — the resume path), and
    * pages that exhausted their retries, with the final error.
    * Failures are REPORTED, not thrown — a nightly extract that loses
    * 3 pages of 40 000 to a flaky upstream must land the 39 997 and
    * pick up the gap next run (the reference makes the same call:
    * 02_etl.py:210-215 logs and continues past per-movie failures).
    * Contrast [[extract]], which must abort on a dead page because an
    * open-ended crawl cannot distinguish "page 7 is down" from "the
    * crawl is over" on resume.
    */
  final case class ExtractReport(landed: Seq[Int], skipped: Seq[Int],
                                 failed: Seq[(Int, String)]) {
    def ok: Boolean = failed.isEmpty
  }

  // %05d PADS to 5 digits but never truncates: past page 99999 the
  // file name grows, so the matcher must accept 5-or-more digits or
  // resume would refetch every page above it forever.
  private val PageFileName = """page_(\d{5,})\.jsonl""".r

  /** Page numbers already committed under `landingDir`. */
  def landedPages(s: SparkSession, landingDir: String): Set[Int] =
    landedIds(s, landingDir, PageFileName).map(_.toInt).toSet

  /** The ids that `fileName`'s one group captures from the committed
    * file names directly under `landingDir` (none if it is absent). */
  private def landedIds(s: SparkSession, landingDir: String,
                        fileName: scala.util.matching.Regex): Set[String] = {
    val path = new org.apache.hadoop.fs.Path(landingDir)
    val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(path)) Set.empty
    else fs.listStatus(path).iterator.map(_.getPath.getName)
      .collect { case fileName(id) => id }.toSet
  }

  /** Distributed landing for the known-page-count case: once
    * `totalPages` is in hand, the remaining pages are independent
    * fetch units, and serializing them through the driver ([[extract]])
    * caps the extract at one connection. Here the driver ships PAGE
    * NUMBERS (never data) over a `parallelize(remaining)`, and each
    * executor task runs the same fetch→temp→atomic-rename commit
    * against the shared landing dir (Hadoop FS — works on HDFS/object
    * stores, where `rename` to an existing path returns false, so a
    * speculative duplicate task loses the race and deletes its temp:
    * still exactly-once per page).
    *
    * Retry is per page with exponential backoff (`backoffMs << i`);
    * rate limiting is per TASK (`minFetchIntervalMs` between fetches),
    * so upstream pressure is `parallelism / interval` — tune the two
    * together against the API's quota, the horizontal version of the
    * reference's `time.sleep(0.25)` loop. Resume is free: landed page
    * files ARE the checkpoint, and a rerun fetches only the gap.
    *
    * REPORTING is derived from the filesystem, not from task-side
    * counters: Spark discards accumulator updates from failed or
    * losing-speculative task attempts even when their renames already
    * committed, so `landed` is the post-run directory listing minus
    * `skipped`, and a failure entry is dropped if a retried attempt
    * landed the page after all. The error-message accumulator is only
    * ever trusted for pages that are verifiably NOT on disk.
    */
  def land(s: SparkSession, api: PageApi, landingDir: String,
           parallelism: Int = 8, maxRetries: Int = 3, backoffMs: Long = 5,
           minFetchIntervalMs: Long = 0): ExtractReport = {
    require(parallelism > 0 && maxRetries >= 0 && backoffMs >= 0 && minFetchIntervalMs >= 0,
      "paged-extract knobs must be non-negative (parallelism positive)")
    val total = api.totalPages()
    val already = landedPages(s, landingDir)
    val remaining = (1 to total).filterNot(already)
    if (remaining.isEmpty) return ExtractReport(Nil, already.toSeq.sorted, Nil)

    val failedAcc = s.sparkContext.collectionAccumulator[(Long, String)]("failed")
    val loop = commitLoop[Long](
      new org.apache.spark.util.SerializableConfiguration(s.sparkContext.hadoopConfiguration),
      landingDir, u => f"page_$u%05d.jsonl", u => api.fetch(u.toInt), identity,
      maxRetries, backoffMs, minFetchIntervalMs, failedAcc)
    s.sparkContext
      .parallelize(remaining.map(_.toLong), math.min(parallelism, remaining.size))
      .foreachPartition(loop(_))

    // Ground truth from the directory (see scaladoc): committed files
    // survive attempt retries and speculation; accumulators don't.
    val onDisk = landedPages(s, landingDir)
    val landed = remaining.filter(onDisk).toSeq
    val failed = failedAcc.value.asScala.toSeq.map { case (u, m) => (u.toInt, m) }
      .filterNot { case (p, _) => onDisk(p) }.sortBy(_._1)
    if (failed.isEmpty) cleanupTmp(s, landingDir)
    ExtractReport(landed.sorted, already.toSeq.sorted, failed)
  }

  /** Executor-side fetch→temp→atomic-rename commit loop shared by
    * [[land]] (page units) and [[landKeyed]] (parent-key units) — one
    * definition so retry, backoff, rate-limit, and commit semantics
    * cannot drift between the two fan-outs. Returned as a
    * serializable closure over the unit→filename and unit→records
    * functions; everything captured (conf wrapper, strings, the api
    * inside `fetch`, the accumulator) ships to executors.
    */
  private def commitLoop[U](hadoopConf: org.apache.spark.util.SerializableConfiguration,
                            landingDir: String, fileName: U => String,
                            fetch: U => Seq[String], unitId: U => Long,
                            maxRetries: Int, backoffMs: Long, minFetchIntervalMs: Long,
                            failedAcc: org.apache.spark.util.CollectionAccumulator[(Long, String)])
      : Iterator[U] => Unit = { units =>
    import org.apache.hadoop.fs.{Path => HPath}
    val dir = new HPath(landingDir)
    val fs = dir.getFileSystem(hadoopConf.value)
    fs.mkdirs(new HPath(dir, "_tmp"))
    var lastFetch = 0L
    units.foreach { unit =>
      retrying(maxRetries, backoffMs, Thread.sleep) {
        if (minFetchIntervalMs > 0) {
          val wait = lastFetch + minFetchIntervalMs - System.currentTimeMillis()
          if (wait > 0) Thread.sleep(wait)
        }
        lastFetch = System.currentTimeMillis()
        val records = fetch(unit)
        val tmp = new HPath(dir, s"_tmp/${java.util.UUID.randomUUID()}")
        val out = fs.create(tmp, true)
        try records.foreach { r => out.write(r.getBytes("UTF-8")); out.write('\n') }
        finally out.close()
        // The commit point: first rename wins; a losing duplicate
        // (or an exception-path orphan) cleans up its temp.
        if (!fs.rename(tmp, new HPath(dir, fileName(unit))))
          fs.delete(tmp, false)
      }.left.foreach(e =>
        failedAcc.add((unitId(unit), s"${e.getClass.getSimpleName}: ${e.getMessage}")))
    }
  }

  /** A fully-successful run leaves the landing dir clean: reclaim the
    * temp area (exception-path orphans from THIS run and debris from
    * earlier flaky ones). A concurrent run's in-flight temp would just
    * retry its unit — rename-commit keeps correctness.
    */
  private def cleanupTmp(s: SparkSession, landingDir: String): Unit = {
    val hdir = new org.apache.hadoop.fs.Path(landingDir)
    hdir.getFileSystem(s.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(hdir, "_tmp"), true)
    ()
  }

  // ----------------------------------------------------------------
  // keyed detail-fetch variant — per-parent-key fan-out
  // ----------------------------------------------------------------

  /** Client contract for [[landKeyed]] — the per-parent detail
    * endpoint (the reference fetches `/movie/{id}/credits` for EACH
    * movie row: 02_etl.py:136-140 `fetch_movie_credits`, :202-221
    * `load_cast_for_movies`). `fetch(key)` runs ON EXECUTORS and may
    * throw; [[landKeyed]] owns retry, backoff, rate limiting, and
    * failure tolerance. An EMPTY result is a legitimate answer (a
    * movie with no credits) and still lands an empty file — the
    * committed checkpoint that stops a resume from refetching it.
    */
  trait KeyedApi extends Serializable {
    def fetch(key: Long): Seq[String]
  }

  /** Outcome of one [[landKeyed]] run — same contract as
    * [[ExtractReport]] (failures reported, not thrown; the landed
    * prefix is the checkpoint), with parent keys as the units.
    */
  final case class KeyedExtractReport(landed: Seq[Long], skipped: Seq[Long],
                                      failed: Seq[(Long, String)]) {
    def ok: Boolean = failed.isEmpty
  }

  // Negative parent keys are legal (any castable-to-long id column);
  // a \d+-only pattern would commit key_-5.jsonl and then never SEE it
  // again — the rerun refetches such keys forever and the report lists
  // them in neither landed nor failed.
  private val KeyFileName = """key_(-?\d+)\.jsonl""".r

  /** Parent keys already committed under `landingDir`. */
  def landedKeys(s: SparkSession, landingDir: String): Set[Long] =
    landedIds(s, landingDir, KeyFileName).map(_.toLong).toSet

  /** Distributed per-parent-key detail fetch with the same
    * atomic-landing / resume / retry / rate-limit discipline as
    * [[land]]: each parent key is one fetch unit committed as
    * `key_<k>.jsonl`, landed files ARE the checkpoint, and a rerun
    * fetches only the gap. This is the reference's credits fan-out
    * made horizontal — its serial loop holds every fetched cast list
    * in driver memory and refetches everything on a crash.
    *
    * `parentKeys` is a single-column frame (castable to long) and is
    * never collected: the already-landed set (the driver-held FS
    * listing) joins against it as a left-anti filter, and the
    * remaining keys flow straight into the executor fan-out. The
    * driver holds O(landed keys) for the listing/report — the same
    * order as [[land]]'s page report. File-per-key is the resume
    * granularity by design (the reference's unit of partial failure
    * is one movie's credits); a key space past ~10⁶ wants coarser
    * units — land key RANGES via [[PageApi]] instead.
    *
    * Reporting mirrors [[land]]: ground truth from the directory
    * listing, accumulator messages trusted only for keys verifiably
    * not on disk, `_tmp` reclaimed on a clean run.
    */
  def landKeyed(s: SparkSession, parentKeys: DataFrame, api: KeyedApi,
                landingDir: String, parallelism: Int = 8, maxRetries: Int = 3,
                backoffMs: Long = 5, minFetchIntervalMs: Long = 0): KeyedExtractReport = {
    require(parallelism > 0 && maxRetries >= 0 && backoffMs >= 0 && minFetchIntervalMs >= 0,
      "keyed-extract knobs must be non-negative (parallelism positive)")
    require(parentKeys.columns.length == 1,
      s"parentKeys must be a single key column, got ${parentKeys.columns.mkString(", ")}")
    import s.implicits._
    val already = landedKeys(s, landingDir)
    val keyCol = requireLongKeys(parentKeys)
    val wanted = parentKeys.select(keyCol.cast("long").as("k")).distinct()
    val remaining =
      if (already.isEmpty) wanted
      else wanted.join(already.toSeq.toDF("k"), Seq("k"), "left_anti")

    val failedAcc = s.sparkContext.collectionAccumulator[(Long, String)]("failed_keys")
    val loop = commitLoop[Long](
      new org.apache.spark.util.SerializableConfiguration(s.sparkContext.hadoopConfiguration),
      landingDir, u => s"key_$u.jsonl", api.fetch, identity,
      maxRetries, backoffMs, minFetchIntervalMs, failedAcc)
    remaining.repartition(parallelism).as[Long].rdd.foreachPartition(loop(_))

    val onDisk = landedKeys(s, landingDir)
    val landed = (onDisk -- already).toSeq.sorted
    val failed = failedAcc.value.asScala.toSeq
      .filterNot { case (k, _) => onDisk(k) }.sortBy(_._1)
    if (failed.isEmpty) cleanupTmp(s, landingDir)
    KeyedExtractReport(landed, already.toSeq.sorted, failed)
  }

  /** The keyed extracts' shared key-domain guard — returns the key
    * column for the caller's cast/distinct, after refusing any frame
    * whose keys don't satisfy the contract below.
    *
    * NUMERIC-KEY CONTRACT, enforced loudly: the checkpoint filename
    * (`key_<k>.jsonl`, `range_<u>.jsonl`) round-trips a LONG (resume
    * re-parses it — the fragile seam the negative-key bug lived in).
    * A non-castable key (e.g. a UUID string) would either throw a
    * generic CAST error mid-landing (ANSI on) or cast to null and be
    * silently DROPPED — fetched never, reported nowhere (ANSI off) —
    * and a LOSSY cast (a 42.5 double key, a "42.5" string) would
    * silently land under the truncated key, corrupting the checkpoint
    * space. So probe with try_cast (null on malformed under either
    * ANSI mode) AND require the cast to round-trip textually; refuse
    * the frame with a domain error before any fetch. NULL keys are
    * refused by the same guard (a null key has no filename, so
    * silently skipping it would be the exact 'fetched never, reported
    * nowhere' hole the lossy-cast branch closes — callers with
    * optional parents filter nulls EXPLICITLY before the call). Exact
    * decimal-integer keys ("42", 42L) pass; anything else wants an
    * explicit key↔long dictionary in front of this API.
    */
  private def requireLongKeys(parentKeys: DataFrame): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.col
    require(parentKeys.columns.length == 1,
      s"parentKeys must be a single key column, got ${parentKeys.columns.mkString(", ")}")
    val keyCol = col(parentKeys.columns.head)
    val asLong = keyCol.try_cast("long")
    val bad = parentKeys
      .filter(keyCol.isNull ||
        asLong.isNull || asLong.cast("string") =!= keyCol.cast("string"))
      .limit(1).collect()
    require(bad.isEmpty,
      s"keyed-extract parent keys must be non-null and cast LOSSLESSLY to long " +
      s"(checkpoint filenames round-trip longs); got e.g. " +
      s"'${bad.headOption.map(r => Option(r.get(0)).getOrElse("NULL")).getOrElse("")}' — " +
      "filter nulls / map non-integral keys through a key dictionary first")
    keyCol
  }

  // Range units may be negative exactly like keys (floorDiv of a
  // negative key): the matcher accepts a sign for the same
  // refetch-forever reason KeyFileName does.
  private val RangeFileName = """range_(-?\d+)\.jsonl""".r

  /** Range-unit ids already committed under `landingDir`. */
  def landedRanges(s: SparkSession, landingDir: String): Set[Long] =
    landedIds(s, landingDir, RangeFileName).map(_.toLong).toSet

  /** [[landKeyed]] at RANGE-UNIT granularity — the documented scale
    * path past file-per-key's ~10⁶-key checkpoint ceiling: parent
    * keys bucket into fixed-width key ranges (unit u covers keys in
    * `[u·width, (u+1)·width)` — floorDiv, so negative keys bucket
    * consistently), each unit lands as ONE `range_<u>.jsonl` file
    * through the SAME [[commitLoop]] as [[land]]/[[landKeyed]]
    * (identical retry/backoff/rate-limit/atomic-rename semantics),
    * and committed range files ARE the checkpoint — a rerun fetches
    * only missing units. 10⁹ parents at width 1024 is ~10⁶ checkpoint
    * files where file-per-key is 10⁹: listing, resume, and the
    * report all scale by 1/width.
    *
    * The trade, stated plainly: (a) failure/resume granularity is the
    * RANGE — one dead key fails its whole unit after retries and a
    * heal refetches all `width` keys of that unit (the reference's
    * per-movie unit of partial failure, coarsened deliberately);
    * (b) a landed range is IMMUTABLE — keys that appear later inside
    * an already-committed range are NOT refetched, so the key feed
    * must be append-only in key order (autoincrement ids: new parents
    * land in new top ranges), the same contract [[landIncremental]]'s
    * watermark formalizes for day units — combine with it when the
    * key space grows. Within a unit, per-key fetches pace at
    * `minFetchIntervalMs` exactly like the loop does between units,
    * so upstream pressure stays `parallelism / interval` regardless
    * of width.
    *
    * The driver never holds keys: bucketing is one distributed
    * projection, per-unit key lists live in executor tasks (bounded
    * by `rangeWidth`), and the driver's footprint is the landed-unit
    * listing — O(ranges), the point of the coarsening.
    */
  def landKeyedRanges(s: SparkSession, parentKeys: DataFrame, api: KeyedApi,
                      landingDir: String, rangeWidth: Long = 1024,
                      parallelism: Int = 8, maxRetries: Int = 3,
                      backoffMs: Long = 5, minFetchIntervalMs: Long = 0): KeyedExtractReport = {
    require(rangeWidth > 0, s"rangeWidth must be positive, got $rangeWidth")
    require(parallelism > 0 && maxRetries >= 0 && backoffMs >= 0 && minFetchIntervalMs >= 0,
      "keyed-extract knobs must be non-negative (parallelism positive)")
    import org.apache.spark.sql.functions.{col, collect_list, expr, sort_array}
    import s.implicits._
    val keyCol = requireLongKeys(parentKeys)
    val already = landedRanges(s, landingDir)
    val wanted = parentKeys.select(keyCol.cast("long").as("k")).distinct()
      // floorDiv as integral arithmetic: (k - pmod(k, w)) div w — `div`
      // stays in long end to end, where Spark's `/` casts both sides to
      // double and loses low bits past 2^53 (keys near unit boundaries
      // would bucket into the adjacent unit; r19 ADVICE)
      .withColumn("u",
        expr(s"(k - pmod(k, ${rangeWidth}L)) div ${rangeWidth}L").cast("long"))
    val remaining =
      if (already.isEmpty) wanted
      else wanted.join(already.toSeq.toDF("u"), Seq("u"), "left_anti")
    val units = remaining.groupBy("u")
      .agg(sort_array(collect_list(col("k"))).as("ks"))

    val failedAcc = s.sparkContext.collectionAccumulator[(Long, String)]("failed_ranges")
    val interval = minFetchIntervalMs
    val loop = commitLoop[(Long, Seq[Long])](
      new org.apache.spark.util.SerializableConfiguration(s.sparkContext.hadoopConfiguration),
      landingDir,
      { case (u, _) => s"range_$u.jsonl" },
      { case (_, ks) =>
        val out = Seq.newBuilder[String]
        var first = true
        ks.foreach { k =>
          if (!first && interval > 0) Thread.sleep(interval)
          first = false
          out ++= api.fetch(k)
        }
        out.result()
      },
      _._1,
      maxRetries, backoffMs, minFetchIntervalMs, failedAcc)
    units.repartition(parallelism).as[(Long, Seq[Long])].rdd.foreachPartition(loop(_))

    val onDisk = landedRanges(s, landingDir)
    val landed = (onDisk -- already).toSeq.sorted
    val failed = failedAcc.value.asScala.toSeq
      .filterNot { case (u, _) => onDisk(u) }.sortBy(_._1)
    if (failed.isEmpty) cleanupTmp(s, landingDir)
    KeyedExtractReport(landed, already.toSeq.sorted, failed)
  }

  /** Distributed read of range landings — [[readLandedKeys]]' twin
    * for `range_*.jsonl` files. */
  def readLandedRanges(s: SparkSession, landingDir: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(Paths.get(landingDir).resolve("range_*.jsonl").toString)

  /** Distributed read of keyed landings — [[readLanded]]'s twin for
    * `key_*.jsonl` files. */
  def readLandedKeys(s: SparkSession, landingDir: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(Paths.get(landingDir).resolve("key_*.jsonl").toString)

  /** High-water-mark checkpoint of [[landIncremental]]: one long, the
    * largest unit every prior run fully committed. Atomic tmp+rename
    * write like the landing files themselves. */
  val WatermarkFile = "_WATERMARK"

  private def readWatermark(s: SparkSession, landingDir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(landingDir, WatermarkFile)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Long.MinValue
    else {
      val in = fs.open(p)
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim.toLong
      finally in.close()
    }
  }

  private def writeWatermark(s: SparkSession, landingDir: String, wm: Long): Unit = {
    val fs = new org.apache.hadoop.fs.Path(landingDir)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(landingDir, s"_tmp_$WatermarkFile")
    val out = fs.create(tmp, true)
    try out.write(wm.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dst = new org.apache.hadoop.fs.Path(landingDir, WatermarkFile)
    fs.delete(dst, false)
    require(fs.rename(tmp, dst), s"watermark rename failed under $landingDir")
  }

  /** Outcome of one [[landIncremental]] run: the watermark before and
    * after, the units THIS run landed, and how many advertised units
    * the watermark ruled out without any probe. */
  final case class IncrementalReport(watermarkBefore: Long, watermarkAfter: Long,
                                     landed: Seq[Long], skippedByWatermark: Long,
                                     inner: KeyedExtractReport) {
    def ok: Boolean = inner.ok
  }

  /** WATERMARK-driven incremental extract — the scheduled-sync shape
    * every ELT pipeline runs between full backfills (the reference
    * re-pulls its whole catalog each run; a daily job must pull only
    * what is NEW): the source advertises its available units (days,
    * export batches — any monotonically-growing long), and only units
    * STRICTLY past the landing dir's committed high-water mark are
    * considered at all. Inside that frontier the machinery is exactly
    * [[landKeyed]] — file-per-unit atomic commit, resume-by-listing,
    * retry/backoff — so a crashed run re-lands only its own gap.
    *
    * The watermark is what bounds a RERUN at scale: the landed-file
    * listing is O(history), but fetch work — the expensive, remote,
    * rate-limited part — is O(new units) forever (a year of dailies
    * re-fetches nothing tomorrow). It only ADVANCES on a fully-clean
    * run: after a partial failure the next run reconsiders every unit
    * past the old mark, the landed-file checkpoints absorb the
    * already-committed ones, and the failed ones get their retry —
    * advancing past a failed unit would silence it forever (the same
    * loud-over-silent rule as [[FileKeyedApi]]'s manifest).
    * Late-arriving data BEHIND the watermark is out of contract by
    * design — the unit is the source's own closed-bucket promise
    * (yesterday's export file does not change); a source without that
    * promise wants [[applyChanges]]-style CDC, not an extract.
    */
  def landIncremental(s: SparkSession, api: KeyedApi, availableUnits: Seq[Long],
                      landingDir: String, parallelism: Int = 8, maxRetries: Int = 3,
                      backoffMs: Long = 5, minFetchIntervalMs: Long = 0): IncrementalReport = {
    import s.implicits._
    val before = readWatermark(s, landingDir)
    val fresh = availableUnits.distinct.filter(_ > before).sorted
    val rep =
      if (fresh.isEmpty) KeyedExtractReport(Nil, Nil, Nil)
      else landKeyed(s, fresh.toDF("unit"), api, landingDir,
                     parallelism, maxRetries, backoffMs, minFetchIntervalMs)
    val after = if (rep.ok && fresh.nonEmpty) fresh.max else before
    if (after > before) writeWatermark(s, landingDir, after)
    IncrementalReport(before, after, rep.landed,
                      availableUnits.distinct.count(_ <= before), rep)
  }

  /** A [[PageApi]] serving pages from a `pg=N/` directory tree of
    * JSONL part files — the deterministic stand-in for a remote API,
    * backed by storage the way a real paged service is. Holds only the
    * store path (serialized to executors as a string): each `fetch`
    * reads ONE page directory, so memory is O(pageSize) on whichever
    * side calls it and nothing holds the corpus.
    *
    * Plain java.io on purpose: the store is the SIMULATED REMOTE
    * SYSTEM, local by construction ([[buildPageStore]] writes it to a
    * driver-local Substrate leaf); the engine's own data path goes
    * through Hadoop FS in [[land]]/[[readLanded]].
    */
  final class FilePageApi(storeDir: String, nPages: Int) extends PageApi {
    override def totalPages(): Int = nPages
    override def fetch(page: Int): Seq[String] = {
      val d = new java.io.File(storeDir, s"pg=$page")
      val parts = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .sortBy(_.getName)
      require(parts.nonEmpty, s"page store has no files for page $page under $storeDir")
      parts.toSeq.flatMap(f => Files.readAllLines(f.toPath).asScala)
    }
  }

  import org.apache.spark.sql.types.{LongType, StringType, StructField}

  val demoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType), StructField("source", StringType),
    StructField("lang", StringType), StructField("page", LongType)))

  /** Build the simulated remote store for [[demoExtract]]: the
    * documents table written as one JSONL directory per page
    * (`pg=N/`), page = doc_id-ordered rank div `pageSize`, computed
    * DISTRIBUTED end to end. Returns the page count.
    *
    * The global ordinal deliberately avoids `row_number() OVER
    * (ORDER BY doc_id)` — an empty-partitionBy window funnels the
    * whole table through one task. Range-repartition + in-partition
    * sort yields a globally doc_id-sorted RDD, and `zipWithIndex`
    * assigns offsets with one extra tiny count job: the scalable form
    * of a global rank (RDD use is the documented per-partition
    * imperative exception). No stage holds more than a partition.
    */
  private[graft] def buildPageStore(s: SparkSession, dir: String, pageSize: Int,
                                    storeDir: String): Int = {
    require(pageSize > 0, "pageSize must be positive")
    import s.implicits._
    import org.apache.spark.sql.functions.col
    val docs = graft.Tables.requireLang(graft.Tables.documents(s, dir))
      .select("doc_id", "source", "lang")
    val n = docs.count()
    val ranked = docs.repartitionByRange(col("doc_id")).sortWithinPartitions("doc_id")
      .as[(Long, String, String)].rdd.zipWithIndex()
      .map { case ((id, src, lang), i) => (id, src, lang, i / pageSize + 1) }
      .toDF("doc_id", "source", "lang", "page")
    // `pg` duplicates `page` as the partition column: partitionBy strips
    // its column from the written records, and the landed rows must
    // still carry `page` for the rank oracle to check.
    ranked.withColumn("pg", col("page"))
      .write.mode("overwrite").partitionBy("pg").json(storeDir)
    ((n + pageSize - 1) / pageSize).toInt
  }

  /** Name of the keyed store's manifest: one parent key per line for
    * every key that HAS details. Written at store build; read by
    * [[FileKeyedApi]] to make "no details" and "store not visible"
    * distinguishable. */
  val KeysManifest = "_KEYS"

  /** [[FilePageApi]]'s keyed twin: serves each parent key from its
    * `sk=N/` directory. A parent with zero details is a legitimate
    * upstream answer (dynamic partition writes create no directory
    * for an empty group — see [[KeyedApi]]), but empty must never be
    * SILENT: a store root that is not visible from the caller (on a
    * real cluster, executors do not share the driver filesystem)
    * would otherwise land every key as an empty checkpoint with
    * report.ok=true. The [[KeysManifest]] file closes that seam —
    * fetch fails loudly when the manifest is unreadable (store not
    * visible) or when a manifest-listed key has no files (store
    * partially visible); only a key genuinely absent from the
    * manifest returns the empty list.
    */
  final class FileKeyedApi(storeDir: String) extends KeyedApi {
    @transient private lazy val manifest: Set[Long] = {
      val f = new java.io.File(storeDir, KeysManifest)
      require(f.isFile,
        s"keyed store not visible: no $KeysManifest manifest under $storeDir — " +
        "refusing to treat an invisible store as all-empty details")
      Files.readAllLines(f.toPath).asScala.filter(_.nonEmpty).map(_.toLong).toSet
    }
    override def fetch(key: Long): Seq[String] = {
      val d = new java.io.File(storeDir, s"sk=$key")
      val parts = Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
        .sortBy(_.getName).toSeq
      if (manifest.contains(key))
        require(parts.nonEmpty,
          s"keyed store lists key $key in $KeysManifest but sk=$key has no files under " +
          s"$storeDir — store partially visible, refusing to land an empty checkpoint")
      parts.flatMap(f => Files.readAllLines(f.toPath).asScala)
    }
  }

  val keyedDemoSchema: StructType = StructType(Seq(
    StructField("supp_key", LongType), StructField("l_orderkey", LongType),
    StructField("l_partkey", LongType), StructField("l_linenumber", LongType)))

  /** End-to-end demo of [[landKeyed]] for the driver contract: every
    * supplier key fans out to a `/supplier/{id}/lines`-style endpoint
    * (a [[FileKeyedApi]] store of the supplier's lineitems for its
    * `l_partkey % 20 == 0` tracked parts — the mod filter bounds the
    * demo's JSONL round-trip, not the machinery), lands distributed,
    * reads the landing dir back. The oracle is the same projection of
    * lineitem straight from parquet, so fan-out + landing + read are
    * hash-verified against DuckDB. Store build is a distributed
    * partitioned write; nothing corpus-sized touches the driver.
    */
  def demoKeyedExtract(s: SparkSession, dir: String): DataFrame = {
    requireLocalSubstrate()
    val store = keyedDemoStore(s, dir)
    val landing = graft.Caches.scratchDir("graft_kextract")
    val report = landKeyed(s, keyedDemoParents(s, dir), new FileKeyedApi(store), landing)
    require(report.ok, s"demo keyed extract lost keys: ${report.failed}")
    readLandedKeys(s, landing, keyedDemoSchema)
      .orderBy("supp_key", "l_orderkey", "l_linenumber")
  }

  /** [[demoKeyedExtract]]'s parent-key frame: every 5th supplier. */
  private def keyedDemoParents(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.col
    graft.Tables.supplier(s, dir).select(col("s_suppkey"))
      .filter(col("s_suppkey") % 5 === 0)
  }

  /** End-to-end demo of [[landKeyedRanges]] for the driver contract:
    * the SAME simulated remote, parent set, and projection as
    * [[demoKeyedExtract]], landed at range-unit granularity (width
    * 64 → ~1/64th the checkpoint files of file-per-key) — so the two
    * keys share one oracle shape and any divergence between the
    * granularities is a hash mismatch. The landed rows are identical
    * by contract; only the checkpoint layout differs.
    */
  def demoRangedExtract(s: SparkSession, dir: String): DataFrame = {
    requireLocalSubstrate()
    val store = keyedDemoStore(s, dir)
    val landing = graft.Caches.scratchDir("graft_rextract")
    val report = landKeyedRanges(s, keyedDemoParents(s, dir),
      new FileKeyedApi(store), landing, rangeWidth = 64)
    require(report.ok, s"demo ranged extract lost units: ${report.failed}")
    readLandedRanges(s, landing, keyedDemoSchema)
      .orderBy("supp_key", "l_orderkey", "l_linenumber")
  }

  /** The simulated `/supplier/{id}/lines` remote shared by
    * [[demoKeyedExtract]] and [[demoRangedExtract]] (see
    * [[demoExtract]] for the substrate-persistence rationale): the
    * store + its manifest are a pure function of the corpus, built
    * once per (dir); the keys then measure fan-out + landing + read.
    */
  private def keyedDemoStore(s: SparkSession, dir: String): String = {
    import org.apache.spark.sql.functions.col
    graft.Substrate.materializedDir(
      s, "kstore", graft.Substrate.canonicalDir(s, dir), Seq.empty) { tmp =>
      // Every 5th supplier: the fan-out/resume semantics are identical at
      // any parent count, and file-per-key demos scale in KEYS, not rows —
      // the full-catalog run is the same loop, 5x the checkpoint files.
      graft.Tables.lineitem(s, dir)
        .filter(col("l_partkey") % 20 === 0 && col("l_suppkey") % 5 === 0)
        .select(col("l_suppkey").cast("long").as("supp_key"),
                col("l_orderkey").cast("long").as("l_orderkey"),
                col("l_partkey").cast("long").as("l_partkey"),
                col("l_linenumber").cast("long").as("l_linenumber"))
        .withColumn("sk", col("supp_key"))
        .write.mode("overwrite").partitionBy("sk").json(tmp)
      // The store's own manifest (see [[KeysManifest]]): written by the
      // SIMULATED REMOTE at build time, so a fetch can tell "this key
      // has no details" from "the store isn't visible here". The
      // collect is store-side and O(parent keys) — the same order the
      // landing report already holds — not an engine-path collect.
      import s.implicits._
      val keysWithDetails = graft.Tables.lineitem(s, dir)
        .filter(col("l_partkey") % 20 === 0 && col("l_suppkey") % 5 === 0)
        .select(col("l_suppkey").cast("long")).distinct().as[Long].collect().sorted
      Files.write(Paths.get(tmp, KeysManifest),
        keysWithDetails.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
  }

  val incrementalDemoSchema: StructType = StructType(Seq(
    StructField("day", LongType), StructField("event_id", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType)))

  /** The demo stores are Substrate leaves read back with plain
    * java.io ([[FilePageApi]]/[[FileKeyedApi]] — they ARE the
    * simulated remote system, local by construction), so a non-local
    * `graft.substrate.dir` must fail HERE with a clear message, not
    * downstream as a confusing file-not-found on an s3a:// path the
    * java.io layer can't see. Engine-path substrate users (parquet
    * leaves read through Spark) are unaffected by this check.
    */
  private def requireLocalSubstrate(): Unit =
    sys.props.get("graft.substrate.dir").foreach { d =>
      val scheme = new org.apache.hadoop.fs.Path(d).toUri.getScheme
      require(scheme == null || scheme == "file",
        s"graft.substrate.dir=$d has scheme '$scheme', but the extract " +
        "demos' simulated remote stores are read with java.io and only " +
        "support a LOCAL substrate dir (no scheme, or file://)")
    }

  /** End-to-end demo of [[landIncremental]] for the driver contract:
    * the events table becomes a day-partitioned remote store (a
    * `/exports/{day}`-style endpoint via [[FileKeyedApi]]), then TWO
    * scheduled runs execute — the first sees only the earliest 60% of
    * days, the second sees everything. The incremental contract is
    * asserted IN the operator: run 2 must fetch exactly the late days
    * and must skip every early day by WATERMARK (not by file probe).
    * The landing dir read back is the full table, so the oracle — a
    * straight events projection — hash-verifies store build + two
    * incremental runs + checkpoint round-trip end to end.
    */
  def demoIncrementalExtract(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    requireLocalSubstrate()
    // Substrate-persisted simulated remote (see [[demoExtract]]); the
    // advertised-days list is re-read from the leaf's own manifest so
    // warm calls never rescan events for it.
    val store = graft.Substrate.materializedDir(
      s, "istore", graft.Substrate.canonicalDir(s, dir), Seq.empty) { tmp =>
      import s.implicits._
      val events = graft.Tables.events(s, dir)
        .select(expr("ts_ns div 86400000000000").as("day"),
                col("event_id"), col("user_id"), col("event_type"))
      events.withColumn("sk", col("day"))
        .write.mode("overwrite").partitionBy("sk").json(tmp)
      val ds = events.select("day").distinct().as[Long].collect().sorted.toSeq
      Files.write(Paths.get(tmp, KeysManifest),
        ds.mkString("\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      ()
    }
    val landing = graft.Caches.scratchDir("graft_iextract")
    val days: Seq[Long] =
      Files.readAllLines(Paths.get(store, KeysManifest)).asScala
        .filter(_.nonEmpty).map(_.toLong).sorted.toSeq
    val cut = days((days.size * 3 / 5).min(days.size - 1))
    val early = days.filter(_ <= cut); val late = days.filter(_ > cut)
    val api = new FileKeyedApi(store)
    val run1 = landIncremental(s, api, early, landing)
    require(run1.ok && run1.landed == early && run1.watermarkAfter == early.max,
      s"run 1 must land every advertised day: $run1")
    val run2 = landIncremental(s, api, days, landing)
    require(run2.ok && run2.landed == late &&
            run2.skippedByWatermark == early.size.toLong &&
            run2.watermarkBefore == early.max && run2.watermarkAfter == days.max,
      s"run 2 must fetch exactly the delta and skip the rest by watermark: $run2")
    readLandedKeys(s, landing, incrementalDemoSchema)
      .orderBy("day", "event_id")
  }

  /** End-to-end demo for the driver contract: page the documents table
    * into a [[FilePageApi]] store (`pageSize` docs per page, 1-based),
    * [[land]] it distributed, read the landing dir back. The oracle
    * recomputes each doc's page as its doc_id-ordered rank div
    * `pageSize` — pure SQL, so the whole extract→land→read loop is
    * hash-verified against DuckDB. Driver memory stays O(1): the store
    * build is a distributed write and every fetch touches one page.
    */
  def demoExtract(s: SparkSession, dir: String, pageSize: Int = 100): DataFrame = {
    requireLocalSubstrate()
    // The SIMULATED REMOTE store is a pure function of (corpus,
    // pageSize) — a real deployment's remote system exists before the
    // extract job runs — so it is Substrate-persisted once per corpus
    // (like the image payload fixtures) and this key measures the
    // EXTRACT loop (fetch → land → read), not store construction,
    // which dominated its bench time through r17. Local by
    // construction: the file-backed APIs read it with java.io, so a
    // non-local graft.substrate.dir is not supported for the demos.
    val store = graft.Substrate.materializedDir(
      s, "page_store", graft.Substrate.canonicalDir(s, dir), Seq(pageSize)) { tmp =>
      buildPageStore(s, dir, pageSize, tmp); ()
    }
    // Page count from the immutable leaf's layout (1-based pg=N dirs),
    // so warm calls never recount the corpus.
    val nPages = Option(new java.io.File(store).listFiles())
      .getOrElse(Array.empty[java.io.File])
      .count(f => f.isDirectory && f.getName.startsWith("pg="))
    require(nPages > 0, s"page store at $store has no pg= leaves")
    val landing = graft.Caches.scratchDir("graft_extract")
    // The landing dir must outlive the (lazy) read below, so it is a
    // Caches scratch dir, deleted at the caller's clear(). The store is
    // a substrate leaf — shared and immutable, never deleted here.
    val report = land(s, new FilePageApi(store, nPages), landing)
    require(report.ok, s"demo extract lost pages: ${report.failed}")
    readLanded(s, landing, demoSchema).orderBy("doc_id")
  }
}
