package graft

import org.apache.spark.sql.DataFrame

/** Memoized parquet materialization for DERIVED SUBSTRATE TABLES —
  * pure, deterministic functions of (corpus dir, parameters) that
  * several operators consume per sweep (the co-purchase pair table
  * behind the ten graph keys, the hashed-shingle signature table
  * behind the dedup family). Re-deriving such a table per query is
  * exactly the repeated work a production pipeline removes by
  * persisting it once per ingest; this makes that persistence
  * literal.
  *
  * Contract (the [[Caches.model]] tier): the build must be
  * deterministic and integer-only (bit-exact parquet round-trip), and
  * the memo survives the per-query [[Caches.clear]] (which manages
  * executor block-manager memory, not on-disk derived tables).
  *
  * Concurrency: the landing leaf is content-keyed AND published
  * atomically — the build writes to a private temp leaf and renames it
  * into place, so a reader never observes a half-written (or
  * mid-overwrite) table. The first writer wins; a concurrent loser
  * discards its temp and reads the winner's bytes (identical by the
  * determinism contract). A leaf whose `_SUCCESS` marker already
  * exists is never rebuilt or touched, so long-lived JVMs sharing a
  * substrate dir converge without ever deleting files another JVM may
  * be reading. (Rename atomicity is the Hadoop FS contract — exact on
  * HDFS/local; on object stores without atomic rename, point
  * `graft.substrate.dir` at a per-writer prefix instead.)
  *
  * Staleness: every key folds in a cheap corpus FINGERPRINT
  * (name/length/mtime of the input files), so regenerating the corpus
  * in place derives a NEW leaf — a long-lived JVM can never serve a
  * stale table for a changed corpus, and the old leaf is never
  * overwritten under readers.
  *
  * Locally the tables land under java.io.tmpdir; on a cluster set
  * `-Dgraft.substrate.dir=` to shared storage.
  */
object Substrate {

  // ---- bench instrumentation (see Bench.scala) ------------------------
  // Substrate leaves persist across JVMs, so a benchmark that reads a
  // leaf built by an EARLIER sweep silently compares warm artifact
  // reads against baselines that paid the build inline. These counters
  // let the bench harness (a) attribute build time to the query key
  // that triggered it and (b) flag every key that READS substrate, so
  // the recorded scorecard is like-for-like: serving ratios carry a
  // substrate flag, build cost is a separate ledger entry.
  private val accessCounter = new java.util.concurrent.atomic.AtomicLong
  private val buildNanos    = new java.util.concurrent.atomic.AtomicLong
  private val builtKindsMap =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /** Monotone count of [[materialized]] calls in this JVM (memo hits
    * included) — snapshot before/after a block to detect substrate use.
    */
  def accessCount: Long = accessCounter.get

  /** Seconds this JVM spent BUILDING substrate leaves (cold builds
    * only; memo/`_SUCCESS` hits cost nothing here).
    */
  def buildSeconds: Double = buildNanos.get / 1e9

  /** Per-kind build seconds for the leaves this JVM built cold. */
  def builtKinds: Map[String, Double] = {
    val b = Map.newBuilder[String, Double]
    builtKindsMap.forEach((k, v) => b += k -> v.toDouble / 1e9)
    b.result()
  }

  /** Delete every leaf under the substrate dir — a COLD-START helper
    * for benchmark runs only (fresh JVM, before any [[materialized]]
    * call, so no stale in-JVM memo can outlive the files). Never call
    * this from operators or long-lived services: concurrent JVMs may
    * be mid-read, and the in-JVM path memo ([[Caches.model]]) is NOT
    * invalidated here.
    */
  def clearAll(s: org.apache.spark.sql.SparkSession): Unit = {
    val p = new org.apache.hadoop.fs.Path(baseDir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    // Cross-JVM guard: [[materializedDir]] touches a lease file on
    // every access (throttled), so a fresh lease means ANOTHER JVM on
    // this host read the shared substrate within the last few minutes
    // and may still hold open parquet readers on a leaf. The default
    // base dir is <tmpdir>/graft-substrate — shared across every JVM
    // on the host — so this is the only signal clearAll has. We warn
    // loudly rather than refuse: Bench cold mode (the caller) must
    // still clear, and the ≥4-min idle discipline plus the bench
    // idle-wait make a fresh lease an operator error worth surfacing,
    // not silently working around.
    if (fs.exists(p)) {
      val lease = new org.apache.hadoop.fs.Path(p, LeaseName)
      if (fs.exists(lease)) {
        val ageMs = System.currentTimeMillis() -
          fs.getFileStatus(lease).getModificationTime
        if (ageMs < LeaseFreshMs)
          System.err.println(
            f"[graft.Substrate] WARNING: clearAll is deleting $baseDir " +
            f"but its lease was touched ${ageMs / 1000.0}%.0f s ago — " +
            "another JVM may be mid-read on a leaf. Wait >= 4 min after " +
            "other sbt/Spark JVMs exit before a cold bench.")
      }
      fs.delete(p, true)
    }
  }

  /** Lease file name + freshness window for the clearAll guard. */
  private val LeaseName = "_lease"
  private val LeaseFreshMs = 4 * 60 * 1000L
  private val lastLeaseTouch = new java.util.concurrent.atomic.AtomicLong
  /** Touch the lease (mtime = now) at most once per 30 s per JVM — one
    * cheap FS call marking "this JVM is actively reading substrate",
    * which [[clearAll]] in ANY other JVM checks before deleting the
    * shared dir. Failures are swallowed: the lease is advisory.
    */
  private def touchLease(s: org.apache.spark.sql.SparkSession): Unit = {
    val now = System.currentTimeMillis()
    val prev = lastLeaseTouch.get
    if (now - prev > 30000 && lastLeaseTouch.compareAndSet(prev, now)) {
      try {
        val lease = new org.apache.hadoop.fs.Path(baseDir, LeaseName)
        val fs = lease.getFileSystem(s.sparkContext.hadoopConfiguration)
        if (fs.exists(lease)) fs.setTimes(lease, now, -1)
        else fs.create(lease, true).close()
      } catch { case _: java.io.IOException => () }
    }
  }

  private def baseDir: String = {
    val base = java.nio.file.Paths.get(
      sys.props.getOrElse("graft.substrate.dir", sys.props("java.io.tmpdir")))
      .resolve("graft-substrate")
    java.nio.file.Files.createDirectories(base)
    base.toString
  }

  /** Canonicalize a corpus dir for use in substrate keys: qualified
    * against the dir's OWN Hadoop FileSystem (scheme + authority +
    * normalized path), so hdfs://, s3a://, and relative local paths
    * all key consistently — unlike java.nio's `toRealPath`, which
    * throws on any non-local URI and so contradicted the
    * Hadoop-FS-generic fingerprint/publish design. (Symlinked local
    * aliases of one corpus now key separate leaves with identical
    * bytes — a cold-build duplicate, never a correctness issue, since
    * the fingerprint still sees the same files either way.)
    */
  def canonicalDir(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    fs.makeQualified(p).toString
  }

  /** Cheap corpus fingerprint: MD5 over the sorted (relative path,
    * length, mtime) triples of ALL files under the corpus dir (or of
    * the one file `dir` names) — recursive, so an in-place
    * regeneration that only swaps leaf files deep inside a partitioned
    * layout (dir/t.parquet/date=X/part-*) still changes the digest. No
    * data bytes are read; on a remote FS this is one batched listFiles
    * RPC per directory level. [[Tables.parquet]] keys its schema memo
    * by it too.
    */
  private[graft] def fingerprint(s: org.apache.spark.sql.SparkSession, dir: String): String = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    val md = java.security.MessageDigest.getInstance("MD5")
    if (fs.exists(p)) {
      val base = fs.makeQualified(p).toUri.getPath
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        val rel = st.getPath.toUri.getPath.stripPrefix(base)
        buf += s"$rel|${st.getLen}|${st.getModificationTime}"
      }
      buf.sorted.foreach(line => md.update((line + "\n").getBytes("UTF-8")))
    }
    md.digest().map("%02x".format(_)).mkString.take(12)
  }

  /** Build `plan` once per (kind, corpus dir + fingerprint, keyParts)
    * and return the parquet path of the materialized table; later
    * calls — in this JVM via the memo, in any JVM via the `_SUCCESS`
    * check — skip straight to the path. keyParts must capture EVERY
    * remaining input that changes the bytes (every parameter; the
    * canonicalized corpus dir and its fingerprint are folded in here).
    */
  def materialized(s: org.apache.spark.sql.SparkSession, kind: String,
                   dir: String, keyParts: Seq[Any])(plan: => DataFrame): String =
    materializedDir(s, kind, dir, keyParts) { tmp =>
      plan.write.mode("overwrite").parquet(tmp)
    }

  /** Read a leaf with scan parallelism at least the session default
    * (r22). A leaf small enough to land in ONE scan split (single
    * file, single row group — every leaf at test scale) would
    * otherwise run its consumer's row-local CPU (codec decode,
    * minhash band hashing, cosine scoring) on one core; the
    * conditional round-robin fan-out spreads those rows once, at the
    * cost of one Exchange of the leaf's own bytes. SCALE-ADAPTIVE,
    * not a local tuning constant: a production-size leaf spans many
    * splits, the partition count meets the target, and the read plans
    * exactly as `spark.read.parquet` — no added Exchange. Use at
    * consumers that do real per-row work before their first shuffle;
    * plain reads that immediately aggregate or sort gain nothing and
    * should stay bare.
    */
  def readFanout(s: org.apache.spark.sql.SparkSession, path: String): DataFrame = {
    val df = Tables.parquet(s, path)
    val target = s.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < target) df.repartition(target) else df
  }

  /** Generalization of [[materialized]] for NON-parquet artifacts (the
    * extract demo's simulated JSON store, anything whose layout a
    * DataFrame write can't produce): `build` writes arbitrary files
    * into the private temp path it is handed; keying, fingerprinting,
    * the `_SUCCESS` marker, and the atomic rename-first publish are
    * identical. If `build` does not leave a `_SUCCESS` in the temp dir
    * (parquet writes do), one is created before publish.
    */
  def materializedDir(s: org.apache.spark.sql.SparkSession, kind: String,
                      dir: String, keyParts: Seq[Any])(build: String => Unit): String = {
    // The fingerprint is recomputed on EVERY call (one recursive
    // listing, no data bytes) — never memoized, so an in-place corpus
    // regeneration inside a long-lived JVM keys a fresh leaf.
    val fp = fingerprint(s, dir)
    accessCounter.incrementAndGet()
    touchLease(s)
    Caches.model(Seq("substrate", kind, dir, fp) ++ keyParts: _*) {
      import org.apache.hadoop.fs.{Path => HPath}
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest((Seq(kind, dir, fp) ++ keyParts.map(_.toString)).mkString("|")
          .getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val out = new HPath(baseDir, s"${kind}_$md")
      val fs = out.getFileSystem(s.sparkContext.hadoopConfiguration)
      val marker = new HPath(out, "_SUCCESS")
      if (!fs.exists(marker)) {
        val tmp = new HPath(baseDir, s".${kind}_${md}_${java.util.UUID.randomUUID()}")
        val t0 = System.nanoTime()
        build(tmp.toString)
        val dt = System.nanoTime() - t0
        buildNanos.addAndGet(dt)
        builtKindsMap.merge(kind, dt, (a, b) => a + b)
        val tmpMarker = new HPath(tmp, "_SUCCESS")
        if (!fs.exists(tmpMarker)) fs.create(tmpMarker).close()
        // the commit point: FileContext.rename with Rename.NONE fails
        // atomically (FileAlreadyExistsException) when the destination
        // exists — unlike FileSystem.rename, which moves the source
        // INTO an existing destination dir (silent nested-temp debris).
        // RENAME-FIRST discipline: we never pre-delete the destination,
        // so a leaf a concurrent writer published can never be deleted
        // under readers — under this scheme `out` is only ever created
        // by an atomic rename of a complete temp, so an existing `out`
        // is either a valid published leaf (has _SUCCESS) or legacy
        // debris from a pre-rename-first crash (no _SUCCESS). Debris is
        // cleared ONLY after a rename has already failed on it AND the
        // marker re-check confirms it is unmarked; then the rename is
        // retried once. Transient IOExceptions (not
        // FileAlreadyExistsException) propagate instead of being
        // misreported as a lost race.
        val fc = org.apache.hadoop.fs.FileContext.getFileContext(
          out.toUri, s.sparkContext.hadoopConfiguration)
        def renameWins(): Boolean =
          try {
            fc.rename(fs.makeQualified(tmp), fs.makeQualified(out),
                      org.apache.hadoop.fs.Options.Rename.NONE)
            true
          } catch {
            case _: org.apache.hadoop.fs.FileAlreadyExistsException => false
            case _: java.nio.file.FileAlreadyExistsException => false
          }
        if (fs.exists(marker)) {
          // a concurrent writer published while we were building —
          // identical bytes by the determinism contract; drop ours
          fs.delete(tmp, true)
        } else if (!renameWins()) {
          if (fs.exists(marker)) {
            // lost the race to a valid publish — drop ours
            fs.delete(tmp, true)
          } else {
            // rename failed on an UNMARKED destination: legacy debris
            // (a crashed writer's partial dir). Clear it and retry the
            // atomic rename exactly once; if that retry also collides,
            // a concurrent writer landed in the window — fall through
            // to the marker verification below.
            if (fs.exists(out)) fs.delete(out, true)
            if (!renameWins()) fs.delete(tmp, true)
          }
        }
        if (!fs.exists(marker))
          throw new IllegalStateException(
            s"substrate publish lost the rename race to $out but no " +
            "_SUCCESS-marked table is there — refusing to serve an " +
            "unverifiable path")
      }
      out.toString
    }
  }
}
