package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.immutable.ListMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Try

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Benchmark main: times every registered query at the given scale
  * factor. A query whose EVERY pass fails is recorded as -1 in
  * "queries" plus a message in "errors" (counted in n_failed) — a
  * regression can never masquerade as a timing. A query that fails some
  * passes but times at least one is reported under "flaky" instead, so a
  * valid min never coexists with a failure count.
  *
  * Stdout gets the full record, then a compact summary as the FINAL
  * line. With SPARK_GRAFT_BENCH_RECORD=<file> the record is also written
  * to that file, rewritten after EVERY query (atomic temp+rename) and
  * carrying "partial":true until the run completes: a harness timeout
  * that kills the JVM mid-run still leaves a parseable file with every
  * timing measured so far. Without it the run writes no file.
  *
  * Knobs: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS,
  * SPARK_GRAFT_BENCH_PASSES (default 2), SPARK_GRAFT_BENCH_ONLY=k1,k2
  * (time a subset; every pass lands in pass_detail.t),
  * SPARK_GRAFT_BENCH_SUBSTRATE=cold|warm and
  * SPARK_GRAFT_BENCH_RECORD=<file>.
  */
object Bench {
  /** 1-minute loadavg above which a run is stamped degraded: it then
    * measures the machine, not the plans. */
  private val CleanLoad = 1.5
  /** Longest wait for the host to go idle before the ambient sample. */
  private val IdleWaitSec = 240
  /** Extra passes for a key whose min is over 2x its reference bar. */
  private val RemeasurePasses = 2
  /** The reference sweep, in Bench's record shape: per-key bars at one
    * SF (see records/README.md for how it is folded). */
  private[graft] val ReferenceFile = Paths.get("records/reference/reference.json")

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)

  /** The per-key bars a run at `sfDir` is graded against: the `queries`
    * of the record at `file`. A missing or unreadable file, a record of
    * another SF (compared by the SF dir's leaf name) or of no SF, and a
    * filtered run all get none: cross-SF ratios are meaningless, and a
    * subset's timings are not comparable to in-sweep ones.
    */
  private[graft] def referenceBars(file: Path, sfDir: String,
                                   filtered: Boolean): Map[String, Double] = {
    def leaf(sf: String) = sf.split('/').lastOption.getOrElse("")
    val ref = Try(json.readTree(file.toFile)).getOrElse(json.missingNode())
    if (filtered || leaf(ref.path("sf").asText("")) != leaf(sfDir)) Map.empty
    else ref.path("queries").properties.asScala
      .collect { case e if e.getValue.isNumber => e.getKey -> e.getValue.asDouble }.toMap
  }

  /** The run's self-grade against the reference bars: the per-key
    * time/bar ratio distribution (null over fewer than 20 keys) and the
    * five worst keys. Failed and unreferenced keys are skipped.
    */
  private[graft] def scorecard(timings: Iterable[(String, Double)],
                               bars: Map[String, Double]): ListMap[String, Any] = {
    val rs = timings.collect { case (k, v) if v > 0 && bars.get(k).exists(_ > 0) => k -> v / bars(k) }
      .toSeq
    val ratio = Option.when(rs.size >= 20) {
      val sorted = rs.map(_._2).sorted
      def q(p: Double) = round(sorted(math.round(p * (sorted.size - 1)).toInt), 3)
      ListMap("n" -> sorted.size, "median" -> q(0.5), "p90" -> q(0.9),
        "n_over2x" -> rs.count(_._2 > 2.0))
    }
    ListMap("ratified_ratio" -> ratio,
      "worst5_vs_ratified" -> ListMap(rs.sortBy(-_._2).take(5).map { case (k, r) => k -> round(r, 2) }: _*))
  }

  /** Local property set while a pass builds its frame. Its value names
    * the pass, so [[StageLog]] counts the jobs that build started. */
  private[graft] val BuildProperty = "graft.bench.build"
  private val passIds = new AtomicLong

  /** One pass of one key: drop operator caches, then time building the
    * frame and materializing every row (noop write). count() is not an
    * honest action: Catalyst prunes unreferenced joins and trailing
    * sorts, so an operator can bench at 0.3 s while a user reading its
    * rows pays 30 s. Returns the wall seconds and the pass's build tag
    * (see [[StageLog.buildJobs]]).
    */
  private[graft] def pass(spark: SparkSession, sfDir: String,
                          fn: (SparkSession, String) => DataFrame): (Double, String) = {
    Caches.clear()
    val sc = spark.sparkContext
    val tag = s"pass-${passIds.incrementAndGet()}"
    val t0 = System.nanoTime()
    sc.setLocalProperty(BuildProperty, tag)
    val df = try fn(spark, sfDir) finally sc.setLocalProperty(BuildProperty, null)
    df.write.mode("overwrite").format("noop").save()
    ((System.nanoTime() - t0) / 1e9, tag)
  }

  /** Local cores of a tool main's session (Bench, Verify, StageProf):
    * `SPARK_GRAFT_CPUS`, default 4. */
  private[graft] def cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def main(args: Array[String]): Unit = {
    // Canonicalize (toRealPath) so the SAME dataset addressed via a
    // relative path / trailing slash / symlink writes and compares one
    // "sf" spelling.
    val sfDir = {
      val p = Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
      (if (Files.exists(p)) p.toRealPath() else p.toAbsolutePath.normalize).toString
    }
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // Default COLD: every substrate build is paid, and ledgered to the
    // key that triggered it, inside this run. Cold-clearing is only safe
    // for the local default dir: when graft.substrate.dir points at
    // shared storage other JVMs may be mid-read, so the run stays warm
    // and says so.
    val substrateMode = {
      val asked = sys.env.getOrElse("SPARK_GRAFT_BENCH_SUBSTRATE", "cold")
      if (asked == "cold" && sys.props.get("graft.substrate.dir").exists(_.nonEmpty))
        "warm-shared-dir" else asked
    }
    def loadavg: Double = ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // A run launched right after other JVMs exit sees their work in the
    // 1-minute loadavg: wait (bounded) for it to drain before sampling.
    val waitedSec: Long = {
      val t0 = System.nanoTime()
      while (loadavg > CleanLoad && (System.nanoTime() - t0) / 1e9 < IdleWaitSec)
        Thread.sleep(5000)
      math.round((System.nanoTime() - t0) / 1e9)
    }
    val loadAmbient = loadavg
    val degraded = loadAmbient > CleanLoad
    val target = sys.env.get("SPARK_GRAFT_BENCH_RECORD").map(Paths.get(_).toAbsolutePath)
    val bars = referenceBars(ReferenceFile, sfDir, only.isDefined)

    val spark = GraftSession.local(cpus, appName = "graft-bench")
    spark.sparkContext.setLogLevel("ERROR")
    if (substrateMode == "cold") Substrate.clearAll(spark)
    warmUp(spark, sfDir)
    val loadStart = loadavg

    // JVM provenance and per-pass compile / GC / code-cache / stage
    // figures, so a slow key is diagnosable from the record alone.
    def compileSnapshot(): (Long, Double) = {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val c = h.getCount
      (c, c * h.getSnapshot.getMean)
    }
    def gcMillis: Long =
      ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    // Segmented code cache: CodeHeap 'non-nmethods' / 'profiled
    // nmethods' / 'non-profiled nmethods'; unsegmented: "CodeCache".
    val codeCachePools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "CodeCache")
    def codeCacheUsedMb: Double = codeCachePools.map(_.getUsage.getUsed).sum / 1e6
    def jvm = ListMap(
      "java_version" -> System.getProperty("java.version"),
      "args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala.filter(a =>
        Seq("-Xmx", "-Xms", "-XX:ReservedCodeCacheSize", "-XX:MaxMetaspaceSize").exists(a.startsWith)),
      "heap_max_mb" -> math.round(Runtime.getRuntime.maxMemory / 1e6),
      "code_cache_max_mb" -> math.round(codeCachePools.map(_.getUsage.getMax.max(0L)).sum / 1e6),
      "code_cache_used_mb" -> round(codeCacheUsedMb, 1),
      "gc_total_ms" -> gcMillis,
      "codegen_cache_max_entries" ->
        spark.conf.getOption("spark.sql.codegen.cache.maxEntries").getOrElse("default"),
      "driver_mem_env" -> sys.env.getOrElse("SPARK_DRIVER_MEM", ""))
    val stageLog = new StageLog
    spark.sparkContext.addSparkListener(stageLog)

    val timings = mutable.LinkedHashMap.empty[String, Double]
    val errors, flaky, remeasured = mutable.LinkedHashMap.empty[String, String]
    val passDetail = mutable.LinkedHashMap.empty[String, ListMap[String, Any]]
    // Substrate ledger: keys that READ a leaf (their serving ratio is
    // not like-for-like with a reference that built inline), and keys
    // that PAID a build this run, with its cost.
    val compileDominated, substrateKeys = mutable.LinkedHashSet.empty[String]
    val substrateBuilt = mutable.LinkedHashMap.empty[String, Double]

    def record(partial: Boolean): ListMap[String, Any] =
      ListMap(
        "metric" -> "total", "value" -> timings.values.filter(_ >= 0).sum, "unit" -> "sec",
        "action" -> "noop-write-materialize", "passes" -> passes, "timing" -> "min-of-passes",
        "partial" -> partial, "jvm" -> jvm, "n_timed" -> timings.size,
        "loadavg_ambient" -> loadAmbient, "waited_s" -> waitedSec, "degraded" -> degraded,
        "loadavg_start" -> loadStart, "loadavg_end" -> loadavg) ++
      scorecard(timings, bars) ++ ListMap(
        "substrate_mode" -> substrateMode,
        "substrate_build_sec" -> round(Substrate.buildSeconds, 3),
        "substrate_built" -> substrateBuilt, "substrate_keys" -> substrateKeys,
        "compile_dominated" -> compileDominated,
        "cms_note" -> ("cms = janino count x decaying-reservoir mean delta: approximate once " +
          "the reservoir saturates (exact in count nc)"),
        "er_note" -> ("per-pass er/cpu/fw/sp/sw snapshot the async listener bus without a " +
          "pass-boundary flush: a pass tail's stage metrics can be attributed to the next " +
          "pass - per-pass values are approximate, per-key totals exact; cpu = executor " +
          "CPU ms per pass, summed over the pass's stages, next to er's executor run ms"),
        "bj_note" -> ("bj = jobs started while the key's function built its DataFrame " +
          "(before execution), counted per pass by a local property on each job"),
        "queries" -> timings, "pass_detail" -> passDetail, "errors" -> errors,
        "flaky" -> flaky, "remeasured" -> remeasured, "n_failed" -> errors.size,
        "filtered" -> only.isDefined, "sf" -> sfDir)
    // Temp file in the target's own directory, so the rename is atomic:
    // a reader sees the previous snapshot or the new one, never a torn
    // line. Dot-prefixed and deleted on failure, so a crash leaves no
    // visible orphans.
    def flush(rec: ListMap[String, Any]): Unit = target.foreach { out =>
      val tmp = Files.createTempFile(out.getParent, ".bench", ".tmp")
      try {
        Files.writeString(tmp, json.writeValueAsString(rec))
        Files.move(tmp, out, REPLACE_EXISTING, ATOMIC_MOVE)
      } catch { case e: Throwable =>
        Files.deleteIfExists(tmp); throw e
      }
    }

    // Per-query min of N passes: the min of independent passes is the
    // contention-filtered estimate of what the plan costs. Memoized
    // model state (Caches.model) survives passes by design, so the first
    // pass pays training and the min records serving cost.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val subAcc0 = Substrate.accessCount
      val subBuild0 = Substrate.buildSeconds
      val runs = mutable.ArrayBuffer.empty[Either[String, PassStat]]
      def timedPass(): Either[String, PassStat] = {
        val (c0, m0) = compileSnapshot()
        val g0 = gcMillis
        stageLog.drain()
        try {
          val (wall, tag) = pass(spark, sfDir, fn)
          val (c1, m1) = compileSnapshot()
          Right(PassStat(wall, c1 - c0, math.max(0.0, m1 - m0), gcMillis - g0,
            codeCacheUsedMb, stageLog.drain(), tag))
        } catch { case e: Throwable => Left(e.toString.linesIterator.next().take(160)) }
      }
      def stats = runs.collect { case Right(p) => p }.toSeq
      runs ++= Seq.fill(passes)(timedPass())
      // Over 2x the reference bar: re-measure before recording, and
      // annotate first/final so host steal (final back near the bar)
      // reads apart from a real regression (elevated through the
      // re-measure).
      val first = stats.map(_.wall).minOption
      bars.get(name).filter(b => b > 0 && first.exists(_ > 2 * b))
        .foreach { bar =>
          runs ++= Seq.fill(RemeasurePasses)(timedPass())
          remeasured(name) = f"first=${first.get}%.3f final=${stats.map(_.wall).min}%.3f " +
            f"reference=$bar%.3f extra_passes=$RemeasurePasses"
        }
      timings(name) = stats.map(_.wall).minOption.getOrElse(-1.0)
      if (stats.nonEmpty) {
        // er/cpu/fw in ms, sp/sw in MB: wall vs er/cores says lost
        // parallelism, er vs cpu says waiting on locks or I/O, fw says
        // shuffle-read stall, sp says spill.
        def sum(f: Stage => Long) = stats.map(_.stages.map(f).sum)
        passDetail(name) = ListMap(
          "t" -> stats.map(p => round(p.wall, 3)), "nc" -> stats.map(_.nc),
          "cms" -> stats.map(p => round(p.cms, 1)), "gc" -> stats.map(_.gcMs),
          "cc" -> stats.map(p => round(p.ccMb, 1)),
          "bj" -> stats.map(p => stageLog.buildJobs(p.buildTag)), "er" -> sum(_.runMs),
          "cpu" -> sum(_.cpuMs),
          "fw" -> sum(_.fetchWaitMs), "sp" -> sum(_.spillB).map(b => round(b / 1e6, 1)),
          "sw" -> sum(_.writeB).map(b => round(b / 1e6, 1)))
        // compile-dominated: janino's (approximate) wall is at least
        // half of the pass that produced the min
        val mp = stats.minBy(_.wall)
        if (mp.cms >= 0.5 * mp.wall * 1000.0) compileDominated += name
      }
      if (Substrate.accessCount > subAcc0) substrateKeys += name
      val built = Substrate.buildSeconds - subBuild0
      if (built > 0.001) substrateBuilt(name) = round(built, 3)
      runs.collectFirst { case Left(e) => e }
        .foreach(e => (if (stats.isEmpty) errors else flaky)(name) = e)
      flush(record(partial = true))
    }
    Caches.clear()
    val full = record(partial = false)
    flush(full)
    spark.stop()
    // Full record first, then a COMPACT summary as the FINAL stdout
    // line: a reader that keeps only a stdout tail parses the last line,
    // and a full 226-key record would be cut mid-line.
    println(json.writeValueAsString(full))
    val summary = full -- Seq(
      "action", "timing", "partial", "loadavg_start", "loadavg_end", "substrate_built",
      "substrate_keys", "cms_note", "er_note", "queries", "pass_detail", "errors", "flaky",
      "remeasured")
    println(json.writeValueAsString(summary + ("full_record" -> target.map(_.toString))))
    System.out.flush()
    // rc reflects run health, so tooling keying on rc never reads a
    // broken run as green; the timings are already flushed and printed.
    if (errors.nonEmpty) sys.exit(3)
  }

  /** One successful pass: wall seconds, janino compiles and approximate
    * compile ms, GC ms, code-cache MB at pass end, its stages and its
    * build tag. */
  private case class PassStat(wall: Double, nc: Long, cms: Double, gcMs: Long, ccMb: Double,
                              stages: Seq[Stage], buildTag: String)

  /** One completed stage's task metrics (bytes, milliseconds). */
  private[graft] case class Stage(id: Int, name: String, wallMs: Long, runMs: Long, cpuMs: Long,
                                  tasks: Int, inputB: Long, readB: Long, fetchWaitMs: Long,
                                  spillB: Long, writeB: Long)

  /** Collects completed stages off the listener bus, and counts the
    * jobs each pass's build started. The bus is async, so a pass's last
    * stages can land after the pass returns: per-pass stage figures are
    * approximate at pass boundaries. Build jobs carry their pass's tag,
    * so they never land on another pass. */
  private[graft] class StageLog extends SparkListener {
    private val done = mutable.ArrayBuffer.empty[Stage]
    private val built = new ConcurrentHashMap[String, Integer]
    /** The stages completed since the last drain. */
    def drain(): Seq[Stage] = synchronized { val out = done.toSeq; done.clear(); out }
    /** Jobs started by the build tagged `tag` (see [[pass]]). */
    def buildJobs(tag: String): Int = built.getOrDefault(tag, 0)
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(BuildProperty)))
        .foreach(tag => built.merge(tag, 1, (a, b) => a + b))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      if (m != null) synchronized {
        done += Stage(i.stageId, i.name.linesIterator.nextOption().getOrElse(""),
          i.completionTime.getOrElse(0L) - i.submissionTime.getOrElse(0L),
          m.executorRunTime, m.executorCpuTime / 1000000, i.numTasks, m.inputMetrics.bytesRead,
          m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
          m.shuffleReadMetrics.fetchWaitTime, m.diskBytesSpilled, m.shuffleWriteMetrics.bytesWritten)
      }
    }
  }

  /** Warm up session init, the parquet reader and the codegen paths the
    * queries share (broadcast join, window, custom expressions), so the
    * alphabetically-first keys do not absorb JVM startup (~2 s at every
    * scale factor otherwise). */
  private def warmUp(spark: SparkSession, sfDir: String): Unit = try {
    import org.apache.spark.sql.functions._
    Seq("lineitem", "orders", "events", "documents", "embeddings")
      .foreach(t => spark.read.parquet(s"$sfDir/$t.parquet").count())
    graft.plans.GraftFunctions.ensureRegistered(spark)
    val e = spark.read.parquet(s"$sfDir/embeddings.parquet").limit(64)
      .select(col("vec_id"), col("embedding"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id") % 4).orderBy(col("vec_id"))
    e.join(broadcast(e.select(col("vec_id").as("v2"), col("embedding").as("e2"))),
           col("vec_id") =!= col("v2"))
      .select(call_function("graft_cosine", col("embedding"), col("e2")).as("c"),
              col("vec_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 3).count()
  } catch { case _: Throwable => () }

  private def round(x: Double, digits: Int): Double = {
    val k = math.pow(10, digits)
    math.round(x * k) / k
  }
}
