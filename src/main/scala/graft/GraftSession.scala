package graft

import org.apache.spark.sql.SparkSession

/** Session factory for graft — the one place that knows which confs
  * the library REQUIRES, so users don't reverse-engineer them from
  * the mains:
  *
  *  - `spark.sql.extensions = graft.plans.GraftExtensions` injects the
  *    custom codegen'd functions (graft_cosine, graft_minhash, …) at
  *    session build. Operators also self-register on first use, so a
  *    foreign session still works — the extension just makes the
  *    functions visible to plain `spark.sql` users immediately.
  *  - `spark.sql.legacy.parquet.nanosAsLong = true` so INT64
  *    TIMESTAMP(NANOS) parquet (one encoding the driver has shipped
  *    for the events table) reads as nanosecond longs instead of being
  *    rejected outright. `Tables.events` adapts to whichever encoding
  *    the file actually carries (see its scaladoc); this conf only
  *    matters for the NANOS one, and is harmless otherwise.
  *  - UTC session timezone: timestamp→date/epoch conversions must not
  *    depend on the host machine's zone.
  *  - `spark.hadoop.fs.file.impl` and
  *    `spark.hadoop.fs.AbstractFileSystem.file.impl` point the `file:`
  *    scheme of the `FileSystem` and `FileContext` APIs at
  *    [[graft.io.NoForkLocalFileSystem]] and [[graft.io.NoForkLocalFs]].
  *    Without libhadoop, Hadoop forks `chmod`, `readlink` and `ls` for
  *    local files: thousands of processes per streaming run, on the
  *    commit path of every micro-batch (checkpoint, state store, sink
  *    metadata). These make the same calls through java.nio and keep
  *    the rest of Hadoop's behaviour: `.crc` files from its checksum
  *    layers, temp-then-rename commits (`Rename.NONE` still fails on
  *    an existing destination) and umask-applied mode bits. Caveat:
  *    Hadoop caches one `FileSystem` per scheme per JVM, so the confs
  *    must be on the builder before anything creates a `file:`
  *    `FileSystem`; a `getOrCreate` onto an existing context keeps
  *    Hadoop's classes, which is still correct, only slower. Set only
  *    where the JVM has the nio `unix` attribute view (not on Windows).
  *
  * [[configure]] layers these onto ANY builder (cluster deployments
  * bring their own master/resources); [[local]] is the local-mode
  * shortcut the mains and tests use, with `spark.sql.shuffle.partitions`
  * sized to the core count rather than the 200 default (at cluster
  * scale that knob is sized to data volume / ~200 MB per partition
  * instead — SURVEY §4).
  */
object GraftSession {

  /** Apply graft's required confs to an existing builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // Codegen cache sized for a long-lived many-query service: the
      // default 100 entries evicts constantly under a 200+-distinct-
      // query workload, and an evicted entry costs a full janino
      // recompile of the generated class on the next execution — the
      // r19 driver bench measured stable 2-8x per-key inflation from
      // exactly this (bpe_apply's nMerges-deep fold recompiled every
      // pass; see Bench's pass_detail/compile_dominated fields). An
      // entry holds a generated class + bytecode stats (KBs), so 10k
      // entries is tens of MB on a driver that allocates GBs — the
      // right trade for any session serving a query library. Static
      // conf: must be set at session build, which is why it lives
      // here and not in any operator.
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config(localFs)

  private val localFs: Map[String, String] =
    if (!java.nio.file.FileSystems.getDefault.supportedFileAttributeViews.contains("unix")) Map.empty
    else Map(
      "spark.hadoop.fs.file.impl" -> classOf[graft.io.NoForkLocalFileSystem].getName,
      "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[graft.io.NoForkLocalFs].getName)

  /** Local-mode session: `cores` threads, shuffle partitions = cores,
    * UI off (the mains' configuration, shared so it cannot drift).
    */
  def local(cores: Int, appName: String = "graft"): SparkSession =
    configure(SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
}
