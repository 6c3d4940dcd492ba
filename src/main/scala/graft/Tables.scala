package graft

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, IntegerType, LongType, StringType, StructType, TimestampNTZType, TimestampType}

/** Typed loaders for the driver-provided testdata star schema
  * (see TESTDATA.md). Every operator reads through these so column
  * pruning / predicate pushdown always start from a plain parquet
  * scan the optimizer can reason about.
  *
  * Mirrors the reference's normalized relational model
  * (/root/reference/sql/01_schema.sql:9-59) — movies/actors/genres +
  * junctions — onto the TPC-H-ish tables per SURVEY.md §1.
  *
  * Every fixed-path parquet read of the operators, sources and views
  * goes through [[parquet]], which infers a path's schema once per
  * session.
  * Spark's schema-less `read.parquet` runs a job to read the footer on
  * every call; with the schema given, building the DataFrame runs
  * none. The memo contract:
  *
  *  - Keying: an entry is served only while the path's file listing
  *    fingerprint (name, length, mtime of every file under it; the one
  *    [[Substrate]] keys leaves by) and the session's parquet
  *    inference confs ([[InferenceConfs]]) are what they were when it
  *    was inferred. A rewritten file or a changed conf is inferred
  *    again. A failed inference is not remembered.
  *  - Scope: one memo per `SparkSession`, held weakly, so a
  *    `newSession()` infers on its own and a dropped session frees
  *    its memo. No JVM-wide table.
  *  - [[Caches.clear]] leaves it alone: entries cannot go stale, and
  *    a schema holds no executor memory.
  */
object Tables {
  /** Session confs that change what parquet inference returns. */
  private val InferenceConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong", "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp", "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  /** Per session: path -> (fingerprint and confs it was inferred under, schema). */
  private val schemas =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, StructType)]]

  /** `s.read.parquet(path)` with the schema inferred once per session
    * (see the memo contract above). */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val stamp = (Substrate.fingerprint(s, path) +:
      InferenceConfs.map(s.conf.getOption(_).getOrElse(""))).mkString("|")
    val memo = schemas.synchronized(schemas.computeIfAbsent(s, _ => new ConcurrentHashMap))
    val schema = Option(memo.get(path)).collect { case (`stamp`, known) => known }.getOrElse {
      val inferred = s.read.parquet(path).schema
      memo.put(path, (stamp, inferred))
      inferred
    }
    s.read.schema(schema).parquet(path)
  }

  def region(s: SparkSession, dir: String): DataFrame   = parquet(s, s"$dir/region.parquet")
  def nation(s: SparkSession, dir: String): DataFrame   = parquet(s, s"$dir/nation.parquet")
  def customer(s: SparkSession, dir: String): DataFrame = parquet(s, s"$dir/customer.parquet")
  def supplier(s: SparkSession, dir: String): DataFrame = parquet(s, s"$dir/supplier.parquet")
  def part(s: SparkSession, dir: String): DataFrame     = parquet(s, s"$dir/part.parquet")
  def orders(s: SparkSession, dir: String): DataFrame   = parquet(s, s"$dir/orders.parquet")
  def lineitem(s: SparkSession, dir: String): DataFrame = parquet(s, s"$dir/lineitem.parquet")
  /** events loader, adaptive to how the driver generated `ts`:
    *
    *  - INT64 TIMESTAMP(NANOS): Spark's parquet reader rejects it outright
    *    unless `spark.sql.legacy.parquet.nanosAsLong=true`, under which the
    *    column surfaces as a plain nanosecond `LongType`. Keep the exact
    *    value as `ts_ns` (all orderings use it — µs truncation could
    *    reorder ties) and derive `ts = timestamp_micros(ts_ns div 1000)`.
    *    `div` keeps the arithmetic integral: double division of an
    *    ~1.7e18 ns value would lose precision (53-bit mantissa).
    *  - TIMESTAMP (µs, tz or ntz): pass `ts` through and derive
    *    `ts_ns = unix_micros(cast(ts as timestamp)) * 1000`. The explicit
    *    cast covers TIMESTAMP_NTZ; sessions are pinned UTC (GraftSession),
    *    so NTZ→instant is exact and `ts_ns` carries the same µs-grain
    *    epoch-ns value either engine computes via `epoch_ns(ts)`.
    *
    * Every downstream consumer sees the same contract regardless of the
    * file encoding: `ts_ns` LongType (epoch nanos, total-order key) and
    * `ts` TimestampType (µs instant for date/window functions).
    *
    * The nanosAsLong conf is a session-construction decision the builder
    * owns (GraftSession sets it); a loader that mutates session state at
    * plan-build time would silently change every other parquet read.
    */
  def events(s: SparkSession, dir: String): DataFrame = {
    val raw =
      try parquet(s, s"$dir/events.parquet")
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getMessage).exists(_.contains("NANOS")) =>
          throw new IllegalArgumentException(
            "events.parquet stores INT64 TIMESTAMP(NANOS): build the session with " +
              "spark.sql.legacy.parquet.nanosAsLong=true (see graft.GraftSession)", e)
      }
    require(raw.columns.contains("ts"),
      s"events.parquet at $dir has no `ts` column (found: ${raw.columns.mkString(", ")})")
    raw.schema("ts").dataType match {
      case LongType =>                  // INT64 TIMESTAMP(NANOS) read under nanosAsLong
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", expr("timestamp_micros(ts_ns div 1000)"))
      case TimestampType | TimestampNTZType =>
        raw.withColumn("ts_ns", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
          .withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalArgumentException(
          s"events.parquet `ts` has unsupported type $other; expected INT64 " +
            "TIMESTAMP(NANOS) (read as LongType under nanosAsLong) or TIMESTAMP[_NTZ]")
    }
  }
  /** documents/embeddings are the synthetic non-TPC-H tables most likely
    * to drift when the driver regenerates testdata; check the columns the
    * engine actually depends on up front so a regeneration surfaces as ONE
    * loud message naming expected-vs-observed, not 50 downstream
    * AnalysisExceptions (the round-10 events outage, generalized).
    */
  def documents(s: SparkSession, dir: String): DataFrame = {
    val df = parquet(s, s"$dir/documents.parquet")
    requireColumn(df, "documents", "doc_id") { case LongType | IntegerType => }
    requireColumn(df, "documents", "text") { case StringType => }
    // `lang` is consumed by a minority of operators (corpus_manifest,
    // stratified sampling, per-lang stats); dedup/text-quality specs feed
    // crafted (doc_id, text)-only fixtures through this loader, and a
    // slimmer regeneration is legitimate for them. Validate the TYPE when
    // the column is present; the consumers call [[requireLang]] so a
    // missing column still surfaces as one loud message at their entry.
    requireTypeIfPresent(df, "documents", "lang") { case StringType => }
    df
  }
  def embeddings(s: SparkSession, dir: String): DataFrame = {
    val df = parquet(s, s"$dir/embeddings.parquet")
    requireColumn(df, "embeddings", "vec_id") { case LongType | IntegerType => }
    // strictly array<float>: the codegen'd vector expressions (graft_cosine,
    // graft_pq_encode, …) are typed for FloatType elements
    requireColumn(df, "embeddings", "embedding") { case ArrayType(FloatType, _) => }
    // same contract as documents.lang: only the class-centroid operator
    // needs `label`; it calls [[requireLabel]] itself.
    requireTypeIfPresent(df, "embeddings", "label") { case LongType | IntegerType => }
    df
  }

  /** Loud entry check for the operators that DO consume the optional
    * columns — so a driver regeneration that drops them fails with one
    * named message there, not a generic UNRESOLVED_COLUMN downstream.
    */
  def requireLang(df: DataFrame): DataFrame = {
    requireColumn(df, "documents", "lang") { case StringType => }; df
  }
  def requireLabel(df: DataFrame): DataFrame = {
    requireColumn(df, "embeddings", "label") { case LongType | IntegerType => }; df
  }

  private def requireTypeIfPresent(df: DataFrame, table: String, name: String)(
      ok: PartialFunction[org.apache.spark.sql.types.DataType, Unit]): Unit =
    if (df.columns.contains(name)) requireColumn(df, table, name)(ok)

  /** Loud one-line schema check: the column must exist and its type must
    * match the partial function's domain.
    */
  private def requireColumn(df: DataFrame, table: String, name: String)(
      ok: PartialFunction[org.apache.spark.sql.types.DataType, Unit]): Unit = {
    require(df.columns.contains(name),
      s"$table: missing column `$name`; observed schema: ${df.schema.simpleString}")
    val got = df.schema(name).dataType
    require(ok.isDefinedAt(got),
      s"$table: column `$name` has unsupported type ${got.simpleString}; " +
        s"observed schema: ${df.schema.simpleString}")
  }
}
