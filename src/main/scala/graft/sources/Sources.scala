package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}

/** Source/sink helpers (SURVEY.md §2 "Sources / sinks"). The
  * reference extracts from a paginated JSON API and loads into
  * Postgres (/root/reference/02_etl.py:50-62, 246-258); at engine
  * scale the analogues are columnar/partitioned files. Conventions
  * enforced here:
  *
  * - reads take an EXPLICIT schema — schema inference is a second full
  *   pass over the data at 100 TB and is never acceptable on the hot
  *   path;
  * - parquet sinks are partitioned by a low-cardinality column so
  *   downstream readers get partition pruning;
  * - JSONL is the interchange format for nested/evolving payloads
  *   (the reference's raw API responses), CSV for flat exports.
  */
object Sources {

  /** Partitioned parquet sink: the upsert-target layout. Readers
    * filtering on a partition column scan only matching directories
    * (partition pruning — verified in SourcesSpec).
    */
  def writePartitionedParquet(df: DataFrame, path: String, partitionCols: Seq[String],
                              mode: SaveMode = SaveMode.Overwrite): Unit =
    df.write.mode(mode).partitionBy(partitionCols: _*).parquet(path)

  def readParquet(s: SparkSession, path: String): DataFrame =
    graft.Tables.parquet(s, path)

  /** Read a parquet dataset written across SCHEMA VERSIONS: batches
    * that added columns over time union into one frame
    * (`mergeSchema` — fields reconciled by name, rows from files
    * missing a column read it as null). This is how an incremental
    * sink evolves without rewriting history; the nulls are the honest
    * representation of "this column did not exist yet", and callers
    * choose defaults per column (`coalesce`) rather than this reader
    * inventing them. Cost note for 100 TB: schema merging reads every
    * file's footer at planning time — fine for a day's batch
    * directories, but a pipeline with a metastore should pin the
    * merged schema there and pass it explicitly instead of paying the
    * footer sweep per query (this helper is the sweep-free path once
    * `known` is supplied).
    */
  def readParquetEvolved(s: SparkSession, path: String,
                         known: Option[StructType] = None): DataFrame =
    known match {
      case Some(schema) => s.read.schema(schema).parquet(path)
      case None         => s.read.option("mergeSchema", "true").parquet(path)
    }

  /** Idempotent partition BACKFILL: overwrite ONLY the partitions
    * present in this batch, leave every other partition untouched —
    * `partitionOverwriteMode=dynamic` as an option of this one write
    * (the shared session's conf is never written, so a concurrent
    * write on the same session keeps its own mode). This is the write
    * mode every incremental daily job needs: re-running yesterday's batch
    * replaces yesterday's directories exactly; a plain Overwrite
    * would TRUNCATE THE WHOLE DATASET first, and Append would
    * duplicate the rerun. At 100 TB this is also the only sane
    * recovery story — reprocess a day, not a corpus.
    */
  def overwritePartitions(df: DataFrame, path: String, partitionCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite).option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionCols: _*).parquet(path)

  /** ORC twin of the parquet sinks — same columnar/pushdown story,
    * for stacks standardized on ORC. Round-trip + pushdown exercised
    * in SourcesSpec.
    */
  def writeOrc(df: DataFrame, path: String, partitionCols: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w).orc(path)
  }

  def readOrc(s: SparkSession, path: String): DataFrame = s.read.orc(path)

  /** JSONL (one JSON object per line) — raw API-payload interchange. */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).json(path)

  def readJsonl(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).json(path)

  /** JSONL ingestion that QUARANTINES malformed lines instead of
    * silently nulling (the default PERMISSIVE mode's failure mode: a
    * corrupt line becomes an all-null row and poisons every downstream
    * aggregate with no signal). Returns (clean, quarantine): clean
    * rows parsed against the explicit schema, quarantine rows carrying
    * the raw offending line for replay after the producer is fixed —
    * the standard dead-letter contract of an ingestion edge. One scan;
    * the corrupt-record column is PERMISSIVE mode's own bookkeeping,
    * so this costs nothing over the naive read. DROPMALFORMED is the
    * alternative and it is WRONG at scale: it deletes data with no
    * audit trail.
    */
  def readJsonlQuarantine(s: SparkSession, path: String,
                          schema: StructType): (DataFrame, DataFrame) = {
    val corrupt = "_corrupt_record"
    val withCorrupt = StructType(schema.fields :+
      StructField(corrupt, org.apache.spark.sql.types.StringType, nullable = true))
    // Spark defers corrupt-record materialization: filtering on the
    // corrupt column alone is disallowed (AnalysisException) unless the
    // parsed frame is materialized first — cache is the documented
    // idiom. Registered with Caches so clear() can release it (a bare
    // .cache() would pin the parsed input for the session).
    val raw = graft.Caches.cached(s.read.schema(withCorrupt)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", corrupt)
      .json(path))
    val clean = raw.filter(col(corrupt).isNull).drop(corrupt)
    val quarantine = raw.filter(col(corrupt).isNotNull)
      .select(col(corrupt).as("raw_line"))
    (clean, quarantine)
  }

  /** Bucketed table sink: pre-shuffle once at write time so repeated
    * joins/aggregations on `bucketCol` run with NO exchange (the classic
    * co-located-join layout for a fact table joined every day on the
    * same key). Requires a table name (bucketing metadata lives in the
    * catalog). SourcesSpec asserts the exchange-free join plan.
    */
  def writeBucketedTable(df: DataFrame, table: String, bucketCol: String,
                         nBuckets: Int): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
      .format("parquet").saveAsTable(table)

  /** CSV with header — flat exports. Explicit schema, never inferred. */
  def writeCsv(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).option("header", "true").csv(path)

  /** Compact a fragmented parquet dataset into ~`targetFileBytes`
    * files — the maintenance pass every streaming/incremental sink
    * needs: a checkpointed micro-batch sink or a per-batch upsert
    * leaves thousands of KB-sized files, and at 100 TB the metadata
    * and open-file overhead of a small-file swamp dominates scan time
    * long before the bytes do.
    *
    * The output file count derives from the dataset's ACTUAL on-disk
    * bytes (from the file listing Spark already made — no extra pass),
    * and the rewrite is one `repartition(n)` round-robin exchange —
    * the minimum-cost full rewrite. Pass `sortCol` to make it a
    * `repartitionByRange` + in-partition sort instead, re-establishing
    * min/max-pruning order while compacting (combine with
    * [[graft.operators.LayoutOps.clusterByZorder]]'s z-key for 2-D
    * locality: compaction and clustering are the same shuffle).
    */
  def compactParquet(s: SparkSession, inPath: String, outPath: String,
                     targetFileBytes: Long = 128L * 1024 * 1024,
                     sortCol: Option[String] = None): Int = {
    require(targetFileBytes > 0, "targetFileBytes must be positive")
    val df = graft.Tables.parquet(s, inPath)
    val totalBytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
    // clamp BEFORE toInt: a petabyte-scale ratio would wrap modulo 2^32
    // into a zero/negative partition count otherwise
    val nFiles = ((totalBytes + BigInt(targetFileBytes) - 1) / BigInt(targetFileBytes))
      .max(BigInt(1)).min(BigInt(Int.MaxValue)).toInt
    val shaped = sortCol match {
      case Some(c) => df.repartitionByRange(nFiles, df.col(c)).sortWithinPartitions(c)
      case None    => df.repartition(nFiles)
    }
    shaped.write.mode(SaveMode.Overwrite).parquet(outPath)
    nFiles
  }

  def readCsv(s: SparkSession, path: String, schema: StructType): DataFrame =
    s.read.schema(schema).option("header", "true").csv(path)

  /** Upsert a DataFrame into a JDBC table — the engine's Load stage,
    * mirroring the reference's `INSERT … ON CONFLICT (key) DO UPDATE /
    * DO NOTHING` loaders (/root/reference/02_etl.py:37-46 genres,
    * :84-105 movies, :122-133 junctions, :161-170, :189-200).
    *
    * Two phases, each the scale-correct shape:
    *  1. executors write `df` to a staging table in PARALLEL —
    *     `numPartitions` connections, `batchSize`-row batched inserts
    *     (the reference's `execute_values` batching, distributed);
    *  2. the driver issues ONE set-based MERGE from staging into the
    *     target, so key matching happens inside the database with its
    *     indexes — never a per-row driver loop, never rows pulled back
    *     to Spark. The MERGE is a single atomic statement, which is
    *     what makes whole-job reruns idempotent (the property the
    *     reference's ON CONFLICT buys, proven in SourcesSpec).
    *
    * `updateOnConflict = true` ⇒ matched keys take the incoming row's
    * non-key columns (ON CONFLICT DO UPDATE); `false` ⇒ matched keys
    * are left untouched (ON CONFLICT DO NOTHING — the reference's
    * junction loads). An all-key schema (pure junction) degrades to
    * DO NOTHING automatically since there is nothing to update.
    *
    * `df` is deduplicated on `keyCols` first: SQL MERGE (like a single
    * multi-row ON CONFLICT insert) rejects touching the same target
    * row twice in one statement, and which duplicate wins within one
    * batch is not a meaningful question for a load stage.
    *
    * The target table is created from the frame's schema on first load
    * (the staging writer's own DDL mapping, so target and staging
    * column quoting always agree); an existing target is used as-is,
    * like the reference's schema.sql-owned tables.
    *
    * Operational notes:
    *  - The staging table name carries a per-invocation random suffix,
    *    so two concurrent loads into the same target never clobber
    *    each other's stage. A crash can strand a stage table (e.g.
    *    between the staging write and the MERGE); stranded stages are
    *    inert — uniquely named, never re-read — and a rerun converges
    *    regardless (proven in SourcesSpec).
    *  - MERGE and the stage DROP run in ONE transaction (commit after
    *    both), so the stage can never be dropped without its rows
    *    having landed.
    *  - Dialect: the MERGE is SQL:2003-standard, accepted by Derby
    *    (what SourcesSpec runs against), Postgres ≥ 15, Oracle, SQL
    *    Server, DB2. For Postgres < 15 the statement would need the
    *    `INSERT … ON CONFLICT` form the reference uses — swap the
    *    merge text, the two-phase shape stays.
    *  - Table-absence is detected via `DatabaseMetaData.getTables`
    *    (exact, UPPER and lower case, covering case-folding dialects);
    *    any other JDBC failure propagates instead of being mistaken
    *    for "absent" — a transient error must never route an upsert
    *    into the create-from-scratch overwrite path.
    */
  def writeJdbcUpsert(df: DataFrame, url: String, table: String, keyCols: Seq[String],
                      updateOnConflict: Boolean = true,
                      numPartitions: Int = 8, batchSize: Int = 1000,
                      props: java.util.Properties = new java.util.Properties()): Unit = {
    val cols = df.schema.fieldNames.toSeq
    require(keyCols.nonEmpty, "writeJdbcUpsert needs at least one key column")
    require(keyCols.forall(cols.contains),
      s"key columns ${keyCols.filterNot(cols.contains).mkString(", ")} not in frame schema")
    // Identifiers are interpolated into driver-issued SQL: restrict them
    // to a safe shape instead of trusting quoting alone.
    val SafeIdent = "[A-Za-z][A-Za-z0-9_]*".r
    require(SafeIdent.matches(table),
      s"table name '$table' must match ${SafeIdent.regex} (schema-qualified or quoted names are not supported)")
    cols.foreach(c => require(!c.contains("\""),
      s"""column name '$c' contains a quote character — unsupported in the merge SQL"""))
    // Spark's JDBC DDL writes column identifiers dialect-quoted; every
    // identifier below is quoted the same way so merge SQL matches the
    // writer-created tables byte-for-byte. Table names stay UNQUOTED
    // (database-canonical case) in both paths.
    def q(c: String) = "\"" + c + "\""
    val stage = table + "__stage_" +
      java.util.UUID.randomUUID().toString.replace("-", "").take(8)
    val deduped = df.dropDuplicates(keyCols)
    val conn = java.sql.DriverManager.getConnection(url, props)
    try {
      // Metadata-based existence check: a transient SQLException here
      // PROPAGATES (the old query-probe treated any failure as
      // "absent", which sent an upsert of an existing table into the
      // overwrite path — destroying rows not in the current batch).
      def exists(t: String): Boolean = {
        val md = conn.getMetaData
        def hit(n: String): Boolean = {
          val rs = md.getTables(null, null, n, null)
          try rs.next() finally rs.close()
        }
        hit(t) || hit(t.toUpperCase) || hit(t.toLowerCase)
      }
      def jdbcWrite(target: String): Unit =
        deduped.write.mode(SaveMode.Overwrite)
          .option("numPartitions", numPartitions)
          .option("batchsize", batchSize)
          .jdbc(url, target, props)
      if (!exists(table)) {
        // First load: the staging write IS the target write (atomicity
        // is moot — there are no pre-existing rows to protect).
        jdbcWrite(table)
      } else {
        jdbcWrite(stage)
        val on = keyCols.map(k => s"t.${q(k)} = s.${q(k)}").mkString(" AND ")
        val nonKey = cols.filterNot(keyCols.contains)
        val matched =
          if (updateOnConflict && nonKey.nonEmpty)
            s"WHEN MATCHED THEN UPDATE SET ${nonKey.map(c => s"${q(c)} = s.${q(c)}").mkString(", ")} "
          else ""
        val insertCols = cols.map(q).mkString(", ")
        val insertVals = cols.map(c => s"s.${q(c)}").mkString(", ")
        // MERGE + stage DROP commit together: a failure between them
        // rolls BOTH back (stage survives for post-mortem under its
        // unique name; the target is untouched).
        conn.setAutoCommit(false)
        val st = conn.createStatement()
        try {
          st.executeUpdate(
            s"MERGE INTO $table t USING $stage s ON ($on) " + matched +
              s"WHEN NOT MATCHED THEN INSERT ($insertCols) VALUES ($insertVals)")
          st.executeUpdate(s"DROP TABLE $stage")
          conn.commit()
        } catch { case e: Throwable =>
          try conn.rollback() catch { case _: java.sql.SQLException => () }
          throw e
        } finally st.close()
      }
    } finally conn.close()
  }

  /** JDBC read with predicate-range parallelism: `numPartitions` range
    * scans on `partitionCol` between the given bounds — the read-side
    * twin of [[writeJdbcUpsert]]'s parallel staging write (a bare
    * `spark.read.jdbc(url, table)` is a SINGLE connection pulling the
    * whole table through one executor).
    */
  def readJdbc(s: SparkSession, url: String, table: String,
               partitionCol: String, lower: Long, upper: Long,
               numPartitions: Int = 8,
               props: java.util.Properties = new java.util.Properties()): DataFrame =
    s.read.jdbc(url, table, partitionCol, lower, upper, numPartitions, props)
}
