package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Pins `Tables.events` against BOTH parquet encodings the driver has
  * shipped for `ts` — nanosecond longs (the INT64 TIMESTAMP(NANOS) file
  * surfaces as LongType under `nanosAsLong=true`) and plain µs
  * TIMESTAMP — asserting byte-identical `(ts_ns, ts)` from each. A
  * future silent testdata regeneration then downgrades from a 50-query
  * outage (round 10) to a no-op. Also pins the schema memo behind
  * every loader (`Tables.parquet`).
  */
class TablesSpec extends AnyFunSuite with SparkFixture {

  private def tmp(name: String): String =
    Files.createTempDirectory(s"graft_$name").toString

  // one µs-grain instant per row; deliberately includes a tied pair at
  // different event_ids (the ordering-sensitive case)
  private val micros = Seq(
    (1L, 1700000000000000L, 10L, "view"),
    (2L, 1700000000000001L, 11L, "click"),
    (3L, 1700000000000001L, 12L, "view"),
    (4L, 1700003600123456L, 10L, "purchase"))

  private def writeNanosLong(dir: String): Unit = {
    import spark.implicits._
    micros.map { case (id, us, u, t) => (id, us * 1000L, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def writeMicrosTimestamp(dir: String): Unit = {
    import spark.implicits._
    micros.toDF("event_id", "ts_us", "user_id", "event_type")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")
      .select("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
  }

  private def load(dir: String): Seq[(Long, Long, java.sql.Timestamp)] = {
    import spark.implicits._
    Tables.events(spark, dir)
      .select(col("event_id"), col("ts_ns"), col("ts"))
      .as[(Long, Long, java.sql.Timestamp)]
      .collect().toSeq.sortBy(_._1)
  }

  test("events loader yields identical (ts_ns, ts) from nanos-long and µs-timestamp files") {
    val nanosDir = tmp("events_nanos")
    val usDir = tmp("events_us")
    writeNanosLong(nanosDir)
    writeMicrosTimestamp(usDir)

    val fromNanos = load(nanosDir)
    val fromMicros = load(usDir)
    assert(fromNanos == fromMicros,
      "the two encodings must produce the same downstream contract")
    // and the values are the expected epoch quantities, not merely equal
    val expected = micros.map { case (id, us, _, _) =>
      (id, us * 1000L, java.sql.Timestamp.from(java.time.Instant.EPOCH.plusNanos(us * 1000L)))
    }
    assert(fromNanos == expected)
  }

  test("events loader exposes ts as TimestampType and ts_ns as LongType for both encodings") {
    val nanosDir = tmp("events_nanos_t")
    val usDir = tmp("events_us_t")
    writeNanosLong(nanosDir)
    writeMicrosTimestamp(usDir)
    for (dir <- Seq(nanosDir, usDir)) {
      val df = Tables.events(spark, dir)
      assert(df.schema("ts").dataType == TimestampType, s"ts type in $dir")
      assert(df.schema("ts_ns").dataType == LongType, s"ts_ns type in $dir")
    }
  }

  test("events loader rejects an unsupported ts type with a loud message") {
    import spark.implicits._
    val dir = tmp("events_bad")
    micros.map { case (id, us, u, t) => (id, us.toString, u, t) }
      .toDF("event_id", "ts", "user_id", "event_type")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("unsupported type"))
  }

  test("events loader rejects a file with no ts column, naming the observed columns") {
    import spark.implicits._
    val dir = tmp("events_nots")
    Seq((1L, "x")).toDF("event_id", "payload")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
    val e = intercept[IllegalArgumentException](Tables.events(spark, dir))
    assert(e.getMessage.contains("no `ts` column") && e.getMessage.contains("payload"))
  }

  test("documents/embeddings loaders reject schema drift with expected-vs-observed messages") {
    import spark.implicits._
    val dir = tmp("drift")
    // documents with text renamed away
    Seq((1L, "en")).toDF("doc_id", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e1 = intercept[IllegalArgumentException](Tables.documents(spark, dir))
    assert(e1.getMessage.contains("missing column `text`"))
    // embeddings with double elements instead of float
    Seq((1L, Array(0.1, 0.2), 0)).toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e2 = intercept[IllegalArgumentException](Tables.embeddings(spark, dir))
    assert(e2.getMessage.contains("unsupported type array<double>"))
  }

  test("lang/label are optional at load, type-checked when present, loud at their consumers") {
    import spark.implicits._
    val dir = tmp("optional")
    // documents without lang: loads fine (dedup/text-quality fixtures ship
    // this shape), but the lang consumers' entry check names the gap
    Seq((1L, "hello world")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = Tables.documents(spark, dir)
    assert(docs.count() == 1)
    val e1 = intercept[IllegalArgumentException](Tables.requireLang(docs))
    assert(e1.getMessage.contains("missing column `lang`"))
    // embeddings without label: same contract
    Seq((1L, Array(0.1f, 0.2f))).toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val embs = Tables.embeddings(spark, dir)
    assert(embs.count() == 1)
    val e2 = intercept[IllegalArgumentException](Tables.requireLabel(embs))
    assert(e2.getMessage.contains("missing column `label`"))
    // a PRESENT lang of the wrong type is still rejected at load — drift
    // to a non-string lang would silently change groupings otherwise
    Seq((1L, "t", 7L)).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e3 = intercept[IllegalArgumentException](Tables.documents(spark, dir))
    assert(e3.getMessage.contains("`lang`") && e3.getMessage.contains("unsupported type"))
  }

  /** events.parquet with `ts` as a real INT64 TIMESTAMP(NANOS), the
    * encoding Spark itself cannot write. */
  private def writeTimestampNanos(dir: String): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.schema.MessageTypeParser
    val schema = MessageTypeParser.parseMessageType(
      """message events {
        |  required int64 event_id;
        |  required int64 ts (TIMESTAMP(NANOS,true));
        |  required int64 user_id;
        |  required binary event_type (STRING);
        |}""".stripMargin)
    val writer = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(s"$dir/events.parquet"))
      .withType(schema).withConf(spark.sparkContext.hadoopConfiguration).build()
    val rows = new SimpleGroupFactory(schema)
    try micros.foreach { case (id, us, u, t) =>
      writer.write(rows.newGroup().append("event_id", id).append("ts", us * 1000L)
        .append("user_id", u).append("event_type", t))
    } finally writer.close()
  }

  test("a second Tables.documents on one session launches no job") {
    import spark.implicits._
    val dir = tmp("memo_jobs")
    Seq((1L, "a b"), (2L, "c")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val (_, first) = Jobs.count(spark)(Tables.documents(spark, dir))
    assert(first >= 1, "the first read infers the schema with a job")
    val (again, second) = Jobs.count(spark)(Tables.documents(spark, dir))
    assert(second == 0, s"the memoized read launched $second jobs")
    assert(again.count() == 2)
  }

  test("a rewritten file is inferred again: a new column is seen by the next read") {
    import spark.implicits._
    val dir = tmp("memo_rewrite")
    Seq((1L, "a b")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    assert(Tables.documents(spark, dir).columns.toSeq == Seq("doc_id", "text"))
    Seq((1L, "a b", "en")).toDF("doc_id", "text", "lang")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val df = Tables.documents(spark, dir)
    assert(df.columns.toSeq == Seq("doc_id", "text", "lang"))
    assert(df.select("lang").as[String].collect().toSeq == Seq("en"))
  }

  test("the memo is per session and per inference conf: TIMESTAMP(NANOS) under both nanosAsLong values") {
    val dir = tmp("memo_nanos")
    writeTimestampNanos(dir)
    val expected = micros.map { case (id, us, _, _) => (id, us * 1000L) }
    def ns(s: org.apache.spark.sql.SparkSession) =
      Tables.events(s, dir).select("event_id", "ts_ns").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq.sortBy(_._1)
    assert(ns(spark) == expected, "nanosAsLong=true reads the exact nanos")
    // a sibling session infers on its own: with the conf off, the same
    // file is rejected with the loader's NANOS message, not served the
    // first session's schema
    val strict = spark.newSession()
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    val e = intercept[IllegalArgumentException](Tables.events(strict, dir))
    assert(e.getMessage.contains("INT64 TIMESTAMP(NANOS)") && e.getMessage.contains("nanosAsLong"))
    // a failed inference is not remembered: turning the conf on serves
    // the file, and the first session's memo still answers without a job
    strict.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    assert(ns(strict) == expected)
    val (_, jobs) = Jobs.count(spark)(Tables.events(spark, dir))
    assert(jobs == 0)
  }

  test("a leaf read through Tables.parquet has the schema and rows of a plain read") {
    import spark.implicits._
    // a Spark-written directory of parts, the shape of a substrate leaf
    val leaf = s"${tmp("memo_leaf")}/leaf"
    Seq((1L, "x", 1.5, Seq(1, 2)), (2L, null, -0.5, Seq.empty[Int]))
      .toDF("id", "s", "d", "arr").repartition(2).write.parquet(leaf)
    val parted = s"${tmp("memo_parted")}/t.parquet"
    Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 10)).toDF("id", "v", "p")
      .write.partitionBy("p").parquet(parted)
    for (path <- Seq(leaf, parted)) {
      val memo = Tables.parquet(spark, path)
      val plain = spark.read.parquet(path)
      assert(memo.schema == plain.schema, path)
      assert(memo.collect().map(_.toString).sorted.toSeq ==
        plain.collect().map(_.toString).sorted.toSeq, path)
    }
  }

  test("driver testdata loads through the guarded loaders") {
    assert(Tables.documents(spark, sf).limit(1).count() == 1)
    assert(Tables.embeddings(spark, sf).limit(1).count() == 1)
    assert(Tables.events(spark, sf).limit(1).count() == 1)
  }
}
