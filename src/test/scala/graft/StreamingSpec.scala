package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** Structured Streaming pipelines driven through MemoryStream — proves
  * the streaming transforms agree with their registered batch
  * equivalents on the same rows.
  */
class StreamingSpec extends AnyFunSuite with SparkFixture {

  private def eventRows(): Seq[Ev] = {
    import spark.implicits._
    Tables.events(spark, sf)
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts"), col("value"))
      .as[Ev].collect().toSeq
  }

  test("windowedCounts over MemoryStream equals the batch equivalent") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.windowedCounts(input.toDF())
      .writeStream.format("memory").queryName("wc_test").outputMode("complete").start()
    try {
      input.addData(eventRows())
      q.processAllAvailable()
      val streamed = spark.table("wc_test")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
                col("event_type"), col("n_events"), col("sum_value"))
      val batch = graft.operators.Analytics.streamWindowedCounts(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("streaming quarantine over MemoryStream equals the batch twin, across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[EventStreams.RawEv]
    val q = EventStreams.quarantineCounts(input.toDF())
      .writeStream.format("memory").queryName("quar_test").outputMode("complete").start()
    try {
      val rows = Tables.events(spark, sf)
        .select(col("event_id"), col("event_type"), col("ts"), col("props"))
        .as[EventStreams.RawEv].collect().toSeq
      // two batches: per-(day, type) counts must accumulate in state
      val (a, b) = rows.splitAt(rows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("quar_test")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
                col("event_type"), col("n_rows"), col("n_ok"), col("n_quarantined"))
      val batch = graft.operators.Analytics.streamQuarantine(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("windowed heavy hitters over MemoryStream equal the batch twin (sketch state in the store)") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.windowHeavyHitters(input.toDF())
      .writeStream.format("memory").queryName("hh_test").outputMode("complete").start()
    try {
      // two batches: partial sketches must MERGE in the state store,
      // not overwrite — a second batch of the same rows doubles counts
      val rows = eventRows()
      val (a, b) = rows.splitAt(rows.size / 2)
      input.addData(a)
      q.processAllAvailable()
      input.addData(b)
      q.processAllAvailable()
      val streamed = spark.table("hh_test")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
                col("item"), col("est_count"))
      val batch = graft.operators.Analytics.streamHeavyHitters(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
    } finally q.stop()
  }

  test("sliding windows over MemoryStream equal the batch twin; 4 windows per event") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("slide_test").outputMode("complete").start()
    try {
      input.addData(eventRows())
      q.processAllAvailable()
      val streamed = spark.table("slide_test")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
                col("event_type"), col("n_events"), col("sum_value"))
      val batch = graft.operators.Analytics.streamSlidingCounts(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      // width/slide = 4: total window membership is exactly 4x the rows
      val total = batch.agg(sum("n_events")).head.getLong(0)
      assert(total == Tables.events(spark, sf).count() * 4)
    } finally q.stop()
  }

  test("native session_window over MemoryStream equals the batch twin") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionWindowCounts(input.toDF())
      .writeStream.format("memory").queryName("sw_test").outputMode("complete").start()
    try {
      input.addData(eventRows())
      q.processAllAvailable()
      val streamed = spark.table("sw_test")
        .select(col("user_id"),
                unix_timestamp(col("session_start")).as("session_start_s"),
                unix_timestamp(col("session_end")).as("session_end_s"),
                col("n_events"), col("session_value"))
      val batch = graft.operators.Analytics.streamSessionWindows(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      // sessions of one user never overlap: start >= previous end
      val rows = batch.filter(col("user_id") === batch.select(min("user_id")).head.getLong(0))
        .orderBy("session_start_s").collect()
      rows.sliding(2).foreach {
        case Array(a, b) =>
          assert(b.getAs[Long]("session_start_s") >= a.getAs[Long]("session_end_s") - 1,
            "adjacent sessions may touch only at the (floored) gap boundary")
        case _ =>
      }
    } finally q.stop()
  }

  test("batch twins that run their stream transform plan without a watermark node") {
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, LogicalPlan}
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def watermarks(p: LogicalPlan) = p.collect { case w: EventTimeWatermark => w }
    // the transform keeps its watermark on an unbounded source...
    assert(watermarks(EventStreams.windowedCounts(MemoryStream[Ev].toDF())
      .queryExecution.analyzed).nonEmpty)
    // ...and the analyzer drops it on the bounded events table, so each
    // twin's plan is the plain batch aggregate
    Seq("stream_windowed_counts", "stream_quarantine", "stream_heavy_hitters",
        "stream_sliding_counts", "stream_session_window", "stream_topk_trending")
      .foreach { key =>
        val analyzed = SparkEntry.queries(key)(spark, sf).queryExecution.analyzed
        assert(watermarks(analyzed).isEmpty, s"$key keeps an EventTimeWatermark node")
      }
  }

  test("dedupIds keeps exactly one row per (user, type) within the watermark") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.dedupIds(input.toDF())
      .writeStream.format("memory").queryName("dd_test").outputMode("append").start()
    try {
      // in-order replay: the first arrival IS the earliest by event time
      input.addData(eventRows().sortBy(e => (e.ts.getTime, e.event_id)))
      q.processAllAvailable()
      val streamed = spark.table("dd_test")
      val batch = graft.operators.Analytics.streamDedupIds(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.select(col("user_id"), col("event_type"), col("first_event_id"))
        .exceptAll(batch.select(col("user_id"), col("event_type"), col("first_event_id")))
        .count() == 0)
    } finally q.stop()
  }

  test("stream-static enrich equals the batch join on the same rows, nulls preserved") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val dim = Tables.customer(spark, sf)
    val q = EventStreams.enrich(input.toDF(), dim)
      .writeStream.format("memory").queryName("enrich_test").outputMode("append").start()
    try {
      // one event with no dim row: the left join must emit it with a
      // null segment, not drop it
      val orphan = Ev(999999L, 999999L, "view", new Timestamp(1704067200000L), 1.0)
      input.addData(eventRows() :+ orphan)
      q.processAllAvailable()
      val streamed = spark.table("enrich_test")
        .select(col("event_id"), col("user_id"), col("segment"), col("value"))
      val batch = graft.operators.Analytics.streamEnrich(spark, sf)
      assert(streamed.filter(col("event_id") =!= 999999L).exceptAll(batch).count() == 0)
      assert(batch.exceptAll(streamed).count() == 0)
      val o = streamed.filter(col("event_id") === 999999L).collect()
      assert(o.length == 1 && o.head.isNullAt(2), "orphan event must flow with null segment")
    } finally q.stop()
  }

  test("streaming delta-vs-base dedup equals the batch twin and the plain-join road across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 10 =!= 0).select("text")
    val input = MemoryStream[StreamingSpec.Doc]
    val q = EventStreams.dedupIncremental(input.toDF(), base)
      .writeStream.format("memory").queryName("sdi_test").outputMode("append").start()
    try {
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .as[StreamingSpec.Doc].collect().toSeq
      // the generated slices carry no cross-slice duplicate (measured),
      // so CRAFT the dup path: one arriving doc re-crawls a base text
      // (must verdict is_new=false through bloom-positive + exact
      // verify), one is genuinely novel (bloom-negative fast path)
      val baseText = docs.filter(col("doc_id") % 10 =!= 0)
        .orderBy("doc_id").select("text").head().getString(0)
      val crafted = Seq(
        StreamingSpec.Doc(10000000L, baseText),
        StreamingSpec.Doc(10000001L, "graft spec: a text no generator ever emitted"))
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1 ++ crafted)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("sdi_test")
      val organic = streamed.filter(col("doc_id") < 10000000L)
      // stream == the registered batch twin (same plan, bounded source)
      val batch = graft.operators.Dedup.streamDedupIncremental(spark, sf)
      assert(organic.count() == batch.count())
      assert(organic.exceptAll(batch).count() == 0)
      // and the bloom-screened road == the plain shuffled-join road:
      // the screen is an optimization, never the answer
      val plain = graft.operators.Dedup.dedupIncremental(spark, sf)
      assert(organic.exceptAll(plain).count() == 0 &&
             plain.exceptAll(organic).count() == 0)
      val verdicts = streamed.filter(col("doc_id") >= 10000000L)
        .collect().map(r => r.getLong(0) -> r.getBoolean(2)).toMap
      assert(verdicts == Map(10000000L -> false, 10000001L -> true),
        s"crafted dup/novel verdicts wrong: $verdicts")
    } finally q.stop()
  }

  test("persisted-artifact streaming dedup equals batch over the substrate base, across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (hashesPath, bloomPath) =
      graft.operators.Dedup.dedupBaseArtifacts(spark, sf)
    val input = MemoryStream[StreamingSpec.Doc]
    val q = EventStreams.dedupIncrementalPersisted(input.toDF(), hashesPath, bloomPath)
      .writeStream.format("memory").queryName("sdp_test").outputMode("append").start()
    try {
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .as[StreamingSpec.Doc].collect().toSeq
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
      val streamed = spark.table("sdp_test")
      // stream over the persisted base == the registered batch twin
      val batch = graft.operators.Dedup.streamDedupPersisted(spark, sf)
      assert(streamed.count() == batch.count())
      assert(streamed.exceptAll(batch).count() == 0)
      // == the demo (derive-per-batch) road too: same verdicts, only
      // where the base bytes come from differs
      val demo = graft.operators.Dedup.streamDedupIncremental(spark, sf)
      assert(streamed.exceptAll(demo).count() == 0 &&
             demo.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("persisted-band-index streaming MINHASH dedup equals the batch twin across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val (bandsPath, shinglesPath) =
      graft.operators.Dedup.minhashBaseArtifacts(spark, sf)
    val outDir = java.nio.file.Files.createTempDirectory("graft_sdm").toString
    val input = MemoryStream[StreamingSpec.Doc]
    // the near-dup verdict needs the micro-batch's candidate set
    // complete before the per-doc best-match fold, so the streaming
    // form runs the shared per-batch transform inside foreachBatch —
    // each arriving doc is answered within its batch and appended
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        EventStreams.dedupMinhashPersisted(batch, bandsPath, shinglesPath)
          .write.mode("append").parquet(outDir)
      }.start()
    try {
      val delta = docs.filter(col("doc_id") % 10 === 0)
        .as[StreamingSpec.Doc].collect().toSeq
      val (b1, b2) = delta.splitAt(delta.length / 2)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
    // foreachBatch over the persisted band index == the registered
    // batch twin (same per-batch function over the same substrate)
    val batchTwin = graft.operators.Dedup.streamDedupMinhash(spark, sf)
    assert(streamed.count() == batchTwin.count())
    assert(streamed.exceptAll(batchTwin).count() == 0 &&
           batchTwin.exceptAll(streamed).count() == 0)
    // == the derive-per-query incremental road too: the persisted
    // index changes where the base bands come from, never the verdict
    val derived = graft.operators.Dedup.dedupIncrementalMinhash(spark, sf)
    assert(streamed.exceptAll(derived).count() == 0 &&
           derived.exceptAll(streamed).count() == 0)
  }

  test("persisted-IVF-index streaming ANN probe equals the batch twin across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val (cellsPath, centroidsPath) =
      graft.operators.Similarity.ivfIndexArtifacts(spark, sf)
    val outDir = java.nio.file.Files.createTempDirectory("graft_sap").toString
    val input = MemoryStream[StreamingSpec.Probe]
    // every probe's candidate set is self-contained (its cells join
    // within its own micro-batch), so foreachBatch answers each probe
    // in the batch it arrived in — batch splits can't change a verdict
    val q = input.toDF().writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        EventStreams.annProbePersisted(batch, cellsPath, centroidsPath)
          .write.mode("append").parquet(outDir)
      }.start()
    try {
      val probeRows = graft.operators.Similarity.probeBatchOf(spark, sf)
        .as[StreamingSpec.Probe].collect().toSeq
      val (b1, b2) = probeRows.splitAt(probeRows.length / 2)
      input.addData(b1)
      q.processAllAvailable()
      input.addData(b2)
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
    // foreachBatch over the persisted index == the registered batch twin
    val batchTwin = graft.operators.Similarity.streamAnnProbe(spark, sf)
    assert(streamed.count() == batchTwin.count())
    assert(streamed.exceptAll(batchTwin).count() == 0 &&
           batchTwin.exceptAll(streamed).count() == 0)
    // == the in-session IVF tier too: the persisted index changes where
    // the bytes come from, never the answer
    val ivf = graft.operators.Similarity.annIvfTopK(spark, sf)
    assert(streamed.exceptAll(ivf).count() == 0 &&
           ivf.exceptAll(streamed).count() == 0)
  }

  test("stateful streaming sequence packing equals the batch cumsum road across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[StreamingSpec.Doc]
    // flatMapGroupsWithState IS the streaming operator here (per-shard
    // running token offsets in state), so the stream runs it directly
    val packed = EventStreams.packSequencesStateful(input.toDF())
    val q = packed.writeStream.outputMode("append")
      .format("memory").queryName("sps_test").start()
    try {
      // arrival order respects doc_id (the append-log contract the
      // operator documents); contiguous splits preserve it per shard
      val delta = Tables.documents(spark, sf)
        .filter(col("doc_id") % graft.operators.Dedup.DefaultDeltaMod === 0)
        .select("doc_id", "text").orderBy("doc_id")
        .as[StreamingSpec.Doc].collect().toSeq
      val (b1, rest) = delta.splitAt(delta.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
      val streamed = spark.table("sps_test")
      // carried per-shard offsets == the batch window cumsum, row for row
      val batchTwin = graft.operators.TrainingOps.streamPackSequences(spark, sf)
      assert(streamed.count() == batchTwin.count())
      assert(streamed.exceptAll(batchTwin).count() == 0 &&
             batchTwin.exceptAll(streamed).count() == 0)
      // a doc spanning multiple windows really spans them: crafted check
      val spans = streamed.filter(col("last_chunk") > col("first_chunk")).count()
      val fits = streamed.filter(col("n_tokens") <= 512 &&
        col("last_chunk") - col("first_chunk") > 1).count()
      assert(fits == 0, "a <=ctxLen doc can straddle at most one boundary")
      assert(spans >= 0) // shape guard only; exact values come from the twin equality
    } finally q.stop()
  }

  test("transformWithState spike: tws sequence packing == fMGWS == batch twin across micro-batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider —
    // the spike's first operational finding; set it for this query
    // and restore after (the fMGWS queries run on the default).
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[StreamingSpec.Doc]
    val packed = EventStreams.packSequencesStatefulTws(input.toDF())
    val q = packed.writeStream.outputMode("append")
      .format("memory").queryName("sps_tws_test").start()
    try {
      val delta = Tables.documents(spark, sf)
        .filter(col("doc_id") % graft.operators.Dedup.DefaultDeltaMod === 0)
        .select("doc_id", "text").orderBy("doc_id")
        .as[StreamingSpec.Doc].collect().toSeq
      val (b1, rest) = delta.splitAt(delta.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
      val streamed = spark.table("sps_tws_test")
      // the new-API road must be bit-equal to the hash-verified twin —
      // the whole migration question in one assertion
      val batchTwin = graft.operators.TrainingOps.streamPackSequences(spark, sf)
      assert(streamed.count() == batchTwin.count())
      assert(streamed.exceptAll(batchTwin).count() == 0 &&
             batchTwin.exceptAll(streamed).count() == 0)
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("parquet sink with checkpoint lands the deduped stream durably") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val out = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_cp").toString
    val input = MemoryStream[Ev]
    val q = EventStreams.toParquetSink(
      EventStreams.dedupIds(input.toDF()), out, cp)
    try {
      input.addData(eventRows().sortBy(e => (e.ts.getTime, e.event_id)))
      q.processAllAvailable()
    } finally q.stop()
    val landed = spark.read.parquet(out)
    val batch = graft.operators.Analytics.streamDedupIds(spark, sf)
    assert(landed.count() == batch.count())
  }

  test("parquet sinks restart from their checkpoints with no lost or duplicated rows") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_restart")
    val in = root.resolve("in")
    java.nio.file.Files.createDirectories(in)
    // File k holds events in minutes [90k, 90k + 90) from users shared
    // only with file k + 1, so a key recurs at most 3 h after its first
    // event: before the 2 h watermark plus the 2 h dedup horizon can
    // evict it. Stream and batch then keep the same first event.
    val t0 = 1704067200000L
    val rnd = new scala.util.Random(7)
    val files = (0 until 4).map { k =>
      Seq.fill(60)((90 * k + rnd.nextInt(90)) * 60000L + rnd.nextInt(60000)).sorted
        .zipWithIndex.map { case (t, i) =>
          Ev(1000L * k + i, 10L * k + rnd.nextInt(15), Seq("view", "click", "buy")(rnd.nextInt(3)),
             new Timestamp(t0 + t), rnd.nextInt(100).toDouble)
        }
    }
    val flush = Ev(99999L, 1000000L, "view", new Timestamp(t0 + 86400000L * 2), 1.0)
    def land(k: Int, evs: Seq[Ev]): Unit = {
      val stage = root.resolve(s"stage$k")
      evs.toDF().coalesce(1).write.parquet(stage.toString)
      val part = java.nio.file.Files.list(stage).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .find(_.getFileName.toString.endsWith(".parquet")).get
      val dst = java.nio.file.Files.move(part, in.resolve(s"$k.parquet"))
      // the file source takes files oldest first, one per micro-batch
      java.nio.file.Files.setLastModifiedTime(dst,
        java.nio.file.attribute.FileTime.fromMillis(t0 + k * 1000L))
    }
    val sinks = Seq("dedup", "windowed")
    def run(): Seq[Long] = {
      val src = spark.readStream.schema(Seq.empty[Ev].toDF().schema)
        .option("maxFilesPerTrigger", "1").parquet(in.toString)
      val qs = Seq(EventStreams.dedupIds(src), EventStreams.windowedCounts(src)).zip(sinks)
        .map { case (df, s) => EventStreams.toParquetSink(df, s"$root/$s", s"$root/ck_$s") }
      try { qs.foreach(_.processAllAvailable()); qs.map(_.recentProgress.head.batchId) }
      finally qs.foreach(_.stop())
    }
    (0 until 3).foreach(k => land(k, files(k)))
    assert(run() == Seq(0L, 0L))
    val firstRun = sinks.map(s => spark.read.parquet(s"$root/$s").count())
    assert(firstRun.forall(_ > 0), s"the first run must commit rows to both sinks: $firstRun")
    land(3, files(3))
    land(4, Seq(flush))
    assert(run().forall(_ >= 3L), "the restart must resume after the committed batches")

    val twin = root.resolve("twin").toString
    (files.flatten :+ flush).toDF().withColumn("props", lit("{}"))
      .write.parquet(s"$twin/events.parquet")
    val dedup = spark.read.parquet(s"$root/dedup").select("user_id", "event_type", "first_event_id")
    val dedupTwin = graft.operators.Analytics.streamDedupIds(spark, twin)
      .select("user_id", "event_type", "first_event_id")
    val windowed = spark.read.parquet(s"$root/windowed")
      .select(unix_timestamp(col("window_start")).as("window_start_s"),
              col("event_type"), col("n_events"), col("sum_value"))
    // the flush event's own window stays open
    val windowedTwin = graft.operators.Analytics.streamWindowedCounts(spark, twin)
      .filter(col("window_start_s") < flush.ts.getTime / 1000)
    for ((sink, batch) <- Seq(dedup -> dedupTwin, windowed -> windowedTwin)) {
      assert(sink.count() == batch.count(), "a lost or duplicated row")
      assert(sink.exceptAll(batch).isEmpty && batch.exceptAll(sink).isEmpty)
    }
  }

  test("foreachBatch JDBC upsert sink converges to the latest row per key across batches") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val db = java.nio.file.Files.createTempDirectory("graft_jdbc_sink").toString
    val cp = java.nio.file.Files.createTempDirectory("graft_jdbc_cp").toString
    val url = s"jdbc:derby:$db/db;create=true"
    val input = MemoryStream[Ev]
    val sel = input.toDF().select(col("user_id"), col("event_type"), col("value"))
    val q = EventStreams.toJdbcUpsertSink(sel, url, "stream_users", Seq("user_id"), cp)
    try {
      input.addData(Seq(
        Ev(1L, 10L, "signup", new Timestamp(1704067200000L), 1.0),
        Ev(2L, 11L, "view", new Timestamp(1704067201000L), 2.0)))
      q.processAllAvailable()
      // key 10 re-emitted in a later batch — must UPDATE, not duplicate
      input.addData(Seq(
        Ev(3L, 10L, "purchase", new Timestamp(1704067202000L), 9.0),
        Ev(4L, 12L, "view", new Timestamp(1704067203000L), 3.0)))
      q.processAllAvailable()
    } finally q.stop()
    val back = spark.read.jdbc(url, "stream_users", new java.util.Properties())
      .orderBy("user_id")
      .as[(Long, String, Double)].collect().toSeq
    assert(back == Seq((10L, "purchase", 9.0), (11L, "view", 2.0), (12L, "view", 3.0)))
  }

  test("trending top-k via foreachBatch rank equals the batch twin; late data re-ranks") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val outDir = java.nio.file.Files.createTempDirectory("graft_trend").toString
    val input = MemoryStream[Ev]
    // counts stream in complete mode; each micro-batch snapshot is
    // ranked by the SAME rankTrending the batch twin uses and lands as
    // a full overwrite — the foreachBatch half of the pattern under test
    val q = EventStreams.trendingCounts(input.toDF())
      .writeStream.outputMode("complete")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        EventStreams.rankTrending(batch, 3)
          .write.mode("overwrite").parquet(outDir)
      }.start()
    try {
      val rows = eventRows()
      val (early, late) = rows.splitAt(rows.length / 2)
      input.addData(early)
      q.processAllAvailable()
      input.addData(late) // second batch must RE-rank, not append
      q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.read.parquet(outDir)
      .select(unix_timestamp(col("window_start")).as("window_start_s"),
              col("rank"), col("event_type"), col("n_events"))
    val batch = graft.operators.Analytics.streamTopkTrending(spark, sf)
    assert(streamed.count() == batch.count())
    assert(streamed.exceptAll(batch).count() == 0 &&
           batch.exceptAll(streamed).count() == 0)
    // max 3 ranks per window, contiguous from 1
    val per = batch.groupBy("window_start_s")
      .agg(max("rank").as("mr"), count(lit(1)).as("c"))
      .filter(col("mr") =!= col("c") || col("c") > 3)
    assert(per.count() == 0)
  }

  test("dedup state is evicted once the watermark passes — a later duplicate re-emits") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t0 = 1700000000L
    def ev(id: Long, sec: Long) = Ev(id, 1L, "click", new Timestamp(sec * 1000), 1.0)
    val input = MemoryStream[Ev]
    val q = EventStreams.dedupIds(input.toDF())
      .writeStream.format("memory").queryName("ddw_evict").outputMode("append").start()
    try {
      input.addData(Seq(ev(1, t0)))
      q.processAllAvailable()           // ev1 emits; state (1,click) stamped t0
      input.addData(Seq(ev(2, t0 + 36000)))
      q.processAllAvailable()           // watermark still < t0+2h here → ev2 dropped
                                        // as a duplicate, but it advances the
                                        // watermark to t0+10h-2h, evicting the state
      input.addData(Seq(ev(3, t0 + 36600)))
      q.processAllAvailable()           // state gone → ev3 re-emits
      val ids = spark.table("ddw_evict").select("first_event_id")
        .collect().map(_.getLong(0)).sorted.toSeq
      assert(ids == Seq(1L, 3L),
        s"expected eviction to re-emit the key exactly once (got ids=$ids)")
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join on the same rows") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val rows = eventRows()
    val signups = MemoryStream[Ev]
    val purchases = MemoryStream[Ev]
    val q = EventStreams.intervalJoin(
        signups.toDF().filter(col("event_type") === "signup"),
        purchases.toDF().filter(col("event_type") === "purchase"))
      .writeStream.format("memory").queryName("ij_test").outputMode("append").start()
    try {
      signups.addData(rows)
      purchases.addData(rows)
      q.processAllAvailable()
      val streamed = spark.table("ij_test")
        .select("user_id", "signup_event_id", "purchase_event_id")
      // batch equivalent of the same interval condition on the same rows
      val ev = rows.toDF()
      val s = ev.filter(col("event_type") === "signup").alias("s")
      val p = ev.filter(col("event_type") === "purchase").alias("p")
      val batch = s.join(p, expr(
          "s.user_id = p.user_id AND p.ts > s.ts AND p.ts <= s.ts + INTERVAL 3600 SECONDS"))
        .select(col("s.user_id").as("user_id"),
                col("s.event_id").as("signup_event_id"),
                col("p.event_id").as("purchase_event_id"))
      assert(streamed.count() > 0)
      assert(streamed.exceptAll(batch).count() == 0 && batch.exceptAll(streamed).count() == 0)
    } finally q.stop()
  }

  test("cdcState converges to the batch CDC collapse under shuffled batches and replay") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[Ev]
    val q = EventStreams.cdcState(input.toDS())
      .writeStream.format("memory").queryName("cdc_test").outputMode("update").start()
    try {
      // out-of-order delivery + an at-least-once replay of the middle
      // batch: the latest-wins register must absorb both
      val rows = eventRows()
      val (b1, rest) = rows.splitAt(rows.length / 3)
      val (b2, b3) = rest.splitAt(rest.length / 2)
      input.addData(b2); q.processAllAvailable()
      input.addData(b3); q.processAllAvailable()
      input.addData(b1); q.processAllAvailable()
      input.addData(b2); q.processAllAvailable() // replay
      // the register only moves forward, so each key's FINAL state is
      // its max emitted (ts_us, event_id) row in the update log
      val streamedFinal = spark.table("cdc_test")
        .groupBy("user_id")
        .agg(max(struct(col("last_ts_us"), col("last_event_id"), col("last_op"),
                        col("is_live"), col("last_value"))).as("m"))
        .select(col("user_id"), col("m.last_event_id"),
                expr("m.last_ts_us div 1000000").as("last_ts_s"),
                col("m.last_op"), col("m.is_live"),
                floor(col("m.last_value") * 100).cast("long").as("last_value_cents"))
      val batch = graft.operators.Analytics.streamCdcApply(spark, sf)
        .select("user_id", "last_event_id", "last_ts_s", "last_op",
                "is_live", "last_value_cents")
      assert(streamedFinal.count() == batch.count())
      assert(streamedFinal.exceptAll(batch).isEmpty && batch.exceptAll(streamedFinal).isEmpty)
      // tombstoned keys stay visible with is_live=false — never dropped
      val nDead = batch.filter(!col("is_live")).count()
      assert(streamedFinal.filter(!col("is_live")).count() == nDead)
    } finally q.stop()
  }

  test("cdcStateEvicting: in-horizon replays absorbed, tombstones retire past the horizon, live keys never do") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t0 = 1700000000L
    def ev(id: Long, user: Long, typ: String, sec: Long, v: Double) =
      Ev(id, user, typ, new Timestamp(sec * 1000), v)
    val input = MemoryStream[Ev]
    val q = EventStreams.cdcStateEvicting(input.toDS(),
        horizonSec = 3600, delay = "0 seconds")
      .writeStream.format("memory").queryName("cdc_evict").outputMode("update").start()
    try {
      def stateRows: Long = q.recentProgress.reverse
        .find(_.stateOperators.nonEmpty).get.stateOperators(0).numRowsTotal
      input.addData(Seq(ev(1, 1, "click", t0, 1.0), ev(2, 2, "click", t0, 2.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(3, 1, "error", t0 + 10, 0.0)))
      q.processAllAvailable()
      // the tombstone emitted its delete row; both registers held
      assert(spark.table("cdc_evict").filter(!col("is_live")).count() == 1)
      assert(stateRows == 2)
      // in-horizon replay ordered BELOW the tombstone (same ts, lower
      // event_id, at the watermark so the late filter passes it):
      // absorbed by the register, no output, no state movement
      val outBefore = spark.table("cdc_evict").count()
      input.addData(Seq(ev(2, 1, "click", t0 + 10, 9.0)))
      q.processAllAvailable()
      assert(spark.table("cdc_evict").count() == outBefore,
        "replay older than the tombstone must be absorbed silently")
      assert(stateRows == 2)
      // advance event time far past the horizon; the next batch carries
      // the advanced watermark and retires user 1's tombstone —
      // state-only (no output row), while user 2's live register stays
      input.addData(Seq(ev(10, 2, "click", t0 + 4000, 3.0)))
      q.processAllAvailable()
      input.addData(Seq(ev(11, 2, "click", t0 + 4001, 3.0)))
      q.processAllAvailable()
      assert(stateRows == 1, "tombstone past the horizon must be evicted")
      val u1 = spark.table("cdc_evict").filter(col("user_id") === 1)
      assert(u1.count() == 2, "eviction must not emit a row")
      // the retired key upserts afresh like any new key
      input.addData(Seq(ev(12, 1, "click", t0 + 4002, 7.0)))
      q.processAllAvailable()
      assert(stateRows == 2)
      val back = spark.table("cdc_evict")
        .filter(col("user_id") === 1 && col("last_event_id") === 12).collect()
      assert(back.length == 1 && back(0).getAs[Boolean]("is_live"))
    } finally q.stop()
  }

  test("sessionize closes sessions on gap and on event-time timeout") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val t0 = 1700000000L // arbitrary fixed epoch seconds
    def ev(id: Long, user: Long, sec: Long, v: Double) =
      Ev(id, user, "click", new Timestamp(sec * 1000), v)
    val input = MemoryStream[Ev]
    val q = EventStreams.sessionize(input.toDS())
      .writeStream.format("memory").queryName("sess_test").outputMode("append").start()
    try {
      // user 1: two events 10 min apart (one session), then a 2h-later
      // event that closes it in-batch and opens a second session.
      input.addData(Seq(
        ev(1, 1, t0, 1.0), ev(2, 1, t0 + 600, 2.0), ev(3, 1, t0 + 7800, 4.0)))
      q.processAllAvailable()
      val afterBatch1 = spark.table("sess_test").as[EventStreams.SessionOut].collect()
      assert(afterBatch1.toSeq == Seq(
        EventStreams.SessionOut(1, t0, t0 + 600, 2, 3.0)))
      // advance the watermark far past session 2's gap horizon → the
      // open session times out and flushes.
      input.addData(Seq(ev(99, 2, t0 + 100000, 0.5)))
      q.processAllAvailable()
      input.addData(Seq(ev(100, 2, t0 + 100001, 0.5)))
      q.processAllAvailable()
      val flushed = spark.table("sess_test").as[EventStreams.SessionOut].collect()
      assert(flushed.exists(s => s.user_id == 1 && s.session_start_s == t0 + 7800
        && s.n_events == 1 && s.session_value == 4.0))
    } finally q.stop()
  }

  test("rateCusum: cross-batch windows, DEAD-feed drop via watermark timeout, twin agreement") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // integral means by construction so the stream's fixed baseline can
    // equal the batch twin's corpus mean EXACTLY:
    //  "s": 10/hr hours 0..19 then 30/hr hours 20..24 -> mean 14 over n=25
    //  "d": 10/hr hours 0..19 then DEAD FOREVER        -> mean 10 over n=20
    //  "wm": lone late events whose only job is advancing the GLOBAL
    //        watermark so the dead feed's windows can time out
    var id = 0L
    def evs(t: String, hour: Int, n: Int): Seq[Ev] = (1 to n).map { i =>
      id += 1
      Ev(id, 1L, t, new Timestamp((hour * 3600L + i) * 1000L), 1.0)
    }
    val sdRows = ((0 until 20).flatMap(h => evs("s", h, 10) ++ evs("d", h, 10)) ++
                  (20 until 25).flatMap(h => evs("s", h, 30))).sortBy(_.ts.getTime)
    val input = MemoryStream[Ev]
    val q = EventStreams.rateCusum(input.toDS(), 3600L, Map("s" -> 14L, "d" -> 10L))
      .writeStream.format("memory").queryName("cusum_stream").outputMode("append").start()
    try {
      // two batches split mid-window: counts must accumulate across
      // batches until a later window closes the frontier
      val (b1, b2) = sdRows.splitAt(sdRows.length / 2)
      Seq(b1, b2).foreach { b => input.addData(b); q.processAllAvailable() }
      // watermark drivers: no further "d" (or "s") data ever arrives,
      // yet their windows must keep closing as the watermark moves
      input.addData(evs("wm", 30, 1)); q.processAllAvailable()
      input.addData(evs("wm", 45, 1)); q.processAllAvailable()
      // replay of an already-closed window must be absorbed silently
      // (older than the watermark by now — dropped before the operator)
      input.addData(b1.take(5)); q.processAllAvailable()
      val got = spark.table("cusum_stream").as[EventStreams.CusumOut].collect()
        .map(o => (o.event_type, o.win) -> o).toMap
      assert(got.size == spark.table("cusum_stream").count().toInt,
        "a closed window must be emitted exactly once")
      // batch twin on the s/d rows written as an events table
      val dir = java.nio.file.Files.createTempDirectory("graft_scusum").toString
      sdRows.toDF().withColumnRenamed("value", "v")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("v").as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val twin = graft.operators.Analytics.streamCusum(spark, dir).collect()
        .map(r => (r.getString(0), r.getLong(1)) ->
          ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(5), r.getBoolean(6))))
        .toMap
      graft.Caches.clear()
      val n = Map("s" -> 25L, "d" -> 20L)
      // every twin window was closed by data or by the watermark
      // timeout; counts agree, flags agree, and the chart values
      // differ by exactly the batch's xn scale factor
      twin.foreach { case ((t, w), (x, bu, bd, fs, fd)) =>
        val o = got.getOrElse((t, w), fail(s"window ($t,$w) never emitted"))
        assert(o.n_events == x, s"($t,$w) count")
        assert(o.cusum_up * n(t) == bu && o.cusum_dn * n(t) == bd,
          s"($t,$w) chart values must match at the xn scale")
        assert(o.flag_surge == fs && o.flag_drop == fd, s"($t,$w) flags")
      }
      // THE dead-feed guarantee: "d" received no event after hour 19,
      // yet its empty windows were walked and the drop chart fired —
      // only the watermark timeout can have done this
      assert(got.exists { case ((t, w), o) =>
        t == "d" && w >= 20 && o.n_events == 0 && o.flag_drop },
        "a permanently-dead feed must trip flag_drop via the watermark timeout")
      // and the surge regime tripped the up chart
      assert(got.exists { case ((t, w), o) => t == "s" && w >= 20 && o.flag_surge })
      // RESET-AFTER-ALARM: the drop page is delivered exactly once and
      // the dead key then goes silent — the hour-45 watermark advance
      // (15 more elapsed windows) must NOT have kept walking "d"
      val dWins = got.keys.collect { case ("d", w) => w }
      assert(dWins.max == 22, // w20 +30, w21 +60, w22 +90 > 8B=80 → alarm
        s"state must be dropped at the first empty flag_drop window, got max ${dWins.max}")
      assert(got.count { case ((t, _), o) => t == "d" && o.flag_drop } == 1,
        "exactly one drop page per death")
    } finally q.stop()
  }

  test("rateCusum: out-of-order event inside the watermark is counted, not dropped") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    // The ADVICE r13 scenario: 10:05 arrives before 09:55. Under the
    // old frontier rule the 10:05 event closed hour-window 9 and the
    // 09:55 event was absorbed as a 'late replay' despite being well
    // inside the 2-hour watermark. Windows must now close only by
    // watermark passage, with both counts intact.
    def ev(id: Long, sec: Long) = Ev(id, 1L, "x", new Timestamp(sec * 1000L), 1.0)
    val input = MemoryStream[Ev]
    val q = EventStreams.rateCusum(input.toDS(), 3600L, Map("x" -> 1L))
      .writeStream.format("memory").queryName("cusum_ooo").outputMode("append").start()
    try {
      input.addData(Seq(ev(1, 10 * 3600 + 300)));  q.processAllAvailable() // 10:05
      input.addData(Seq(ev(2, 9 * 3600 + 3300))); q.processAllAvailable() // 09:55 — behind, in-watermark
      // watermark driver: push the global watermark past both windows
      input.addData(Seq(Ev(3, 1L, "wm", new Timestamp(14 * 3600 * 1000L), 1.0)))
      q.processAllAvailable()
      input.addData(Seq(Ev(4, 1L, "wm", new Timestamp(15 * 3600 * 1000L), 1.0)))
      q.processAllAvailable()
      val got = spark.table("cusum_ooo").as[EventStreams.CusumOut].collect()
        .filter(_.event_type == "x").map(o => o.win -> o.n_events).toMap
      assert(got.get(9).contains(1L), s"hour-9 window lost its in-watermark event: $got")
      assert(got.get(10).contains(1L), s"hour-10 window miscounted: $got")
      // and no window before the first event was ever walked
      assert(!got.keys.exists(_ < 9), s"spurious pre-data windows: $got")
    } finally q.stop()
  }

  test("attributionCredits: disorder-correct credit, exactly-once emission, twin agreement") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    val h = 3600L
    def ev(id: Long, uid: Long, t: String, sec: Long, v: Double = 0.0) =
      Ev(id, uid, t, new Timestamp(sec * 1000L), v)
    // u1: click at h1, purchase at h2 (in a 24h lookback) — but the
    //     PURCHASE ARRIVES FIRST: credit must wait for the watermark
    //     and still read 'click' (the order-settling guarantee)
    // u2: view at h1, purchase 3 DAYS later — expired → 'none'
    // u3: purchase with no touch ever → 'none'
    // u4: view then a LATER click before the purchase — last touch wins
    val rows = Seq(
      ev(11L, 1L, "purchase", 2 * h, 5.0),  // arrives before its touch
      ev(10L, 1L, "click", 1 * h),
      ev(20L, 2L, "view", 1 * h),
      ev(21L, 2L, "purchase", 73 * h, 7.0),
      ev(30L, 3L, "purchase", 10 * h, 11.0),
      ev(40L, 4L, "view", 1 * h), ev(41L, 4L, "click", 2 * h),
      ev(42L, 4L, "purchase", 3 * h, 13.0))
    val input = MemoryStream[Ev]
    val q = EventStreams.attributionCredits(input.toDS(), lookbackSec = 86400L)
      .writeStream.format("memory").queryName("attrib_stream")
      .outputMode("append").start()
    try {
      // batch 1 carries the out-of-order pair; later batches only move
      // the watermark (no further data for any credited user — the
      // EventTimeTimeout must settle u2/u3's buffered purchases)
      input.addData(rows); q.processAllAvailable()
      input.addData(Seq(ev(90L, 99L, "view", 80 * h)));  q.processAllAvailable()
      input.addData(Seq(ev(91L, 99L, "view", 200 * h))); q.processAllAvailable()
      input.addData(Seq(ev(92L, 99L, "view", 400 * h))); q.processAllAvailable()
      val got = spark.table("attrib_stream").as[EventStreams.CreditOut].collect()
      assert(got.length == got.map(_.event_id).distinct.length,
        "every purchase credited at most once")
      val byId = got.map(o => o.event_id -> o).toMap
      assert(byId(11L).channel == "click" && byId(11L).cents == 500L,
        "in-window credit must survive the purchase arriving before its touch")
      assert(byId(21L).channel == "none", "expired touch must not be credited")
      assert(byId(30L).channel == "none", "touchless purchase is organic")
      assert(byId(42L).channel == "click", "the LATEST preceding touch wins")
      assert(got.length == 4, s"exactly the four purchases credit: $got")
      // twin agreement on the same rows written as an events table
      val dir = java.nio.file.Files.createTempDirectory("graft_sattr").toString
      rows.toDF().withColumnRenamed("value", "v")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
                col("v").as("value"), lit("{}").as("props"))
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/events.parquet")
      val twin = graft.operators.Analytics.streamAttribution(spark, dir, lookbackDays = 1)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
                             r.getString(3), r.getLong(4))).toSet
      graft.Caches.clear()
      assert(got.map(o => (o.user_id, o.event_id, o.ts_us, o.channel, o.cents)).toSet == twin,
        "stream credit log must equal the batch twin row-for-row")
    } finally q.stop()
  }

  test("attributionCredits: tied timestamps follow the (ts, event_id) total order; state retires") {
    import spark.implicits._
    implicit val ctx = spark.sqlContext
    def ev(id: Long, uid: Long, t: String, sec: Long, v: Double = 0.0) =
      Ev(id, uid, t, new Timestamp(sec * 1000L), v)
    // u5: touch TIED with the purchase, smaller event_id → credited
    // u6: tied but touch has the larger event_id → follows → 'none'
    val rows = Seq(
      ev(50L, 5L, "view", 100L), ev(51L, 5L, "purchase", 100L, 3.0),
      ev(61L, 6L, "purchase", 100L, 9.0), ev(62L, 6L, "click", 100L))
    val input = MemoryStream[Ev]
    val q = EventStreams.attributionCredits(input.toDS(), lookbackSec = 3600L)
      .writeStream.format("memory").queryName("attrib_ties")
      .outputMode("append").start()
    try {
      input.addData(rows); q.processAllAvailable()
      // push the watermark far past everything (touch + lookback):
      // buffered purchases settle AND every register retires
      input.addData(Seq(ev(90L, 99L, "view", 500000L))); q.processAllAvailable()
      input.addData(Seq(ev(91L, 99L, "view", 900000L))); q.processAllAvailable()
      val got = spark.table("attrib_ties").as[EventStreams.CreditOut].collect()
        .map(o => o.event_id -> o.channel).toMap
      assert(got(51L) == "view", "tied touch with the smaller event_id precedes")
      assert(got(61L) == "none", "tied touch with the larger event_id follows")
    } finally q.stop()
  }
}

object StreamingSpec {
  /** Document row for the delta-vs-base dedup stream. */
  case class Doc(doc_id: Long, text: String)
  case class Probe(probe_id: Long, probe_emb: Array[Float])
}
