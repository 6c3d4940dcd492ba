package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.streaming.EventStreams
import graft.streaming.EventStreams.Ev

/** The `stream_load` workload: real Structured Streaming queries fed by
  * an open-loop generator.
  *
  * One run starts four queries: `dedupIds` and `windowedCounts` into
  * `toParquetSink`, `cdcState` into `toJdbcUpsertSink` (embedded
  * Derby), and `packSequencesStatefulTws` on the RocksDB state store.
  * It then replays the seeded schedule in `stream_events.parquet`:
  *
  *  - pass 1 (cold): start the queries and drain the backlog;
  *  - passes 2.. (warm): a burst offered at once and drained, one as
  *    warm-up and then [[Measured.passes]] measured ones;
  *  - the rate pass: items arrive open-loop at their due times; an
  *    item's latency runs from its due time to the last commit, over
  *    the four sinks, of a micro-batch that carried it;
  *  - a flush event far in event time closes every window.
  *
  * The sinks are then compared with the registered batch twins
  * (`stream_dedup_ids`, `stream_windowed_counts`, `stream_cdc_apply`,
  * `stream_pack_tws`) run over the same events.
  */
final class StreamLoad(spark: SparkSession, input: String, work: String,
                       seconds: Double, rec: Recorder, collector: Option[StageCollector]) {
  import spark.implicits._
  private implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
  /** Bursts: one warm-up, then the measured ones. */
  private val bursts = 1 + Measured.passes(seconds, nominalPassS = 2.5, rec.on)
  private val ChunkRows = 500
  private val TickMs = 100L
  private val FlushUser = 1000000L

  private val schedule = spark.read.parquet(s"$input/stream_events.parquet")
    .withColumn("ts", col("ts").cast("timestamp")).orderBy("event_id").collect()
  private val events: Array[Ev] = schedule.map(r => Ev(
    r.getAs[Long]("event_id"), r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
    r.getAs[java.sql.Timestamp]("ts"), r.getAs[Double]("value")))
  private val cycleOf: Array[Int] = schedule.map(_.getAs[Int]("cycle"))
  private val dueS: Array[Double] = schedule.map(_.getAs[Double]("due_s"))
  private val docs: Array[StreamLoad.Doc] = graft.Tables.documents(spark, input)
    .filter(col("doc_id") % graft.operators.Dedup.DefaultDeltaMod === 0)
    .select("doc_id", "text").orderBy("doc_id").as[StreamLoad.Doc].collect()
  /** Doc j rides with the event at index docAt(j): docs keep doc_id
    * order and spread evenly over the schedule. */
  private def docAt(j: Int): Int = (j.toLong * events.length / docs.length).toInt
  private val flush = Ev(events.map(_.event_id).max + 1, FlushUser, "view",
    new java.sql.Timestamp(events.map(_.ts.getTime).max + 86400000L), 1.0)

  /** One addData call: the stream, its offset, the schedule indices
    * and due times (NaN when offered at once) of the items it carried,
    * and when it was made. An item is an event and the document riding
    * with it. */
  private case class Chunk(stream: String, offset: Long, items: Seq[Int], due: Seq[Double],
                           addedMs: Double)

  private val dir = s"$work/stream"
  private val url = s"jdbc:derby:$dir/derby;create=true"
  private val evA, evB, evC = MemoryStream[Ev]
  private val docS = MemoryStream[StreamLoad.Doc]
  private val chunks = ArrayBuffer.empty[Chunk]
  private val fedEvents = ArrayBuffer.empty[Ev]
  private val fedDocs = ArrayBuffer.empty[StreamLoad.Doc]

  /** Schedule indices [from, until) of a cycle. */
  private def range(c: Int): (Int, Int) =
    (cycleOf.indexWhere(_ == c), cycleOf.lastIndexWhere(_ == c) + 1)

  /** Offers events [from, until) to the three event streams, and the
    * docs riding with them, all at time `now`. */
  private def offer(from: Int, until: Int, due: Int => Double, now: Double): Unit = {
    val evs = events.slice(from, until).toSeq
    val d = (from until until).map(due)
    for ((name, s) <- Seq("dedup" -> evA, "windowed" -> evB, "cdc" -> evC))
      chunks += Chunk(name, offsetOf(s.addData(evs)), from until until, d, now)
    val js = docs.indices.filter(j => docAt(j) >= from && docAt(j) < until)
    if (js.nonEmpty)
      chunks += Chunk("pack", offsetOf(docS.addData(js.map(docs))), js.map(docAt),
                      js.map(j => due(docAt(j))), now)
    fedEvents ++= evs
    fedDocs ++= js.map(docs)
  }

  private def offerAtOnce(c: Int): Unit = {
    val (from, until) = range(c)
    (from until until by ChunkRows).foreach(i =>
      offer(i, math.min(until, i + ChunkRows), _ => Double.NaN, Clock.ms()))
  }

  /** Open-loop arrivals of cycle `c`, each due `dueS` seconds after
    * `start`, offered on a fixed tick; returns how late each was offered. */
  private def offerOpenLoop(c: Int, start: Double): Seq[Double] = {
    val (from, until) = range(c)
    val lag = ArrayBuffer.empty[Double]
    var i = from
    while (i < until) {
      val now = Clock.ms()
      var j = i
      while (j < until && start + dueS(j) * 1e3 <= now) j += 1
      if (j > i) {
        (i until j).foreach(k => lag += (now - (start + dueS(k) * 1e3)) / 1e3)
        offer(i, j, k => start + dueS(k) * 1e3, now)
        i = j
      }
      Thread.sleep(TickMs)
    }
    lag.toSeq
  }

  def run(): Map[String, Any] = {
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    val rateCycle = cycleOf.max
    require(rateCycle > bursts, s"the schedule has ${rateCycle - 1} bursts, the run needs $bursts")
    val passes = ArrayBuffer.empty[Map[String, Any]]
    def pass(p: Int, kind: String, traced: Boolean)(body: => Map[String, Any]): Unit = {
      collector.foreach(c => if (traced) c.attach() else c.detach())
      val span = rec.newId()
      val c0 = Counters.snapshot()
      val start = Clock.ms()
      val out = body
      val end = Clock.ms()
      rec.add(span, 0, "pass", "pass", "", p, start, end)
      passes += out ++ Counters.delta(c0, Counters.snapshot()) ++ Map(
        "pass" -> p, "kind" -> kind, "traced" -> traced, "span" -> span,
        "start_ms" -> start, "end_ms" -> end, "wall_s" -> (end - start) / 1e3)
    }
    var queries: Map[String, StreamingQuery] = Map.empty
    def drain(): Unit = queries.values.foreach(_.processAllAvailable())

    pass(1, "start", rec.on) {
      queries = phase("stream.start", 1)(start())
      phase("stream.catchup", 1) { offerAtOnce(0); drain() }
      Map("lag_s" -> Nil)
    }
    for (b <- 1 to bursts) pass(b + 1, "burst", rec.on && Measured.traced(b + 1)) {
      phase("stream.burst", b + 1) { offerAtOnce(b); drain() }
      Map("lag_s" -> Nil)
    }
    pass(bursts + 2, "rate", rec.on) {
      val lag = phase("stream.rate", bursts + 2)(offerOpenLoop(rateCycle, Clock.ms() + 20))
      phase("stream.drain", bursts + 2)(drain())
      Map("lag_s" -> lag)
    }
    phase("stream.flush", 0) {
      Seq(evA, evB, evC).foreach(_.addData(Seq(flush)))
      drain()
    }
    phase("stream.stop", 0)(queries.values.foreach(_.stop()))

    val batches = queries.toSeq.flatMap { case (name, q) => progress(name, q) }
    val held = sinkHashes()
    val twins = twinHashes()
    Map("passes" -> passes.map(p => p ++ passStats(p, batches)),
        "checked" -> twins.size,
        "mismatches" -> twins.keys.toSeq.sorted.filter(k => held(k) != twins(k)),
        "events_fed" -> fedEvents.size, "burst" -> (range(1)._2 - range(1)._1),
        "rate_eps" -> (range(rateCycle)._2 - range(rateCycle)._1) / dueS.max)
  }

  private def start(): Map[String, StreamingQuery] = {
    val q1 = EventStreams.toParquetSink(EventStreams.dedupIds(evA.toDF()),
      s"$dir/dedup", s"$dir/ck_dedup")
    val q2 = EventStreams.toParquetSink(EventStreams.windowedCounts(evB.toDF()),
      s"$dir/windowed", s"$dir/ck_windowed")
    val q3 = EventStreams.toJdbcUpsertSink(EventStreams.cdcState(evC.toDS()).toDF(),
      url, "cdc_current", Seq("user_id"), s"$dir/ck_cdc")
    val key = "spark.sql.streaming.stateStore.providerClass"
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val q4 = try EventStreams.toParquetSink(
        EventStreams.packSequencesStatefulTws(docS.toDF()).toDF(),
        s"$dir/pack", s"$dir/ck_pack")
      finally spark.conf.unset(key)
    Map("dedup" -> q1, "windowed" -> q2, "cdc" -> q3, "pack" -> q4)
  }

  /** The micro-batches, latencies, backlog and generator lag of a pass. */
  private def passStats(p: Map[String, Any], all: Seq[Map[String, Any]]): Map[String, Any] = {
    val (start, end) = (p("start_ms").asInstanceOf[Double], p("end_ms").asInstanceOf[Double])
    val span = p("span").asInstanceOf[Int]
    val mine = all.filter { b => val t = b("start_ms").asInstanceOf[Double]; t >= start && t < end }
    if (rec.on) mine.foreach(b => rec.add(rec.newId(), -1, "microbatch", "streaming",
      b("query").asInstanceOf[String], p("pass").asInstanceOf[Int],
      b("start_ms").asInstanceOf[Double], b("commit_ms").asInstanceOf[Double]))
    val timed = chunks.toSeq.filter(c => c.addedMs >= start && c.addedMs < end)
    val latencies = timed.filter(_.due.exists(!_.isNaN)).flatMap { c =>
      all.find(b => b("query") == c.stream && b("end_offset").asInstanceOf[Long] >= c.offset)
        .map(b => c.items.zip(c.due.map(d => (b("commit_ms").asInstanceOf[Double] - d) / 1e3)))
        .getOrElse(Nil)
    }.groupMapReduce(_._1)(_._2)(math.max).values.toSeq
    val backlog = Seq("dedup", "windowed", "cdc", "pack").map(q => maxBacklog(
      timed.filter(c => c.stream == q && c.due.exists(!_.isNaN)),
      all.filter(_("query") == q))).max
    Map("batches" -> mine, "latencies_s" -> latencies, "backlog_rows_max" -> backlog)
  }

  private def offsetOf(o: Any): Long = o.toString.trim.toLong

  private def phase[T](name: String, pass: Int)(body: => T): T =
    rec.span(-1, name, "streaming", "", pass)(body)

  /** The query's micro-batches, as recorded in its progress. */
  private def progress(name: String, q: StreamingQuery): Seq[Map[String, Any]] =
    q.recentProgress.toSeq.map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue / 1e3 }.toMap
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble
      val end = start + d.getOrElse("triggerExecution", 0.0) * 1e3
      val src = p.sources.head
      val ops = p.stateOperators.toSeq
      Map("query" -> name, "run_id" -> q.runId.toString, "batch" -> p.batchId,
          "start_ms" -> start, "commit_ms" -> end, "rows" -> p.numInputRows,
          "start_offset" -> Option(src.startOffset).map(offsetOf).getOrElse(-1L),
          "end_offset" -> Option(src.endOffset).map(offsetOf).getOrElse(-1L),
          "durations_s" -> d,
          "state_rows" -> ops.map(_.numRowsTotal).sum,
          "state_mem_b" -> ops.map(_.memoryUsedBytes).sum,
          "state_updated" -> ops.map(_.numRowsUpdated).sum)
    }

  /** Largest number of offered-but-uncommitted items seen at any
    * micro-batch commit of the rate phase. */
  private def maxBacklog(chunks: Seq[Chunk], batches: Seq[Map[String, Any]]): Long =
    batches.map { b =>
      val at = b("commit_ms").asInstanceOf[Double]
      val done = b("end_offset").asInstanceOf[Long]
      chunks.filter(c => c.addedMs <= at && c.offset > done).map(_.due.size.toLong).sum
    }.foldLeft(0L)(math.max)

  /** Canonical hashes of the four batch twins over the events and docs
    * the run fed, plus the flush event. */
  private def twinHashes(): Map[String, String] = {
    val tdir = s"$work/twin"
    spark.createDataset(fedEvents.toSeq :+ flush).toDF()
      .withColumn("props", lit("{}"))
      .write.parquet(s"$tdir/events.parquet")
    spark.createDataset(fedDocs.toSeq)
      .write.parquet(s"$tdir/documents.parquet")
    val q = graft.SparkEntry.queries
    val flushWindow = (flush.ts.getTime / 3600000L) * 3600L
    try Map(
      "dedup" -> hash(q("stream_dedup_ids")(spark, tdir)
        .select("user_id", "event_type", "first_event_id")),
      "windowed" -> hash(q("stream_windowed_counts")(spark, tdir)
        .filter(col("window_start_s") < flushWindow)),
      "cdc" -> hash(q("stream_cdc_apply")(spark, tdir)),
      "pack" -> hash(q("stream_pack_tws")(spark, tdir)))
    finally graft.Caches.clear()
  }

  /** Canonical hashes of what the four sinks hold. */
  private def sinkHashes(): Map[String, String] =
    Map(
      "dedup" -> hash(spark.read.parquet(s"$dir/dedup")
        .select("user_id", "event_type", "first_event_id")),
      "windowed" -> hash(spark.read.parquet(s"$dir/windowed")
        .select(unix_timestamp(col("window_start")).as("window_start_s"),
                col("event_type"), col("n_events"), col("sum_value"))),
      "cdc" -> hash(spark.read.jdbc(url, "cdc_current", new java.util.Properties())
        .select(col("user_id"), col("last_event_id"),
                floor(col("last_ts_us") / 1000000L).cast("long").as("last_ts_s"),
                col("last_op"), col("is_live"),
                floor(col("last_value") * 100).cast("long").as("last_value_cents"))),
      "pack" -> hash(spark.read.parquet(s"$dir/pack")))

  private def hash(df: DataFrame): String = Canon.hash(df.schema, df.collect())
}

object StreamLoad {
  case class Doc(doc_id: Long, text: String)
}
