package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Row, SparkSession}

/** How many passes a run measures after its cold and warm-up passes:
  * a fixed count derived from `--seconds` and the workload's nominal
  * pass time, so every run measures the same point of the JIT's
  * warm-up curve. A traced run rounds it up to a multiple of 4, so
  * that its traced and untraced passes balance ([[traced]]). */
object Measured {
  def passes(seconds: Double, nominalPassS: Double, traced: Boolean): Int = {
    val n = math.max(3, math.round(seconds / nominalPassS).toInt)
    if (traced) (n + 3) / 4 * 4 else n
  }

  /** In a traced run: the cold pass 1 is traced, the warm-up pass 2 is
    * not, and the measured passes alternate in the pattern traced,
    * untraced, untraced, traced, ... so that drift along the warm-up
    * curve cancels out of the tracing overhead. */
  def traced(pass: Int): Boolean =
    pass == 1 || (pass >= 3 && Set(0, 3)((pass - 3) % 4))
}

/** The keys the `corpus_train` workload times: a subset of the
  * training-data funnel sized so one run fits its time budget
  * (README.md, "Keys"). */
object Workloads {
  val corpusTrain: Seq[String] = Seq(
    "text_quality_score", "text_token_count", "dedup_exact_hash", "bpe_apply",
    "mm_image_phash", "ann_lsh_topk", "pack_sequences")
}

/** A batch workload: a cold first pass over the keys, one warm-up pass,
  * then [[Measured.passes]] measured passes.
  *
  * Each key runs as operator call (the DataFrame is returned), planning
  * (`executedPlan` is forced) and execution (the rows are collected),
  * then `Caches.clear()`.
  */
final class BatchLoad(spark: SparkSession, input: String, work: String,
                      seconds: Double, rec: Recorder, collector: Option[StageCollector],
                      keys: Seq[String]) {
  private val measured = Measured.passes(seconds, nominalPassS = 2.5, rec.on)
  private val queries = graft.SparkEntry.queries
  private val oracle = graft.SparkEntry.oracleSql
  private val sc = spark.sparkContext

  def run(): Map[String, Any] = {
    val passes = ArrayBuffer.empty[Map[String, Any]]
    val records = ArrayBuffer.empty[Map[String, Any]]
    for (pass <- 1 to 2 + measured) {
      val traced = rec.on && Measured.traced(pass)
      collector.foreach(c => if (traced) c.attach() else c.detach())
      val (p, recs, rows) = runPass(pass, traced)
      passes += p
      records ++= recs.zip(rows).map { case (r, (schema, data)) =>
        val k = r("key").asInstanceOf[String]
        val out = if (data == null) r else r ++ Map(
          "rows" -> data.length, "hash" -> Canon.hash(schema, data))
        if (pass == 1 && data != null && oracle.contains(k)) {
          spark.createDataFrame(data.toSeq.asJava, schema).write.mode("overwrite").parquet(dump(k))
        }
        out
      }
    }
    Map("passes" -> passes, "queries" -> records,
        "oracle_sql" -> keys.filter(oracle.contains).map(k => k -> oracle(k)).toMap,
        "dumps" -> keys.filter(oracle.contains).map(k => k -> dump(k)).toMap)
  }

  /** Where pass 1 writes an oracle key's rows for the DuckDB compare. */
  private def dump(k: String): String = s"$work/out/$k"

  private def runPass(pass: Int, traced: Boolean)
      : (Map[String, Any], Seq[Map[String, Any]], Seq[(org.apache.spark.sql.types.StructType, Array[Row])]) = {
    val tag = if (traced) "t" else "u"
    val start = Clock.ms()
    val passSpan = if (traced) rec.newId() else -1
    val out = keys.map { k =>
      val group = s"pb-$tag-$pass-$k"
      sc.setJobGroup(group, k, interruptOnCancel = false)
      val c0 = Counters.snapshot()
      val q0 = Clock.ms()
      val qSpan = if (traced) rec.newId() else -1
      var t1, t2, t3 = q0
      var rows: Array[Row] = null
      var schema: org.apache.spark.sql.types.StructType = null
      var err: String = null
      try {
        val df = timed(traced, qSpan, "operator", "operators", k, pass)(queries(k)(spark, input))
        t1 = Clock.ms()
        timed(traced, qSpan, "plan", "catalyst", k, pass)(df.queryExecution.executedPlan)
        t2 = Clock.ms()
        rows = timed(traced, qSpan, "execute", "exec", k, pass)(df.collect())
        schema = df.schema
        t3 = Clock.ms()
      } catch {
        case e: Throwable =>
          err = s"${e.getClass.getSimpleName}: ${e.getMessage}".take(500)
          t3 = Clock.ms(); if (t1 == q0) t1 = t3; if (t2 == q0) t2 = t3
      }
      timed(traced, qSpan, "caches.clear", "caches", k, pass)(graft.Caches.clear())
      val t4 = Clock.ms()
      sc.clearJobGroup()
      if (traced) rec.add(qSpan, passSpan, "query", "query", k, pass, q0, t4)
      val d = Counters.delta(c0, Counters.snapshot())
      val r = Map[String, Any]("pass" -> pass, "key" -> k, "group" -> group,
        "traced" -> traced, "ok" -> (err == null), "error" -> err,
        "operator_s" -> (t1 - q0) / 1e3, "plan_s" -> (t2 - t1) / 1e3,
        "exec_s" -> (t3 - t2) / 1e3, "clear_s" -> (t4 - t3) / 1e3,
        "latency_s" -> (t3 - q0) / 1e3, "start_ms" -> q0, "end_ms" -> t4) ++ d
      (r, (schema, rows))
    }
    val end = Clock.ms()
    if (traced) rec.add(passSpan, 0, "pass", "pass", "", pass, start, end)
    (Map("pass" -> pass, "traced" -> traced, "start_ms" -> start, "end_ms" -> end,
         "wall_s" -> (end - start) / 1e3), out.map(_._1), out.map(_._2))
  }

  private def timed[T](traced: Boolean, parent: Int, name: String, layer: String,
                       key: String, pass: Int)(body: => T): T =
    if (traced) rec.span(parent, name, layer, key, pass)(body) else body
}
