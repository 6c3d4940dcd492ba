package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** JVM half of the benchmark: sets graft up, runs one workload over a
  * generated input directory and writes every raw measurement to
  * `<work>/result.json` for `run.py` to check and summarise.
  *
  * Usage: perfbench.Main --workload W --input DIR --work DIR
  *          --seconds S --trace 0|1
  */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val input = opt("input")
    val work = opt("work")
    val seconds = opt("seconds").toDouble
    val rec = new Recorder(opt("trace") == "1")
    val cores = Runtime.getRuntime.availableProcessors
    val heap = new HeapWatch

    val (spark, setup) = Setup.run(cores, input, rec)
    val collector = if (rec.on) Some(new StageCollector(spark.sparkContext)) else None
    val body: Map[String, Any] = try {
      workload match {
        case "stream_load" =>
          new StreamLoad(spark, input, work, seconds, rec, collector).run()
        case "corpus_train" =>
          new BatchLoad(spark, input, work, seconds, rec, collector, Workloads.corpusTrain).run()
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
    } finally collector.foreach(_.awaitQuiet())
    val result = body ++ Map(
      "workload" -> workload, "cores" -> cores, "setup" -> setup,
      "heap_peak_mb" -> heap.finish(), "code_cache_mb" -> Counters.codeCacheMb,
      "storage_memory_mb" -> spark.sparkContext.getExecutorMemoryStatus.values
        .map(_._1).sum / 1048576.0,
      "stages" -> collector.map(_.stages).getOrElse(Nil), "spans" -> rec.all)
    val json = new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(result)
    Files.writeString(Paths.get(work, "result.json"), json)
    spark.stop()
  }
}

/** Session set-up: from JVM start to a ready session plus the warm-up
  * query, measured once per run on a cold JVM.
  */
object Setup {
  def run(cores: Int, input: String, rec: Recorder): (SparkSession, Map[String, Any]) = {
    val t0 = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sp = rec.newId()
    val spark = graft.GraftSession.local(cores, appName = "perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    val t1 = Clock.ms()
    warmup(spark, input)
    val t2 = Clock.ms()
    rec.add(sp, 0, "session.setup", "GraftSession", "", -1, t0, t2)
    (spark, Map("setup_s" -> (t2 - t0) / 1e3, "session_start_s" -> (t1 - t0) / 1e3,
                "session_warmup_s" -> (t2 - t1) / 1e3))
  }

  /** The warm-up query: a scan, a shuffle and a collect. */
  private def warmup(spark: SparkSession, input: String): Unit =
    spark.read.parquet(s"$input/nation.parquet")
      .groupBy("n_regionkey").count().collect()
}
