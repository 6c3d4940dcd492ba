package graft
import java.nio.file.{Files, Paths}

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // Optional third arg: comma-separated query names (dev iteration
    // aid; the driver always runs the full set with two args).
    val only: Option[Set[String]] = args.lift(2).map(_.split(',').toSet)
    val spark = GraftSession.local(Bench.cpus, appName = "graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // No operator-internal cache outlives the query that built it.
      Caches.clear()
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson(SparkEntry.oracleSql))
    spark.stop()
  }

  /** The oracle map as one JSON object. A tab or CR in an oracle's SQL
    * must come out escaped, or a JSON reader rejects the whole file and
    * the hash-compare silently counts zero. */
  def oracleJson(oracle: Map[String, String]): String =
    new ObjectMapper().registerModule(DefaultScalaModule).writeValueAsString(oracle)
}
