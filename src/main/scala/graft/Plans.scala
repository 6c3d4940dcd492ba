package graft

import java.nio.file.{Files, Paths}

/** Dumps `explain("formatted")` for registered queries.
  *
  *  - `sbt "runMain graft.Plans"` writes EVERY query's plan to
  *    PLANS.md — the plan-quality evidence (pushdown/broadcast/partial
  *    agg/window limits) in reviewable form.
  *  - `sbt "runMain graft.Plans <outDir> <tag> <key> [key ...]"` writes
  *    `<outDir>/<key>_<tag>.txt` for the named keys — the before/after
  *    plan evidence of an optimization.
  */
object Plans {
  def main(args: Array[String]): Unit = {
    require(args.isEmpty || args.length >= 3, "usage: Plans [<outDir> <tag> <key> [key ...]]")
    // EVERY registered query by default, alphabetical — the artifact is
    // the plan audit trail, and a curated subset left plans unrecorded.
    val keys = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.drop(2).toSeq
    val unknown = keys.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown query keys: ${unknown.mkString(", ")}")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = GraftSession.local(8, appName = "graft-plans")
    spark.sparkContext.setLogLevel("ERROR")
    // Eager operators (DistRank rewrites, trained indexes, the extract
    // demos) run their build-time jobs here; that is the cost of
    // recording their real plans. Caches are cleared per plan, as in
    // Verify and Bench, so the extract demos' temp stores reclaim.
    val plans = keys.map { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir).queryExecution
        .explainString(org.apache.spark.sql.execution.FormattedMode)
      Caches.clear()
      name -> plan
    }
    spark.stop()
    if (args.isEmpty) {
      val out = new StringBuilder
      out ++= "# Physical plans (explain formatted) — every registered query\n\n"
      out ++= s"Generated by `graft.Plans` at $sfDir. What to look for:\n"
      out ++= "`PushedFilters`/`ReadSchema` on scans, `BroadcastHashJoin` on dims,\n"
      out ++= "`partial_` aggregates before exchanges, `WindowGroupLimit`, and\n"
      out ++= "`WholeStageCodegen` spans covering the compute.\n"
      plans.foreach { case (name, plan) => out ++= s"\n## $name\n\n```\n$plan```\n" }
      Files.writeString(Paths.get("PLANS.md"), out.toString)
      println(s"wrote PLANS.md (${plans.size} plans)")
    } else {
      val outDir = Files.createDirectories(Paths.get(args(0)))
      plans.foreach { case (name, plan) =>
        val file = outDir.resolve(s"${name}_${args(1)}.txt")
        Files.writeString(file, plan)
        println(s"wrote $file")
      }
    }
  }
}
