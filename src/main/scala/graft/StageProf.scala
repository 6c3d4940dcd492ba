package graft

/** Dev utility: run ONE registered query (each pass a [[Bench.pass]])
  * with a stage listener attached, then print every completed stage's
  * wall time, executor CPU/run time, task count and shuffle bytes —
  * the attribution step when a key's core-seconds need explaining
  * operator-by-operator and the UI is off; the header counts the jobs
  * the key's build started. The spill column is disk
  * bytes spilled. Optional second
  * arg = number of passes (cache-build vs steady-state attribution).
  *
  * Usage: sbt "runMain graft.StageProf graph_pagerank 2"
  */
object StageProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: StageProf <query_key> [passes]")
    val name = args(0)
    val passes = if (args.length > 1) args(1).toInt else 1
    val fn = SparkEntry.queries.getOrElse(name,
      sys.error(s"unknown query key: $name"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local(Bench.cpus, appName = "graft-stageprof")
    spark.sparkContext.setLogLevel("ERROR")

    val log = new Bench.StageLog
    spark.sparkContext.addSparkListener(log)

    (1 to passes).foreach { p =>
      log.drain()
      val (wall, tag) = Bench.pass(spark, sfDir, fn)
      // listener bus is async; give it a moment to drain
      Thread.sleep(500)
      val stages = log.drain()
      println(f"== $name pass $p: wall=$wall%.3f s, ${stages.size} stages, " +
        s"${log.buildJobs(tag)} build jobs ==")
      println(f"${"stage"}%6s ${"wall_ms"}%8s ${"run_ms"}%8s ${"cpu_ms"}%8s " +
        f"${"tasks"}%5s ${"in_MB"}%7s ${"sr_MB"}%7s ${"sw_MB"}%7s ${"spill"}%6s  name")
      stages.sortBy(_.id).foreach { s =>
        println(f"${s.id}%6d ${s.wallMs}%8d ${s.runMs}%8d ${s.cpuMs}%8d " +
          f"${s.tasks}%5d ${s.inputB / 1e6}%7.1f ${s.readB / 1e6}%7.1f ${s.writeB / 1e6}%7.1f " +
          f"${s.spillB / 1e6}%6.1f  ${s.name.take(70)}")
      }
      val top = stages.sortBy(-_.runMs).take(8)
      println("-- top by executor run time --")
      top.foreach(s => println(f"  stage ${s.id}%4d run=${s.runMs}%7d ms " +
        f"cpu=${s.cpuMs}%7d ms  ${s.name.take(70)}"))
    }
    Caches.clear()
    spark.stop()
  }
}
