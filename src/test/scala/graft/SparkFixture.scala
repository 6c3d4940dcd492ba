package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole suite (JVM startup and
  * session init dominate test wall time otherwise).
  */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.configure(SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString))
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

trait SparkFixture {
  lazy val spark: SparkSession = TestSpark.spark
  /** Smallest driver-provided scale factor — correctness fixtures. */
  val sf = "/root/testdata/sf0.001"
}

/** Counts the Spark jobs a block starts. Jobs are told apart by a
  * local property carrying a fresh tag (so other threads' jobs never
  * count), and a marker job run after the block proves the async
  * listener bus has delivered every job start before it.
  */
object Jobs {
  private val Tag = "graft.test.jobs"

  def count[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"$tag-end"
    val n = new java.util.concurrent.atomic.AtomicInteger
    val delivered = new java.util.concurrent.CountDownLatch(1)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(Tag))).foreach { t =>
          if (t == tag) n.incrementAndGet() else if (t == marker) delivered.countDown()
        }
    }
    def tagged[A](t: String)(f: => A): A = {
      sc.setLocalProperty(Tag, t)
      try f finally sc.setLocalProperty(Tag, null)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(1), 1).count())
      require(delivered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener bus did not deliver the marker job")
      (out, n.get)
    } finally sc.removeSparkListener(listener)
  }
}
