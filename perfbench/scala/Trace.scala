package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._

/** Wall clock in epoch milliseconds with sub-millisecond resolution,
  * on the same base as the stage times Spark reports.
  */
object Clock {
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def ms(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6
}

/** In-memory span recorder. With `on = false` it records nothing and
  * only runs the bodies, so untraced runs pay no tracing cost.
  */
final class Recorder(val on: Boolean) {
  private val spans = ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 0

  /** Runs `body` inside a span. */
  def span[T](parent: Int, name: String, layer: String, key: String, pass: Int)(
      body: => T): T =
    if (!on) body
    else {
      val id = newId()
      val start = Clock.ms()
      try body
      finally add(id, parent, name, layer, key, pass, start, Clock.ms())
    }

  /** Records a span whose interval was measured elsewhere. */
  def add(id: Int, parent: Int, name: String, layer: String, key: String, pass: Int,
          start: Double, end: Double): Unit =
    if (on) synchronized {
      spans += Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
                   "key" -> key, "pass" -> pass, "start_ms" -> start, "end_ms" -> end)
    }

  def newId(): Int = synchronized { nextId += 1; nextId }

  def all: Seq[Map[String, Any]] = synchronized(spans.toList)
}

/** Per-stage task metrics for the jobs of traced passes.
  *
  * Stages are attributed by the job group the benchmark sets around
  * each query (or the run id a streaming query sets around each
  * micro-batch), never by time window, so a stage that finishes after
  * its query returned still lands on that query. The collector is on
  * the listener bus only during traced passes ([[attach]], [[detach]]),
  * so untraced passes pay nothing for it.
  */
final class StageCollector(sc: org.apache.spark.SparkContext) extends SparkListener {
  /** Jobs of untraced batch passes that are still on the bus when the
    * collector is attached again are ignored. */
  private def accept(group: String): Boolean = !group.startsWith("pb-u-")
  private final class Agg(val group: String) {
    var tasks, scanTasks = 0L
    var cpuNs, runMs, schedMs, fetchWaitMs, shuffleWrite, spill, inBytes, inRows = 0L
    val durations = ArrayBuffer.empty[Long]
    var submitted, completed = 0.0
  }
  private val stageGroup = new ConcurrentHashMap[Int, String]
  private val aggs = new ConcurrentHashMap[Int, Agg]
  @volatile private var lastEvent = System.nanoTime()
  @volatile private var open = 0
  private var attached = false

  def attach(): Unit = if (!attached) {
    synchronized { open = 0 }
    sc.addSparkListener(this)
    attached = true
  }

  /** Waits until the bus has delivered the traced pass's events, then
    * leaves it. */
  def detach(): Unit = if (attached) {
    awaitQuiet()
    sc.removeSparkListener(this)
    attached = false
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent = System.nanoTime()
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.filter(accept).foreach(grp => e.stageIds.foreach(id => stageGroup.put(id, grp)))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    lastEvent = System.nanoTime(); open += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent = System.nanoTime()
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    if (g != null && m != null) {
      val a = aggs.computeIfAbsent(e.stageId, _ => new Agg(g))
      a.synchronized {
        val info = e.taskInfo
        a.tasks += 1
        a.cpuNs += m.executorCpuTime
        a.runMs += m.executorRunTime
        a.schedMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - info.gettingResultTime)
        a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        a.inBytes += m.inputMetrics.bytesRead
        a.inRows += m.inputMetrics.recordsRead
        if (m.inputMetrics.bytesRead > 0) a.scanTasks += 1
        a.durations += info.duration
      }
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    lastEvent = System.nanoTime(); open -= 1
    val i = e.stageInfo
    val g = stageGroup.get(i.stageId)
    if (g != null) {
      val a = aggs.computeIfAbsent(i.stageId, _ => new Agg(g))
      a.synchronized {
        a.submitted = i.submissionTime.getOrElse(0L).toDouble
        a.completed = i.completionTime.getOrElse(0L).toDouble
      }
    }
  }

  /** Waits until every submitted stage has completed and the bus has
    * been quiet for a moment, so the records are complete. */
  def awaitQuiet(timeoutMs: Long = 10000): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (System.currentTimeMillis() < deadline &&
           (open > 0 || System.nanoTime() - lastEvent < 300e6.toLong)) Thread.sleep(20)
  }

  def stages: Seq[Map[String, Any]] =
    aggs.asScala.toSeq.sortBy(_._1).map { case (id, a) => a.synchronized {
      val d = a.durations.sorted
      Map("stage" -> id, "group" -> a.group, "submit_ms" -> a.submitted,
          "complete_ms" -> a.completed, "tasks" -> a.tasks, "scan_tasks" -> a.scanTasks,
          "cpu_s" -> a.cpuNs / 1e9, "run_s" -> a.runMs / 1e3, "sched_s" -> a.schedMs / 1e3,
          "fetch_wait_s" -> a.fetchWaitMs / 1e3, "shuffle_write_b" -> a.shuffleWrite,
          "spill_b" -> a.spill, "in_bytes" -> a.inBytes, "in_rows" -> a.inRows,
          "max_task_ms" -> d.lastOption.getOrElse(0L),
          "median_task_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)))
    } }
}

/** JVM- and library-wide counters, read before and after each query. */
object Counters {
  private lazy val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq
  private lazy val codePools = ManagementFactory.getMemoryPoolMXBeans.asScala.toSeq
    .filter(p => p.getName.contains("CodeHeap") || p.getName.contains("Code Cache"))

  def snapshot(): Map[String, Double] = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    Map(
      "gc_ms" -> gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum.toDouble,
      "codegen_n" -> h.getCount.toDouble,
      // the Codahale histogram keeps a decaying sample, so compile time
      // is count x sample mean: approximate, the count is exact
      "codegen_ms_mean" -> h.getSnapshot.getMean,
      "substrate_reads" -> graft.Substrate.accessCount.toDouble,
      "substrate_build_s" -> graft.Substrate.buildSeconds,
      "substrate_builds" -> graft.Substrate.builtKinds.size.toDouble,
      "model_fits" -> graft.Caches.modelMissCount.toDouble)
  }

  /** Counter deltas between two snapshots, with compile time derived. */
  def delta(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] = {
    val d = b.map { case (k, v) => k -> (v - a(k)) }
    d - "codegen_ms_mean" + ("codegen_ms" -> d("codegen_n") * b("codegen_ms_mean"))
  }

  def codeCacheMb: Double = codePools.map(_.getUsage.getUsed).sum / 1048576.0
}

/** Peak driver heap: the largest heap occupancy seen right after a
  * garbage collection, from the collectors' notifications. Read after
  * a collection, the figure holds live data and recent promotions
  * rather than however much garbage happened to be waiting. */
final class HeapWatch {
  private val peakBytes = new java.util.concurrent.atomic.AtomicLong
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
  private val listener = new javax.management.NotificationListener {
    def handleNotification(n: javax.management.Notification, handback: Any): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakBytes.accumulateAndGet(used, (a, b) => math.max(a, b))
      }
  }
  private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .collect { case e: javax.management.NotificationEmitter => e }
  emitters.foreach(_.addNotificationListener(listener, null, null))

  def finish(): Double = {
    emitters.foreach(_.removeNotificationListener(listener))
    peakBytes.get / 1048576.0
  }
}
