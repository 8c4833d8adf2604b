package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Span recorder plus an optional Spark listener that attributes Spark
  * work to the spans.
  *
  * Spans are opened and closed one after another on the driver's single
  * client thread and do not nest, so a job belongs to the span whose
  * time window contains the job's start. Attributing by time window
  * (and not by the thread-local job group) is also correct for jobs
  * that `GoldRunner` submits from its `graft.Par` pool, whose inherited
  * local properties can be stale.
  *
  * Span timestamps are always taken (two clock reads per span); the
  * listener is registered only in a traced run. */
final class Trace(spark: SparkSession, val traced: Boolean) {

  final case class Span(name: String, startMs: Long, startNs: Long,
      var endMs: Long = -1L, var endNs: Long = -1L)

  private final case class Job(id: Int, startMs: Long, stages: Seq[Int],
      var endMs: Long = -1L)

  private final class StageAcc {
    var runMs = 0L
    var shuffleBytes = 0L
    var inputRows = 0L
  }

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open = false

  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val stageAcc = mutable.Map.empty[Int, StageAcc]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs += Job(e.jobId, e.time, e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.find(_.id == e.jobId).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
        a.runMs += m.executorRunTime
        a.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        a.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  if (traced) spark.sparkContext.addSparkListener(listener)

  /** Time `body` as span `name`. Spans do not nest. */
  def span[T](name: String)(body: => T): T = {
    require(!open, s"span $name opened inside another span")
    val s = Span(name, System.currentTimeMillis(), System.nanoTime())
    spans += s
    open = true
    try body
    finally {
      open = false
      s.endNs = System.nanoTime()
      s.endMs = System.currentTimeMillis()
    }
  }

  /** Per-span-name counters, each the MEAN over the span's instances:
    * self_s, driver_s, jobs, task_s, shuffle_mb, input_rows, plus the
    * instance count. Job-derived counters are present only when traced.
    * Spans do not nest, so a span's self time is its total time. */
  def summary(): Map[String, Map[String, Double]] = {
    if (traced) org.apache.spark.ListenerDrain(spark.sparkContext)
    val closed = spans.filter(_.endNs >= 0).toIndexedSeq
    val (jobList, accs) = synchronized {
      (jobs.filter(_.endMs >= 0).toIndexedSeq, stageAcc.toMap)
    }
    // owner of a job: the span containing its start; on a tie the
    // later-starting span (a span's first job can start in the same
    // millisecond its predecessor closed)
    def ownerOf(t: Long): Option[Int] =
      closed.indices.reverse.find(i => closed(i).startMs <= t && t <= closed(i).endMs)
    val jobsBySpan = jobList.groupBy(j => ownerOf(j.startMs))
    val jobSegs = jobList.map(j => (j.startMs, j.endMs))
    val perInstance = closed.indices.map { i =>
      val s = closed(i)
      val total = (s.endNs - s.startNs) / 1e9
      // driver gap: span time (ms grid) not covered by any job
      val driverMs = subtract(Seq((s.startMs, s.endMs)), jobSegs)
        .map { case (a, b) => b - a }.sum
      val own = jobsBySpan.getOrElse(Some(i), Seq.empty)
      val stages = own.flatMap(_.stages).distinct
      val sa = stages.flatMap(accs.get)
      s.name -> Map(
        "self_s" -> total,
        "driver_s" -> math.min(driverMs / 1000.0, total),
        "jobs" -> own.size.toDouble,
        "task_s" -> sa.map(_.runMs).sum / 1000.0,
        "shuffle_mb" -> sa.map(_.shuffleBytes).sum / (1024.0 * 1024.0),
        "input_rows" -> sa.map(_.inputRows).sum.toDouble,
        "total_s" -> total)
    }
    perInstance.groupBy(_._1).map { case (name, xs) =>
      val n = xs.size.toDouble
      val keys = xs.head._2.keys
      name -> (keys.map(k => k -> xs.map(_._2(k)).sum / n).toMap + ("count" -> n))
    }
  }

  /** Interval difference on a millisecond grid: `from` minus `cut`. */
  private def subtract(from: Seq[(Long, Long)],
      cut: Seq[(Long, Long)]): Seq[(Long, Long)] =
    cut.foldLeft(from) { case (segs, (c0, c1)) =>
      segs.flatMap { case (a, b) =>
        if (c1 <= a || c0 >= b) Seq((a, b))
        else Seq((a, math.max(a, c0)), (math.min(b, c1), b)).filter(s => s._2 > s._1)
      }
    }

  def close(): Unit = if (traced) spark.sparkContext.removeSparkListener(listener)
}

/** Driver heap high-water after garbage collection, from two sources:
  *  - every collection the JVM makes, during operations too: the heap
  *    in use after it (a listener on the collectors' notifications), so
  *    state an operation holds on the driver while it runs is counted;
  *  - forced full collections between operations (`sample`): the
  *    listener bus is drained first (queued events hold query plans),
  *    and there are two collections, because Spark's ContextCleaner
  *    frees broadcast and shuffle state only once the first has cleared
  *    their handles. */
object Heap {
  import java.lang.management.{ManagementFactory, MemoryType}
  import scala.jdk.CollectionConverters._

  private var gcBytes = 0L
  private var sampledBytes = 0L

  private def offer(bytes: Long, fromGc: Boolean): Unit = synchronized {
    if (fromGc) gcBytes = math.max(gcBytes, bytes)
    else sampledBytes = math.max(sampledBytes, bytes)
  }

  /** Starts recording the heap in use after every collection. */
  def watch(): Unit = {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val onGc = new javax.management.NotificationListener {
      def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
        if (n.getType == com.sun.management.GarbageCollectionNotificationInfo
            .GARBAGE_COLLECTION_NOTIFICATION) {
          val info = com.sun.management.GarbageCollectionNotificationInfo
            .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
          offer(info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum, fromGc = true)
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(onGc, null, null)
      case _ =>
    }
  }

  def sample(spark: SparkSession): Unit = {
    org.apache.spark.ListenerDrain(spark.sparkContext)
    System.gc()
    Thread.sleep(200)
    System.gc()
    offer(ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed, fromGc = false)
  }

  private def mib(b: Long): Double = b / (1024.0 * 1024.0)
  def gcPeakMiB: Double = synchronized(mib(gcBytes))
  def sampledPeakMiB: Double = synchronized(mib(sampledBytes))
}
