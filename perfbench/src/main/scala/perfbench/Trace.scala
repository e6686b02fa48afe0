package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.storage.StorageLevel

/** One timed interval at a layer boundary. Times are System.nanoTime. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
                      startNs: Long, endNs: Long)

/** Span recorder kept in memory and written out when the run ends.
  *
  * With `traced` set, every [[Tracer.boundary]] materializes its layer's
  * output (persist + count) under a job group named after the span, so
  * the span's duration is the layer's own work rather than plan
  * building. Untraced, a boundary is the identity and spans only time
  * the eager steps. */
final class Tracer(spark: SparkSession, val traced: Boolean, val runId: String) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private val cached = ArrayBuffer.empty[DataFrame]

  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    val parent = stack.headOption.getOrElse(-1)
    spans += Span(id, name, parent, runId, System.nanoTime(), -1L)
    stack = id :: stack
    if (traced) spark.sparkContext.setJobGroup(name, name)
    try body
    finally {
      spans(id) = spans(id).copy(endNs = System.nanoTime())
      stack = stack.tail
      if (traced) stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(spans(p).name, spans(p).name)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Materialize `df` at a layer boundary when tracing (the cached copy
    * feeds the next layer); identity otherwise. */
  def boundary(df: DataFrame): DataFrame =
    if (!traced) df
    else {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      cached += p
      p
    }

  /** Drop the frames [[boundary]] cached since the last call. */
  def releaseBoundaries(): Unit = {
    cached.foreach(_.unpersist(blocking = true))
    cached.clear()
  }

  def all: Seq[Span] = spans.toSeq

  /** Per span name: total duration and self time (duration minus the
    * part covered by child spans), in seconds. */
  def selfTimes: Map[String, (Double, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.groupBy(_.name).map { case (n, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map { s =>
        val covered = Meter.unionNs(children.getOrElse(s.id, Nil)
          .map(c => (c.startNs, c.endNs)).toSeq)
        (s.endNs - s.startNs) - covered
      }.sum
      n -> (total / 1e9, self / 1e9)
    }
  }

  def seconds(name: String): Double =
    spans.filter(_.name == name).map(s => s.endNs - s.startNs).sum / 1e9
}

/** Engine counters observed through a SparkListener registered by the
  * benchmark, plus the catalyst rule-time and codegen compile-time
  * meters and the JVM's GC beans. */
final class Meter(spark: SparkSession) extends SparkListener {
  private val lock = new Object
  private val jobStarts = scala.collection.mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private var tasks = 0L
  private var shuffleWrite = 0L
  private var spill = 0L
  // wall-clock ms → nanoTime offset, so listener times align with spans
  private val offsetNs = System.nanoTime() - System.currentTimeMillis() * 1000000L

  override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
    jobStarts(e.jobId) = e.time * 1000000L + offsetNs
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
    jobStarts.remove(e.jobId).foreach(s =>
      jobIntervals += ((s, e.time * 1000000L + offsetNs)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
    tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  spark.sparkContext.addSparkListener(this)

  /** A snapshot of every counter; [[Meter.delta]] turns two into a
    * region's figures. Drains the listener bus first. */
  def snap(): Meter.Snap = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    lock.synchronized {
      Meter.Snap(System.nanoTime(), jobIntervals.size, tasks, shuffleWrite,
        spill,
        org.apache.spark.sql.catalyst.rules.RuleExecutor.getCurrentMetrics().time,
        org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
        Meter.gcMs(), jobIntervals.toVector)
    }
  }
}

object Meter {
  final case class Snap(ns: Long, jobs: Int, tasks: Long, shuffleWrite: Long,
                        spill: Long, catalystNs: Long, codegenNs: Long,
                        gcMs: Long, intervals: Vector[(Long, Long)])

  /** The engine figures of the region between two snapshots. */
  def delta(a: Snap, b: Snap): Map[String, Double] = {
    val inRegion = b.intervals.drop(a.jobs)
      .map { case (s, e) => (math.max(s, a.ns), math.min(e, b.ns)) }
      .filter { case (s, e) => e > s }
    val wall = (b.ns - a.ns) / 1e9
    val jobWall = unionNs(inRegion) / 1e9
    Map(
      "spark.jobs" -> (b.jobs - a.jobs).toDouble,
      "spark.tasks" -> (b.tasks - a.tasks).toDouble,
      "spark.job_wall_s" -> jobWall,
      "spark.driver_s" -> math.max(0.0, wall - jobWall),
      "spark.catalyst_s" -> (b.catalystNs - a.catalystNs) / 1e9,
      "spark.codegen_s" -> (b.codegenNs - a.codegenNs) / 1e9,
      "spark.shuffle_write_bytes" -> (b.shuffleWrite - a.shuffleWrite).toDouble,
      "spark.spill_bytes" -> (b.spill - a.spill).toDouble,
      "spark.gc_s" -> (b.gcMs - a.gcMs) / 1e3)
  }

  /** Figures of two disjoint regions added together. */
  def sum(a: Map[String, Double], b: Map[String, Double]): Map[String, Double] =
    (a.keySet ++ b.keySet).map(k => k -> (a.getOrElse(k, 0.0) + b.getOrElse(k, 0.0))).toMap

  def unionNs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue; var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** CPU time of the whole JVM, all threads, in seconds. */
  def cpuS(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9

  def gcMs(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }

  /** Old-generation occupancy right after a full collection, in MB. The
    * workloads call this between operations; the run reports the peak. */
  def liveOldGenMb(): Double = {
    import scala.jdk.CollectionConverters._
    // the second collection frees what the ContextCleaner released after
    // the first one (broadcast and shuffle blocks of dropped frames)
    System.gc()
    Thread.sleep(200)
    System.gc()
    val pools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
    val old = pools.filter(p => p.getName.contains("Old Gen") ||
      p.getName.contains("Tenured"))
    val bytes =
      if (old.nonEmpty) old.map(_.getUsage.getUsed).sum
      else {
        val r = Runtime.getRuntime
        r.totalMemory() - r.freeMemory()
      }
    bytes / 1048576.0
  }
}
