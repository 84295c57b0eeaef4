package graftbench

import org.apache.spark.scheduler._

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}
import scala.jdk.CollectionConverters._

/** One traced interval. `parent` is 0 for a root. Times are
  * `System.nanoTime` values; the layer is the name up to the first dot.
  */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def durNs: Long = endNs - startNs
}

/** In-memory span store for the traced run. Recording sites check [[on]]
  * first, so an untraced round pays one volatile read per site.
  */
object Trace {
  @volatile var on: Boolean = false
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, startNs: Long, endNs: Long, parent: Long = 0L): Long = {
    val id = nextId()
    spans.add(Span(id, parent, name, startNs, endNs))
    id
  }

  def all: IndexedSeq[Span] = spans.asScala.toIndexedSeq

  /** Parent each orphan under the candidate whose interval holds the
    * orphan's midpoint. Candidates must not overlap one another (they are
    * sequential units: snapshots, micro-batches, queries).
    */
  def nest(parents: Seq[Span], orphans: Seq[Span]): Seq[Span] = {
    val sorted = parents.sortBy(_.startNs).toIndexedSeq
    val starts = sorted.map(_.startNs).toArray
    orphans.map { s =>
      val mid = s.startNs + s.durNs / 2
      var i = java.util.Arrays.binarySearch(starts, mid)
      if (i < 0) i = -i - 2
      if (i >= 0 && mid <= sorted(i).endNs) s.copy(parent = sorted(i).id) else s
    }
  }

  /** Self time per layer: each span's duration minus the part of it its
    * children cover, summed by layer (nanoseconds).
    */
  def selfTimeByLayer(all: Seq[Span]): Map[String, Long] = {
    val children = all.filter(_.parent != 0).groupBy(_.parent)
    all.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map { s =>
        val covered = union(children.getOrElse(s.id, Nil)
          .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
          .filter { case (a, b) => b > a })
        math.max(0L, s.durNs - covered)
      }.sum
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { if (curE > curS) total += curE - curS; curS = a; curE = b }
      else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** One JSON object per line: id, parent, name, start/end in
    * microseconds since `originNs`.
    */
  def write(path: java.nio.file.Path, all: Seq[Span], originNs: Long): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val w = new PrintWriter(java.nio.file.Files.newBufferedWriter(path))
    try all.sortBy(_.startNs).foreach { s =>
      w.println(Json.write(Json.obj().put("id", s.id).put("parent", s.parent)
        .put("name", s.name).put("start_us", (s.startNs - originNs) / 1000)
        .put("end_us", (s.endNs - originNs) / 1000)))
    } finally w.close()
  }
}

/** Maps Spark's wall-clock event times (ms) onto the nanoTime axis. */
object Clock {
  private val baseNs = System.nanoTime()
  private val baseWallMs = System.currentTimeMillis()
  def nsOfWallMs(ms: Long): Long = baseNs + (ms - baseWallMs) * 1000000L
  def wallMicrosOfNs(ns: Long): Long = baseWallMs * 1000L + (ns - baseNs) / 1000L
}

/** A finished Spark job as the listener bus reported it. */
final case class JobRecord(jobId: Int, group: String, name: String,
    startNs: Long, endNs: Long, stages: Int, tasks: Long, taskRunMs: Long,
    taskCpuNs: Long, bytesRead: Long, bytesWritten: Long, shuffleReadBytes: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Spark listener collecting per-job scheduler and task totals (public
  * SparkListener events only); workloads pick the jobs of their traced
  * rounds by time window or job group.
  */
final class JobCollector extends SparkListener {
  private final class Acc(val jobId: Int, val group: String, val name: String,
      val startMs: Long, val stages: Int) {
    var tasks, runMs, cpuNs, read, written, shRead, shWrite, spill = 0L
  }
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, Acc]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val done = new ConcurrentLinkedQueue[JobRecord]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val name = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    open.put(e.jobId, new Acc(e.jobId, group, name, e.time, e.stageInfos.size))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(open.get(j)))
    val m = e.taskMetrics
    job.foreach { a =>
      if (m != null) a.synchronized {
        a.tasks += 1
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.read += m.inputMetrics.bytesRead
        a.written += m.outputMetrics.bytesWritten
        a.shRead += m.shuffleReadMetrics.totalBytesRead
        a.shWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(open.remove(e.jobId)).foreach { a =>
      done.add(JobRecord(a.jobId, a.group, a.name, Clock.nsOfWallMs(a.startMs),
        Clock.nsOfWallMs(e.time), a.stages, a.tasks, a.runMs, a.cpuNs, a.read,
        a.written, a.shRead, a.shWrite, a.spill))
    }

  def jobs: IndexedSeq[JobRecord] = done.asScala.toIndexedSeq
}

/** Process-level JVM figures: GC time, CPU time and the peak heap
  * occupancy left after a collection (from GC notifications).
  */
object JvmMetrics {
  private val heapAfterGcPeak = new AtomicLong(0)
  private val installed = new AtomicReference[Boolean](false)

  def install(): Unit = if (installed.compareAndSet(false, true)) {
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case emitter: javax.management.NotificationEmitter =>
        emitter.addNotificationListener((n: javax.management.Notification, _: AnyRef) => {
          if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
            val info = com.sun.management.GarbageCollectionNotificationInfo.from(
              n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
            heapAfterGcPeak.accumulateAndGet(used, math.max)
          }
        }, null, null)
      case _ =>
    }
  }

  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def resetHeapPeak(): Unit = heapAfterGcPeak.set(0)
  def heapAfterGcPeakMb: Double = heapAfterGcPeak.get / 1048576.0
}
