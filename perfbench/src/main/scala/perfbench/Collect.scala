package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Process-wide counters that need no listener: GC and JIT time from the
  * JVM's MX beans, peak resident set from /proc. */
object Jvm {
  def gcSeconds: Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum / 1000.0

  def jitSeconds: Double = {
    val b = ManagementFactory.getCompilationMXBean
    if (b != null && b.isCompilationTimeMonitoringSupported)
      b.getTotalCompilationTime / 1000.0
    else 0.0
  }

  /** VmHWM of this process in MB (0 where /proc is unavailable). */
  def peakRssMb: Double = {
    val f = new java.io.File("/proc/self/status")
    if (!f.exists()) 0.0
    else {
      val src = scala.io.Source.fromFile(f)
      try src.getLines().collectFirst {
        case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
      }.getOrElse(0.0)
      finally src.close()
    }
  }
}

/** Spark-side counters per timed op instance. Jobs are recorded as they
  * finish and attributed when read: to the op whose job group they carry
  * (`<op>#<n>`, set by [[Run.op]]), otherwise to the op running when they
  * were submitted (a streaming query's micro-batches run under the
  * query's own job group). Ops never overlap, so both rules are exact.
  * Attached only for traced runs. */
final class Collector(s: SparkSession) {
  import Collector.Acc

  final class Job(val group: Option[String], val t0: Long) {
    var t1 = -1L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWriteBytes = 0L
    var recordsRead = 0L
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val ops = new java.util.concurrent.ConcurrentLinkedQueue[(String, Long, Long)]()

  /** Record a finished op instance's wall-clock interval (epoch ms). */
  def opSpan(group: String, t0: Long, t1: Long): Unit = ops.add((group, t0, t1))

  private def opAt(t: Long): String =
    ops.asScala.find { case (_, a, b) => t >= a && t <= b }.map(_._1).getOrElse("untracked")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .filter(_.contains('#'))
      jobs.put(e.jobId, new Job(g, e.time))
      e.stageIds.foreach(stageJob.put(_, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(j => j.synchronized { j.t1 = e.time })
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(id => Option(jobs.get(id))).foreach { j =>
        val m = e.taskMetrics
        j.synchronized {
          j.tasks += 1
          if (e.taskInfo != null) j.taskMs += e.taskInfo.duration
          if (m != null) {
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.recordsRead += m.inputMetrics.recordsRead
          }
        }
      }
  }

  def attach(): Unit = {
    s.sparkContext.addSparkListener(listener)
  }

  def detach(): Unit = {
    drain()
    s.sparkContext.removeSparkListener(listener)
  }

  def drain(): Unit = org.apache.spark.perfbench.SparkBridge.drainListenerBus(s.sparkContext)

  /** Totals of one op instance (call after [[drain]]). */
  def acc(group: String): Acc = {
    val js = jobs.values.asScala.toSeq.filter(j => j.group.getOrElse(opAt(j.t0)) == group)
    Acc(js.size, js.map(_.tasks).sum, js.map(_.taskMs).sum,
      js.map(_.shuffleWriteBytes).sum, js.map(_.recordsRead).sum,
      js.filter(_.t1 >= 0).map(j => (j.t0, j.t1)))
  }
}

object Collector {
  /** One op instance's totals. */
  final case class Acc(jobs: Int, tasks: Long, taskMs: Long, shuffleWriteBytes: Long,
      recordsRead: Long, jobSpans: Seq[(Long, Long)])

  /** Total length of the union of `[t0, t1]` intervals. */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else if (b > curE) curE = b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
