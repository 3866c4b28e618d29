package perfbench

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** One benchmark process: the session, the clock, the timed ops and the
  * facts the output checks need. */
final case class OpInstance(op: String, group: String, wallS: Double, gcS: Double,
    codegenClasses: Long, codegenS: Double, jitS: Double)

final class Run(val s: SparkSession, val args: Args, val trace: Trace,
    val collector: Option[Collector]) {

  val cores: Int = s.sparkContext.defaultParallelism
  var setupS = 0.0
  var attempted = 0
  val opTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val instances = mutable.ArrayBuffer.empty[OpInstance]
  val failures = mutable.ArrayBuffer.empty[(String, String)]
  val facts = mutable.LinkedHashMap.empty[String, Any]
  val layers = mutable.LinkedHashMap.empty[String, Double]
  /** Passes of the workload an op's instances make up, where that is not
    * one pass per instance (research: a round is many requests). */
  val passes = mutable.Map.empty[String, Int]
  val checks = mutable.ArrayBuffer.empty[Json.Raw]
  val requests = mutable.ArrayBuffer.empty[Json.Raw]
  private val counters = mutable.Map.empty[String, Int].withDefaultValue(0)

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Untimed set-up work: counted into `setup_s`. */
  def setup[A](name: String)(body: => A): A = {
    val t0 = System.nanoTime()
    try trace.span(name)(body)
    finally setupS += secondsSince(t0)
  }

  /** One timed op under its own job group. A throwing op is recorded as
    * failed (None) and the run goes on. */
  def op[A](name: String)(body: => A): Option[(A, Double)] = {
    attempted += 1
    counters(name) += 1
    val group = f"$name#${counters(name)}%04d"
    s.sparkContext.setJobGroup(group, name, interruptOnCancel = false)
    val gc0 = Jvm.gcSeconds
    val jit0 = Jvm.jitSeconds
    val (cg0, cgT0) = org.apache.spark.perfbench.SparkBridge.codegen()
    val wall0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try {
      val r = trace.span(name)(body)
      val secs = secondsSince(t0)
      opTimes.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += secs
      Some((r, secs))
    } catch {
      case NonFatal(e) =>
        failures += ((name, s"${e.getClass.getName}: ${e.getMessage}"))
        System.err.println(s"perfbench: op $name failed: $e")
        None
    } finally {
      val (cg1, cgT1) = org.apache.spark.perfbench.SparkBridge.codegen()
      instances += OpInstance(name, group, secondsSince(t0), Jvm.gcSeconds - gc0,
        cg1 - cg0, cgT1 - cgT0, Jvm.jitSeconds - jit0)
      s.sparkContext.clearJobGroup()
      collector.foreach(_.opSpan(group, wall0, System.currentTimeMillis()))
    }
  }

  /** Write a result for the output checks (outside any timed window):
    * `name` is the entry whose DuckDB oracle it must match (kind
    * "oracle"), `op` the op that fails if it does not. */
  def keep(name: String, op: String, df: DataFrame, kind: String = "oracle"): Unit = {
    val path = s"${args.work}/out/$name"
    df.coalesce(1).write.mode("overwrite").parquet(path)
    checks += Json.obj("kind" -> kind, "name" -> name, "op" -> op, "path" -> path,
      "oracle" -> (if (kind == "oracle") graft.SparkEntry.oracleSql.get(name) else None))
  }

  /** A count the checks compare with the input manifest's `expect` key. */
  def checkCount(name: String, op: String, got: Long, expect: String): Unit =
    checks += Json.obj("kind" -> "count", "name" -> name, "op" -> op,
      "got" -> got, "expect" -> expect)

  def keepRows(name: String, op: String, rows: Array[Row], schema: StructType,
      kind: String = "oracle"): Unit =
    keep(name, op, s.createDataFrame(java.util.Arrays.asList(rows: _*), schema), kind)

  /** Loop `body` until `args.seconds` have passed since `t0`, at least
    * `min` times. */
  def window(min: Int)(body: Int => Unit): Unit = {
    val t0 = System.nanoTime()
    var i = 0
    while (i < min || secondsSince(t0) < args.seconds) { body(i); i += 1 }
  }

  /** Runtime counters of one pass of the workload: each op's totals over
    * its instances, divided by the passes they make up, summed over ops.
    * Spark job-busy time, wall time with no job running (driver-side
    * analysis, planning, codegen and listing), slot utilisation, GC,
    * shuffle writes, tasks, jobs and rows scanned, whole-stage codegen and
    * JIT compilation. */
  def runtimeLayers(c: Collector): Unit = {
    c.drain()
    val perPass = mutable.LinkedHashMap.empty[String, Double].withDefaultValue(0.0)
    instances.groupBy(_.op).foreach { case (op, insts) =>
      val n = passes.getOrElse(op, insts.size).max(1).toDouble
      val accs = insts.map(i => c.acc(i.group))
      val busy = accs.map(a => Collector.unionLength(a.jobSpans) / 1000.0).sum
      val wall = insts.map(_.wallS).sum
      def add(k: String, v: Double): Unit = perPass(k) += v / n
      add("spark.job_busy_s", busy)
      add("spark.plan_gap_s", (wall - busy).max(0.0))
      add("wall_s", wall)
      add("task_s", accs.map(_.taskMs).sum / 1000.0)
      add("spark.gc_s", insts.map(_.gcS).sum)
      add("spark.shuffle_write_mb", accs.map(_.shuffleWriteBytes).sum / 1e6)
      add("spark.tasks", accs.map(_.tasks).sum.toDouble)
      add("spark.jobs", accs.map(_.jobs).sum.toDouble)
      add("spark.scan_rows", accs.map(_.recordsRead).sum.toDouble)
      add("codegen.classes", insts.map(_.codegenClasses).sum.toDouble)
      add("codegen.compile_s", insts.map(_.codegenS).sum)
      add("jit.compile_s", insts.map(_.jitS).sum)
    }
    val wall = perPass.remove("wall_s").getOrElse(0.0)
    val task = perPass.remove("task_s").getOrElse(0.0)
    perPass("spark.slot_util") = if (wall > 0) task / (wall * cores) else 0.0
    layers ++= perPass
  }
}
