package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
    inputs: String, work: String, out: String, cores: Int)

/** One benchmark process: `perfbench.Main --workload W --seed N --seconds S
  * --trace 0|1 --inputs DIR --work DIR --out FILE [--cores N]`.
  *
  * Runs the workload once on a local session, then writes a result file
  * (timed ops, set-up time, the facts the output checks need, per-layer
  * counters when traced) that `perfbench/run.py` turns into metrics.
  * `--prepare` is the once-per-build step instead: it renders every
  * research page once, which builds the persisted marts the research
  * workload serves. */
object Main {
  private def parse(argv: Array[String]): (Args, Boolean) = {
    val kv = argv.sliding(2, 1).collect {
      case Array(k, v) if k.startsWith("--") && !v.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    (Args(need("workload"), need("seed").toLong, need("seconds").toDouble,
      kv.getOrElse("trace", "0") == "1", need("inputs"), need("work"), need("out"),
      kv.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors)),
      argv.contains("--prepare"))
  }

  def main(argv: Array[String]): Unit = {
    val (args, prepare) = parse(argv)
    Files.createDirectories(Paths.get(args.work))
    val spark = graft.LocalSession.builder(args.cores.toString)
      .config("spark.sql.warehouse.dir", s"${args.work}/warehouse")
      .config("spark.local.dir", s"${args.work}/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      if (prepare) {
        // render every research page: with SPARK_GRAFT_MART_DIR set this
        // builds the persisted marts the research workload serves
        Workloads.pages.foreach { case (p, _) =>
          graft.SparkEntry.queries(p)(spark, s"${args.inputs}/market").collect()
        }
      } else run(spark, args)
    } finally spark.stop()
  }

  private def run(spark: org.apache.spark.sql.SparkSession, args: Args): Unit = {
    val trace = new Trace(args.trace)
    val collector = if (args.trace) Some(new Collector(spark)) else None
    collector.foreach(_.attach())
    val r = new Run(spark, args, trace, collector)
    // session start counts as set-up: JVM start to a live session
    r.setupS += ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val probe = trace.span(s"workload.${args.workload}") {
      args.workload match {
        case "nightly_etl" => Workloads.nightly(r)
        case "research" => Workloads.research(r)
        case w => sys.error(s"unknown workload $w")
      }
    }
    collector.foreach { c =>
      r.runtimeLayers(c)
      // the workload's spans only: the overhead probe records its own
      Files.writeString(Paths.get(s"${args.work}/spans.json"), trace.json)
      overhead(r, c, probe)
    }
    val result = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "trace" -> args.trace,
      "setup_s" -> r.setupS,
      "ops" -> r.opTimes.map { case (k, v) => k -> v.toSeq },
      "attempted" -> r.attempted,
      "failures" -> r.failures.map { case (op, msg) => Json.obj("op" -> op, "error" -> msg) },
      "requests" -> r.requests, "checks" -> r.checks,
      "facts" -> r.facts, "layers" -> r.layers,
      "peak_rss_mb" -> Jvm.peakRssMb,
      "spans" -> (if (args.trace) Some(s"${args.work}/spans.json") else None))
    Files.writeString(Paths.get(args.out), result.text)
  }

  /** Tracing overhead: the workload's probe unit timed with tracing on,
    * off, off, on (the symmetric order cancels a linear warm-up trend);
    * off means the collector detached and spans not recorded. */
  private def overhead(r: Run, c: Collector, probe: () => Unit): Unit = {
    def timed(on: Boolean): Double = {
      r.trace.enabled = on
      if (on) c.attach() else c.detach()
      val t0 = System.nanoTime()
      r.trace.span("overhead.probe")(probe())
      r.secondsSince(t0)
    }
    c.detach()
    val xs = Seq(true, false, false, true).map(on => on -> timed(on))
    val on = xs.filter(_._1).map(_._2).sum / 2
    val off = xs.filterNot(_._1).map(_._2).sum / 2
    r.layers("trace.overhead_s") = on - off
    r.layers("trace.overhead_frac") = if (off > 0) on / off - 1 else 0.0
  }
}
