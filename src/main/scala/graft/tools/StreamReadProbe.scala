package graft.tools

/** One side of the two-PROCESS reader-during-maintenance test (r19
  * verdict ask #6): `tools/stream_read_race.sh` launches a `write`
  * probe that runs the q167 streamed-mart maintenance against a
  * shared root (pausing briefly after each micro-batch to hold the
  * mid-maintenance window open) and, simultaneously, a `read` probe
  * in its OWN JVM that polls the mart the whole time.
  *
  * The claim under test is the marts' production read contract,
  * which StreamMartSpec pins only in-process (the readable-mid-maintenance case): appends CREATE day
  * partitions and never rewrite history, each batch's partitions
  * land whole (staged files move into place on commit), so a
  * concurrent reader — whatever instant its listing lands — sees
  * some prefix of the append history in which every visible day
  * partition is COMPLETE. The reader asserts exactly that: on every
  * poll, every visible day's row count equals the panel's full count
  * for that day (`TORN` otherwise), and over the run the visible
  * day-set must actually GROW (otherwise the run was skewed and says
  * nothing — the script reruns it).
  *
  * Mode `write`: run the maintenance, print `WRITE done`.
  * Mode `read`: poll until the full day set is visible (or timeout),
  * print `READ polls=N daySets=a/b/c torn=K sawAll=B`; exit 1 on any
  * torn read or on timeout. */
object StreamReadProbe {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: StreamReadProbe <write|read> <root> <sourceDir> [pauseMs|timeoutSec]")
    val (mode, root, dir) = (args(0), args(1), args(2))
    val spark = graft.LocalSession.builder(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    mode match {
      case "write" =>
        val pause = if (args.length > 3) args(3).toLong else 1500L
        graft.analytics.FactorQueries.streamMartProbeRun(spark, dir, root, pause)
        println(s"WRITE done pid=${ProcessHandle.current.pid}")
        spark.stop()

      case "read" =>
        val timeoutSec = if (args.length > 3) args(3).toLong else 300L
        val deadline = System.nanoTime + timeoutSec * 1000000000L
        // expected per-day row counts from the shared panel
        // derivation — the mart is one row per (stock, day), so a
        // complete day partition counts exactly the panel's day
        val expect = graft.sources.Quotes.panel(spark, dir)
          .groupBy("day").count().collect()
          .map(r => r.getLong(0) -> r.getLong(1)).toMap
        // wait for the writer's historical build (reading a store
        // mid-FIRST-write is not the claim — appends are)
        while (!new java.io.File(s"$root/_PROBE_READY").isFile &&
            System.nanoTime < deadline)
          Thread.sleep(50)
        var polls = 0; var torn = 0; var sawAll = false
        var daySets = Vector.empty[Int]
        while (!sawAll && System.nanoTime < deadline) {
          try {
            // a FRESH read per poll: path-based reads list anew, so
            // each poll is a genuinely new listing snapshot
            val counts = spark.read.parquet(s"$root/mart")
              .groupBy("day").count().collect()
              .map(r => r.getAs[Number]("day").longValue() -> r.getLong(1))
              .toMap
            polls += 1
            counts.foreach { case (d, n) =>
              if (!expect.get(d).contains(n)) {
                torn += 1
                println(s"TORN day=$d read $n expected ${expect.get(d)}")
              }
            }
            if (daySets.lastOption != Some(counts.size)) daySets :+= counts.size
            sawAll = counts.size == expect.size
          } catch { case _: Exception => () } // listing raced dir creation; retry
          Thread.sleep(100)
        }
        println(s"READ pid=${ProcessHandle.current.pid} polls=$polls " +
          s"daySets=${daySets.mkString("/")} torn=$torn sawAll=$sawAll")
        spark.stop()
        if (torn > 0 || !sawAll) sys.exit(1)

      case other =>
        throw new IllegalArgumentException(s"unknown mode $other")
    }
  }
}
