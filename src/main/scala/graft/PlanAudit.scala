package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan audit over every driver entry (builder tooling): executes
  * each query at a tiny SF and prints its shuffle/sort/broadcast
  * operator counts, so plan regressions (a new exchange, a lost
  * broadcast) surface as a diff in one table. The same signature
  * feeds the golden regression corpus (PlanGoldenSpec +
  * src/test/resources/plan_golden.tsv): a Spark version bump or AQE
  * change that silently reshapes a plan fails a test instead of a
  * future bench. */
object PlanAudit {

  /** The FINAL adaptive plan, after execution has fixed AQE's
    * runtime choices. A cached relation (the session-resident quotes
    * panel) prints its own adaptive plan, Final and Initial sections
    * included, under its `InMemoryTableScan`: by default that scan is
    * a leaf, so the text is the query's own plan; `throughCache` keeps
    * each cached relation's final plan in place, for pins that bound
    * a pipeline's shuffles end to end. */
  def finalPlan(df: DataFrame, throughCache: Boolean = false): String = {
    df.collect()
    finalSections(df.queryExecution.executedPlan.toString, throughCache)
  }

  /** Drops every `== Initial Plan ==` section of an adaptive plan's
    * text, at any nesting depth, and — unless `throughCache` — the
    * subtree printed under each `InMemoryTableScan`. A node's subtree
    * is the lines after it indented deeper than its name; a section's
    * body starts at the marker's own indent. */
  private[graft] def finalSections(plan: String, throughCache: Boolean): String = {
    var cut = Int.MaxValue // lines indented this deep or deeper are dropped
    plan.linesIterator
      .map(l => l -> l.indexWhere(c => !" :+-".contains(c)))
      .filter { case (l, i) =>
        if (i < 0 || i >= cut) false
        else {
          val body = l.substring(i)
          cut =
            if (body.startsWith("== Initial Plan ==")) i
            else if (!throughCache && body.startsWith("InMemoryTableScan")) i + 1
            else Int.MaxValue
          cut != i
        }
      }.map(_._1).mkString("\n")
  }

  /** Normalized operator-count signature: exchanges by kind (reused
    * counted separately — a ReusedExchange BECOMING a fresh one is
    * exactly the regression this exists to catch), join strategies,
    * windows, generators, the custom MultiRank node. Counts only —
    * no ids, no per-run table names — so the string is stable across
    * runs at a fixed fixture and session config. */
  def signature(plan: String): String = {
    def n(p: String) = plan.linesIterator.count(l =>
      l.contains(p) && !l.contains("ReusedExchange"))
    Seq(
      "ex" -> n("Exchange hashpartitioning"),
      "range" -> n("Exchange rangepartitioning"),
      "single" -> n("Exchange SinglePartition"),
      "bcast" -> n("BroadcastExchange"),
      "reused" -> plan.linesIterator.count(_.contains("ReusedExchange")),
      "smj" -> n("SortMergeJoin"),
      "bhj" -> n("BroadcastHashJoin"),
      "shj" -> n("ShuffledHashJoin"),
      "bnlj" -> n("BroadcastNestedLoopJoin"),
      "cart" -> n("CartesianProduct"),
      // "Window [" also substring-matches "TsWindow [" — subtract so
      // the two lowerings are separately visible (r20: a TS-shaped
      // Window op that silently stops lowering to TsWindow would
      // otherwise keep an identical signature)
      "win" -> (n("Window [") - n("TsWindow [")),
      "tswin" -> n("TsWindow ["),
      "mrank" -> n("MultiRank ["),
      "gen" -> n("Generate "),
    ).map { case (k, v) => s"$k=$v" }.mkString(" ")
  }

  /** The batch entries the golden corpus covers: every driver entry
    * except the streaming six, whose returned frame is a memory-sink
    * scan (the stateful shape lives in the running query, pinned by
    * StreamOpsSpec parity tests instead). */
  def goldenEntries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    val skip = graft.streaming.StreamQueries.entries.keySet
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot { case (name, _) => skip(name) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = LocalSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try println(f"AUDIT $name%-28s ${signature(finalPlan(fn(spark, sfDir)))}")
      catch {
        case e: Exception => println(s"AUDIT $name FAILED: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
