package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Plan audit over every driver entry: the final plan text of an
  * executed query and its shuffle/sort/broadcast operator counts, so
  * plan regressions (a new exchange, a lost broadcast) surface as a
  * diff. The signature feeds the golden regression corpus
  * (PlanGoldenSpec + src/test/resources/plan_golden.tsv): a Spark
  * version bump or AQE change that silently reshapes a plan fails a
  * test instead of a future bench. */
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
    * is the lines after it indented deeper than its name. A section's
    * body is the lines after its marker that start with blanks up to
    * the marker's text: a nested adaptive plan prints its markers and
    * bodies without the enclosing tree's prefix, so a later line of
    * the enclosing tree (a sibling join side) can be indented deeper
    * than the marker and still lie outside the section — its prefix
    * carries the enclosing tree's branch marks. */
  private[graft] def finalSections(plan: String, throughCache: Boolean): String = {
    var dropped: String => Boolean = _ => false // inside the cut subtree
    plan.linesIterator.filter { l =>
      val i = l.indexWhere(c => !" :+-".contains(c))
      if (i < 0 || dropped(l)) false
      else {
        val body = l.substring(i)
        val initial = body.startsWith("== Initial Plan ==")
        dropped =
          if (initial) { val pad = " " * i; _.startsWith(pad) }
          else if (!throughCache && body.startsWith("InMemoryTableScan"))
            _.indexWhere(c => !" :+-".contains(c)) > i
          else _ => false
        !initial
      }
    }.mkString("\n")
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
}
