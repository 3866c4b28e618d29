package graft.analytics

import graft.{PlanAudit, SparkSpec}

/** Plan audits for the factor pipelines: the scaladocs claim every
  * rolling factor shares ONE stock-keyed exchange (and the alpha
  * pipeline one more per cross-sectional axis flip) — pin it so a
  * refactor cannot silently introduce per-factor shuffles. */
class FactorPlanSpec extends SparkSpec {

  // through the cache: the derive pins bound the whole pipeline's
  // shuffles, the cached panel's own stock exchange included
  private def exchanges(df: org.apache.spark.sql.DataFrame): Seq[String] =
    PlanAudit.finalPlan(df, throughCache = true)
      .linesIterator
      .filter(l => l.contains("Exchange ") && !l.contains("ReusedExchange"))
      .toSeq

  test("technical DERIVE: one stock-hash exchange feeds all 21 windows") {
    // the mart BUILD's plan shape (entries now read the mart — their
    // pin is below): every rolling factor shares one stock shuffle
    val ex = exchanges(graft.factors.Technical.compute(
      graft.sources.Quotes.panel(spark, "/root/testdata/sf0.001")))
    val dataEx = ex.filterNot(_.contains("SinglePartition"))
    assert(dataEx.count(_.contains("hashpartitioning(stock")) <= 1, ex.mkString("\n"))
  }

  test("ema DERIVE: exactly one exchange for all recursive chains") {
    val ex = exchanges(graft.factors.EmaFamily.compute(
      graft.sources.Quotes.panel(spark, "/root/testdata/sf0.001")))
    val dataEx = ex.filter(_.contains("hashpartitioning(stock"))
    assert(dataEx.size <= 1, ex.mkString("\n"))
  }

  test("momentum DERIVE: one stock-hash exchange") {
    val ex = exchanges(graft.factors.Momentum.compute(
      graft.sources.Quotes.panel(spark, "/root/testdata/sf0.001")))
    assert(ex.count(_.contains("hashpartitioning(stock")) <= 1, ex.mkString("\n"))
  }

  test("value DERIVE: one stock-hash exchange") {
    // the mart build pays these derive plans (entries read the mart),
    // so the derive-side shape pins must cover every family — q45/q61
    // plan-goldens now pin only the mart READ
    val ex = exchanges(graft.factors.Value.compute(
      graft.sources.Quotes.panel(spark, "/root/testdata/sf0.001")))
    assert(ex.count(_.contains("hashpartitioning(stock")) <= 1, ex.mkString("\n"))
  }

  test("sentiment DERIVE: one stock-hash exchange") {
    val ex = exchanges(FactorQueries.sentimentDerive(spark, "/root/testdata/sf0.001"))
    assert(ex.count(_.contains("hashpartitioning(stock")) <= 1, ex.mkString("\n"))
  }

  test("q40-q45/q61 read their FAMILY MARTS, never re-deriving") {
    val dir = "/root/testdata/sf0.001"
    // first consumer per family triggers the one-time mart build ...
    FactorQueries.primeFactorMarts(spark, dir)
    // ... and every family entry's plan is then a parquet SCAN of its
    // mart — no window cascade, no mapPartitions kernel (q43), no
    // re-derivation (r16 verdict ask #2's plan-golden delta)
    val entries = Seq(
      "q40" -> FactorQueries.technicalTrend,
      "q41" -> FactorQueries.technicalOsc,
      "q42" -> FactorQueries.technicalRisk,
      "q43" -> FactorQueries.emaFamilyEntry,
      "q44" -> FactorQueries.momentumEntry,
      "q45" -> FactorQueries.valueEntry,
      "q61" -> FactorQueries.sentimentFactors)
    entries.foreach { case (name, q) =>
      val plan = q(spark, dir).queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet") && plan.contains("graft_factor_mart"),
        s"$name does not scan a mart:\n${plan.linesIterator.take(25).mkString("\n")}")
      assert(!plan.contains("Window ["),
        s"$name still carries a derive window:\n${plan.linesIterator.take(25).mkString("\n")}")
      assert(!plan.contains("MapPartitions"),
        s"$name still carries a derive kernel:\n${plan.linesIterator.take(25).mkString("\n")}")
    }
  }

  test("screener mask: factor sides broadcast, no residual shuffle joins") {
    val plan = PlanAudit.finalPlan(
      FactorQueries.screenerMask(spark, "/root/testdata/sf0.001"))
    // the factor side is the session-resident factor frame: its one
    // snapshot-filtered join is broadcast (the null-rejecting mask lets
    // Catalyst turn the LEFT join inner; either type is fine, a
    // shuffle is not), and no exchange of any kind remains
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(plan.linesIterator.count(_.contains("BroadcastHashJoin")) == 1, plan)
    assert(!plan.contains("Exchange hashpartitioning") &&
      !plan.contains("Exchange rangepartitioning"), plan)
  }

  test("q56 snapshot: frame reads each mart once, point filter both sides") {
    val dir = "/root/testdata/sf0.001"
    FactorQueries.primeFactorMarts(spark, dir)
    // the frame is built once per (session, dir): its plan reads each
    // of the four family marts exactly once, the technical mart
    // included for both trend and oscillator columns
    val frame = FactorQueries.factorFrame(spark, dir).queryExecution.analyzed
    val scans = frame.collect {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation => l.relation
    }.collect {
      case r: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
        r.location.rootPaths.mkString(",")
    }.filter(_.contains("graft_factor_mart_"))
    Seq("technical", "momentum", "value", "sentiment").foreach { fam =>
      assert(scans.count(_.contains(s"graft_factor_mart_$fam")) == 1, frame)
    }
    assert(scans.size == 4, frame)
    // a request reads the two cached relations, never a mart, and the
    // (stock, day) point filter sits on both sides: LocalSession turns
    // constraint propagation off, so nothing infers it across the join
    val plan = PlanAudit.finalPlan(FactorQueries.factorSnapshot(spark, dir))
    assert(!plan.contains("graft_factor_mart_"), plan)
    val sides = plan.linesIterator.filter(_.contains("InMemoryTableScan")).toSeq
    assert(sides.size == 2, plan)
    sides.foreach { l =>
      assert(l.matches(".*\\(stock#\\d+L? = 7\\).*") && l.matches(".*\\(day#\\d+L? = 40\\).*"), l)
    }
  }

  test("sector equity: one industry exchange feeds agg and window") {
    val plan = PlanAudit.finalPlan(
      FactorQueries.sectorEquityCurve(spark, "/root/testdata/sf0.001"),
      throughCache = true)
    val ex = plan.linesIterator.filter(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange")).toSeq
    // the cached panel's stock exchange + one industry exchange that
    // both the (industry, day) aggregate and the industry window use;
    // anything more is a regression
    assert(ex.size <= 2, ex.mkString("\n"))
    assert(ex.count(_.contains("hashpartitioning(industry")) == 1, ex.mkString("\n"))
  }

  test("q58/q90/q91 read the factor MART, never re-deriving the alpha DAG") {
    val dir = "/root/testdata/sf0.001"
    // first consumer triggers the one-time mart build (derive +
    // year-partitioned sorted parquet write) ...
    FactorQueries.columnDiscovery(spark, dir).collect()
    // ... and every consumer's plan is then a parquet SCAN of the
    // mart — no window cascade, no alpha re-derivation (the r15
    // in-memory cache couldn't column-prune; the mart read can,
    // pinned in FactorMartSpec)
    Seq(FactorQueries.columnDiscovery(spark, dir),
        FactorQueries.alphaAll(spark, dir)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("Scan parquet") && plan.contains("graft_factor_mart"),
        plan.linesIterator.take(30).mkString("\n"))
      // the derive DAG's signature — a per-stock window cascade —
      // must be ABSENT from a mart consumer
      assert(!plan.contains("Window ["), plan.linesIterator.take(30).mkString("\n"))
    }
    // q91 keeps its own melt/rank windows but its source is the mart
    val q91 = FactorQueries.rankIcScan(spark, dir).queryExecution.executedPlan.toString
    assert(q91.contains("Scan parquet") && q91.contains("graft_factor_mart"),
      q91.linesIterator.take(30).mkString("\n"))
  }

  test("alpha mega-DAG: key-phase scheduling holds exchanges at the nesting bound") {
    // 21 exchanges under source order, 8 under key-phase scheduling
    // (PlanOps.keyPhaseOrder) — pin a ceiling so a new alpha or a
    // scheduler regression can't quietly re-alternate the full-frame
    // shuffle. Physical planning only, nothing executes. sf0.01, NOT
    // sf0.001: the persisted-derivation test above caches the
    // sf0.001 compute plan, and the cache manager's fragment
    // substitution rewrites this plan's exchanges mid-tree.
    val panel = graft.sources.Quotes.panel(spark, "/root/testdata/sf0.01")
    val plan = graft.factors.Alpha101.compute(panel)
      .queryExecution.executedPlan.toString
    val ex = plan.linesIterator.count(l =>
      l.contains("Exchange hashpartitioning") && !l.contains("ReusedExchange"))
    assert(ex <= 10, s"alpha plan has $ex keyed exchanges (expected <= 10)")
  }

  test("alpha mega-DAG: batched XS ranks leave O(1) sorts, not one per rank") {
    // Under per-rank WindowExec specs the ~130 distinct cross-
    // sectional rank orderings each cost a full-panel Sort (~160
    // Sort/Window operators, round 9). With MultiRank lowering the
    // plan carries one single-key Sort per phase and a handful of
    // group-pass nodes — pin all three counts so a scheduler or
    // recorder regression can't quietly reintroduce per-rank sorts.
    val panel = graft.sources.Quotes.panel(spark, "/root/testdata/sf0.01")
    val plan = graft.factors.Alpha101.compute(panel)
      .queryExecution.executedPlan.toString
    val sorts = plan.linesIterator.count(_.contains("Sort ["))
    val mr = plan.linesIterator.count(_.contains("MultiRank ["))
    val windows = plan.linesIterator.count(_.contains("Window ["))
    assert(mr >= 2, s"expected MultiRank stages in the alpha plan, got $mr")
    assert(sorts <= 12, s"alpha plan has $sorts sorts (expected O(1) per phase)")
    assert(windows <= 40, s"alpha plan has $windows window ops (expected TS-only)")
  }

  test("alpha mega-DAG: liveness pruning keeps exchanges narrow") {
    // shuffle bytes at scale = rows x summed exchange width; the
    // build-time liveness pass holds the four keyed exchanges to
    // ~600 summed columns (was 2024 when dead intermediates rode
    // every exchange) — pin a ceiling so a pruning regression shows
    val panel = graft.sources.Quotes.panel(spark, "/root/testdata/sf0.01")
    val exec = graft.factors.Alpha101.compute(panel).queryExecution.executedPlan
    val root = exec match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.initialPlan
      case p => p
    }
    val widths = root.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec =>
        e.output.size
    }
    assert(widths.sum <= 800, s"exchange widths ${widths.mkString("+")} = ${widths.sum}")
  }

  test("q125 IVF search: cell pruning bounds the scan, exact recall audited") {
    // the scale contract of the IVF-accelerated flagship search: the
    // probe scan touches roughly nprobe/Ncells of the candidate
    // corpus, never all of it (allowing 2x slack for cell imbalance
    // around fixed centroids), and the pruned top-3 is audited
    // against the exact ranking in the result itself
    val rows = FactorQueries.similaritySearchIvf(spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length == 3, s"expected 3 rows, got ${rows.length}")
    val nScanned = rows.head.getAs[Long]("n_scanned")
    val total = graft.factors.Technical
      .compute(graft.sources.Quotes.panel(spark, "/root/testdata/sf0.001"))
      .filter(org.apache.spark.sql.functions.col("day") < 40)
      .filter(org.apache.spark.sql.functions.col("rsi_14").isNotNull
        && org.apache.spark.sql.functions.col("bias_20").isNotNull
        && org.apache.spark.sql.functions.col("cci_14").isNotNull)
      .count()
    assert(nScanned > 0 && nScanned <= total * 2 * 4 / 16,
      s"scan touched $nScanned of $total candidates (nprobe=4 of 16 cells)")
    val recall = rows.head.getAs[Double]("recall_at_3")
    assert(recall >= 0.0 && recall <= 1.0, s"recall_at_3=$recall")
    // no shuffle anywhere: broadcasts + TakeOrdered only
    val plan = PlanAudit.finalPlan(
      FactorQueries.similaritySearchIvf(spark, "/root/testdata/sf0.001"))
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q151 IVF append: history files byte-identical, probe still pruned") {
    val root = graft.TempDirs.scratch("graft_q151_spec")
    def snapshot(): Map[String, Long] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/store"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
    var gen0 = Map.empty[String, Long]
    val df = FactorQueries.ivfAppendRun(spark, "/root/testdata/sf0.001", root,
      afterBuild = () => gen0 = snapshot())
    val after = snapshot()
    // the append wrote new files ONLY: every generation-0 file is
    // still present at its original size, untouched
    assert(gen0.nonEmpty && after.size > gen0.size)
    gen0.foreach { case (path, size) =>
      assert(after.get(path).contains(size), s"gen-0 file rewritten: $path")
    }
    // and some cell dirs genuinely hold files from both eras
    val newFiles = after.keySet.diff(gen0.keySet)
    def dirOf(p: String) = p.split("/cell=")(1).split("/")(0)
    assert(newFiles.map(dirOf).intersect(gen0.keySet.map(dirOf)).nonEmpty)
    // the probe remains partition-pruned after the append: ≤ nprobe=4
    // cell dirs touched, ≤ 2 files each
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val stores = scans(df.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(stores.nonEmpty, df.queryExecution.executedPlan.toString)
    val files = stores.map(_.metrics("numFiles").value).max
    assert(files > 0 && files <= 8,
      s"probe read $files files — must touch at most nprobe=4 dirs x 2 eras")
    // lossless append: hash-identical to the single-build q136 probe
    val one = FactorQueries.similaritySearchIvfPartitioned(spark, "/root/testdata/sf0.001")
      .collect().map(_.toSeq.toVector).toVector
    assert(df.collect().map(_.toSeq.toVector).toVector == one)
  }

  test("q136 IVF store: probe reads only nprobe of 16 cell partitions") {
    // the physical-pruning contract: the probe-cell literals reach
    // the store scan as PartitionFilters, so file listing touches at
    // most nprobe=4 of the 16 cell directories (one file per cell by
    // the repartition(cell) layout) — 12/16ths of the corpus is zero
    // I/O, not merely filtered rows
    val df = FactorQueries.similaritySearchIvfPartitioned(spark, "/root/testdata/sf0.001")
    df.collect()
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val stores = scans(df.queryExecution.executedPlan)
      .filter(_.partitionFilters.nonEmpty)
    assert(stores.nonEmpty, df.queryExecution.executedPlan.toString)
    val files = stores.map(_.metrics("numFiles").value).max
    assert(files > 0 && files <= 4,
      s"probe scan read $files files — must touch at most nprobe=4 cell partitions")
  }

  test("q129 incremental factors: the day store prunes to the 25-day tail") {
    // the incremental job's scale contract: the scan reads only the
    // trailing window-depth day partitions, never the full history —
    // the partition filter must reach the scan and the file count
    // must equal the tail (one file per day partition by layout)
    val df = FactorQueries.incrementalFactors(spark, "/root/testdata/sf0.001")
    df.collect()
    // descend through AQE wrappers and query stages to the real scan
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    val found = scans(df.queryExecution.executedPlan)
    assert(found.nonEmpty, df.queryExecution.executedPlan.toString)
    val scan = found.head
    assert(scan.partitionFilters.nonEmpty, scan.toString)
    val files = scan.metrics("numFiles").value
    assert(files > 0 && files <= 25,
      s"scan read $files files — the tail is at most 25 day partitions")
  }

  test("alpha materialization restores the session codegen conf") {
    val dir = "/root/testdata/sf0.001"
    // the materialization must leave the SESSION conf untouched
    // (since round 10 it runs stock-default codegen and sets no conf
    // at all — this pins that a future one-shot override can't leak
    // into the session and silently degrade every later query)
    FactorQueries.columnDiscovery(spark, dir).collect()
    assert(spark.conf.get("spark.sql.codegen.wholeStage") === "true")
    assert(spark.conf.get("spark.sql.codegen.factoryMode", "FALLBACK") === "FALLBACK")
  }
}
