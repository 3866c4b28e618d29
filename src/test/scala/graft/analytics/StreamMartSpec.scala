package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins q167 (streaming factor-mart maintenance): the verdict's done
  * condition is "a green entry with the mart-read hash unchanged
  * after the streamed append" — i.e. the mart assembled by
  * historical-build + three foreachBatch day-appends must be
  * VALUE-IDENTICAL to a scratch full-panel derive, and the append
  * must never rewrite history (q151's generation-append contract,
  * here for the factor plane). */
class StreamMartSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def fam(name: String) = FactorQueries.streamFamily(name)
  private def panel = graft.sources.Quotes.panel(spark, dir)

  /** Collect ordered rows with every double as its raw IEEE-754
    * bits — the one comparison convention for all the bit-identity
    * pins below (one copy: a change here changes every pin alike). */
  private def bits(df: org.apache.spark.sql.DataFrame): Vector[Vector[Any]] =
    df.orderBy("stock", "day")
      .collect().map((r: org.apache.spark.sql.Row) => r.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }.toVector).toVector

  /** Each family's SCRATCH reference: the full-history derive, kept
    * independent of the streamed kernel (the alpha slice is checked
    * against the FULL Alpha101 DAG, not its slice kernel). */
  private val scratchDerive: Map[String,
      org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame] = Map(
    "technical" -> graft.factors.Technical.compute,
    "ema" -> graft.factors.EmaFamily.compute,
    "alpha_slice" -> graft.factors.Alpha101.compute,
    "sentiment" -> FactorQueries.sentimentCompute,
    "alpha_full" -> graft.factors.Alpha101.compute,
    "momentum" -> graft.factors.Momentum.compute,
    "value" -> graft.factors.Value.compute)

  /** The family's mart columns of its scratch derive over `p`, as bits. */
  private def scratchOf(name: String, p: org.apache.spark.sql.DataFrame) =
    bits(scratchDerive(name)(p).select((Seq(col("stock"), col("day")) ++
      fam(name).cols.map(col)): _*))

  // the full-DAG scratch derives over the dir panel are consumed by
  // several tests — pay each once per suite
  private val scratchMemo =
    scala.collection.mutable.Map.empty[String, Vector[Vector[Any]]]
  private def scratch(name: String) =
    scratchMemo.getOrElseUpdate(name, scratchOf(name, panel))

  /** The streamed mart under `root`, raw, through the entries' one
    * mart read. */
  private def martBits(name: String, root: String) =
    bits(FactorQueries.streamMart(spark, root, fam(name).cols, col))

  /** Run `name`'s harness over `p` to completion; returns its root. */
  private def runHarness(name: String, p: org.apache.spark.sql.DataFrame,
      tag: String): String = {
    val root = graft.TempDirs.scratch(s"graft_${name}_$tag")
    FactorQueries.streamHarness(spark, fam(name), p, root)(None)
    root
  }

  /** The dir panel's stream cut and the lowest-id stock that trades
    * through the whole streamed window. */
  private def cutAndStock: (Long, Long) = {
    val maxDay = panel.agg(max("day")).head().getLong(0)
    val stock = panel.groupBy("stock").agg(max("day").as("md"))
      .filter(col("md") === maxDay).agg(min("stock")).head().getLong(0)
    (maxDay - 15, stock)
  }

  /** The dir panel with [[cutAndStock]]'s stock suspended over
    * (cut + from, cut + to]. Returns (gapped panel, cut, that stock). */
  private def gappedPanel(from: Int, to: Int) = {
    val (cut, gapStock) = cutAndStock
    (panel.filter(!(col("stock") === gapStock &&
      col("day") > cut + from && col("day") <= cut + to)), cut, gapStock)
  }

  test("streamed mart equals the scratch full-panel derive, row for row") {
    val streamed = FactorQueries.entries("q167_stream_mart_append")(spark, dir)
      .collect().map(_.toSeq.toVector).toVector
    val expected = graft.factors.Technical.compute(panel)
      .select(col("stock"), col("day"),
        round(col("rsi_14"), 6).as("rsi_14"),
        round(col("bias_20"), 6).as("bias_20"),
        round(col("cci_14"), 6).as("cci_14"))
      .orderBy("stock", "day")
      .collect().map(_.toSeq.toVector).toVector
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("crash after a batch's writes, restart: mart identical to uninterrupted") {
    // foreachBatch is at-least-once — the widest retry window is a
    // death AFTER a batch's store writes land but BEFORE its
    // checkpoint commit. On restart that batch re-executes: the tail
    // read's `day < d1` upper bound keeps its own previous bars append
    // out of the union (without it the batch rows duplicate and the
    // row-frame windows compute corrupted factors that dynamic
    // overwrite then serves), the state read's `day < d1` bound keeps
    // EMA/sentiment from seeding off their own end-day snapshot (every
    // register would advance twice; a sentiment pointer could hold a
    // flat day INSIDE the batch and give early rows a last_flat from
    // their future), and dynamic partition overwrite replaces the
    // batch's own partitions. Every family dies twice — after batch
    // 0 (retried from the historical snapshot) and after mid-stream
    // batch 1 (retried from a streamed one) — and its final mart must
    // equal the scratch derive bit for bit, with one state snapshot
    // per batch end (the retries rewrote theirs, never added one).
    FactorQueries.streamFamilies.foreach { f =>
      val root = graft.TempDirs.scratch(s"graft_${f.name}_retry")
      val start = FactorQueries.streamHarness(spark, f, panel, root)
      start(Some(0L)) // dies after batch 0's writes, before its commit
      start(Some(1L)) // batch 0 retries and commits; batch 1 writes and dies
      start(None)     // batch 1 retries, batch 2 runs
      val got = martBits(f.name, root)
      assert(got.nonEmpty && got == scratch(f.name),
        s"${f.name}: " + got.zip(scratch(f.name)).find { case (a, b) => a != b })
      if (new java.io.File(s"$root/state").isDirectory) {
        val snaps = FactorQueries.dayPartitionFiles(s"$root/state").keys
        assert(snaps.size == 4, s"${f.name}: expected cut + 3 batch snapshots, got $snaps")
      }
    }
  }

  test("q167 under a long suspension: the 20-row frames survive the gap") {
    // bias_20 reaches 19 prior ROWS — on the old fixed 25-day horizon
    // a stock resuming from a 6+ day suspension computed its MA over
    // a truncated frame and silently diverged from the scratch derive
    // (r19 review finding; the adaptive 20-row floor closes it, the
    // same class the r18 ADVICE closed for q168)
    val (gapped, cut, gapStock) = gappedPanel(-20, 12)
    val streamed = martBits("technical", runHarness("technical", gapped, "gap"))
    val expected = scratchOf("technical", gapped)
    assert(streamed.exists(r => r(0) == gapStock &&
      r(1).asInstanceOf[Long] > cut + 12))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  // ---- q168: the EMA family (recursive state — r17 verdict ask #6).
  // Technical factors are exact under a bounded tail by frame
  // containment; EMA registers look back over the ENTIRE history, so
  // q168 seeds each batch from a stored per-stock register snapshot.
  // These pins are the seeding rule's proof obligations.

  test("q168: state-seeded streamed EMA mart is BIT-identical to the scratch recursion") {
    // no rounding on either side: the seed stores raw IEEE-754
    // registers and both paths advance the same EmaState.step, so
    // every streamed double must match the full-history recursion to
    // the last bit — the strongest form of the seeding-rule claim
    val streamed = martBits("ema", runHarness("ema", panel, "spec"))
    val expected = scratch("ema")
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q168 under a per-stock trading suspension: state carries across the gap") {
    // the production axis the aligned fixture can't reach: one stock
    // pauses mid-stream (no bars for 10 days spanning a whole
    // micro-batch) and resumes in the last batch. Two things must
    // hold or bit-identity with the scratch recursion breaks:
    // (1) batch-end snapshots stay TOTAL — the suspended stock's
    // registers ride every snapshot while it is absent (a dEnd-only
    // snapshot would drop it and reset its chains on resume), and
    // (2) the window-input tail supplies its last 8 ROWS, which
    // under the gap span more than 8 calendar days.
    val (gapped, cut, gapStock) = gappedPanel(2, 12)
    val streamed = martBits("ema", runHarness("ema", gapped, "gap"))
    val expected = scratchOf("ema", gapped)
    assert(streamed.nonEmpty && streamed.size == expected.size)
    // the resumed stock really has post-gap streamed rows (else the
    // case is vacuous)
    assert(streamed.exists(r => r(0) == gapStock &&
      r(1).asInstanceOf[Long] > cut + 12))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q168 appends new day/state partitions only; history and old snapshots untouched") {
    val root = graft.TempDirs.scratch("graft_q168_hist")
    def snapshot(sub: String): Map[String, Long] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/$sub"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
    var hist = Map.empty[String, Long]
    var histState = Map.empty[String, Long]
    FactorQueries.streamHarness(spark, fam("ema"), panel, root,
      afterHistorical = () => { hist = snapshot("mart"); histState = snapshot("state") })(None)
    val after = snapshot("mart")
    assert(hist.nonEmpty && after.size > hist.size)
    hist.foreach { case (path, size) =>
      assert(after.get(path).contains(size), s"historical file rewritten: $path")
    }
    // the state store accretes one snapshot per batch; the historical
    // day-`cut` snapshot (the one every retry of batch 0 re-seeds
    // from) is never rewritten
    val stateAfter = snapshot("state")
    assert(histState.nonEmpty && stateAfter.size == histState.size + 3,
      s"expected 3 new snapshots, got ${stateAfter.size - histState.size}")
    histState.foreach { case (path, size) =>
      assert(stateAfter.get(path).contains(size), s"seed snapshot rewritten: $path")
    }
  }

  // ---- q169: the alpha slice (bounded lookbacks + per-day
  // cross-sectional ranks — the tail must be FULL DAYS so the XS
  // ranks see complete cross-sections).

  test("q169: streamed alpha-slice mart is BIT-identical to the full-history DAG") {
    // frame containment (lags ≤ 9 vs a 25-day tail) + cross-section
    // completeness (day-partitioned bars hold every stock's bar for
    // a tail day) make the streamed rows equal the scratch Alpha101
    // run to the last bit — no rounding on either side here
    val streamed = martBits("alpha_slice", runHarness("alpha_slice", panel, "spec"))
    val expected = scratch("alpha_slice")
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q169 under a long suspension: the tail horizon widens instead of truncating") {
    // a stock suspended ~32 days resumes in the last batch: its 9
    // prior rows fall OUTSIDE the base 25-day tail, so a fixed
    // horizon would compute lag(kline, 9) as null (alpha_053) and a
    // truncated ts_rank window (alpha_004) — silently diverging from
    // the full-history derive. The adaptive horizon widens to 100
    // days, full-day reads keep every tail cross-section complete,
    // and the streamed mart still matches the FULL Alpha101 DAG over
    // the gapped panel bit for bit.
    val (gapped, cut, gapStock) = gappedPanel(-20, 12)
    val streamed = martBits("alpha_slice", runHarness("alpha_slice", gapped, "gap"))
    val expected = scratchOf("alpha_slice", gapped)
    assert(streamed.nonEmpty && streamed.size == expected.size)
    // the resumed stock really has post-gap streamed rows
    assert(streamed.exists(r => r(0) == gapStock &&
      r(1).asInstanceOf[Long] > cut + 12))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("young listing: the tail read stays at the base horizon (first-bar exemption)") {
    // a stock that LISTS mid-stream — first bar inside batch 1, no
    // stored history at all — must not widen the tail chasing rows
    // that do not exist: it is exempt via the scaffold-maintained
    // first-bar registry (absent = brand-new). The control with the
    // registry deleted shows the degradation the exemption removes
    // (whole-store read), and the partition filter pins the pruning.
    val (cut, donor) = cutAndStock
    val lister = panel.filter(col("stock") === donor &&
        col("day") > cut + 5 && col("day") <= cut + 10)
      .withColumn("stock", lit(9999L))
    val panel2 = panel.unionByName(lister)
    val root = runHarness("alpha_slice", panel2, "listing")
    // correctness first: bit-identity holds over the listing panel
    // (the newcomer's partial-window values match the scratch DAG)
    val streamed = martBits("alpha_slice", root)
    val expected = scratchOf("alpha_slice", panel2)
    assert(streamed.exists(r => r(0) == 9999L))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
    // replay batch 1's tail decision (d1 = cut+6): prior registry
    // snapshot lacks the newcomer -> exempt -> base horizon holds
    // even though the newcomer has zero prior rows
    val b1 = panel2.filter(col("day") > cut + 5 && col("day") <= cut + 10)
    val d1 = cut + 6
    val (tail, horizon) = FactorQueries.adaptiveDayTailWithHorizon(
      spark, root, b1, d1, minRows = 9)
    assert(horizon.contains(25L), s"expected base horizon, got $horizon")
    // the floor rides the partition column into the scan
    val plan = tail.queryExecution.executedPlan.toString
    assert(plan.contains(s"> ${d1 - 25}"), s"no partition floor in:\n$plan")
    // control: registry gone -> conservative pre-registry behavior
    // (the newcomer's zero rows force the whole-store fallback)
    FactorQueries.retireSnapshots(s"$root/firstbar", keep = 1)
    new java.io.File(s"$root/firstbar").listFiles()
      .foreach(f => if (f.isDirectory) {
        val st = java.nio.file.Files.walk(f.toPath)
        try st.sorted(java.util.Comparator.reverseOrder())
          .forEach(p => { val _ = p.toFile.delete() })
        finally st.close()
      } else assert(f.delete()))
    assert(new java.io.File(s"$root/firstbar").delete())
    val (_, ctlHorizon) = FactorQueries.adaptiveDayTailWithHorizon(
      spark, root, b1, d1, minRows = 9)
    assert(ctlHorizon.isEmpty, s"control should fall to whole store, got $ctlHorizon")
  }

  test("q169 appends new day partitions only; history untouched") {
    val root = graft.TempDirs.scratch("graft_q169_hist")
    def snapshot(): Map[String, Long] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/mart"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
    var hist = Map.empty[String, Long]
    FactorQueries.streamHarness(spark, fam("alpha_slice"), panel, root,
      afterHistorical = () => hist = snapshot())(None)
    val after = snapshot()
    assert(hist.nonEmpty && after.size > hist.size)
    hist.foreach { case (path, size) =>
      assert(after.get(path).contains(size), s"historical file rewritten: $path")
    }
  }

  // ---- q170: the sentiment family (an UNBOUNDED integer day
  // pointer — last_flat — as the state species, merged by greatest()
  // instead of a float recursion).

  test("q170: pointer-seeded streamed sentiment mart equals the scratch derive") {
    val streamed = martBits("sentiment", runHarness("sentiment", panel, "spec"))
    val expected = scratch("sentiment")
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q170 under a suspension: the streak pointer carries across the gap") {
    // a stock limit-up streak interrupted by a suspension: while
    // absent its last_flat pointer must ride the carry-forward
    // snapshots, and on resume the lag-1 close comes from the
    // adaptive 1-row tail (its true previous bar, however old) —
    // a dropped pointer would restart the streak at zero and a
    // day-bounded tail would null the resume-day return
    val (gapped, cut, gapStock) = gappedPanel(-20, 12)
    val streamed = martBits("sentiment", runHarness("sentiment", gapped, "gap"))
    val expected = scratchOf("sentiment", gapped)
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed.exists(r => r(0) == gapStock &&
      r(1).asInstanceOf[Long] > cut + 12))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  // ---- q171: the FULL 101-column alpha mart through the plan-once
  // template (swapLeaf) — the r18 verdict's #1 ask. The pins: the
  // streamed mart equals the scratch full-history DAG bit for bit
  // (template-built historical on an injected panel) and the seed
  // path's mart-prefix historical produces the same bytes (the
  // prefix-exactness claim).

  test("q171: streamed FULL alpha mart is BIT-identical to the full-history DAG") {
    // the injected-panel path: historical built THROUGH the template
    // too, so this case also pins swapLeaf on a second input shape
    // (the bars store read) beyond the batches' union
    val streamed = martBits("alpha_full", runHarness("alpha_full", panel, "spec"))
    assert(streamed.nonEmpty && streamed.size == scratch("alpha_full").size)
    assert(streamed == scratch("alpha_full"),
      streamed.zip(scratch("alpha_full")).find { case (a, b) => a != b }.toString)
  }

  test("q171: the mart-prefix historical equals the template-built historical") {
    // the seed path (the entry's) builds historical partitions from
    // the session alpha mart's day ≤ cut prefix instead of recomputing
    // them — exact because every Alpha101 operator is backward-looking
    // or same-day, so the full-panel derive restricted to the prefix IS
    // the prefix-only compute, byte for byte (same partition rows in
    // the same order through the same window accumulation sequence)
    val run = FactorQueries.runFromSeed(spark, dir, fam("alpha_full"))
    val streamed = martBits("alpha_full", run)
    assert(streamed.nonEmpty && streamed == scratch("alpha_full"),
      streamed.zip(scratch("alpha_full")).find { case (a, b) => a != b }.toString)
  }

  // ---- q172/q173: momentum + value — the last two family rows, both
  // kernel rows of the table (q167's shape; the pins here are the
  // bit-identity gates that would expose any hidden mechanism the
  // "no new mechanism" claim missed).

  test("q172: streamed momentum mart is BIT-identical to the scratch derive") {
    val streamed = martBits("momentum", runHarness("momentum", panel, "spec"))
    val expected = scratch("momentum")
    assert(streamed.nonEmpty && streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q172 under a long suspension: the 60-row windows survive the gap") {
    // roc_60 / pos_60 reach 60 prior ROWS — a resumed stock's rows
    // sit far outside any fixed day horizon, the exact divergence
    // class the adaptive tail exists for
    val (gapped, cut, gapStock) = gappedPanel(-20, 12)
    val streamed = martBits("momentum", runHarness("momentum", gapped, "gap"))
    val expected = scratchOf("momentum", gapped)
    assert(streamed.exists(r => r(0) == gapStock &&
      r(1).asInstanceOf[Long] > cut + 12))
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q173: streamed value mart is BIT-identical to the scratch derive") {
    val streamed = martBits("value", runHarness("value", panel, "spec"))
    val expected = scratch("value")
    assert(streamed.nonEmpty && streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  test("q174: the in-stream fold + retirement never moves a value") {
    // the entry path end-to-end: fragmented store planted on the run
    // copy, compactStreamStore between batches 2 and 3 (in-harness
    // requires prove the fold worked), and the final mart still
    // equals the scratch full-panel derive value for value — layout
    // maintenance is invisible to readers
    val streamed = FactorQueries.entries("q174_stream_maintained_append")(spark, dir)
      .collect().map(_.toSeq.toVector).toVector
    val expected = graft.factors.Technical.compute(panel)
      .select(col("stock"), col("day"),
        round(col("rsi_14"), 6).as("rsi_14"),
        round(col("bias_20"), 6).as("bias_20"),
        round(col("cci_14"), 6).as("cci_14"))
      .orderBy("stock", "day")
      .collect().map(_.toSeq.toVector).toVector
    assert(streamed.nonEmpty && streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
  }

  // ---- deep-history fixtures (r19 verdict ask #1): every driver SF
  // scales ENTITIES, so on those panels (≤ 99 days) the adaptive tail
  // correctly degenerates to the whole store and an UNDERSIZED
  // lookback floor would pass every gate. These panels are deep
  // enough that the horizon rungs must BIND — the tail is a strict
  // subset of the store — while the full-history oracle still holds.

  /** `stocks` entities × `days` days through the SAME Quotes
    * derivation as the driver panels (exact-double arithmetic, so the
    * bit-identity convention carries over unchanged). */
  private def deepPanel(stocks: Int, days: Int) =
    graft.sources.Quotes.derive(
      spark.range(1, stocks + 1).select(col("id").as("stock"))
        .crossJoin(spark.range(1, days + 1).select(col("id").as("day"))))

  test("q171 deep history: the 400-day rung BINDS for the 300-row floor; all 101 columns still match") {
    // 520 days: the 300-row compound-lookback floor skips the 25/100
    // rungs (cannot hold 300 rows) and must settle at 400 — a STRICT
    // subset of the ~505-day store — and the streamed mart must still
    // equal the full-history DAG bit for bit. alpha_048's 250-day
    // correlation chain (reference alpha101_function.md:52) is why
    // the floor is 300; an undersized floor diverges exactly here.
    val panel = deepPanel(stocks = 8, days = 520)
    val root = runHarness("alpha_full", panel, "deep")
    val streamed = martBits("alpha_full", root)
    val expected = scratchOf("alpha_full", panel)
    assert(streamed.nonEmpty && streamed.size == expected.size)
    assert(streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
    // replay batch 0's tail decision: the 400 rung binds...
    val cut = 520 - 15
    val d1 = cut + 1
    val b0 = panel.filter(col("day") > cut && col("day") <= cut + 5)
    val (tail, horizon) = FactorQueries.adaptiveDayTailWithHorizon(
      spark, root, b0, d1, minRows = FactorQueries.alphaFullLookbackRows)
    assert(horizon.contains(400L), s"expected the 400 rung, got $horizon")
    // ...as a partition-filter floor that reaches the scan...
    val plan = tail.queryExecution.executedPlan.toString
    assert(plan.contains(s"> ${d1 - 400}"), s"no partition floor in:\n$plan")
    // ...reading a STRICT subset of the store (399 of ~505+ days)
    val tailDays = tail.select("day").distinct().count()
    val storeDays = spark.read.parquet(s"$root/bars")
      .withColumn("day", col("day").cast("long"))
      .filter(col("day") < d1).select("day").distinct().count()
    assert(tailDays == 399 && storeDays > tailDays,
      s"tail read $tailDays days of a $storeDays-day store")
  }

  test("q172 deep history: the 100-day rung binds for the 64-row floor") {
    // same shape for the bounded-family floor (momentum: roc_60's 60
    // prior rows + slack = 64): the 25 rung cannot hold 64 rows, the
    // 100 rung can — and must be chosen over widening further
    val panel = deepPanel(stocks = 8, days = 220)
    val root = runHarness("momentum", panel, "deep")
    val streamed = martBits("momentum", root)
    val expected = scratchOf("momentum", panel)
    assert(streamed.nonEmpty && streamed == expected,
      streamed.zip(expected).find { case (a, b) => a != b }.toString)
    val cut = 220 - 15
    val d1 = cut + 1
    val b0 = panel.filter(col("day") > cut && col("day") <= cut + 5)
    val (tail, horizon) = FactorQueries.adaptiveDayTailWithHorizon(
      spark, root, b0, d1, minRows = 64)
    assert(horizon.contains(100L), s"expected the 100 rung, got $horizon")
    val tailDays = tail.select("day").distinct().count()
    val storeDays = spark.read.parquet(s"$root/bars")
      .withColumn("day", col("day").cast("long"))
      .filter(col("day") < d1).select("day").distinct().count()
    assert(tailDays == 99 && storeDays > tailDays,
      s"tail read $tailDays days of a $storeDays-day store")
  }

  // ---- retention + compaction for the streamed stores (r18 ask #3):
  // fold fragmented aged day partitions, retire snapshots to the
  // newest k, and prove a mid-stream retirement never breaks seeding.

  test("retention: fold merges a fragmented aged day partition; reads byte-identical") {
    val root = runHarness("technical", panel, "ret_fold")
    def martRows() = bits(spark.read.parquet(s"$root/mart")
      .select(col("stock"), col("day").cast("long").as("day"),
        col("rsi_14"), col("bias_20"), col("cci_14")))
    val before = martRows()
    // fragment the OLDEST day partition: same rows, two files (what
    // retried / multi-task appends accumulate at scale)
    val target = FactorQueries.dayPartitionFiles(s"$root/mart").keys.min
    val pdir = s"$root/mart/day=$target"
    val halves = Seq("a", "b").map(t => s"$root/frag_$t")
    val rows = spark.read.parquet(pdir)
    rows.filter(col("stock") % 2 === 0).coalesce(1).write.parquet(halves(0))
    rows.filter(col("stock") % 2 =!= 0).coalesce(1).write.parquet(halves(1))
    new java.io.File(pdir).listFiles()
      .filter(_.getName.endsWith(".parquet")).foreach(f => assert(f.delete()))
    halves.zipWithIndex.foreach { case (h, i) =>
      val part = new java.io.File(h).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      java.nio.file.Files.move(part.toPath,
        java.nio.file.Paths.get(pdir, s"frag_$i.parquet"))
    }
    val counts = FactorQueries.dayPartitionFiles(s"$root/mart")
    assert(counts(target) == 2)
    assert(martRows() == before) // fragmentation changed layout only
    FactorQueries.foldDayStore(spark, s"$root/mart", atOrBelow = Some(target))
    val after = FactorQueries.dayPartitionFiles(s"$root/mart")
    assert(after(target) == 1, s"fold left ${after(target)} files")
    // untouched partitions keep their exact file counts
    (counts - target).foreach { case (d, n) => assert(after(d) == n) }
    assert(martRows() == before,
      "fold changed mart values") // byte-identical reads
  }

  test("retention: snapshots retire to the newest k; a retried batch still seeds") {
    // the k >= 2 contract live: batch 1 executed-but-uncommitted when
    // the maintenance pass runs; its retry must seed from the
    // SECOND-newest snapshot (day < d1 excludes its own end-day
    // write), so retiring to the newest 2 is safe and the final mart
    // still matches the scratch recursion bit for bit
    val root = graft.TempDirs.scratch("graft_ret_snap")
    val start = FactorQueries.streamHarness(spark, fam("ema"), panel, root)
    start(Some(1L)) // batches 0,1 executed; batch 1 not committed
    val snaps = FactorQueries.dayPartitionFiles(s"$root/state").keys
    assert(snaps.size == 3, s"expected cut + 2 batch snapshots, got $snaps")
    FactorQueries.compactStreamStore(spark, root, keepSnapshots = 2)
    val kept = FactorQueries.dayPartitionFiles(s"$root/state").keys
    assert(kept == snaps.toSeq.sorted.takeRight(2).toSet, s"kept $kept")
    start(None) // batch 1 retries (seeds from the second-newest), batch 2 runs
    assert(martBits("ema", root) == scratch("ema"))
  }

  test("readable mid-maintenance: a pre-append reader sees the OLD complete set, a mid-append reader complete partitions") {
    // the marts claim "readable mid-maintenance" (r18 stretch ask):
    // because the appends only CREATE day partitions (history
    // byte-untouched, pinned below), a reader whose file listing was
    // snapshotted before an append keeps reading the old complete
    // set — its files still exist — and a reader arriving between
    // batches sees only COMPLETE day partitions (each batch's writes
    // land whole before its checkpoint commit; the crash injection
    // stops the stream at exactly that boundary). Old set or new
    // set, never a torn partition.
    val root = graft.TempDirs.scratch("graft_reader")
    val start = FactorQueries.streamHarness(spark, fam("technical"), panel, root)
    // snapshot reader: listing fixed NOW (historical partitions only)
    val preReader = spark.read.parquet(s"$root/mart")
    val histDays = FactorQueries.dayPartitionFiles(s"$root/mart").keySet
    val rowsPerDay = panel.groupBy("day").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    start(Some(1L)) // batches 0,1 fully written; stream stopped mid-run
    // the pre-append reader still reads exactly the old complete set
    val preDays = preReader.groupBy("day").count()
      .collect().map(r => r.getAs[Number]("day").longValue() -> r.getLong(1)).toMap
    assert(preDays.keySet == histDays, s"pre-append reader saw ${preDays.keySet}")
    preDays.foreach { case (d, n) =>
      assert(n == rowsPerDay(d), s"old partition day=$d torn: $n rows") }
    // a mid-append reader sees MORE days, every one of them complete
    val midDays = spark.read.parquet(s"$root/mart").groupBy("day").count()
      .collect().map(r => r.getAs[Number]("day").longValue() -> r.getLong(1)).toMap
    assert(midDays.keySet.size > histDays.size)
    midDays.foreach { case (d, n) =>
      assert(n == rowsPerDay(d), s"mid-append partition day=$d torn: $n rows") }
    start(None) // finish cleanly; final-value identity is pinned above
  }

  test("the append writes NEW day partitions only; history untouched") {
    val root = graft.TempDirs.scratch("graft_q167_spec")
    def snapshot(): Map[String, Long] = {
      val st = java.nio.file.Files.walk(java.nio.file.Paths.get(s"$root/mart"))
      try {
        import scala.jdk.CollectionConverters._
        st.iterator().asScala.filter(_.toString.endsWith(".parquet"))
          .map(p => p.toString -> java.nio.file.Files.size(p)).toMap
      } finally st.close()
    }
    var hist = Map.empty[String, Long]
    FactorQueries.streamHarness(spark, fam("technical"), panel, root,
      afterHistorical = () => hist = snapshot())(None)
    val after = snapshot()
    assert(hist.nonEmpty && after.size > hist.size)
    // every historical file survives at its original size — dynamic
    // partition overwrite touched only the streamed day partitions
    hist.foreach { case (path, size) =>
      assert(after.get(path).contains(size), s"historical file rewritten: $path")
    }
    // and the new files live in day partitions ABOVE the cut only
    val maxDay = panel.agg(max("day")).head().getLong(0)
    val newFiles = after.keySet.diff(hist.keySet)
    assert(newFiles.nonEmpty)
    newFiles.foreach { p =>
      val day = p.split("/day=")(1).split("/")(0).toLong
      assert(day > maxDay - 15, s"append touched a historical partition: $p")
    }
  }
}
