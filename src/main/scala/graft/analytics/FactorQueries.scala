package graft.analytics

import graft.TempDirs.deleteRecursively
import graft.factors.{Alpha101, EmaFamily, Momentum, Technical, Value}
import graft.sources.Quotes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Driver entries for the technical factor corpus (Plane B,
  * `database/functions/basic factor_function.md:6-28`): the 21
  * non-recursive factors of [[graft.factors.Technical]] computed over
  * the deterministic [[graft.sources.Quotes]] panel, split into three
  * entries so one formula mismatch doesn't zero the family.
  *
  * Each oracle is `WITH ${Quotes.sqlCte}, ...` — the DuckDB SQL
  * mirrors the Spark expressions association-for-association, and
  * both sides round to 6 decimals, so segment-tree-vs-frame-scan
  * last-ulp divergence on the inexact intermediates (tp = /3.0,
  * stddev, turnover) is absorbed (ADVICE.md round-3 item 3).
  *
  * Scale: one hash shuffle on `stock` feeds every window frame; the
  * plan is a single WindowExec chain over that one exchange.
  */
object FactorQueries {
  private type Q = (SparkSession, String) => DataFrame


  /** Floor-based 6-dp quantization, NOT engine round(): Spark rounds
    * HALF_UP on the shortest decimal repr while DuckDB scales by 1e6
    * first, and factor ratios DO land on exact 7-digit halves (q44's
    * roc_60 hit 0.5046875 at sf0.1; rank-ratio alphas do too — the two
    * engines split the tie). floor(x*1e6 + 0.5)/1e6 is the same
    * correctly-rounded IEEE ops on both engines, so parity is by
    * construction; the factor oracles mirror it textually. */
  private def fr6(c: Column): Column = floor(c * 1e6 + lit(0.5)) / 1e6

  /** [[fr6]] of a column by name, keeping the name. */
  private def r6(name: String): Column = fr6(col(name)).as(name)

  /** The six basic-factor entries (q40–q45) read their FAMILY MARTS
    * (r16 verdict ask #2): the reference materializes the technical/
    * momentum/value/sentiment factor tables
    * (`database/ddl/factor_db_ddl.md:86-132`, sizes at
    * `database/database_schema.md:272-275`) exactly like the alpha
    * wide table — nobody re-derives 21 technical factors per
    * screener query at 100 TB. Each family is computed ONCE per
    * (session, dir) by [[martFrame]] and stored year-partitioned /
    * range-split / (day, stock)-sorted; the entry is a pruned mart
    * SCAN + the 6-dp floor quantization + output sort. Bit-identity
    * mart-vs-derive is pinned per family in FactorMartSpec (parquet
    * stores doubles as raw IEEE-754 bits), so the DuckDB oracles are
    * unchanged. */
  private def familyEntry(ds: MartDataset, cols: Seq[String]): Q = (s, dir) =>
    martFrame(s, dir, ds).select(
      Seq(col("stock"), col("day")) ++ cols.map(r6): _*)
      .orderBy("stock", "day")

  /** q40: trend block — ma / bias / boll / rsi / atr. */
  def technicalTrend: Q = familyEntry(technicalDataset,
    Seq("ma_5", "ma_20", "ma_60", "bias_20", "bias_60",
      "boll_upper", "boll_lower", "rsi_14", "atr_14"))

  /** q41: oscillator block — cci / wr / mfi / vroc / obv_slope /
    * vwap_bias. */
  def technicalOsc: Q = familyEntry(technicalDataset,
    Seq("cci_14", "wr_14", "mfi_14", "vroc_20", "obv_slope_20",
      "vwap_bias_20"))

  /** q42: risk block — psy / ui / amihud / aroon / chop /
    * turnover_std. */
  def technicalRisk: Q = familyEntry(technicalDataset,
    Seq("psy_12", "ui_14", "amihud_20", "aroon_osc_25", "chop_14",
      "turnover_std_20"))

  /** q43: the recursive EMA family — macd / kdj / trix / force /
    * mass via [[graft.factors.EmaFamily]]'s single-pass kernel (the
    * mart build runs it; this entry reads the mart). The oracle
    * replays every chain stepwise with a recursive CTE in the
    * kernel's association order (see the oracle's comment) — the
    * closed-form b^t·cumsum replay it replaces was round-boundary
    * fragile under testdata regeneration. */
  def emaFamilyEntry: Q = familyEntry(emaDataset, EmaFamily.columns)

  /** q44: momentum block — roc / volatility / means / position /
    * acceleration / OLS slope / volume ratio / skew / kurt. */
  def momentumEntry: Q = familyEntry(momentumDataset, Momentum.columns)

  /** q45: value block — size, yields, valuation z-scores. */
  def valueEntry: Q = familyEntry(valueDataset, Value.columns)

  /** q90: the ENTIRE Alpha101 corpus as ONE entry — one DAG on the
    * Spark side, one CTE chain on the DuckDB side. The round-4 gate
    * timed out because 7 batch entries + q58 each rebuilt the whole
    * pipeline on BOTH engines (~8× cost, 861 s of a 988 s bench);
    * a single all-columns entry amortizes every shared intermediate
    * across the corpus (round-4 verdict, What's-wrong #1b/#2).
    * Reads the shared [[alphaFull]] persisted frame — the same
    * derivation q58/q91 consume, computed once per session. */
  def alphaAll: Q = (s, dir) =>
    alphaFull(s, dir).select(
      Seq(col("stock"), col("day")) ++ Alpha101.columns.map(r6): _*)
      .orderBy("stock", "day")

  /** q48: the flagship "History Mirror" similarity search
    * (`app/Quantlib/QuantDB.py:190-205`): weighted-Euclidean top-k
    * over the (rsi_14, bias_20, cci_14) technical vector of a target
    * (stock 7, day 40), searched over all strictly-earlier rows.
    * Target broadcast; TakeOrderedAndProject top-k — no global sort.
    * Ranking is on the ROUNDED distance with (stock, day) tie-break
    * so both engines pick the same 5 rows. */
  def similaritySearch: Q = (s, dir) => {
    val f = Technical.compute(Quotes.panel(s, dir))
      .select(col("stock"), col("day"), col("rsi_14"), col("cci_14"), col("bias_20"))
    val tgt = f.filter(col("stock") === 7 && col("day") === 40)
      .select(col("rsi_14").as("t_rsi"), col("cci_14").as("t_cci"),
        col("bias_20").as("t_bias"))
    val dist = graft.functions.VectorFns.weightedEuclideanCols(Seq(
      (col("rsi_14"), col("t_rsi"), 1.0),
      (col("bias_20"), col("t_bias"), 5.0),
      (col("cci_14"), col("t_cci"), 0.5)))
    f.filter(col("day") < 40)
      .filter(col("rsi_14").isNotNull && col("bias_20").isNotNull
        && col("cci_14").isNotNull)
      .crossJoin(broadcast(tgt))
      .withColumn("dist", round(dist, 6))
      .orderBy(col("dist"), col("stock"), col("day"))
      .limit(5)
      .select("stock", "day", "dist")
  }

  /** q125: the flagship similarity search AT SCALE — q48's weighted-
    * Euclidean "History Mirror" (`QuantDB.py:190-205`) accelerated
    * with the engine's own IVF machinery (the scale path SURVEY
    * §7.3-6 sketches): coarse cells over the (rsi_14, bias_20,
    * cci_14) factor space, a cell-pruned scan (nprobe=4 of 16 cells
    * → ~1/4 of the corpus touched instead of all of it), exact
    * re-rank of the survivors, and a recall@3 audit against the
    * exact q48 ranking so the approximation is measured, not
    * trusted. Cells are the factor vectors of the 16 lowest-id
    * stocks on day 39 used as fixed centroids (k-means would train
    * them in production; assignment/probe/re-rank mechanics — the
    * part under test — are identical, and fixed centroids keep both
    * engines bit-agreed). Assignment = argmin of 6-dp-quantized
    * squared weighted distance (tie → lowest cid), a pure projection
    * against one broadcast centroid row: at 100 TB `cell` is a
    * precomputed partition/bucket key and the probe scan reads
    * nprobe/16 of the corpus — no shuffle anywhere, three broadcasts
    * + TakeOrdered. Output: the pruned top-3 with the scan volume
    * (`n_scanned`, the cost axis) and `recall_at_3` (the quality
    * axis). */
  /** Shared q125/q136 IVF machinery: the checkpointed narrow factor
    * frame, the assignment against the fixed 16-centroid broadcast,
    * and the 1-row query frame (target factors + nprobe=4 probe
    * list). The two entries differ ONLY in how the probe prunes:
    * q125 filters a computed `cell` column (logical pruning), q136
    * reads a `cell`-partitioned store (physical pruning). */
  private final case class IvfParts(f: DataFrame, searched: DataFrame,
                                    assigned: DataFrame, q: DataFrame)
  private def ivfParts(s: SparkSession, dir: String): IvfParts = {
    // the narrow factor frame feeds FOUR branches (centroids, query,
    // pruned scan, exact ground truth); materialize it once instead
    // of re-deriving the technical pipeline per branch. ~35 bytes/row
    // — at 100 TB this frame is the (tiny) index side, and a real
    // deployment persists it as the ANN index anyway.
    val f = Technical.compute(Quotes.panel(s, dir))
      .select(col("stock"), col("day"), col("rsi_14"), col("cci_14"), col("bias_20"))
      .filter(col("rsi_14").isNotNull && col("bias_20").isNotNull
        && col("cci_14").isNotNull)
      .localCheckpoint()
    // centroid set as ONE broadcast row of array<struct>: argmin /
    // sort over it are order-independent, so collect_list's
    // nondeterministic order is harmless (q107's convention)
    val cents = f.filter(col("day") === 39)
      .orderBy("stock").limit(16)
      .agg(collect_list(struct(col("stock").as("cid"), col("rsi_14").as("c_rsi"),
        col("bias_20").as("c_bias"), col("cci_14").as("c_cci"))).as("cs"))
    def d2(rsi: Column, bias: Column, cci: Column, c: Column): Column =
      fr6(pow((rsi - c.getField("c_rsi")) * 1.0, 2)
        + pow((bias - c.getField("c_bias")) * 5.0, 2)
        + pow((cci - c.getField("c_cci")) * 0.5, 2))
    def distCells(rsi: Column, bias: Column, cci: Column): Column =
      transform(col("cs"), c =>
        struct(d2(rsi, bias, cci, c).as("d"), c.getField("cid").as("cid")))
    val searched = f.filter(col("day") < 40)
    val assigned = searched.crossJoin(broadcast(cents))
      .select(col("stock"), col("day"), col("rsi_14"), col("bias_20"), col("cci_14"),
        array_min(distCells(col("rsi_14"), col("bias_20"), col("cci_14")))
          .getField("cid").as("cell"))
    val q = f.filter(col("stock") === 7 && col("day") === 40)
      .crossJoin(broadcast(cents))
      .select(col("rsi_14").as("t_rsi"), col("bias_20").as("t_bias"),
        col("cci_14").as("t_cci"),
        transform(slice(array_sort(
          distCells(col("rsi_14"), col("bias_20"), col("cci_14"))), 1, 4),
          c => c.getField("cid")).as("probe"))
    IvfParts(f, searched, assigned, q)
  }
  private def ivfExactDist: Column =
    graft.functions.VectorFns.weightedEuclideanCols(Seq(
      (col("rsi_14"), col("t_rsi"), 1.0),
      (col("bias_20"), col("t_bias"), 5.0),
      (col("cci_14"), col("t_cci"), 0.5)))
  /** Scan-stats + exact-recall audit + presentation, shared by the
    * two IVF entries (the scan argument is the only difference). */
  private def ivfFinish(scan: DataFrame, p: IvfParts): DataFrame = {
    val stats = scan.agg(count(lit(1)).as("n_scanned"))
    val top3 = scan.orderBy(col("dist"), col("stock"), col("day")).limit(3)
      .withColumn("rn", row_number().over(
        Window.orderBy(col("dist"), col("stock"), col("day"))).cast("long"))
    // exact ground truth = the q48 ranking, top 3
    val exact3 = p.searched.crossJoin(broadcast(
        p.f.filter(col("stock") === 7 && col("day") === 40)
          .select(col("rsi_14").as("t_rsi"), col("bias_20").as("t_bias"),
            col("cci_14").as("t_cci"))))
      .withColumn("dist", round(ivfExactDist, 6))
      .orderBy(col("dist"), col("stock"), col("day")).limit(3)
      .select("stock", "day")
    val recall = top3.select("stock", "day").join(broadcast(exact3), Seq("stock", "day"))
      .agg((count(lit(1)) / 3.0).as("recall_at_3"))
    top3.crossJoin(broadcast(stats)).crossJoin(broadcast(recall))
      .select("rn", "stock", "day", "dist", "n_scanned", "recall_at_3")
      .orderBy("rn")
  }

  def similaritySearchIvf: Q = (s, dir) => {
    val p = ivfParts(s, dir)
    val scan = p.assigned.crossJoin(broadcast(p.q))
      .filter(array_contains(col("probe"), col("cell")))
      .withColumn("dist", round(ivfExactDist, 6))
      .select("stock", "day", "dist")
    ivfFinish(scan, p)
  }

  /** q136: q125's probe against a PHYSICALLY cell-partitioned store —
    * the "at 100 TB `cell` is a partition/bucket key" claim in q125's
    * scaladoc, demonstrated instead of asserted. The assigned factor
    * frame is persisted `partitionBy(cell)` (one file per cell via
    * `repartition(cell)` — this is the one-time index build), and the
    * probe filters the store with the four probe-cell LITERALS, so
    * the pruning happens at the FILE LISTING: PartitionFilters reach
    * the scan and only nprobe of 16 directories are read (pinned in
    * FactorPlanSpec, q129's pattern) — the other 12/16ths of the
    * corpus costs zero I/O, not merely zero CPU. The probe list is
    * the model side of one query — four ids off the 1-row query
    * frame (a fixture scalar, q129's maxDay convention). Results are
    * hash-identical to q125 (same oracle). */
  def similaritySearchIvfPartitioned: Q = (s, dir) => {
    val p = ivfParts(s, dir)
    val root = graft.TempDirs.scratch("graft_ivf_store")
    p.assigned.repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$root/store")
    val store = s.read.parquet(s"$root/store")
    val probeCells = p.q.select(explode(col("probe")).as("cid"))
      .collect().map(_.get(0)).toSeq
    val scan = store.filter(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(p.q))
      .withColumn("dist", round(ivfExactDist, 6))
      .select("stock", "day", "dist")
    ivfFinish(scan, p)
  }

  /** q151 body with an explicit store root (so the plan spec can pin
    * the store layout) and a seam between the two writes (so it can
    * snapshot generation 0 and prove the append left it untouched). */
  private[analytics] def ivfAppendRun(s: SparkSession, dir: String,
      root: String, afterBuild: () => Unit = () => ()): DataFrame = {
    val p = ivfParts(s, dir)
    // index build night 1: history (day < 30) assigned and persisted
    // cell-partitioned — q136's one-time build on a prefix
    p.assigned.filter(col("day") < 30)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("overwrite").parquet(s"$root/store")
    afterBuild()
    // night 2: ONLY the new days are assigned (same broadcast
    // centroid model — an IVF index's centroids are retrained rarely,
    // re-assignment never touches history) and APPENDED partition-
    // wise: each touched cell directory gains one batch-sized file,
    // history files are never rewritten (pinned in FactorPlanSpec)
    p.assigned.filter(col("day") >= 30)
      .repartition(col("cell"))
      .write.partitionBy("cell").mode("append").parquet(s"$root/store")
    val store = s.read.parquet(s"$root/store")
    val probeCells = p.q.select(explode(col("probe")).as("cid"))
      .collect().map(_.get(0)).toSeq
    val scan = store.filter(col("cell").isin(probeCells: _*))
      .crossJoin(broadcast(p.q))
      .withColumn("dist", round(ivfExactDist, 6))
      .select("stock", "day", "dist")
    ivfFinish(scan, p)
  }

  /** q151: INCREMENTAL IVF index maintenance — the vector-side
    * counterpart of q134/q150's generational story: the ANN store is
    * built once from history, and a day's new embeddings are assigned
    * under the same centroid broadcast and appended into the SAME
    * cell-partitioned layout — batch-sized movement, history files
    * byte-identical (pinned), no retrain, no reshuffle. The probe
    * then reads history + appendix through one partition-pruned scan
    * (PartitionFilters still prune to nprobe of 16 directories, now
    * ≤ 2 files each) and is hash-identical to q125/q136 — proof the
    * append is lossless. At 100 TB this is how a vector index tracks
    * a live corpus: nightly appends, centroids retrained on drift
    * (q137's job), partitions compacted on accumulation (q150's). */
  def ivfAppend: Q = (s, dir) =>
    ivfAppendRun(s, dir, graft.TempDirs.scratch("graft_ivf_append"))

  /** q129: INCREMENTAL daily factor maintenance — the production
    * shape of the reference's nightly factor job at 100 TB: the
    * quotes panel lives in a day-partitioned store, and computing
    * "today's" factor rows reads only the trailing window-depth
    * partitions (25 days here for the 14/20-frame trio), never the
    * full history. Row-frame windows make the tail computation exact
    * for the last day: every frame that day d reads is fully inside
    * the 25-day tail (rsi_14 needs 14 closes +1 lag, bias_20 needs
    * 20, cci_14 needs 14). Cost is ∝ window depth × entities,
    * independent of history length; the pruned scan is pinned in
    * FactorPlanSpec (PartitionFilters + file count). maxDay is a
    * fixture scalar (one metadata-cheap aggregate), the same pattern
    * as the stream entries' range splits. The increment recomputes
    * the last 5 days (a catch-up window absorbing restatements); the
    * day filter sits ABOVE the stock-keyed windows, so only the
    * 25-day partition filter reaches the scan — exactly right, since
    * the frames need the tail rows. */
  def incrementalFactors: Q = (s, dir) => {
    val root = graft.TempDirs.scratch("graft_day_store")
    Quotes.panel(s, dir)
      .repartition(col("day")) // one file per day partition
      .write.partitionBy("day").mode("overwrite").parquet(s"$root/panel")
    val stored = s.read.parquet(s"$root/panel")
    // partition-column-only aggregate (metadata-cheap here); at
    // 100 TB read the catalog's partition listing instead of scanning
    val maxDay = stored.agg(max(col("day").cast("long"))).head().getLong(0)
    val f = Technical.compute(
      stored.filter(col("day") > maxDay - 25)
        .withColumn("day", col("day").cast("long")))
    f.filter(col("day") > maxDay - 5)
      .select(col("stock"), col("day"),
        round(col("rsi_14"), 6).as("rsi_14"),
        round(col("bias_20"), 6).as("bias_20"),
        round(col("cci_14"), 6).as("cci_14"))
      .orderBy("stock", "day")
  }

  /** q167–q174: STREAMING factor-mart maintenance — q129's nightly
    * incremental factor job rewired onto q156's foreachBatch pattern,
    * one harness for every family of [[streamFamilies]]. The factor
    * plane's trailing days arrive as micro-batches of bars (three
    * 5-day replay files, oldest-first), and each batch, inside ONE
    * foreachBatch transaction, (1) reads the tail it needs from the
    * day-partitioned BARS store — which already includes every
    * previous batch's append, (2) computes the batch days' factor rows
    * with the family's kernel over tail ∪ batch (seeded from a stored
    * state snapshot where the family's lookback is unbounded), and
    * (3) appends the new day partitions to BOTH stores with dynamic
    * partition overwrite — a foreachBatch retry replaces its own
    * partitions, never duplicates them (q156's idempotence recipe,
    * achieved here by layout instead of by probe). An entry returns
    * the WHOLE mart after the stream drains: historical + streamed
    * days, value-identical to a scratch full-panel derive (pinned per
    * family in StreamMartSpec) — and each oracle replays either the
    * exact per-batch restricted computation (q167) or the full
    * history, so the gate never leans on the containment argument.
    *
    * At 100 TB: a day's bars cost one window-depth partition-pruned
    * tail read + one day-partition write per store; the mart stays
    * readable mid-maintenance (readers list committed partitions),
    * history is never rewritten (q151's generation-append for the
    * factor plane), and the 5-day catch-up window absorbs
    * restatements.
    *
    * SINGLE LIVE RUN (every streamed entry alike): an invocation
    * deletes the PREVIOUS run's store before building its own — at
    * most one run root per family stays on disk — so consume
    * (collect/write) a returned frame before invoking the same entry
    * again; an unconsumed earlier frame would dangle on deleted files
    * (r19 ADVICE 1). Verify and perfbench both consume eagerly. */
  private def streamEntry(name: String, maintained: Boolean = false): Q =
    (s, dir) => {
      val fam = streamFamily(name)
      val run =
        if (!maintained) runFromSeed(s, dir, fam)
        else runFromSeed(s, dir, fam.wrapBatch(maintainedOnBatch(s, _, _)),
          // q174 rides the family's seed under its own run key and
          // plants its fragmented partition on the run copy only
          runKey = Some(s"${name}_ret"),
          afterCopy = root => fragmentOldestDay(s, s"$root/mart"))
      streamMart(s, run, fam.cols, fam.out)
    }

  /** The one streamed mart read: (stock, day) plus `cols`, each
    * through `out`, ordered. The entries project with their family's
    * `out`; the specs read raw values with `col`. */
  private[analytics] def streamMart(s: SparkSession, root: String,
      cols: Seq[String], out: String => Column): DataFrame =
    s.read.parquet(s"$root/mart")
      .select(Seq(col("stock"), col("day").cast("long").as("day")) ++
        cols.map(out): _*)
      .orderBy("stock", "day")

  /** A micro-batch body: (batch, d1, dEnd), the batch's first and last
    * day as [[streamStart]] aggregated them. */
  private[analytics] type BatchFn = (DataFrame, Long, Long) => Unit

  /** What a family's historical build and batch body may read besides
    * the store root: the session, the stream input schema (read on
    * demand — only q171's template keys on it) and, on the seed path
    * only, the source dir (q171 seeds its historical mart from that
    * dir's session alpha mart; an injected panel has none). */
  private[analytics] final case class StreamEnv(s: SparkSession,
      schema: () => org.apache.spark.sql.types.StructType,
      dir: Option[String])

  /** One streamed family: its name (the seed key), the mart's data
    * columns, the entry's per-column output projection, the historical
    * build over `$root/bars` at the cut (the mart, plus the state
    * snapshot where the family keeps one), and the per-batch
    * maintenance. */
  private[analytics] final case class StreamFamily(name: String,
      cols: Seq[String], out: String => Column,
      historical: StreamEnv => (String, Long) => Unit,
      onBatch: StreamEnv => String => BatchFn) {
    /** The same family with every batch body wrapped by `w` (given the
      * store root): q174's in-stream maintenance. */
    def wrapBatch(w: (String, BatchFn) => BatchFn): StreamFamily =
      copy(onBatch = e => root => w(root, onBatch(e)(root)))
  }

  /** The one streamed-family harness over an explicit panel and root:
    * the scaffold stores over `day <= cut` ([[seedStores]]), the
    * family's historical build, the `afterHistorical` hook (specs
    * snapshot the historical files there), and the start function.
    * Each invocation of the returned function runs one
    * `Trigger.AvailableNow` pass against the SAME checkpoint, so the
    * restart-recovery pins can kill a run mid-stream and resume it
    * (q156's harness shape);
    * `failAfterWritesOf` injects a crash AFTER that batch's store
    * writes land but BEFORE its checkpoint commit — the widest
    * at-least-once retry window. Retry/idempotence mechanics (the
    * `day < d1` guards, dynamic partition overwrite) live in each
    * family's batch body — they are operator semantics, not
    * scaffolding. The entries run the same family rows from memoized
    * seeds instead ([[runFromSeed]]). */
  private[analytics] def streamHarness(s: SparkSession, fam: StreamFamily,
      panel: DataFrame, root: String, afterHistorical: () => Unit = () => ())
      : Option[Long] => Unit = {
    val env = StreamEnv(s, () => panel.schema, dir = None)
    val cut = seedStores(s, panel, root)
    fam.historical(env)(root, cut)
    afterHistorical()
    streamStart(s, root, s"$root/in", fam.onBatch(env)(root))
  }

  /** The IMMUTABLE scaffold stores for a panel under `root`: the
    * day-partitioned bars store over `day <= cut`, the first-bar
    * registry's cut snapshot, and the three 5-day replay files.
    * Returns the cut (also recorded in `_SEED.properties` so a seed
    * copy can recover it without re-aggregating the panel). */
  private def seedStores(s: SparkSession, panel: DataFrame,
      root: String): Long = {
    val maxDay = panel.agg(max("day")).head().getLong(0)
    val cut = maxDay - 15
    panel.filter(col("day") <= cut)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$root/bars")
    // FIRST-BAR registry (r18 verdict ask #5): a TOTAL per-stock
    // (stock, fb_day) snapshot, maintained exactly like the q170
    // pointer state — written at the historical cut from the build's
    // own scan, extended per batch with newly listed stocks, day < d1
    // reads as the retry guard. [[adaptiveDayTail]] consults it to
    // EXEMPT stocks whose entire history already sits inside a
    // horizon rung: without it, a panel listing fresh stocks every
    // batch degrades every tail to a whole-store read (the builder
    // comment this ask quoted).
    panel.filter(col("day") <= cut)
      .groupBy("stock").agg(min("day").as("fb_day"))
      .withColumn("day", lit(cut))
      .coalesce(1)
      .write.partitionBy("day").mode("overwrite").parquet(s"$root/firstbar")
    (0 until 3).foreach { i =>
      val b = panel.filter(col("day") > cut + 5 * i && col("day") <= cut + 5 * (i + 1))
      b.coalesce(1).write.parquet(s"$root/in/b$i")
    }
    val props = new java.util.Properties()
    props.setProperty("cut", cut.toString)
    val (fs, rootP) = fsPath(root)
    val out = fs.create(
      new org.apache.hadoop.fs.Path(rootP, "_SEED.properties"), true)
    try props.store(out, "graft stream seed metadata") finally out.close()
    cut
  }

  private[analytics] def seedCut(root: String): Long = {
    val props = new java.util.Properties()
    val (fs, rootP) = fsPath(root)
    val in = fs.open(
      new org.apache.hadoop.fs.Path(rootP, "_SEED.properties"))
    try props.load(in) finally in.close()
    props.getProperty("cut").toLong
  }

  /** Per-batch context handed from [[streamStart]] to the batch body
    * on the SAME thread (r20 optimization): the first-bar prior
    * snapshot the stream already resolved for the registry extension,
    * and the in-run snapshot-day carry — the operators used to re-run
    * the snapshot-day aggregate inside [[adaptiveDayTailWithHorizon]]
    * / [[seedSnapshot]], and at ~0.2-0.3 s per driver-blocking job ×
    * 3 batches × 8 streamed entries the re-reads were pure overhead.
    * Strictly an optimization seam: every reader falls back to its
    * original guarded read when the context is unset (the specs drive
    * the tail helper without the stream) or belongs to another
    * (root, d1), and the context frame is re-executed lazily, so its
    * values are exactly the store reads it replaces. */
  private final case class BatchCtx(root: String, d1: Long,
      priorFb: DataFrame, carry: java.util.HashMap[String, java.lang.Long]) {
    /** r20 ADVICE: the context is only valid for the exact (root, d1)
      * the stream resolved it for — a consumer passing a different
      * store root or day bound must fall back to its direct read,
      * never silently consume another batch's snapshot. */
    def matches(root: String, d1: Long): Boolean =
      this.root == root && this.d1 == d1
  }
  private val batchCtx = new ThreadLocal[Option[BatchCtx]] {
    override def initialValue(): Option[BatchCtx] = None
  }

  /** IN-RUN snapshot-day carry (r21, VERDICT item 2 — per-batch
    * driver-blocking constants): after batch k writes a TOTAL
    * snapshot partition `day=dEnd` to a store, batch k+1's "latest
    * snapshot strictly below d1" IS that day — re-deriving it per
    * batch cost one `agg(max).head()` job per store per batch
    * (registry + state = 2-3 jobs × 3 batches × 8 streamed entries).
    * The carry maps store path → last written snapshot day for ONE
    * streaming pass (created per [[streamStart]] invocation, carried
    * through [[BatchCtx]]); a consumer uses it ONLY when the carried
    * day is strictly below its batch start — a RETRYING batch sees
    * its own crashed write's day ≥ d1 and falls back to the guarded
    * store read, exactly the pre-carry path. Values are identical by
    * construction: the store read would return the same snapshot
    * partition the carry names. */
  private def carriedSnapDay(carry: java.util.HashMap[String, java.lang.Long],
      path: String, d1: Long): Option[Long] =
    Option(carry.get(path)).map(_.longValue).filter(_ < d1)

  /** The maintenance stream over prebuilt stores: replay files from
    * `inDir`, checkpoint + mutable stores under `root`. One
    * `Trigger.AvailableNow` pass per invocation of the returned
    * function against the SAME checkpoint (q156's restart shape). */
  private def streamStart(s: SparkSession, root: String, inDir: String,
      onBatch: BatchFn): Option[Long] => Unit = {
    val schema = s.read.parquet(s"$inDir/b0").schema
    val stream = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(s"$inDir/*")
    (failAfterWritesOf: Option[Long]) => {
      // per-PASS snapshot-day carry (see [[carriedSnapDay]]); a
      // restarted pass starts empty and re-reads the stores
      val carry = new java.util.HashMap[String, java.lang.Long]()
      val q = stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          val mb = batch.agg(min("day"), max("day")).head()
          if (!mb.isNullAt(0)) {
            val (d1, dEnd) = (mb.getLong(0), mb.getLong(1))
            // extend the first-bar registry BEFORE the operator runs
            // (its tail read may consult it): prior snapshot strictly
            // below the batch (a retry must not read its own write),
            // carry-forward union with the batch's new listings,
            // dynamic overwrite of the batch-end partition
            val fbPath = s"$root/firstbar"
            val priorFb = carriedSnapDay(carry, fbPath, d1) match {
              // in-run fast path: the snapshot below this batch is the
              // one the PREVIOUS batch wrote — same partition the
              // guarded read below resolves, minus one agg(max) job
              case Some(sd) =>
                s.read.parquet(fbPath)
                  .withColumn("day", col("day").cast("long"))
                  .filter(col("day") === sd)
                  .select(col("stock"), col("fb_day"))
              case None =>
                val prior = s.read.parquet(fbPath)
                  .withColumn("day", col("day").cast("long"))
                  .filter(col("day") < d1)
                val sdRow = prior.agg(max("day")).head()
                // totality contract (the exemption's soundness in
                // adaptiveDayTail reads "no entry = no stored bars"): a
                // registry over-retired below the retry window must fail
                // loudly here, never shrink silently — seedSnapshot's rule
                require(!sdRow.isNullAt(0),
                  s"first-bar registry has no snapshot below batch start $d1 — " +
                    "retention must keep at least the 2 newest snapshots")
                prior.filter(col("day") === sdRow.getLong(0))
                  .select(col("stock"), col("fb_day"))
            }
            val newFb = batch.groupBy("stock").agg(min("day").as("fb_day"))
              .join(priorFb.select("stock"), Seq("stock"), "left_anti")
            // the registry extension writes day=dEnd only; every read
            // inside onBatch is bounded day < d1 (or pinned to the
            // carried prior day), so it overlaps the operator's own
            // batch work (guide §2.6). The carry records the write
            // ONLY after the join proves it committed — a failed
            // write must leave the next batch on the guarded read.
            withSideWrite(() =>
              priorFb.unionByName(newFb)
                .withColumn("day", lit(dEnd))
                .coalesce(1)
                .write.partitionBy("day").mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .parquet(fbPath)) {
              batchCtx.set(Some(BatchCtx(root, d1, priorFb, carry)))
              try onBatch(batch, d1, dEnd)
              finally batchCtx.remove()
            }
            carry.put(fbPath, dEnd)
          }
          if (failAfterWritesOf.contains(batchId))
            throw new RuntimeException(
              s"injected crash: batch $batchId wrote, not yet committed")
          ()
        }
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        // the injected crash surfaces as a query failure — exactly a
        // driver death between the store writes and the commit
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if failAfterWritesOf.isDefined &&
              (Option(e.getMessage).exists(_.contains("injected crash")) ||
                Option(e.getCause).flatMap(c => Option(c.getMessage))
                  .exists(_.contains("injected crash"))) => ()
      }
    }
  }

  /** Day-partition write shared by every streamed family's stores. */
  private def writeDayPartitions(df: DataFrame, path: String): Unit =
    df.repartition(col("day"))
      .write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)

  /** Guide §2.6 (overlap independent jobs): run `side` — a store
    * write INDEPENDENT of `main` — on its own thread while `main`
    * runs on the calling thread, then join. Used per micro-batch to
    * overlap the bars append (and the registry snapshot) with the
    * mart/state writes: the writes land in DISJOINT directories; the
    * mart frame's tail scan resolved its file index when the tail
    * frame was built, and every tail/state read is bounded `day < d1`
    * while the overlapped writes create only `day >= d1` partitions —
    * a concurrent lister prunes those by partition value and ignores
    * `_temporary` (hidden-path filter), so no reader can observe a
    * half-written overlapped partition. Retry semantics are order-
    * independent for the same reason (a retried batch re-reads the
    * tail at day < d1 and the batch rows from the replay file). On a
    * failure of either side the other is JOINED before propagating —
    * no in-flight writer survives into a caller's cleanup (the
    * copyTree discipline); the original exception type is preserved.
    * Spark job submission is thread-safe and the child thread
    * inherits the job-description local properties. */
  private def withSideWrite(side: () => Unit)(main: => Unit): Unit = {
    val task = new java.util.concurrent.FutureTask[Unit](() => side())
    val th = new Thread(task, "graft-side-write")
    th.setDaemon(true)
    th.start()
    var err: Throwable = null
    try main catch { case t: Throwable => err = t }
    try task.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        if (err == null) err = e.getCause
      case e: InterruptedException =>
        if (err == null) err = e
    }
    if (err != null) throw err
  }

  // ---- streamed-entry SCAFFOLD SEEDS (r18 verdict ask #6) ----
  // Each streamed entry used to rebuild its whole scaffold — bars
  // store, replay files, historical mart/state — in fresh scratch on
  // EVERY run, so the entry walls were mostly store-building, not the
  // maintenance under test (the four r18 entries spent most of their
  // 44 s there). The seeds make the scaffold a session derivation,
  // the mart/cluster precedent: the IMMUTABLE stores are built once
  // per (session, dir, family) and memoized; each entry run COPIES
  // the seed into a fresh run root (the stream MUTATES its stores,
  // so runs never share them) and replays the maintenance on a fresh
  // checkpoint. The entry walls are then the repeat-run cost: copy +
  // 3-batch maintenance + mart read. The replay files are read
  // straight from the BASE seed (read-only for the stream); specs
  // keep driving [[streamHarness]] directly with explicit roots —
  // seeding is an entry concern.
  private def streamSeed(s: SparkSession, dir: String, name: String)(
      build: String => Unit): String =
    graft.Residents.root(s, ("stream-seed", dir, name), s"graft_seed_$name")(build)

  /** Recursive copy, excluding top-level entries in `exclude`.
    * Directories are created in walk order first, then the FILE
    * copies run on a bounded pool (r20 optimization: a seed store is
    * a few hundred small parquet files — day partitions × stores —
    * and every streamed-entry run pays one full copy; the serial walk
    * was measurable against tmpfs). Any copy failure propagates. */
  private def copyTree(src: String, dst: String,
      exclude: Set[String] = Set.empty): Unit = {
    val from = java.nio.file.Paths.get(src)
    val to = java.nio.file.Paths.get(dst)
    val files = Vector.newBuilder[(java.nio.file.Path, java.nio.file.Path)]
    val st = java.nio.file.Files.walk(from)
    try {
      st.forEach { p =>
        val rel = from.relativize(p)
        if (rel.toString.nonEmpty &&
            !exclude.contains(rel.getName(0).toString)) {
          val t = to.resolve(rel.toString)
          if (java.nio.file.Files.isDirectory(p))
            java.nio.file.Files.createDirectories(t)
          else {
            java.nio.file.Files.createDirectories(t.getParent)
            files += ((p, t))
          }
        }
      }
    } finally st.close()
    val fs = files.result()
    if (fs.nonEmpty) {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, fs.size), r => {
          val t = new Thread(r, "graft-seed-copy"); t.setDaemon(true); t
        })
      try {
        val futures = fs.map { case (p, t) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit = {
              java.nio.file.Files.copy(p, t,
                java.nio.file.StandardCopyOption.REPLACE_EXISTING); ()
            }
          })
        }
        try futures.foreach(_.get())
        catch {
          case e: java.util.concurrent.ExecutionException =>
            // a failed copy must not unwind while sibling threads are
            // still writing into dst (a caller cleaning/retrying dst
            // would race them): cancel the rest, drain the pool, then
            // rethrow the ORIGINAL failure type (r20 ADVICE #3)
            futures.foreach(_.cancel(false))
            pool.shutdownNow()
            pool.awaitTermination(60, java.util.concurrent.TimeUnit.SECONDS)
            throw Option(e.getCause).getOrElse(e)
        }
      } finally pool.shutdown()
    }
  }

  /** The shared base seed: bars + first-bar registry + replay files
    * for (session, dir) — identical across families, built once. */
  private def baseStreamSeed(s: SparkSession, dir: String): String =
    streamSeed(s, dir, "base") { r =>
      seedStores(s, Quotes.panel(s, dir), r); ()
    }

  /** A family's seed: the base stores plus its historical mart (and
    * state snapshot, where the family keeps one). */
  private def familyStreamSeed(s: SparkSession, dir: String, family: String,
      buildHistorical: (String, Long) => Unit): String =
    streamSeed(s, dir, family) { r =>
      copyTree(baseStreamSeed(s, dir), r, exclude = Set("in"))
      buildHistorical(r, seedCut(r))
    }

  /** Run one streamed-maintenance pass from a family seed: copy the
    * seed into a fresh run root, stream the base seed's replay files
    * against a fresh checkpoint, return the run root for the mart
    * read. The memoized seed makes a repeat run cost copy +
    * maintenance only. At most ONE run root per (session, dir,
    * run key) stays on disk: a new run forgets its predecessor's
    * resident entry first, which deletes that root — /dev/shm must not
    * accumulate a full store copy per invocation (r19 review finding).
    * `runKey` (default: the family name) separates entries SHARING a
    * family seed (q174 rides the technical seed) so one entry's rerun
    * never deletes the other's still-live run root; `afterCopy`
    * mutates the RUN copy before the stream starts (the immutable
    * seed stays pristine). Contract: a returned frame is consumed
    * before the same entry runs again (Verify and perfbench both do). */
  private[analytics] def runFromSeed(s: SparkSession, dir: String,
      fam: StreamFamily, runKey: Option[String] = None,
      afterCopy: String => Unit = _ => ()): String = {
    val env = StreamEnv(s, () => baseInSchema(s, dir), Some(dir))
    val onBatch = fam.onBatch(env)
    val seed = familyStreamSeed(s, dir, fam.name, fam.historical(env))
    val key = runKey.getOrElse(fam.name)
    graft.Residents.forget(s, ("stream-run", dir, key))
    graft.Residents.root(s, ("stream-run", dir, key), s"graft_srun_$key") { run =>
      copyTree(seed, run)
      afterCopy(run)
      streamStart(s, run, s"${baseStreamSeed(s, dir)}/in", onBatch(run))(None)
    }
  }

  /** The stream input schema for (session, dir): the base seed's
    * first replay file — what the micro-batches will carry. */
  private def baseInSchema(s: SparkSession,
      dir: String): org.apache.spark.sql.types.StructType =
    s.read.parquet(s"${baseStreamSeed(s, dir)}/in/b0").schema

  /** The streamed families, one row each; the registry's q167–q174
    * entries, the seeds, the harness, the persistent store,
    * StreamMartSpec and CrossProcessSpec all read them from here.
    * Bounded-lookback families are kernel rows ([[kernelFamily]]);
    * EMA, sentiment and the full alpha mart keep their own bodies.
    * Lazy: object init must not capture a val declared below it. */
  private[analytics] lazy val streamFamilies: Seq[StreamFamily] = Seq(
    // q167: rsi/bias/cci through the tail-restricted Technical DAG
    // (q129's); 20-row floor = bias_20's MA, the deepest of the three.
    // Engine round(…, 6), not fr6: the q167/q174 oracle replays q129's
    // chain, which rounds with round()
    kernelFamily("technical", Technical.compute,
      Seq("rsi_14", "bias_20", "cci_14"), minRows = 20,
      out = c => round(col(c), 6).as(c)),
    StreamFamily("ema", EmaFamily.columns, r6,
      e => emaHistorical(e.s), e => emaOnBatch(e.s)),
    // q169: 9-row floor = alpha_053's lag 9
    kernelFamily("alpha_slice", Alpha101.computeStreamSlice,
      streamAlphaSlice, minRows = 9),
    StreamFamily("sentiment", sentimentCols, col,
      e => sentimentHistorical(e.s), e => sentimentOnBatch(e.s)),
    StreamFamily("alpha_full", Alpha101.columns, r6,
      alphaFullHistorical, alphaFullOnBatch),
    // q172/q173: 64-row floor = roc_60's lag / the 60-row z-scores
    kernelFamily("momentum", Momentum.compute, Momentum.columns, minRows = 64),
    kernelFamily("value", Value.compute, Value.columns, minRows = 64))

  private[analytics] def streamFamily(name: String): StreamFamily =
    streamFamilies.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown streamed family $name"))

  // ---- PERSISTENT streamed store (r19 verdict ask #8, stretch):
  // the entries run from session-scratch seeds, but the nightly
  // production story is ONE store — bars + mart + first-bar registry
  // + checkpoint — living across sessions: built once, validated by
  // manifest on reuse (the factor-mart gate, applied to the stream
  // plane), appended by each night's AvailableNow pass on the SAME
  // checkpoint, and maintained (fold + snapshot retirement) between
  // appends. [[streamStoreNight]] is one such night; CrossProcessSpec
  // runs night 0 in a child JVM and night 1 in the test JVM.

  private val streamManifestName = "_GRAFT_STREAM_MANIFEST.properties"

  private[analytics] def streamStorePathFor(root: String, d: String): String = {
    val name = new org.apache.hadoop.fs.Path(d).getName
    s"$root/stream-technical-$name-${md5Hex(canonicalSource(d)).take(8)}"
  }

  /** The streamed technical mart's stored field list — data columns
    * then the `day` partition column, as parquet inference returns
    * them. The manifest's code-change axis, mirroring martValid's
    * `cols` check: a column added/removed/renamed in the streamed
    * pipeline invalidates the store with no version bump needed. */
  private def streamTechnicalCols =
    ("stock" +: streamFamily("technical").cols) :+ "day"

  /** The streamed store's identity axes — what its manifest must
    * match for reuse. `kind` plays the mart gate's `dataset` role;
    * `version` borrows the technical MartDataset's (one bump covers
    * both planes when the formulas change). */
  private def streamStoreAxes(d: String): Map[String, String] = Map(
    "kind" -> "stream-technical",
    "version" -> technicalDataset.version,
    "source" -> canonicalSource(d),
    "fingerprint" -> dirFingerprint(d))

  /** True iff the persistent streamed store at `p` is a COMPLETED
    * build for source `d` under the CURRENT technical-factor code —
    * the ONE [[manifestGateValid]] mechanism the factor marts use
    * (r20 review: two hand-rolled copies of the gate had already
    * drifted on the schema/cols axes, the silent-staleness class the
    * gate exists to prevent), with completed-write markers on both
    * mutable stores. Invalid ⇒ the caller rebuilds from scratch. */
  private[analytics] def streamStoreValid(s: SparkSession, p: String,
      d: String): Boolean =
    manifestGateValid(s, s"$p/$streamManifestName",
      markers = Seq(s"$p/mart/_SUCCESS", s"$p/bars/_SUCCESS"),
      dataPath = s"$p/mart",
      expected = streamStoreAxes(d),
      cols = streamTechnicalCols)

  private def writeStreamManifest(s: SparkSession, p: String,
      d: String): Unit =
    writeManifestProps(s"$p/$streamManifestName",
      streamStoreAxes(d) +
        ("schema" -> schemaString(storedSchemaFields(s, s"$p/mart"))),
      "graft persistent streamed-store manifest")

  /** One night on the persistent streamed store under `root` for
    * source `dir`:
    *
    *  - INVALID/ABSENT store → wipe and build: scaffold stores +
    *    historical technical mart + manifest (night 0);
    *  - VALID store → REUSE, no rebuild: [[compactStreamStore]] folds
    *    the aged (day ≤ cut) partitions and retires first-bar
    *    snapshots to 2, off the hot retry/tail window;
    *  - EITHER WAY, one `Trigger.AvailableNow` pass on the store's
    *    OWN persistent checkpoint: unprocessed replay files append
    *    once; a drained checkpoint no-ops — the idempotent nightly
    *    restart, across sessions.
    *
    * Returns whether the store was reused. */
  private[analytics] def streamStoreNight(s: SparkSession, root: String,
      dir: String): Boolean = {
    val p = streamStorePathFor(root, dir)
    val technical = streamFamily("technical")
    val env = StreamEnv(s, () => s.read.parquet(s"$p/in/b0").schema, None)
    val reused = streamStoreValid(s, p, dir)
    if (!reused) {
      val (fs, pp) = fsPath(p)
      if (fs.exists(pp)) fs.delete(pp, true)
      val cut = seedStores(s, Quotes.panel(s, dir), p)
      technical.historical(env)(p, cut)
      writeStreamManifest(s, p, dir)
    } else
      compactStreamStore(s, p, keepSnapshots = 2, foldAtOrBelow = Some(seedCut(p)))
    streamStart(s, p, s"$p/in", technical.onBatch(env)(p))(None)
    reused
  }

  /** q168: STREAMING maintenance of the RECURSIVE factor family —
    * q167's foreachBatch day-append pattern extended to the EMA
    * family (r17 verdict ask #6), whose registers look back over the
    * ENTIRE history: the bounded-tail containment argument that
    * makes q167's technical slice exact does NOT hold for
    * `ewm(adjust=False)` chains, so each batch SEEDS the recursion
    * from a stored per-stock [[graft.factors.EmaFamily.EmaState]]
    * snapshot instead — the production feature-store problem
    * (resuming recursive factors without replaying history, the
    * reference's `factor_ema_daily` nightly job at
    * `factor_db_ddl.md:96-107` scale).
    *
    * Per batch, inside one foreachBatch transaction: (1) read the
    * latest state snapshot STRICTLY BELOW the batch (`day < d1` — a
    * retried batch must never seed from its own previous end-day
    * snapshot), (2) read the bar tail below the batch for the
    * WINDOW inputs only (kdj-rsv's 9-day frame, force-fin's 1-day
    * lag — bounded lookbacks, unlike the recursions), (3) run
    * [[graft.factors.EmaFamily.computeSeeded]] — which advances the
    * SAME `EmaState.step` as the scratch kernel — over tail ∪ batch
    * from the seed, and (4) write the new day partitions to mart +
    * bars AND the batch-end state snapshot, all with dynamic
    * partition overwrite: a retry replaces its own partitions and
    * its own snapshot, idempotent by layout (q167's recipe).
    *
    * SEEDING RULE (the `require` in the harness pins it): a batch
    * seeds from the latest snapshot strictly below it, and that
    * snapshot must cover every STORED BAR below the batch —
    * registers only advance on bars, so a snapshot older than d1-1
    * is still exact across barless days. Exactness is by
    * construction: parquet stores the registers as raw IEEE-754
    * bits, the ring re-sum order is preserved oldest-first, and both
    * paths run one `step` definition — so the streamed mart is
    * BIT-identical to a scratch full-history derive (StreamMartSpec),
    * and the oracle replays the full recursion from day 1 (q43's
    * recursive CTE), never leaning on the seeding argument it
    * verifies.
    *
    * At 100 TB: a day's maintenance costs one 8-row-per-stock
    * pruned tail read, one entity-sized state read (broadcast), and
    * one day-partition write per store — independent of history
    * depth. The scratch alternative replays every bar ever ingested
    * to rebuild the unbounded registers; this is the difference
    * between a nightly job bounded by the day's data and one bounded
    * by the archive. StreamMartSpec's gapped panel pins the two
    * suspension axes: the batch-end snapshot stays TOTAL over known
    * stocks, and the window-input tail is row-depth, not day-depth. */
  private def emaStateCols = Seq(col("stock")) ++ EmaFamily.stateColumns.map(col)
  private def emaFactorCols =
    Seq(col("stock"), col("day")) ++ EmaFamily.columns.map(col)

  private def emaHistorical(s: SparkSession)(root: String, cut: Long): Unit = {
    // historical factors AND the day-`cut` register snapshot in
    // ONE seeded pass (state = None: a from-scratch run that
    // also exposes the state axis); the mart write materializes
    // the persisted frame, the snapshot write reads the cache
    val hist = EmaFamily.computeSeeded(
      s.read.parquet(s"$root/bars").withColumn("day", col("day").cast("long")),
      state = None)
    hist.persist()
    try {
      hist.select(emaFactorCols: _*)
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/mart")
      // the snapshot is entity-sized and TOTAL: each stock's
      // LAST historical state (not just rows landing exactly on
      // day `cut`) — a stock whose bars pause before the cut
      // must still carry registers into the stream, or its EMA
      // chains restart from scratch when it resumes
      val wHist = Window.partitionBy("stock").orderBy(col("day").desc)
      hist.withColumn("rn", row_number().over(wHist))
        .filter(col("rn") === 1)
        .select(emaStateCols: _*)
        .withColumn("day", lit(cut))
        .coalesce(1)
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/state")
    } finally { hist.unpersist(); () }
  }

  private def emaOnBatch(s: SparkSession)(root: String)
      : BatchFn = (batch, d1, dEnd) => {
    // window-input tail: the kernel's lookbacks are ROW frames
    // (kdj-rsv = 9 rows, force-fin lag = 1 row), so under a
    // per-stock trading gap "8 days" ≠ "8 rows" — the adaptive
    // read widens its day horizon (25 → 100 → 400 → whole store)
    // until every batch stock has its 8 prior ROWS inside it,
    // then keeps only those last 8 rows per stock strictly below
    // the batch. A fixed 25-day horizon silently truncated
    // kdj-rsv's 9-row frame for a stock resuming from a
    // suspension longer than ~16 trading days (r18 ADVICE 1 —
    // the exact failure class q169/q170 already route through
    // [[adaptiveDayTail]]); the seedSnapshot require could not
    // catch it because it only sees bars inside the horizon.
    // The `day < d1` bound doubles as the retry guard (a retried
    // batch finds its own append in the bars store).
    val wTail = Window.partitionBy("stock").orderBy(col("day").desc)
    val tail = adaptiveDayTail(s, root, batch, d1, minRows = 8)
      .withColumn("rn", row_number().over(wTail))
      .filter(col("rn") <= 8).drop("rn")
    val st = seedSnapshot(s, root, d1, tail)
    val f = EmaFamily.computeSeeded(tail.unionByName(batch), Some(st),
      fromDay = Some(d1))
    f.persist()
    try {
      withSideWrite(() => writeDayPartitions(batch, s"$root/bars")) {
        writeDayPartitions(f.select(emaFactorCols: _*), s"$root/mart")
        // TOTAL batch-end register snapshot (dEnd-only snapshots
        // would reset a suspended stock's chains on resume and
        // break bit-identity — pinned by the gapped-panel case)
        writeTotalSnapshot(f, st, EmaFamily.stateColumns, dEnd,
          s"$root/state")
      }
    } finally { f.unpersist(); () }
  }

  /** q169: STREAMING maintenance of the ALPHA mart — the third
    * family axis of the maintenance pattern (q167 technical /
    * q168 recursive-EMA / here a BOUNDED-LOOKBACK alpha slice),
    * completing the reference factor plane's nightly loop: its
    * `factor_alphas_daily` wide table (`factor_db_ddl.md:18-31`) is
    * maintained daily exactly like the basic-factor tables.
    *
    * The slice is the seven alphas whose dependency chains are pure
    * per-row math, lags ≤ 9, a 9-row ts_rank, and PER-DAY
    * cross-sectional ranks: alpha_004/012/020/033/042/053/101
    * ([[streamAlphaSlice]]). Per batch (q167's recipe): read a
    * FULL-DAY tail strictly below the batch, run the slice kernel
    * [[graft.factors.Alpha101.computeStreamSlice]] over
    * tail ∪ batch, keep day ≥ d1, append mart + bars day partitions
    * with dynamic overwrite. The slice kernel exists because the
    * FULL 500-column DAG costs ~10 s of Catalyst ANALYSIS per plan
    * and the stream plans 4 times (a flat 41 s entry at every SF);
    * the ~15-column slice plans in milliseconds, and StreamMartSpec
    * pins it BIT-identical to the full [[graft.factors.Alpha101.compute]]
    * DAG so the two definitions cannot drift. Exactness is by frame
    * containment — deepest row lookback 10 (alpha_053's lag 9) —
    * plus CROSS-SECTION completeness: the day-partitioned bars
    * store holds every stock's bar for a tail day, so the per-day
    * ranks see the same cross-section a full-history run sees. The
    * oracle is the FULL-history q90 chain restricted to the slice
    * columns (q168's precedent): a hash match directly proves
    * streamed == scratch with no containment assumption on the
    * oracle side.
    *
    * The tail must be FULL DAYS (cross-sectional ranks need every
    * stock's bar for a day — q168's row-depth fix applies only to
    * per-stock recursions), and the day horizon ADAPTIVELY WIDENS
    * (25 → 100 → 400 → unbounded) until every batch stock has its
    * 9 prior rows inside it: a stock resuming from a suspension
    * longer than the base horizon widens the read instead of
    * silently computing truncated windows (r18 review finding; the
    * gapped-panel StreamMartSpec case pins a 32-day suspension).
    * The common no-suspension case pays one extra per-stock count
    * on the base tail. At 100 TB: one pruned tail read + one
    * day-partition write per store per day, independent of history
    * depth; retry idempotence by layout exactly as q167. */
  private[graft] val streamAlphaSlice: Seq[String] = Seq(
    "alpha_004", "alpha_012", "alpha_020", "alpha_033", "alpha_042",
    "alpha_053", "alpha_101")

  /** FULL-DAY bar tail strictly below the batch with an ADAPTIVELY
    * widening day horizon (25 → 100 → 400 → whole store): widen
    * until every batch stock EITHER has at least `minRows` prior rows
    * inside the horizon — a stock resuming from a suspension longer
    * than the base horizon widens the read instead of silently
    * computing truncated windows — OR is EXEMPT because its entire
    * history already sits inside it (its registered first-bar day is
    * above the horizon floor, or it has no registry entry at all =
    * brand-new listing with no stored bars). The exemption is what
    * keeps the read bounded under churn (r18 verdict ask #5): a
    * panel listing fresh stocks every batch would otherwise degrade
    * every tail to a whole-store scan chasing rows that do not
    * exist. The first-bar registry is scaffold-maintained
    * ([[streamStart]]) and broadcast — entity-sized. A missing /
    * over-retired registry degrades to the conservative pre-registry
    * behavior (widen on short counts alone): correctness never
    * depends on it, only the read bound does. Full days keep
    * cross-sections complete for per-day ranks; the `day < d1` bound
    * is the shared at-least-once retry guard. Counting is a
    * per-stock count on a pruned scan — the no-suspension common
    * case pays one count on the base tail. */
  private def adaptiveDayTail(s: SparkSession, root: String,
      batch: DataFrame, d1: Long, minRows: Int): DataFrame =
    adaptiveDayTailWithHorizon(s, root, batch, d1, minRows)._1

  /** As [[adaptiveDayTail]], exposing the chosen horizon (None =
    * whole store) — the spec pin for the young-listing exemption. */
  private[analytics] def adaptiveDayTailWithHorizon(s: SparkSession,
      root: String, batch: DataFrame, d1: Long, minRows: Int)
      : (DataFrame, Option[Long]) = {
    def tailTo(lower: Option[Long]): DataFrame = {
      val floor = lower.map(v => col("day") > d1 - v).getOrElse(lit(true))
      s.read.parquet(s"$root/bars")
        .filter(floor && col("day") < d1)
        .withColumn("day", col("day").cast("long"))
        .select(batch.schema.fieldNames.map(col): _*)
    }
    // latest first-bar snapshot strictly below the batch (retry
    // guard), if the store has one; inside a stream batch the
    // BatchCtx hands over the snapshot frame [[streamStart]] already
    // resolved for the registry extension (same filter, same files —
    // snapshot retirement keeps ≥ 2, so a mid-stream compaction
    // never deletes the one below the live batch). The context is
    // consumed ONLY when its (root, d1) identity matches this call's
    // arguments (r20 ADVICE #5) — any other combination falls back
    // to the guarded direct read.
    val fb: Option[DataFrame] = batchCtx.get()
      .filter(_.matches(root, d1)).map(_.priorFb).map { pf =>
      Some(pf)
    }.getOrElse {
      val p = s"$root/firstbar"
      val (fs, fbP) = fsPath(p)
      if (!fs.exists(fbP) || !fs.getFileStatus(fbP).isDirectory) None
      else {
        val snaps = s.read.parquet(p)
          .withColumn("day", col("day").cast("long"))
          .filter(col("day") < d1)
        val sd = snaps.agg(max("day")).head()
        if (sd.isNullAt(0)) None
        else Some(snaps.filter(col("day") === sd.getLong(0))
          .select(col("stock"), col("fb_day")))
      }
    }
    val batchStocks = batch.select("stock").distinct()
    def anyShort(t: DataFrame, floorDay: Long): Boolean = {
      val counted = batchStocks.join(
        t.groupBy("stock").agg(count(lit(1)).as("n")), Seq("stock"), "left")
      val subject = fb match {
        case Some(reg) => counted.join(broadcast(reg), Seq("stock"), "left")
          // only stocks with registered history BEYOND the floor can
          // gain rows from widening; everyone else is exempt
          .filter(col("fb_day").isNotNull && col("fb_day") <= floorDay)
        case None => counted
      }
      subject.filter(col("n").isNull || col("n") < minRows)
        .limit(1).count() > 0
    }
    // a rung of H days holds at most H-1 prior rows per stock
    // (day > d1-H && day < d1 spans H-1 days), so rungs that cannot
    // reach minRows are skipped instead of paying a doomed per-stock
    // count (q171's 300-row floor would otherwise waste two counts
    // per batch). The skip is conservative under the first-bar
    // exemption — a batch of ONLY young listings could be satisfied
    // at a skipped rung but reads the first kept one instead; still
    // bounded, never wrong (r19 review note).
    val horizon = Seq(25L, 100L, 400L).filter(_ > minRows).map(Some(_))
      .find(h => !anyShort(tailTo(h), d1 - h.get))
    (tailTo(horizon.getOrElse(None)), horizon.flatten)
  }

  /** Latest state snapshot STRICTLY below the batch, with the shared
    * SEEDING-RULE guard (q168/q170 — one copy, r18 review): the
    * snapshot must cover every STORED BAR below the batch, because
    * state only advances on bars — a snapshot older than d1-1 is
    * still exact across barless days, but a bar NEWER than the
    * snapshot would mean unsnapshotted state steps (every non-empty
    * batch snapshots its end day, so this can only trip on external
    * store surgery — fail loudly, don't corrupt). */
  private def seedSnapshot(s: SparkSession, root: String, d1: Long,
      tail: DataFrame): DataFrame = {
    val path = s"$root/state"
    // in-run carry (r21): the latest snapshot below this batch is the
    // one the PREVIOUS batch's writeTotalSnapshot recorded — reading
    // it directly skips the two driver-blocking agg(max) jobs; the
    // seeding-rule guard holds by construction inside one pass (every
    // stored bar below d1 is at most the previous batch's dEnd, which
    // IS the carried snapshot day). A retry (carried day ≥ d1), a
    // fresh pass, or a spec-driven call falls back to the guarded
    // read below — values identical either way.
    batchCtx.get().filter(_.matches(root, d1))
      .flatMap(c => carriedSnapDay(c.carry, path, d1)) match {
      case Some(sd) =>
        s.read.parquet(path)
          .withColumn("day", col("day").cast("long"))
          .filter(col("day") === sd).drop("day")
      case None =>
        val snaps = s.read.parquet(path)
          .withColumn("day", col("day").cast("long"))
          .filter(col("day") < d1)
        val sd = snaps.agg(max("day")).head().getLong(0)
        val lastBar = tail.agg(max("day")).head()
        require(lastBar.isNullAt(0) || sd >= lastBar.getLong(0),
          s"state snapshot at day $sd misses bars up to ${lastBar.get(0)} " +
            s"below batch start $d1")
        snaps.filter(col("day") === sd).drop("day")
    }
  }

  /** TOTAL batch-end snapshot write (q168/q170 — one copy): each
    * batch stock's LAST state row (a stock halting mid-batch keeps
    * its state) unioned with the PRIOR snapshot's rows for stocks
    * absent from the batch — a suspended stock re-seeds from where
    * it paused when it resumes, never from scratch. `stateCols` are
    * the STORED column names; `f` must expose them alongside
    * (stock, day). Dynamic overwrite keeps a retry rewriting its own
    * snapshot partition only. */
  private def writeTotalSnapshot(f: DataFrame, st: DataFrame,
      stateCols: Seq[String], dEnd: Long, path: String): Unit = {
    val sel = (col("stock") +: stateCols.map(col))
    val wLast = Window.partitionBy("stock").orderBy(col("day").desc)
    val lastPer = f.withColumn("rn", row_number().over(wLast))
      .filter(col("rn") === 1)
      .select(sel: _*)
    val carried = st.join(lastPer.select("stock"), Seq("stock"), "left_anti")
      .select(sel: _*)
    lastPer.unionByName(carried)
      .withColumn("day", lit(dEnd))
      .coalesce(1)
      .write.partitionBy("day").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(path)
    // record the written snapshot day for the NEXT batch's
    // seedSnapshot (in-run carry; no-op outside a stream batch)
    batchCtx.get().foreach(_.carry.put(path, java.lang.Long.valueOf(dEnd)))
  }

  /** q170: STREAMING maintenance of the SENTIMENT mart — the fourth
    * family shape, and a THIRD state species: `limit_up_streak`
    * counts days since the stock's last non-limit-up close, so its
    * `last_flat` lookback is UNBOUNDED like q168's EMA registers —
    * but the state is a single integer DAY POINTER per stock whose
    * merge is `greatest(stored, within-batch)`, not a float
    * recursion. Per batch: an adaptive 1-row tail supplies the lag-1
    * close for the limit flags (row-based, suspension-safe), the
    * within-batch cum window computes the batch-local last flat day,
    * and the stored pointer merges in exactly (no bars exist between
    * the snapshot and the batch — the q168 seeding rule, enforced by
    * the same require). Snapshots stay TOTAL via the q168
    * carry-forward union. Integer arithmetic end-to-end, so streamed
    * == scratch is exact with no float argument at all; the oracle
    * is q61's full-history replay (the direct gate). The remaining
    * two families (momentum / value) are pure bounded-window DAGs —
    * exactly q167's technical shape with no new mechanism.
    *
    * At 100 TB: one 1-row-per-stock pruned tail read, one
    * entity-sized pointer-state read (broadcast), one day-partition
    * write per store per day. */
  private def sentimentCols = Seq("is_limit_up", "is_limit_broken",
    "limit_up_streak", "money_flow_main")
  private def sentimentMartCols =
    Seq(col("stock"), col("day")) ++ sentimentCols.map(col)

  private def sentimentHistorical(s: SparkSession)(root: String,
      cut: Long): Unit = {
    val hist = sentimentCompute(
      s.read.parquet(s"$root/bars").withColumn("day", col("day").cast("long")))
    hist.persist()
    try {
      hist.select(sentimentMartCols: _*)
        .repartition(col("day"))
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/mart")
      // TOTAL pointer snapshot: each stock's last row carries its
      // running last_flat (the cum-window max through its whole
      // history)
      val wHist = Window.partitionBy("stock").orderBy(col("day").desc)
      hist.withColumn("rn", row_number().over(wHist))
        .filter(col("rn") === 1)
        .select(col("stock"), col("last_flat").as("st_last_flat"))
        .withColumn("day", lit(cut))
        .coalesce(1)
        .write.partitionBy("day").mode("overwrite").parquet(s"$root/state")
    } finally { hist.unpersist(); () }
  }

  private def sentimentOnBatch(s: SparkSession)(root: String)
      : BatchFn = (batch, d1, dEnd) => {
    // the limit flags need ONLY the lag-1 close (row-based), so
    // keep just the LAST ROW per stock of the adaptive read —
    // without the truncation every batch would run flags over
    // the whole multi-day horizon and discard them (r18 review;
    // q168's recipe with minRows = 1)
    val wTail = Window.partitionBy("stock").orderBy(col("day").desc)
    val tail = adaptiveDayTail(s, root, batch, d1, minRows = 1)
      .withColumn("rn", row_number().over(wTail))
      .filter(col("rn") <= 1).drop("rn")
    val st = seedSnapshot(s, root, d1, tail)
    val cumB = Window.partitionBy("stock").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val merged = sentimentFlags(tail.unionByName(batch))
      .filter(col("day") >= d1)
      .withColumn("lf_b",
        max(when(col("is_limit_up") === 0, col("day"))).over(cumB))
      .join(broadcast(st), Seq("stock"), "left")
      // merge rule: last flat day ≤ current = max(stored pointer,
      // batch-local max) — exact because no bars exist in
      // (snapshot, d1); greatest skips nulls on either side
      .withColumn("last_flat", greatest(col("lf_b"), col("st_last_flat")))
      .withColumn("limit_up_streak",
        when(col("is_limit_up") === 1,
          col("day") - coalesce(col("last_flat"), lit(0L))).otherwise(0L))
    merged.persist()
    try {
      withSideWrite(() => writeDayPartitions(batch, s"$root/bars")) {
        writeDayPartitions(merged.select(sentimentMartCols: _*), s"$root/mart")
        writeTotalSnapshot(
          merged.withColumn("st_last_flat", col("last_flat")), st,
          Seq("st_last_flat"), dEnd, s"$root/state")
      }
    } finally { merged.unpersist(); () }
  }

  /** The bounded-lookback families — technical (q167), the alpha
    * slice (q169), momentum and value (q172/q173): pure per-stock
    * window DAGs (plus, for the slice, per-day cross-sectional ranks
    * over full days) with no recursion and no pointer state, so ONE
    * kernel row shape serves them: per batch, an adaptive tail sized
    * to the family's compound row depth (`minRows`), the family kernel
    * over tail ∪ batch, keep day ≥ d1, dynamic-overwrite day-partition
    * writes — the `day < d1` tail bound is the at-least-once retry
    * guard (without it a re-executed batch unions its own previous
    * bars append and the row-frame windows compute corrupted factors
    * that dynamic overwrite then serves). The full-history oracles
    * catch any hidden mechanism: momentum's 60-row windows are covered
    * by the 64-row floor with slack, and value's fundamentals
    * (pe/pb/ps/dv_ratio/total_mv) ride the panel columns through the
    * bars store like any price field, no join needed. The tail filter
    * rides the partition column BEFORE the cast so pruning reaches the
    * file listing (q129's pattern).
    *
    * At 100 TB: one ≤ `minRows`-per-stock pruned tail read + one
    * day-partition write per store per day, independent of history
    * depth. */
  private def kernelFamily(name: String, kernel: DataFrame => DataFrame,
      cols: Seq[String], minRows: Int,
      out: String => Column = r6): StreamFamily =
    StreamFamily(name, cols, out,
      e => kernelHistorical(e.s, kernel, cols),
      e => kernelOnBatch(e.s, kernel, cols, minRows))

  private def kernelHistorical(s: SparkSession, kernel: DataFrame => DataFrame,
      cols: Seq[String])(root: String, cut: Long): Unit =
    kernel(s.read.parquet(s"$root/bars")
        .withColumn("day", col("day").cast("long")))
      .select((Seq(col("stock"), col("day")) ++ cols.map(col)): _*)
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$root/mart")

  private def kernelOnBatch(s: SparkSession, kernel: DataFrame => DataFrame,
      cols: Seq[String], minRows: Int)(root: String)
      : BatchFn = (batch, d1, _) => {
    val keyed = Seq(col("stock"), col("day")) ++ cols.map(col)
    val tail = adaptiveDayTail(s, root, batch, d1, minRows)
    val f = kernel(tail.unionByName(batch))
      .filter(col("day") >= d1)
      .select(keyed: _*)
    withSideWrite(() => writeDayPartitions(batch, s"$root/bars")) {
      writeDayPartitions(f, s"$root/mart")
    }
  }

  /** Compound row-lookback bound of the FULL Alpha101 DAG: the
    * deepest stacked window chain, hand-audited over
    * [[graft.factors.Alpha101.compute]]'s stages — alpha_048's
    * corr48 = t(250) over dc1l (lag 1 of a lag 1) reaches 252 prior
    * rows; runners-up alpha_063 (adv180 → sum t(37) → corr 13 →
    * decay 12 = 242) and alpha_032 (corr 230 over c5l = 235). 300
    * adds slack without changing the asymptotic claim: a day's
    * maintenance reads a depth-bounded tail, never the archive. */
  private[graft] val alphaFullLookbackRows = 300

  /** q171: STREAMING maintenance of the FULL 101-column alpha mart
    * (r18 verdict ask #1) — q169's pattern with the slice kernel
    * replaced by the ENTIRE [[graft.factors.Alpha101.compute]] DAG,
    * maintaining the production `factor_alphas_daily` wide table
    * (`factor_db_ddl.md:18-31`) whole, not a 7-alpha proxy.
    *
    * THE PLAN-COUNT STORY (what made this a ranked ask): building the
    * ~500-column DAG costs multiple seconds of per-layer Catalyst
    * analysis, and the maintenance stream would build it 4× per run
    * (historical + 3 micro-batches) — a flat ~40 s of pure planning
    * at every SF. The fix is the ask's own first option: the DAG is
    * analyzed ONCE per stream over an empty all-nullable stand-in
    * leaf, and every consumer — the historical build and each batch —
    * swaps its real input under the same analyzed tree
    * ([[org.apache.spark.sql.graftbridge.PlanBridge.swapLeaf]], which
    * rebinds the leaf's attributes by name under the original
    * exprIds). One plan build, 4 executions; per-batch driver cost is
    * optimization + codegen only, and codegen hits the source-keyed
    * generator cache from the second swap on. StreamMartSpec pins the
    * swapped template bit-identical to a direct compute.
    *
    * Exactness: every Alpha101 operator is backward-looking (trailing
    * row frames, lags) or same-day cross-sectional (pct ranks,
    * industry demeans, scale), so outputs for day ≥ d1 computed over
    * tail ∪ batch equal the full-history values whenever the tail
    * (a) spans [[alphaFullLookbackRows]] prior ROWS per batch stock
    * and (b) holds FULL days (cross-sections complete —
    * [[adaptiveDayTail]] guarantees both, widening per-stock for
    * suspensions). On this panel (≤ 99 days, shallower than the
    * 300-row bound) the adaptive tail correctly degenerates to the
    * whole bars store — the streamed path then trivially equals the
    * scratch derive; at production depth (years of history) the read
    * is bounded by the DAG's compound depth, never the archive. The
    * oracle is the FULL-history q90 chain over all 101 columns — a
    * hash match proves streamed == scratch with no containment
    * assumption on the oracle side.
    *
    * At 100 TB: one ≤ 300-row-per-stock full-day pruned tail read +
    * one day-partition write per store per day — cost ∝ compound
    * window depth × entities, independent of history depth. Retry
    * idempotence by layout exactly as q167/q169 (`day < d1` tail
    * bound + dynamic partition overwrite). */
  private def alphaFullHistorical(e: StreamEnv)(root: String,
      cut: Long): Unit = {
    val hist = e.dir match {
      // seed path: the historical store is a PREFIX RESTRICTION of the
      // session alpha mart (one build per session, already attributed
      // to the mart line): every Alpha101 operator is backward-looking
      // or same-day, so the full-panel derive's rows at day ≤ cut are
      // bit-identical to a compute over the day ≤ cut prefix alone —
      // same partition rows in the same order through the same window
      // accumulation sequence. Rebuilding them through the template
      // would redo ~35 s of the mart's work per seed. The template is
      // still forced into the session cache here, so the seed build
      // absorbs its cost, not the first batch.
      case Some(dir) =>
        alphaFullTemplate(e.s, e.schema())
        alphaFull(e.s, dir).filter(col("day") <= cut)
          .select(alphaFullOutCols: _*)
      // an injected panel has no session mart: the prefix goes through
      // the template (StreamMartSpec pins both shapes)
      case None =>
        val schema = e.schema()
        val bars = e.s.read.parquet(s"$root/bars")
          .withColumn("day", col("day").cast("long"))
          .select(schema.fieldNames.map(col).toSeq: _*)
        org.apache.spark.sql.graftbridge.PlanBridge.swapLeaf(e.s,
          alphaFullTemplate(e.s, schema), bars)
    }
    hist
      .repartition(col("day"))
      .write.partitionBy("day").mode("overwrite").parquet(s"$root/mart")
  }

  private def alphaFullOnBatch(e: StreamEnv): String => BatchFn = {
    val schema = e.schema()
    root => (batch, d1, _) => {
      val tail = adaptiveDayTail(e.s, root, batch, d1,
        minRows = alphaFullLookbackRows)
      val f = org.apache.spark.sql.graftbridge.PlanBridge.swapLeaf(e.s,
          alphaFullTemplate(e.s, schema), tail.unionByName(batch))
        .filter(col("day") >= d1)
      withSideWrite(() => writeDayPartitions(batch, s"$root/bars")) {
        writeDayPartitions(f, s"$root/mart")
      }
    }
  }

  private def alphaFullOutCols =
    Seq(col("stock"), col("day")) ++ Alpha101.columns.map(col)

  /** The plan-once template, a [[graft.Residents]] entry per (session,
    * input schema): the full 101-alpha DAG analyzed over an empty
    * all-nullable stand-in, built exactly once and swapped onto every
    * consumer's input
    * ([[org.apache.spark.sql.graftbridge.PlanBridge.swapLeaf]]).
    * Session-scoped so the entry's repeat runs skip the multi-second
    * build entirely, and released with its session, so a long-lived
    * JVM cycling sessions never retains a ~500-column plan per dead
    * session (r19 verdict ask #5). Keyed on names AND types: a
    * same-named column with a different type in another dir must
    * build its own template, not trip swapLeaf's type require against
    * a stale one (r19 review). */
  private def alphaFullTemplate(s: SparkSession,
      schema: org.apache.spark.sql.types.StructType)
      : org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    graft.Residents(s, ("alpha-template", schema.fields.map(f => f.name -> f.dataType).toSeq)) {
      // r21: cache the OPTIMIZED template, not just the analyzed
      // one — each per-batch swap re-ran the optimizer to fixpoint
      // over the raw ~500-column nested-project DAG (~1 s per
      // micro-batch, × 3 batches × the historical build; the q171
      // entries are driver-constant-bound per the r20 scaling
      // block). Optimizing once over a NON-foldable empty stand-in
      // (LogicalRDD — an empty LocalRelation would collapse under
      // PropagateEmptyRelation) leaves each swap's re-optimization
      // a near-fixpoint pass. The optimizer is semantics-
      // preserving and float arithmetic is never reassociated, so
      // the swapped plan computes bit-identical values — gated by
      // the full DuckDB oracle (q169/q171 hash-exact) and
      // StreamMartSpec's streamed-vs-scratch pins.
      val standIn = org.apache.spark.sql.graftbridge.PlanBridge
        .nonFoldableStandIn(s, org.apache.spark.sql.types.StructType(
          schema.fields.map(_.copy(nullable = true))))
      org.apache.spark.sql.graftbridge.PlanBridge.optimized(
        Alpha101.compute(standIn).select(alphaFullOutCols: _*))
    }

  /** RETENTION + COMPACTION for the streamed stores (r18 verdict ask
    * #3): left alone, a streamed mart/bars store gains one small file
    * and one partition dir per day per append forever, and the
    * q168/q170 state stores gain one entity-sized TOTAL snapshot
    * partition per batch day forever. This is the engine's own
    * q130/q161 maintenance applied to the streaming stores:
    *
    *  - [[foldDayStore]] rewrites every FRAGMENTED day partition
    *    (more than one data file — retries and multi-task appends
    *    accumulate them) to exactly one right-sized file, optionally
    *    only at-or-below an age bound (inclusive) so hot partitions
    *    inside the retry / tail window are never touched. q130's repartition-by-
    *    partition-column recipe, staged through a temp sibling
    *    because Spark (correctly) refuses to overwrite a path it is
    *    reading; dynamic partition overwrite replaces exactly the
    *    folded partitions, values byte-identical (parquet round-trips
    *    raw IEEE-754 bits — the q148 sink proof).
    *
    *  - [[retireSnapshots]] deletes all but the newest `keep` state
    *    snapshot partitions. Every snapshot is TOTAL
    *    ([[writeTotalSnapshot]]), so any single snapshot seeds any
    *    later batch — but `keep` must stay ≥ 2: a batch RETRY seeds
    *    strictly below its own start day (`day < d1`), which is the
    *    second-newest snapshot while the newest is the retrying
    *    batch's own end-day write. [[seedSnapshot]]'s require is the
    *    loud backstop if retention is ever driven below the contract.
    *
    * At 100 TB this is the difference between a store whose file
    * count is ∝ retention policy and one ∝ total history: the nightly
    * job folds yesterday-and-older into one file per partition and
    * keeps a constant handful of entity-sized snapshots. */
  private[analytics] def compactStreamStore(s: SparkSession, root: String,
      keepSnapshots: Int = 2, foldAtOrBelow: Option[Long] = None): Unit = {
    foldDayStore(s, s"$root/mart", foldAtOrBelow)
    foldDayStore(s, s"$root/bars", foldAtOrBelow)
    retireSnapshots(s"$root/state", keepSnapshots)
    retireSnapshots(s"$root/firstbar", keepSnapshots)
  }

  /** FileSystem + Path for a store path. ALL store-maintenance walks
    * and manifest IO route through the Hadoop FileSystem API (r19
    * verdict ask #3): the test medium stays the local FS, but the
    * walks must not assume it — the same store under hdfs:// or
    * s3a:// resolves through the identical calls. Scheme-less paths
    * resolve against the session's Hadoop conf (default file://). */
  private def fsPath(path: String)
      : (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val conf = org.apache.spark.sql.SparkSession.getActiveSession
      .orElse(org.apache.spark.sql.SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration)
      .getOrElse(new org.apache.hadoop.conf.Configuration())
    (p.getFileSystem(conf), p)
  }

  /** Day partitions of `path` with their data-file counts — a
    * driver-side metadata walk, no data reads. */
  private[analytics] def dayPartitionFiles(path: String): Map[Long, Int] = {
    val (fs, p) = fsPath(path)
    if (!fs.exists(p) || !fs.getFileStatus(p).isDirectory) Map.empty
    else fs.listStatus(p).iterator
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
      .map { d =>
        d.getPath.getName.stripPrefix("day=").toLong ->
          fs.listStatus(d.getPath)
            .count(f => f.getPath.getName.endsWith(".parquet"))
      }.toMap
  }

  /** Fold every fragmented (>1 file) day partition of a day-
    * partitioned store to one file, in place; `atOrBelow` bounds the
    * fold to partitions with day ≤ the bound — INCLUSIVE, so callers
    * protecting a hot retry/tail window pass the newest day they want
    * FOLDED, not the first day they want kept (r19 ADVICE 4: the old
    * `below` name read as exclusive). See [[compactStreamStore]]. */
  private[analytics] def foldDayStore(s: SparkSession, path: String,
      atOrBelow: Option[Long] = None): Unit = {
    val frag = dayPartitionFiles(path).collect {
      case (d, files) if files > 1 && atOrBelow.forall(d <= _) => d
    }.toSeq
    if (frag.nonEmpty) {
      val tmp = s"$path.fold-${System.nanoTime}"
      try {
        s.read.parquet(path)
          .filter(col("day").isin(frag: _*))
          .repartition(col("day"))
          .write.partitionBy("day").mode("overwrite").parquet(tmp)
        s.read.parquet(tmp)
          .repartition(col("day"))
          .write.partitionBy("day").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic").parquet(path)
      } finally {
        // FileSystem delete, not nio: the temp sibling lives BESIDE
        // the store, which may be hdfs://s3a:// (r20 review — a nio
        // delete of a remote path is a silent no-op that would leak
        // a full folded copy per nightly run)
        val (fs, t) = fsPath(tmp); fs.delete(t, true); ()
      }
    }
  }

  /** Delete all but the newest `keep` snapshot day-partitions of a
    * state store. See [[compactStreamStore]] for the keep ≥ 2
    * contract. */
  private[analytics] def retireSnapshots(path: String, keep: Int): Unit = {
    require(keep >= 1, "retireSnapshots must keep at least the newest snapshot")
    val (fs, p) = fsPath(path)
    if (fs.exists(p) && fs.getFileStatus(p).isDirectory) {
      fs.listStatus(p).iterator
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("day="))
        .toSeq.sortBy(-_.getPath.getName.stripPrefix("day=").toLong)
        .drop(keep)
        .foreach(d => fs.delete(d.getPath, true))
    }
  }

  /** q174: q167's streamed technical maintenance with the RETENTION
    * MACHINERY RUNNING INSIDE THE STREAM (r19 verdict ask #2) — the
    * r19 spec proved fold/retire in isolation; the production story
    * is the nightly composition, and this entry runs it under the
    * full oracle gate. The run plants a fragmented AGED mart
    * partition on its run copy (two files in the oldest day — the
    * shape retries and multi-task appends accumulate at scale);
    * before the LAST micro-batch, [[compactStreamStore]] folds every
    * aged partition and retires the first-bar snapshots to the
    * newest 2; the final batch then reads the FOLDED store through
    * the same adaptive tail and seeds its registry read from the
    * retired set's newest-below-batch snapshot. In-harness requires
    * fail the entry loudly — and the driver gate records an err — if
    * the fold had nothing to do, left an aged partition fragmented,
    * or touched a hot partition inside the retry/tail window. The
    * oracle is q167's exact per-batch replay, unchanged: layout
    * maintenance must never move a value.
    *
    * At 100 TB this is the claim that matters: fold + retire run
    * BETWEEN appends on the live store (never inside the hot day
    * window), readers stay consistent (the fold stages through a
    * temp sibling; dynamic overwrite swaps whole partitions), and
    * the next append's inputs are the folded files.
    *
    * The wrapper ([[streamEntry]] applies it with `maintained = true`):
    * before the LAST batch (d1 past the second replay window), fold
    * the aged day partitions and retire snapshots, assert the fold
    * provably worked, then run the batch against the folded store.
    * The `maintained` flag keeps an at-least-once RETRY of the last
    * batch idempotent: the rerun's fold is a no-op and must not trip
    * the had-work-to-do require. */
  private def maintainedOnBatch(s: SparkSession, root: String,
      inner: BatchFn): BatchFn = {
    var maintained = false
    (batch, d1, dEnd) => {
      val cut = seedCut(root)
      if (d1 > cut + 10) {
        val before = dayPartitionFiles(s"$root/mart")
        require(maintained || before.exists { case (d, n) => d <= cut && n > 1 },
          "q174 expected a fragmented aged mart partition to fold")
        compactStreamStore(s, root, keepSnapshots = 2,
          foldAtOrBelow = Some(cut))
        val after = dayPartitionFiles(s"$root/mart")
        require(after.forall { case (d, n) => d > cut || n == 1 },
          s"fold left an aged partition fragmented: $after")
        require(after.filter(_._1 > cut) == before.filter(_._1 > cut),
          "fold touched a hot partition inside the retry/tail window")
        val snaps = dayPartitionFiles(s"$root/firstbar").keys
        require(snaps.size <= 2, s"snapshot retirement kept $snaps")
        maintained = true
      }
      inner(batch, d1, dEnd)
    }
  }

  /** Split the OLDEST day partition of a day-partitioned store into
    * two files — planted fragmentation so q174's mid-stream fold
    * provably has work to do. Values untouched: the rows round-trip
    * through a temp sibling (parquet stores doubles as raw IEEE-754
    * bits) and dynamic overwrite replaces exactly that partition. */
  private[analytics] def fragmentOldestDay(s: SparkSession, path: String): Unit = {
    val oldest = dayPartitionFiles(path).keys.min
    val tmp = s"$path.frag-${System.nanoTime}"
    try {
      s.read.parquet(path)
        .filter(col("day") === oldest)
        .write.parquet(tmp)
      s.read.parquet(tmp)
        .repartition(2)
        .write.partitionBy("day").mode("overwrite")
        .option("partitionOverwriteMode", "dynamic").parquet(path)
    } finally {
      // FileSystem delete, not nio — same medium argument as
      // [[foldDayStore]]'s temp sibling
      val (fs, t) = fsPath(tmp); fs.delete(t, true); ()
    }
  }

  /** q49: kline replay around an anchor day
    * (`app/Quantlib/QuantDB.py:207-224`): day-offset re-index in
    * [-10, +20] around day 30 per stock, close normalized to the
    * anchor close AND to the series' first value (V1 normalize-to-
    * first window, `pages/1_Market overview.py:81`). Both reference
    * closes are whole-series window values over the stock-partitioned
    * panel (a stock without day 30 has no anchor and no rows), so the
    * page is one job: no anchor join, no per-stock driver loops.
    *
    * Serving: like every bounded research page this ends in ONE
    * one-task sort (`coalesce(1).sortWithinPartitions`), not a global
    * `orderBy`, whose range partitioning costs a sampling job and a
    * shuffle for a result of a few thousand rows. */
  def klineReplay: Q = (s, dir) => {
    val w = Window.partitionBy("stock").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    Quotes.panel(s, dir)
      .select(col("stock"), col("day"), col("close"),
        first(col("close")).over(w).as("c_first"),
        max(when(col("day") === 30, col("close"))).over(w).as("c0"))
      .filter(col("day").between(20, 50) && col("c0").isNotNull)
      .select(col("stock"), col("day"), (col("day") - 30).as("day_offset"),
        round(col("close"), 6).as("close"),
        round(col("close") / col("c0"), 6).as("norm_close"),
        round(col("close") / col("c_first"), 6).as("norm_first"))
      .coalesce(1).sortWithinPartitions("stock", "day")
  }

  /** q55: industry-peers snapshot (J6, `QuantDB.py:140-156`): the
    * target stock's industry is resolved as a scalar lookup (a
    * correlated scalar subquery in the reference SQL; a broadcast
    * single-row join here — the scalable equivalent), then the top-7
    * same-industry stocks by market value on the day. `roe_ttm` is
    * [[Value.roeTtm]] on the panel row: the value family's window
    * DAG is not analysed per request for one per-row ratio. */
  def peersSnapshot: Q = (s, dir) => {
    val day40 = Quotes.panel(s, dir).filter(col("day") === 40)
      .select(col("stock"), col("industry"), col("total_mv"), col("pe"),
        col("pb"), col("dv_ratio"), round(Value.roeTtm, 6).as("roe_ttm"))
    val tgtInd = day40.filter(col("stock") === 7)
      .select(col("industry").as("t_ind"))
    day40.crossJoin(broadcast(tgtInd))
      .filter(col("industry") === col("t_ind"))
      .orderBy(col("total_mv").desc, col("stock"))
      .limit(7)
      .select(col("stock"), round(col("total_mv") / 1e8, 6).as("mv_yi"),
        col("pe"), col("pb"), col("dv_ratio"), col("roe_ttm"))
  }

  /** The factor frame the snapshot (q56) and screener (q92) pages
    * read: the panel's `(stock, day)` axis LEFT-joined with the
    * technical, momentum, value and sentiment marts, built once per
    * (session, dir) and persisted next to the panel in
    * [[graft.Residents]]. A page joins its panel side to this frame on
    * `(stock, day)` — the same rows the chained per-mart LEFT joins
    * gave, since the frame holds exactly one row per panel key —
    * instead of re-reading and broadcasting four marts per request.
    * Technical, momentum and value columns are quantized like their
    * entries (q40/q41, q44, q45); the sentiment flags are integers,
    * read as stored (q61). */
  private[graft] def factorFrame(s: SparkSession, dir: String): DataFrame =
    graft.Residents.frame(s, ("factors", dir)) {
      Seq(
        technicalDataset -> Seq("ma_5", "ma_20", "ma_60", "bias_20", "rsi_14",
          "cci_14", "wr_14").map(r6),
        momentumDataset -> Seq("roc_20", "volatility_20", "pos_20").map(r6),
        valueDataset -> Seq("pe_zscore_60", "pb_zscore_60", "roe_ttm").map(r6),
        sentimentDataset -> Seq(col("limit_up_streak"), col("is_limit_up"))
      ).foldLeft(Quotes.panel(s, dir).select("stock", "day")) {
        case (acc, (ds, cols)) =>
          val side = martFrame(s, dir, ds).select(col("stock") +: col("day") +: cols: _*)
          acc.join(side, Seq("stock", "day"), "left")
      }.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }

  /** q56: single-row factor panorama snapshot (J2,
    * `QuantDB.py:101-125`): the null-preserving LEFT join of the
    * quotes base with the technical/momentum/value factor surfaces
    * for one (stock, day), LIMIT 1. The factor side is the
    * session-resident [[factorFrame]] (quantized like the factor
    * entries, so the snapshot matches the factor tables column for
    * column).
    *
    * Scale: the point filter sits on both sides — LocalSession turns
    * constraint propagation off, so Catalyst infers no filter across
    * the join, and an unfiltered side would broadcast (at scale:
    * shuffle) a whole frame for one row. The frame side is broadcast
    * by hint, not by size estimate: before its first fill the cached
    * frame's estimate is the unfiltered join's, and a planned
    * shuffle join would leave an exchange behind. The one-row result
    * is taken from one partition, so `limit` never re-scans in a
    * second job. */
  def factorSnapshot: Q = (s, dir) => {
    val at = col("stock") === 7 && col("day") === 40
    val base = Quotes.panel(s, dir).filter(at)
      .select(col("stock"), col("day"), round(col("close"), 6).as("close"),
        col("volume"))
    val f = factorFrame(s, dir).filter(at)
      .select("stock", "day", "bias_20", "rsi_14", "cci_14", "wr_14",
        "roc_20", "volatility_20", "pos_20", "pe_zscore_60", "pb_zscore_60",
        "roe_ttm")
    base.join(broadcast(f), Seq("stock", "day"), "left").coalesce(1).limit(1)
  }

  /** J3 dynamic join builder (`QuantDB.py:77-99`): fold LEFT joins
    * over a (table -> columns) config against the factor-table
    * registry — the reference's field_configs surface. */
  def dynamicIndicators(s: SparkSession, dir: String,
                        configs: Seq[(String, Seq[String])],
                        stock: Int, dayFrom: Int, dayTo: Int): DataFrame = {
    val registry: Map[String, Q] = Map(
      "technical_trend" -> technicalTrend, "technical_osc" -> technicalOsc,
      "technical_risk" -> technicalRisk, "ema" -> emaFamilyEntry,
      "momentum" -> momentumEntry, "value" -> valueEntry)
    val base = Quotes.panel(s, dir)
      .select(col("stock"), col("day"), round(col("close"), 6).as("close"))
      .filter(col("stock") === stock && col("day").between(dayFrom, dayTo))
    configs.foldLeft(base) { case (acc, (table, cols)) =>
      val t = registry(table)(s, dir)
        .select((Seq("stock", "day") ++ cols).map(col): _*)
      acc.join(t, Seq("stock", "day"), "left")
    }.orderBy("day")
  }

  /** q57: one fixed configuration through the dynamic builder. */
  def dynamicJoinEntry: Q = (s, dir) =>
    dynamicIndicators(s, dir,
      Seq("technical_trend" -> Seq("bias_20", "rsi_14"),
        "momentum" -> Seq("roc_20", "volatility_20"),
        "value" -> Seq("roe_ttm")),
      stock = 7, dayFrom = 20, dayTo = 60)

  /** q61: sentiment factor family (F5, `factor_db_ddl.md:63-76`
    * `factor_sentiment_daily`): limit-up flag, broken-board flag,
    * CONSECUTIVE limit-up streak (连板高度) and a main-money-flow
    * proxy. The streak is the reference's recursive "0 or prev+1"
    * counter re-expressed as gaps-and-islands window arithmetic:
    * streak = day − last non-limit-up day (0 when not limit up) —
    * one pass over the stock shuffle, no recursion. The synthetic
    * limit threshold is ret ≥ 0.30 (pinned; the panel's pseudo-random
    * closes need a wide band to produce streaks). */
  def sentimentFactors: Q = (s, dir) =>
    martFrame(s, dir, sentimentDataset).orderBy("stock", "day")

  /** The sentiment derive DAG ([[sentimentDataset]]'s build): the
    * mart stores its output; [[sentimentFactors]] reads the mart. */
  private[analytics] def sentimentDerive(s: SparkSession, dir: String): DataFrame =
    sentimentCompute(Quotes.panel(s, dir))

  /** Per-row sentiment flags: the lag-1 return, limit flags and main
    * money flow — everything EXCEPT the streak, whose `last_flat`
    * lookback is unbounded (q170 maintains it from stored state; the
    * full derive below runs the cum window). */
  private[analytics] def sentimentFlags(panel: DataFrame): DataFrame = {
    val W = Window.partitionBy("stock").orderBy("day")
    val prevC = lag(col("close"), 1).over(W)
    val ret = when(prevC =!= 0.0, col("close") / prevC) - lit(1.0)
    val hiRet = when(prevC =!= 0.0, col("high") / prevC) - lit(1.0)
    panel
      .withColumn("ret", ret)
      .withColumn("hi_ret", hiRet)
      // day 1 (no previous close) counts as NOT limit-up, anchoring
      // the streak window
      .withColumn("is_limit_up",
        coalesce(col("ret") >= 0.30, lit(false)).cast("int"))
      .withColumn("is_limit_broken",
        coalesce(col("hi_ret") >= 0.30 && !(col("ret") >= 0.30), lit(false)).cast("int"))
      .withColumn("money_flow_main",
        round((col("close") - col("open")) * col("volume"), 6))
  }

  private[analytics] def sentimentCompute(panel: DataFrame): DataFrame = {
    val W = Window.partitionBy("stock").orderBy("day")
    val cum = W.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    sentimentFlags(panel)
      .withColumn("last_flat",
        max(when(col("is_limit_up") === 0, col("day"))).over(cum))
      .withColumn("limit_up_streak",
        when(col("is_limit_up") === 1,
          col("day") - coalesce(col("last_flat"), lit(0L))).otherwise(0L))
  }

  /** q58: alpha_* column discovery (X7, `QuantDB.py:226-233`): the
    * alpha columns are DISCOVERED from the DataFrame schema by
    * prefix, melted via an explode of (name, value) structs, and
    * summarized per alpha — schema-driven, no hardcoded list.
    * Runs on the full-market panel (the reference's Alpha lab
    * universe) via the shared [[alphaFull]] frame. */
  /** The q58/q90/q91 SHARED full-panel alpha frame, computed ONCE per
    * (session, sfDir) and persisted: one SparkSession serves every
    * Verify/perfbench entry, and the ~500-column alpha DAG costs its full
    * driver-side planning + codegen constant per re-derivation
    * (round-6 verdict, What's-wrong #3b). Until round 9, q58/q91 ran
    * a SEPARATE `stock <= 30` subset derivation — cross-sectional
    * ranks depend on the universe, so a subset frame can't be sliced
    * from the full one — which paid the DAG constant twice per sweep
    * (~70 s at sf0.1). Full-market is also the faithful semantics:
    * the reference's Alpha lab ranks over the whole market
    * (`pages/5_Alpha lab.py:43-141`). The persisted frame is pruned
    * to keys + close + the 101 alphas (rows × ~104 doubles, ~85 MB
    * at sf0.1 — the raw compute frame's ~460 intermediates stay out
    * of the cache), comfortable for MEMORY_AND_DISK; values are
    * deterministic, so consumers are unchanged across re-reads. */
  /** Build ALL factor marts for (session, dir) NOW — the alpha panel
    * plus the five basic-factor families — so a caller pays the
    * one-time build up front instead of inside whichever consumer
    * happens to run first (FactorPlanSpec primes with it). */
  def primeFactorMarts(s: SparkSession, dir: String): Unit = {
    // builds are independent (six distinct memo keys, six scratch
    // dirs) — run them CONCURRENTLY so the five small family builds
    // execute under the alpha DAG's multi-second driver-side
    // planning window instead of after it. Spark job submission is
    // thread-safe; each holder's lazy-val lock serializes per key
    // only. Daemon threads: a hung build must not block JVM exit.
    import scala.concurrent.{Await, ExecutionContext, Future}
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      martDatasets.size, r => {
        val t = new Thread(r, "graft-mart-prime"); t.setDaemon(true); t
      })
    try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      val builds = martDatasets.map(ds => Future { martFrame(s, dir, ds) })
      builds.foreach(Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdown()
  }

  /** One materialized factor dataset: its mart name, a CODE VERSION
    * (part of the staleness manifest — bump it whenever the deriving
    * FORMULAS change value without changing shape; a persistent mart
    * built by older code is then rebuilt instead of silently served),
    * the derive DAG, and the STATIC stored-column list (derive frames
    * carry dead intermediates the mart must not store). `cols` being
    * declared — not read back from the derive frame — is what lets
    * [[martValid]] detect a column add/remove/rename against a stale
    * persistent mart without paying the derive DAG's planning cost
    * on the reuse path. */
  private[graft] final case class MartDataset(
      name: String, version: String,
      derive: (SparkSession, String) => DataFrame,
      cols: Seq[String])

  private def keyedCols(cols: Seq[String]): Seq[String] =
    Seq("stock", "day") ++ cols

  private[analytics] val alphaDataset = MartDataset("alphas", "v1",
    (ss, d) => Alpha101.compute(Quotes.panel(ss, d)),
    // keys + close (q91's forward return) + the alpha_* columns: the
    // raw compute frame carries ~460 dead intermediate columns
    Seq("stock", "day", "close") ++ Alpha101.columns)

  /** The basic-factor family marts (r16 verdict ask #2): the
    * reference materializes these as first-class factor tables
    * (`factor_db_ddl.md:86-132`), one per family. One generic build
    * path ([[buildFactorMart]]) serves all of them plus the alphas. */
  private[analytics] val technicalDataset = MartDataset("technical", "v1",
    (ss, d) => Technical.compute(Quotes.panel(ss, d)),
    keyedCols(Technical.columns))
  private[analytics] val emaDataset = MartDataset("ema", "v1",
    (ss, d) => EmaFamily.compute(Quotes.panel(ss, d)),
    keyedCols(EmaFamily.columns))
  private[analytics] val momentumDataset = MartDataset("momentum", "v1",
    (ss, d) => Momentum.compute(Quotes.panel(ss, d)),
    keyedCols(Momentum.columns))
  private[analytics] val valueDataset = MartDataset("value", "v1",
    (ss, d) => Value.compute(Quotes.panel(ss, d)),
    keyedCols(Value.columns))
  private[analytics] val sentimentDataset = MartDataset("sentiment", "v1",
    (ss, d) => sentimentDerive(ss, d),
    keyedCols(Seq("is_limit_up", "is_limit_broken", "limit_up_streak",
      "money_flow_main")))

  private val martDatasets: Seq[MartDataset] = Seq(
    alphaDataset, technicalDataset, emaDataset, momentumDataset,
    valueDataset, sentimentDataset)

  private[analytics] def alphaFull(s: SparkSession, dir: String): DataFrame =
    martFrame(s, dir, alphaDataset)

  /** The memoized mart frame for (session, dir, dataset): first call
    * builds (or validates-and-reuses a persistent mart), later calls
    * return the same parquet-backed frame ([[graft.Residents]]: a
    * concurrent first call for a DIFFERENT dataset never waits on
    * this one's multi-second build). */
  private[analytics] def martFrame(s: SparkSession, dir: String,
      ds: MartDataset): DataFrame =
    graft.Residents(s, ("mart", dir, ds.name))(buildFactorMart(s, dir, ds))

  /** The factor MART (r15 verdict ask #1 — the reference's actual
    * architecture): alphas are computed ONCE per (session, dir) and
    * STORED as partitioned sorted parquet; every consumer (q58/q90/
    * q91) READS the mart. The reference's factor plane works exactly
    * this way — the P1–P5 pipeline materializes factor/alpha tables
    * (`database/ddl/factor_db_ddl.md:18-31`,
    * `Project report.md:739-781`) and the app only ever SELECTs them;
    * nobody re-derives 101 alphas per query session over the full
    * panel. Layout mirrors the reference's year-partitioned
    * cross-section sort (`Project report.md:415-422`): hive-style
    * `yr=` partitions (244 trading days per year), range-split within
    * a year and sorted `(day, stock)` inside every file — at 100 TB
    * the year partitions prune time-scoped reads, the range split
    * keeps file counts proportional to data (never one task per
    * year), and the sort gives delta/dict encodings their bite.
    *
    * Losslessness: parquet stores doubles as raw IEEE-754 bits (the
    * q148 sink-proof), so a consumer reading the mart is
    * hash-identical to one reading the derive frame — pinned in
    * FactorMartSpec (q90 mart vs scratch derive, bit for bit).
    * Column pruning now reaches the SCAN: q58's 2-of-104-column read
    * no longer drags the whole cached panel through memory.
    *
    * No one-shot codegen override in the derive (kept from r9–r15
    * measurements: the batched-rank plan is ~30 operators; stock
    * codegen beats NO_CODEGEN factories 41 s vs 49 s at sf0.1). */
  private def buildFactorMart(ss: SparkSession, d: String,
      ds: MartDataset): DataFrame = {
    // Deployment seam: SPARK_GRAFT_MART_DIR makes the mart a REAL
    // persistent mart — written once, REUSED by every later session
    // whose staleness manifest matches (see [[buildMartAt]]).
    // Default (unset): session-scoped scratch, self-deleting at JVM
    // exit — a stale mart can never poison the correctness gate.
    // [[ignorePersistentMartRoot]] disables the root for callers that
    // must build, never reuse.
    val root =
      if (persistentRootIgnored) None else sys.env.get("SPARK_GRAFT_MART_DIR")
    val path = buildMartAt(ss, d, ds, root)
    // column order from the STORED schema (keys, then the dataset's
    // kept columns; the yr partition column appends last and is
    // dropped) — identical to the derive order on both the fresh and
    // reuse paths
    val mart = ss.read.parquet(path)
    val cols = mart.schema.fieldNames.filterNot(_ == "yr")
      .map(org.apache.spark.sql.functions.col)
    mart.select(scala.collection.immutable.ArraySeq.unsafeWrapArray(cols): _*)
  }

  /** Never consult SPARK_GRAFT_MART_DIR in this JVM. A persistent
    * mart short-circuits the build, so with the root in play a timed
    * backfill would measure a _SUCCESS-gated READ, and a test would
    * read whatever an earlier process left there (r16 ADVICE item 2).
    * Irreversible by design; perfbench's nightly job and SparkSpec
    * call it before any build. */
  def ignorePersistentMartRoot(): Unit = { persistentRootIgnored = true }
  @volatile private var persistentRootIgnored = false

  private[analytics] val martManifestName = "_GRAFT_MANIFEST.properties"

  /** The persistent location of one dataset's mart under a root. The
    * directory name carries a digest of the CANONICAL source path:
    * two dataset roots with the same basename (/a/sf0.1 vs /b/sf0.1)
    * must never share a mart (r16 ADVICE item 1) — the manifest
    * re-checks the full path at reuse time as the second lock. */
  /** Canonical identity string for a SOURCE dir — the manifest's
    * `source` axis. Local paths resolve through the OS (symlinks,
    * `..` — byte-compatible with the pre-r20 java.io form); non-local
    * URIs qualify through their FileSystem, so the manifest surface
    * is medium-portable like the store walks above. */
  private def canonicalSource(d: String): String = {
    val u = new org.apache.hadoop.fs.Path(d).toUri
    if (u.getScheme == null || u.getScheme == "file")
      new java.io.File(u.getPath).getCanonicalPath
    else {
      val (fs, p) = fsPath(d)
      p.makeQualified(fs.getUri, fs.getWorkingDirectory).toString
    }
  }

  private[analytics] def martPathFor(root: String, d: String,
      ds: MartDataset): String = {
    val name = new org.apache.hadoop.fs.Path(d).getName
    s"$root/${ds.name}-$name-${md5Hex(canonicalSource(d)).take(8)}"
  }

  /** Build (or validate-and-reuse) dataset `ds`'s mart for source
    * dir `d`, returning the parquet path to read.
    *
    * Persistent root set → the mart is REUSED only when its
    * staleness manifest matches (r16 verdict ask #3): factor code
    * version, canonical source path, source-dir fingerprint (file
    * names + sizes) and stored schema must all equal the current
    * values — a factor-code change, a regenerated source dir, or a
    * half-written/corrupt mart all trigger a rebuild instead of
    * silently serving stale alphas. Fresh writes go to a temp
    * sibling and are ATOMICALLY renamed into place (r16 ADVICE item
    * 3): a concurrent session never observes a partially written
    * mart, and two racing builders resolve to one winner whose
    * output is validated like any other reuse. */
  private[analytics] def buildMartAt(ss: SparkSession, d: String,
      ds: MartDataset, root: Option[String]): String = {
    val persistent = root.map(r => martPathFor(r, d, ds))
    persistent.filter(p => martValid(ss, p, ds, d)).getOrElse {
      def write(p: String): Unit = {
        ds.derive(ss, d)
          .select(ds.cols.map(org.apache.spark.sql.functions.col): _*)
          .withColumn("yr", ((col("day") - 1) / 244).cast("int"))
          .repartitionByRange(col("yr"), col("day"), col("stock"))
          .sortWithinPartitions("yr", "day", "stock")
          .write.partitionBy("yr").mode("overwrite").parquet(p)
        writeManifest(ss, p, ds, d)
      }
      persistent match {
        case None =>
          val p = graft.TempDirs.scratch(s"graft_factor_mart_${ds.name}")
          write(p); p
        case Some(p) =>
          val tmp = s"$p.tmp-${ProcessHandle.current.pid}-${System.nanoTime}"
          // a failed multi-ten-second derive/write must not orphan a
          // full-size temp mart under the persistent root (a retry
          // loop would fill the volume — each attempt is uniquely
          // named)
          try write(tmp)
          catch { case e: Throwable =>
            deleteRecursively(java.nio.file.Paths.get(tmp)); throw e }
          val src = java.nio.file.Paths.get(tmp)
          val dst = java.nio.file.Paths.get(p)
          // a stale mart at the destination (manifest mismatch — the
          // validate above already said so) is replaced; a VALID one
          // that appeared since (concurrent builder won the race) is
          // reused and our duplicate discarded. Bounded retry loop
          // (r17 ADVICE 4): a third builder can install dst between
          // our delete and our move — every collision re-validates
          // dst (reuse a valid winner, replace another stale loser)
          // instead of failing a build that has a usable mart in hand
          var attempts = 0
          var installed = false
          while (!installed) {
            try {
              java.nio.file.Files.move(src, dst,
                java.nio.file.StandardCopyOption.ATOMIC_MOVE)
              installed = true
            } catch {
              case e: java.nio.file.FileSystemException =>
                if (martValid(ss, p, ds, d)) {
                  deleteRecursively(src); installed = true
                } else {
                  attempts += 1
                  if (attempts >= 3) {
                    // retry exhaustion must not leak the loser's full
                    // mart copy under the persistent root — the
                    // condition CrossProcessSpec's mart race asserts
                    // never happens (r18 ADVICE 2); best-effort, the throw
                    // wins over a cleanup failure
                    try deleteRecursively(src) catch { case _: Exception => () }
                    throw e
                  }
                  deleteRecursively(dst)
                }
            }
          }
          p
      }
    }
  }

  /** True iff the mart at `p` is a COMPLETED write whose manifest
    * matches the current code + source state, whose stored parquet
    * schema matches what the manifest recorded (write integrity: a
    * torn/truncated mart fails here), and whose stored COLUMN LIST
    * equals the dataset's declared `cols` — the code-change axis the
    * manifest-vs-stored comparison alone cannot see (both describe
    * the same old files, so they always agree with each other; a
    * column added/removed/renamed in the factor code invalidates the
    * mart HERE, with no version bump needed — value-only formula
    * changes still require the version bump). */
  /** The mart's identity axes — what its manifest must match for
    * reuse (the streamed store's gate shares the mechanism below,
    * with its own axes). */
  private def martAxes(ds: MartDataset, d: String): Map[String, String] = Map(
    "dataset" -> ds.name,
    "version" -> ds.version,
    "source" -> canonicalSource(d),
    "fingerprint" -> dirFingerprint(d))

  private[analytics] def martValid(ss: SparkSession, p: String,
      ds: MartDataset, d: String): Boolean =
    manifestGateValid(ss, s"$p/$martManifestName",
      markers = Seq(s"$p/_SUCCESS"), dataPath = p,
      expected = martAxes(ds, d), cols = ds.cols)

  /** The ONE manifest-gate mechanism behind every persistent-store
    * reuse (factor marts AND the streamed store — r20 review: two
    * hand-rolled copies had already drifted): valid iff every
    * `markers` path is an existing FILE (completed-write proof), the
    * Properties manifest matches `expected` on every axis, the
    * manifest's `schema` equals the schema STORED at `dataPath`
    * (write integrity — a torn/truncated store fails the footer
    * read), and the stored COLUMN LIST equals the code's declared
    * `cols` — the code-change axis the manifest-vs-stored comparison
    * alone cannot see (both describe the same old files, so they
    * always agree with each other; a column added/removed/renamed in
    * the code invalidates the store HERE with no version bump —
    * value-only formula changes still require the bump). The column
    * list compares PARSED StructType field names, never a re-split
    * of the serialized name:type string — a type whose simpleString
    * contains a comma (decimal(p,s), array<>, struct<>) would
    * mis-split and fail validation forever, silently rebuilding
    * every session (r17 ADVICE 2). Any unreadable state = invalid. */
  private def manifestGateValid(ss: SparkSession, manifest: String,
      markers: Seq[String], dataPath: String,
      expected: Map[String, String], cols: Seq[String]): Boolean = try {
    val (fs, _) = fsPath(manifest)
    def isFile(x: String) = {
      val hp = new org.apache.hadoop.fs.Path(x)
      fs.exists(hp) && fs.getFileStatus(hp).isFile
    }
    if (!markers.forall(isFile) || !isFile(manifest)) false
    else {
      val props = new java.util.Properties()
      val in = fs.open(new org.apache.hadoop.fs.Path(manifest))
      try props.load(in) finally in.close()
      lazy val storedFields = storedSchemaFields(ss, dataPath)
      expected.forall { case (k, v) => props.getProperty(k) == v } &&
        props.getProperty("schema") == schemaString(storedFields) &&
        storedFields.map(_.name).toSeq == cols
    }
  } catch { case _: Exception => false }

  private def writeManifest(ss: SparkSession, p: String, ds: MartDataset,
      d: String): Unit =
    writeManifestProps(s"$p/$martManifestName",
      martAxes(ds, d) + ("schema" -> schemaString(storedSchemaFields(ss, p))),
      "graft factor mart staleness manifest")

  /** Properties-manifest writer shared by both gates. */
  private def writeManifestProps(manifest: String,
      entries: Map[String, String], comment: String): Unit = {
    val props = new java.util.Properties()
    entries.foreach { case (k, v) => props.setProperty(k, v) }
    val (fs, _) = fsPath(manifest)
    val out = fs.create(new org.apache.hadoop.fs.Path(manifest), true)
    try props.store(out, comment) finally out.close()
  }

  /** The stored frame's DATA fields (partition column excluded) —
    * reading them also proves the footers parse, so a torn or
    * truncated mart fails validation here. */
  private def storedSchemaFields(ss: SparkSession,
      p: String): Array[org.apache.spark.sql.types.StructField] =
    ss.read.parquet(p).schema.fields.filterNot(_.name == "yr")

  /** Fields serialized as `name:type` pairs for the manifest. Write-
    * side only for equality against the manifest's stored copy; the
    * column-list check above parses fields, never this string. */
  private def schemaString(
      fields: Array[org.apache.spark.sql.types.StructField]): String =
    fields.map(f => s"${f.name}:${f.dataType.simpleString}").mkString(",")

  /** Source-dir fingerprint: MD5 over the sorted (relative path,
    * size, mtime) listing of every regular file under the dataset
    * dir. File listing only — no data reads — so validation stays
    * cheap at any scale; a regenerated or extended source dir changes
    * it. mtime is included (r17 ADVICE 3): a regenerated source with
    * identical file names AND byte sizes but different content must
    * not validate a stale mart as fresh — the cost is a spurious
    * rebuild on a byte-identical re-copy, the safe direction.
    *
    * The walk is `listStatus` reading only path, length and mtime:
    * `listFiles` wraps each file in a `LocatedFileStatus`, which reads
    * its permission, and without the native Hadoop library the local
    * file system answers that by forking `ls -ld` per file. */
  private[graft] def dirFingerprint(d: String): String = {
    val (fs, base) = fsPath(d)
    val qual = base.makeQualified(fs.getUri, fs.getWorkingDirectory)
    val prefix = qual.toUri.getPath
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    def walk(dir: org.apache.hadoop.fs.Path): Unit =
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) walk(st.getPath)
        else {
          val rel = st.getPath.toUri.getPath.stripPrefix(prefix).stripPrefix("/")
          items += s"$rel:${st.getLen}:${st.getModificationTime}"
        }
      }
    walk(qual)
    md5Hex(items.sorted.mkString("\n"))
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  def columnDiscovery: Q = (s, dir) => {
    val a = alphaFull(s, dir)
    val alphaCols = a.schema.fieldNames.filter(_.startsWith("alpha_")).sorted
    // aggregate all discovered columns in ONE pass, then melt the
    // single result row — exploding (name, value) structs per input
    // row would shuffle rows × alphas instead of one scan
    val aggs = alphaCols.flatMap(c =>
      Seq(count(col(c)).as(s"n_$c"), avg(col(c)).as(s"a_$c")))
    val pairs = explode(array(alphaCols.map(c => struct(
      lit(c).as("alpha"), col(s"n_$c").as("n_nonnull"),
      // floor-based, not engine round(): integer-valued alphas make
      // averages land on exact decimal halves, where Spark and DuckDB
      // round() disagree (see fr6)
      fr6(col(s"a_$c")).as("avg_v"))): _*))
    a.agg(aggs.head, aggs.tail: _*)
      .select(pairs.as("p"))
      .select(col("p.alpha").as("alpha"), col("p.n_nonnull").as("n_nonnull"),
        col("p.avg_v").as("avg_v"))
      .orderBy("alpha")
  }

  /** q91: the 101-wide Rank-IC flagship (C4, `QuantDB.py:248-277`,
    * `pages/5_Alpha lab.py:43-141`): for EVERY schema-discovered
    * alpha_* column, the per-day Spearman IC (average-tie ranks,
    * closed-form Pearson over ranks — exact sums, so both engines
    * produce bit-identical ICs) against next-day return, the
    * cumulative IC series, and the decile spread (ntile(10) by alpha
    * value, top-minus-bottom mean forward return). One melt shuffle
    * keyed (day, alpha) carries ranks + deciles + the group aggregate
    * — the shape that scales to a 101-column × full-market panel.
    * Runs on the full-market panel via the shared [[alphaFull]]
    * frame (the reference's Alpha lab universe). */
  def rankIcScan: Q = (s, dir) => {
    val a = alphaFull(s, dir)
    val alphaCols = a.schema.fieldNames.filter(_.startsWith("alpha_")).sorted
    val w = Window.partitionBy("stock").orderBy("day")
    val dv = (n: Column, d: Column) => when(d =!= 0.0, n / d)
    val withFwd = a.withColumn("fwd",
      dv(lead(col("close"), 1).over(w), col("close")) - lit(1.0))
    // melt with an INTEGER alpha index (posexplode over an array of
    // primitive doubles), not a replicated string label: the melt is
    // rows×101 — the narrower key cuts the one melt exchange by ~a
    // third and makes the two group sorts (MultiRank, ntile) radix-
    // sortable ((day, aidx) fits the 8-byte sort prefix; a string key
    // pays a UTF8String compare per comparison). aidx ↔ alpha name is
    // a bijection (alphaCols is sorted), so every group, rank, ntile
    // and aggregate below is IDENTICAL; the name is re-attached to
    // the ~101×days result rows at the end. Guide §2.3 (shuffle
    // narrower types / keys instead of payloads).
    val melted = withFwd.select(col("stock"), col("day"), col("fwd"),
        posexplode(array(alphaCols.map(c => fr6(col(c))): _*)))
      .toDF("stock", "day", "fwd", "aidx", "v")
      .filter(col("v").isNotNull && col("fwd").isNotNull)
    // both Spearman ranks in ONE composite-key MultiRank group pass
    // (raw avg-tie mode, XsOps.avgRank semantics) instead of two
    // WindowExec sorts of the rows×alphas melt; the ntile keeps its
    // own ordered window (different op), sharing the same exchange
    val ranked = graft.ops.PlanOps.multiRank(melted, Seq("day", "aidx"),
        Seq(("rv", "v", false), ("rf", "fwd", false)))
      .withColumn("dec", ntile(10).over(
        Window.partitionBy("day", "aidx").orderBy(col("v"), col("stock"))))
    val g = ranked.groupBy("aidx", "day").agg(
      count(lit(1)).cast("double").as("n"),
      sum(col("rv")).as("sx"), sum(col("rf")).as("sy"),
      sum(col("rv") * col("rv")).as("sxx"), sum(col("rf") * col("rf")).as("syy"),
      sum(col("rv") * col("rf")).as("sxy"),
      avg(when(col("dec") === 10, col("fwd"))).as("top_avg"),
      avg(when(col("dec") === 1, col("fwd"))).as("bot_avg"))
    val vx = col("n") * col("sxx") - col("sx") * col("sx")
    val vy = col("n") * col("syy") - col("sy") * col("sy")
    val icRaw = when(vx > 1e-9 && vy > 1e-9,
      (col("n") * col("sxy") - col("sx") * col("sy")) / (sqrt(vx) * sqrt(vy)))
    val wCum = Window.partitionBy("aidx").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.withColumn("ic", fr6(icRaw))
      .withColumn("cum_ic", fr6(sum(col("ic")).over(wCum)))
      .withColumn("decile_spread", fr6(col("top_avg") - col("bot_avg")))
      // re-attach the alpha name (1-based element_at over the sorted
      // name list) on the small aggregated result only
      .withColumn("alpha",
        element_at(array(alphaCols.map(lit): _*), col("aidx") + 1))
      .select("alpha", "day", "ic", "cum_ic", "decile_spread")
      .orderBy("alpha", "day")
  }

  /** q92: the screener's chained boolean-mask filter surface (P7,
    * `pages/3_Smart screener.py:92-126`): the factor wide table at a
    * snapshot day with the reference's full AND-mask chain applied —
    * market-cap band, PE band, ROE floor, daily-change band, turnover
    * floor, RSI floor, momentum floor, volatility cap, streak floor —
    * then sorted by the selected dimension (momentum). Masks compare
    * the ROUNDED factor values (identical bits in both engines), so
    * the filtered set is deterministic. MA alignment is emitted as a
    * column (the reference's checkbox defaults to off).
    *
    * Scale: the daily change is one lag over the stock-partitioned
    * panel; the factor columns come from the session-resident
    * [[factorFrame]], snapshot-filtered and broadcast (by hint, see
    * [[factorSnapshot]]) into one join; the mask chain is one residual
    * filter and the result one one-task sort (see [[klineReplay]]) —
    * two jobs per request. */
  def screenerMask: Q = (s, dir) => {
    val W = Window.partitionBy("stock").orderBy("day")
    val prevC = lag(col("close"), 1).over(W)
    val base = Quotes.panel(s, dir)
      .select(col("stock"), col("day"), col("pe"),
        fr6(col("total_mv") / 1e8).as("mv_yi"),
        col("turnover").as("turnover_rate"),
        fr6((when(prevC =!= 0.0, col("close") / prevC) - lit(1.0)) * 100.0)
          .as("pct_chg"))
      .filter(col("day") === 60)
    val f = factorFrame(s, dir).filter(col("day") === 60)
    base.join(broadcast(f), Seq("stock", "day"), "left")
      .filter(col("mv_yi").between(0.01, 10.0) &&
        col("pe").between(10.0, 48.0) &&
        col("roe_ttm") >= 0.05 &&
        col("pct_chg").between(-5.0, 10.0) &&
        col("turnover_rate") >= 0.02 &&
        col("rsi_14") >= 40.0 &&
        col("roc_20") >= -0.20 &&
        col("volatility_20") <= 1.0 &&
        col("limit_up_streak") >= 0)
      .select(col("stock"), col("mv_yi"), col("pe"), col("roe_ttm"),
        col("pct_chg"), col("turnover_rate"), col("rsi_14"),
        (col("ma_5") > col("ma_20") && col("ma_20") > col("ma_60"))
          .cast("int").as("ma_aligned"),
        col("roc_20").as("month_mom"), col("volatility_20").as("volatility"),
        col("limit_up_streak"), col("is_limit_up"))
      .coalesce(1).sortWithinPartitions(col("month_mom").desc, col("stock"))
  }

  /** q94: the sector-rotation equity curve (V2,
    * `pages/6_Sector rotation.py:154`): per-(industry, day) mean
    * constituent return and mean PE, then
    * equity = cumprod(1 + sector_chg) via the log-sum trick
    * ([[graft.ops.TsOps.cumProdPositive]] — frame-expressible, no
    * recursion). One hash exchange keyed on `industry` feeds both the
    * (industry, day) aggregate and the industry window (a separate
    * groupBy exchange on (industry, day) would not satisfy the
    * window); the result is a one-task sort (see [[klineReplay]]). */
  def sectorEquityCurve: Q = (s, dir) => {
    val W = Window.partitionBy("stock").orderBy("day")
    val prevC = lag(col("close"), 1).over(W)
    val wI = Window.partitionBy("industry").orderBy("day")
    Quotes.panel(s, dir)
      .select(col("industry"), col("day"), col("pe"),
        (when(prevC =!= 0.0, col("close") / prevC) - lit(1.0)).as("ret"))
      .filter(col("day") > 1)
      .repartition(col("industry"))
      .groupBy("industry", "day").agg(
        count(lit(1)).as("n_constituents"),
        avg(col("ret")).as("chg"),
        avg(col("pe")).as("pe_raw"))
      .select(col("industry"), col("day"), col("n_constituents"),
        fr6(col("chg") * 100.0).as("sector_chg"),
        fr6(col("pe_raw")).as("sector_pe"),
        fr6(graft.ops.TsOps.cumProdPositive(lit(1.0) + col("chg"), wI))
          .as("equity"))
      .coalesce(1).sortWithinPartitions("industry", "day")
  }

  /** q99: survivorship split (the reference's parallel active /
    * delisted market tables, `quant_db_ddl.md:153-324`,
    * `Project report.md:187-192`) — every backtest-style consumer
    * reads the UNION of both. Modeled as a deterministic split of the
    * panel (stock % 7 == 0 → delisted, carrying a `delist_day` column
    * the active table lacks), the `unionByName(allowMissingColumns)`
    * closure, then a per-(status, day) aggregate. The union is plan
    * concatenation (no shuffle of its own); the aggregate is one
    * shuffle keyed (status, day) — the same plan over two real tables
    * at 100 TB. */
  def survivorshipUnion: Q = (s, dir) => {
    val p = Quotes.panel(s, dir)
    val active = p.filter(col("stock") % 7 =!= 0)
      .withColumn("status", lit("active"))
    val delisted = p.filter(col("stock") % 7 === 0)
      .withColumn("status", lit("delisted"))
      .withColumn("delist_day", (col("stock") % 60 + 1).cast("bigint"))
    active.unionByName(delisted, allowMissingColumns = true)
      .groupBy("status", "day")
      .agg(count(lit(1)).as("n"),
        fr6(avg(col("close"))).as("avg_close"),
        count(col("delist_day")).as("n_delist"))
      .orderBy("status", "day")
  }

  /** q100: daily sector leaderboard — the reference's precomputed
    * rank/heat tables (`rank_block_industry`,
    * `quant_db_ddl.md:461-562`) + the ladder plate-stats shape
    * (`pages/2_Sentiment radar.py:159-163`): per-(day, industry)
    * constituent count, surge ("seal") count, max change, and
    * heat = Σ amount / 1e8, then `rank()` over each day by heat.
    * One hash exchange keyed on `day` feeds both the grouped
    * aggregate and the per-day rank window; the result is a one-task
    * sort (see [[klineReplay]]). Heat sums `amount` (an exact
    * multiple of 1/256) so accumulation order can't move the rank
    * ordering; `chg` is fr6-quantized before the ≥5 surge compare. */
  def sectorLeaderboard: Q = (s, dir) => {
    val W = Window.partitionBy("stock").orderBy("day")
    val prevC = lag(col("close"), 1).over(W)
    Quotes.panel(s, dir)
      .select(col("day"), col("industry"), col("amount"),
        fr6((when(prevC =!= 0.0, col("close") / prevC) - lit(1.0)) * 100.0)
          .as("chg"))
      .repartition(col("day"))
      .groupBy("day", "industry").agg(
        count(lit(1)).as("n_stocks"),
        sum(when(col("chg") >= 5.0, 1L).otherwise(0L)).as("n_surge"),
        max(col("chg")).as("max_chg"),
        fr6(sum(col("amount")) / 1e8).as("heat"))
      .withColumn("rnk", rank().over(
        Window.partitionBy("day").orderBy(col("heat").desc, col("industry"))))
      .coalesce(1).sortWithinPartitions("day", "industry")
  }

  val entries: Map[String, Q] = Map(
    "q91_rank_ic" -> rankIcScan,
    "q99_survivorship" -> survivorshipUnion,
    "q100_sector_leaderboard" -> sectorLeaderboard,
    "q92_screener_mask" -> screenerMask,
    "q94_sector_equity" -> sectorEquityCurve,
    "q40_factor_trend" -> technicalTrend,
    "q41_factor_osc" -> technicalOsc,
    "q42_factor_risk" -> technicalRisk,
    "q43_factor_ema" -> emaFamilyEntry,
    "q44_factor_momentum" -> momentumEntry,
    "q45_factor_value" -> valueEntry,
    "q90_alpha_all" -> alphaAll,
    "q48_similarity_search" -> similaritySearch,
    "q125_similarity_ivf" -> similaritySearchIvf,
    "q136_similarity_ivf_part" -> similaritySearchIvfPartitioned,
    "q151_ivf_append" -> ivfAppend,
    "q129_incremental_factors" -> incrementalFactors,
    "q167_stream_mart_append" -> streamEntry("technical"),
    "q168_stream_ema_append" -> streamEntry("ema"),
    "q169_stream_alpha_append" -> streamEntry("alpha_slice"),
    "q170_stream_sentiment_append" -> streamEntry("sentiment"),
    "q171_stream_alpha_full_append" -> streamEntry("alpha_full"),
    "q172_stream_momentum_append" -> streamEntry("momentum"),
    "q173_stream_value_append" -> streamEntry("value"),
    "q174_stream_maintained_append" -> streamEntry("technical", maintained = true),
    "q49_kline_replay" -> klineReplay,
    "q55_peers_snapshot" -> peersSnapshot,
    "q56_factor_snapshot" -> factorSnapshot,
    "q57_dynamic_join" -> dynamicJoinEntry,
    "q58_column_discovery" -> columnDiscovery,
    "q61_sentiment_factors" -> sentimentFactors,
  )

  // ---- Alpha101 oracle helpers (mirror Alpha101.scala stage for
  // stage; see that file's pinned conventions) ----

  /** Null-safe pandas pct rank per day (nulls last = DuckDB default,
    * excluded from numerator and denominator). Ties counted as RANGE
    * CURRENT ROW peers — shares the ordered window instead of adding
    * a (day, x) partition per ranked expression (mirrors
    * XsOps.rankPct). */
  private def xrSql(x: String): String =
    s"CASE WHEN ($x) IS NOT NULL THEN (rank() OVER (PARTITION BY day ORDER BY ($x))" +
      s" + (count(*) OVER (PARTITION BY day ORDER BY ($x)" +
      s" RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) / 2.0)" +
      s" / count(($x)) OVER (PARTITION BY day) END"

  /** Closed-form rolling Pearson corr over both-non-null pairs. */
  private def corrSql(x: String, y: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    val b = s"(($x) IS NOT NULL AND ($y) IS NOT NULL)"
    val n = s"sum(CASE WHEN $b THEN 1.0 ELSE 0.0 END) $f"
    val sx = s"sum(CASE WHEN $b THEN ($x) END) $f"
    val sy = s"sum(CASE WHEN $b THEN ($y) END) $f"
    val sxx = s"sum(CASE WHEN $b THEN ($x) * ($x) END) $f"
    val syy = s"sum(CASE WHEN $b THEN ($y) * ($y) END) $f"
    val sxy = s"sum(CASE WHEN $b THEN ($x) * ($y) END) $f"
    val vx = s"(($n) * ($sxx) - ($sx) * ($sx))"
    val vy = s"(($n) * ($syy) - ($sy) * ($sy))"
    s"CASE WHEN $vx > 1e-9 AND $vy > 1e-9" +
      s" THEN (($n) * ($sxy) - ($sx) * ($sy)) / (sqrt($vx) * sqrt($vy)) END"
  }

  /** Closed-form rolling sample covariance over both-non-null pairs
    * (mirrors Alpha101.tsCovCf). */
  private def covSql(x: String, y: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    val b = s"(($x) IS NOT NULL AND ($y) IS NOT NULL)"
    val n = s"sum(CASE WHEN $b THEN 1.0 ELSE 0.0 END) $f"
    val sx = s"sum(CASE WHEN $b THEN ($x) END) $f"
    val sy = s"sum(CASE WHEN $b THEN ($y) END) $f"
    val sxy = s"sum(CASE WHEN $b THEN ($x) * ($y) END) $f"
    s"CASE WHEN ($n) > 1 THEN (($sxy) - ($sx) * ($sy) / ($n)) / (($n) - 1.0) END"
  }

  /** scipy rankdata(arr)[-1]: average-tie raw rank 1..n; null for a
    * null input (mirrors the Spark-side guard; DuckDB's list() keeps
    * nulls so comparisons drop them implicitly). */
  private def tsRankAvgSql(x: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    s"CASE WHEN ($x) IS NOT NULL THEN" +
      s" CAST(len(list_filter(list($x) $f, v -> v < ($x))) AS DOUBLE)" +
      s" + (CAST(len(list_filter(list($x) $f, v -> v = ($x))) AS DOUBLE) + 1.0) / 2.0 END"
  }

  /** decay_linear for nullable inputs, slot-preserving (mirrors
    * Alpha101.dlNullSlot: nulls keep their weight slot, contribute 0,
    * all-null window -> null). */
  private def dlSql(x: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    s"CASE WHEN len(list_filter(list($x) $f, v -> v IS NOT NULL)) > 0 THEN" +
      s" list_sum(list_transform(list($x) $f, (v, i) -> v * i))" +
      s" / (len(list($x) $f) * (len(list($x) $f) + 1) / 2.0) END"
  }

  /** np.argmax/argmin over the trailing window, nulls dropped:
    * 0-based FIRST-extremum index (mirrors Alpha101.tsArgMaxIdx /
    * tsArgMinIdx, where collect_list drops nulls). */
  private def argMaxSql(x: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    val lf = s"list_filter(list($x) $f, v -> v IS NOT NULL)"
    s"CAST(list_indexof($lf, list_aggregate($lf, 'max')) - 1 AS DOUBLE)"
  }
  private def argMinSql(x: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    val lf = s"list_filter(list($x) $f, v -> v IS NOT NULL)"
    s"CAST(list_indexof($lf, list_aggregate($lf, 'min')) - 1 AS DOUBLE)"
  }

  /** product(x, d): sequential fold over non-null window values,
    * all-null -> null (mirrors Alpha101.tsProd). */
  private def prodSql(x: String, d: Int): String = {
    val f = s"OVER (PARTITION BY stock ORDER BY day ROWS BETWEEN ${d - 1} PRECEDING AND CURRENT ROW)"
    val lf = s"list_filter(list($x) $f, v -> v IS NOT NULL)"
    s"CASE WHEN len($lf) > 0 THEN list_aggregate($lf, 'product') END"
  }

  /** Null-skipping pairwise max/min via the same explicit CASE chain
    * as Alpha101.maxN/minN (engine greatest/least differ on nulls). */
  private def maxNSql(a: String, b: String): String =
    s"CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a)" +
      s" WHEN ($a) >= ($b) THEN ($a) ELSE ($b) END"
  private def minNSql(a: String, b: String): String =
    s"CASE WHEN ($a) IS NULL THEN ($b) WHEN ($b) IS NULL THEN ($a)" +
      s" WHEN ($a) <= ($b) THEN ($a) ELSE ($b) END"

  /** Shared Alpha101 oracle CTE chain (stages a0..a9), parameterized
    * by the quotes CTE so q58's stock-subset variant reuses the same
    * text (one source of truth for the whole corpus oracle). */
  private def alphaCteWith(quotesCte: String): String =
    s"""WITH $quotesCte,
       |aq AS (  -- vwap quantized to the 2^-20 grain (see Alpha101.q20)
       |  SELECT * REPLACE (floor(vwap * 1048576.0 + 0.5) / 1048576.0 AS vwap)
       |  FROM quotes),
       |a0 AS (
       |  SELECT stock, day, industry, open, close, high, low, volume, vwap, amount,
       |    total_mv,
       |    close - lag(close, 4) OVER ws AS dc4,
       |    vwap - lag(vwap, 5) OVER ws AS dvw5,
       |    lag(CAST(volume AS DOUBLE), 1) OVER ws AS voldl1,
       |    avg(amount) OVER fa5 AS adv5,
       |    avg(amount) OVER fa10 AS adv10,
       |    avg(amount) OVER fa15 AS adv15,
       |    avg(amount) OVER fa30 AS adv30,
       |    avg(amount) OVER fa40 AS adv40,
       |    avg(amount) OVER fa50 AS adv50,
       |    avg(amount) OVER fa60 AS adv60,
       |    avg(amount) OVER fa81 AS adv81,
       |    avg(amount) OVER fa120 AS adv120,
       |    avg(amount) OVER fa150 AS adv150,
       |    vwap - lag(vwap, 1) OVER ws AS dvw1,
       |    vwap - lag(vwap, 3) OVER ws AS dvw3,
       |    vwap - lag(vwap, 4) OVER ws AS dvw4,
       |    open - lag(open, 1) OVER ws AS do1,
       |    open - lag(open, 2) OVER ws AS do2,
       |    open - min(open) OVER fa13 AS o_min13,
       |    open - min(open) OVER fa12 AS om12,
       |    vwap - min(vwap) OVER fa11 AS vm11,
       |    sum(open) OVER fa12 AS so12,
       |    sum((high + low) / 2.0) OVER fa19 AS s19hl2,
       |    floor((high * 0.0261661 + vwap * 0.9738339) * 1048576.0 + 0.5) / 1048576.0 AS wp74,
       |    floor((low * 0.352233 + vwap * 0.647767) * 1048576.0 + 0.5) / 1048576.0 AS wp78,
       |    floor((high * 0.876703 + close * 0.123297) * 1048576.0 + 0.5) / 1048576.0 AS wp85,
       |    CASE WHEN ((high + low) / 2.0 + close) < (low + open)
       |      THEN 1.0 ELSE 0.0 END AS b92,
       |    (low + open) - (2.0 * vwap) AS x71,
       |    (high + low) / 2.0 - vwap AS x77,
       |    floor((close * 0.60733 + open * 0.39267) * 1048576.0 + 0.5) / 1048576.0 AS wp79,
       |    floor((open * 0.868128 + high * 0.131872) * 1048576.0 + 0.5) / 1048576.0 AS wp80,
       |    floor((close * 0.369701 + vwap * 0.630299) * 1048576.0 + 0.5) / 1048576.0 AS wp87,
       |    floor((close * 0.524434 + vwap * 0.475566) * 1048576.0 + 0.5) / 1048576.0 AS wp93,
       |    floor((low * 0.721001 + vwap * 0.278999) * 1048576.0 + 0.5) / 1048576.0 AS wp97,
       |    high - max(high) OVER fa2 AS hm2,
       |    close - max(close) OVER fa4 AS cm4,
       |    close / nullif(lag(close, 1) OVER ws, 0) - 1.0 AS ret,
       |    close - lag(close, 1) OVER ws AS dc1,
       |    CAST(volume - lag(volume, 1) OVER ws AS DOUBLE) AS dv1,
       |    open - lag(high, 1) OVER ws AS ophl,
       |    open - lag(close, 1) OVER ws AS opcl,
       |    open - lag(low, 1) OVER ws AS opll,
       |    close / nullif(open, 0) AS co,
       |    ((close - low) - (high - close)) / nullif(close - low, 0) AS kline,
       |    open - close AS oc,
       |    (close + high) - low AS chl,
       |    close - lag(close, 3) OVER ws AS dc3,
       |    close - lag(close, 7) OVER ws AS dc7,
       |    high - lag(high, 2) OVER ws AS dh2,
       |    lag(close, 10) OVER ws AS c_lag10,
       |    lag(close, 20) OVER ws AS c_lag20,
       |    lag(close, 100) OVER ws AS c_lag100,
       |    CAST(volume AS DOUBLE) AS vold,
       |    avg(amount) OVER f20 AS adv20,
       |    (close - open) / nullif(open, 0) AS coo,
       |    vwap - close AS vmc,
       |    close - vwap AS cmv,
       |    CAST(volume - lag(volume, 3) OVER ws AS DOUBLE) AS dv3,
       |    abs(close - open) AS absco,
       |    high - close AS hc,
       |    (high + low) / 2.0 AS hl2,
       |    lag(close, 5) OVER ws AS c5l,
       |    ((close - low) - (high - close)) / nullif(high - low, 0)
       |      * CAST(volume AS DOUBLE) AS ibsv,
       |    avg(amount) OVER f180 AS adv180
       |  FROM quotes
       |  WINDOW ws AS (PARTITION BY stock ORDER BY day),
       |    f20 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       |    f180 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 179 PRECEDING AND CURRENT ROW),
       |    fa5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |    fa10 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       |    fa11 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 10 PRECEDING AND CURRENT ROW),
       |    fa12 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
       |    fa13 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 12 PRECEDING AND CURRENT ROW),
       |    fa15 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
       |    fa19 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 18 PRECEDING AND CURRENT ROW),
       |    fa30 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
       |    fa40 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 39 PRECEDING AND CURRENT ROW),
       |    fa50 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 49 PRECEDING AND CURRENT ROW),
       |    fa60 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
       |    fa81 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 80 PRECEDING AND CURRENT ROW),
       |    fa120 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 119 PRECEDING AND CURRENT ROW),
       |    fa150 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 149 PRECEDING AND CURRENT ROW),
       |    fa2 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
       |    fa4 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)),
       |a1 AS (
       |  SELECT *,
       |    lag(dc1, 1) OVER ws AS dc1l,
       |    lag(dc1, 2) OVER ws AS dc1l2,
       |    lag(oc, 1) OVER ws AS ocl,
       |    sum(open) OVER f5 * sum(ret) OVER f5 AS a8base,
       |    stddev_samp(ret) OVER f20 AS std20,
       |    -(kline - lag(kline, 9) OVER ws) AS a53,
       |    sum(ret * ret) OVER f250 AS s48,
       |    (c_lag20 - c_lag10) / 10.0 - (c_lag10 - close) / 10.0 AS ladder,
       |    min(dc1) OVER f5 AS tsmin_dc1_5,
       |    max(dc1) OVER f5 AS tsmax_dc1_5,
       |    min(dc1) OVER f4 AS tsmin_dc1_4,
       |    max(dc1) OVER f4 AS tsmax_dc1_4,
       |    sum(ret) OVER f250 AS sr250,
       |    avg(high) OVER f20 AS mh20,
       |    avg(close) OVER f100 AS m100,
       |    stddev_samp(close) OVER f20 AS stdc20,
       |    sum(volume) OVER f5 AS sv5,
       |    sum(volume) OVER f20 AS sv20,
       |    stddev_samp(ret) OVER f2 AS stdr2,
       |    stddev_samp(ret) OVER f5 AS stdr5,
       |    stddev_samp(high) OVER f10 AS stdh10,
       |    min(close) OVER f100 AS tsminc100,
       |    min(low) OVER f12 AS tsminl12,
       |    max(high) OVER f12 AS tsmaxh12,
       |    CASE WHEN count(*) OVER f20 > 1
       |      THEN CAST(count(*) OVER f20 AS DOUBLE) * sum(close * close) OVER f20
       |         - sum(close) OVER f20 * sum(close) OVER f20 END AS vxc20,
       |    CASE WHEN count(*) OVER f10 > 1
       |      THEN CAST(count(*) OVER f10 AS DOUBLE) * sum(high * high) OVER f10
       |         - sum(high) OVER f10 * sum(high) OVER f10 END AS vxh10,
       |    ${corrSql("high", "vold", 5)} AS corr_hv5,
       |    vold / nullif(lag(vold, 2) OVER ws, 0) AS vr2,
       |    vold / nullif(adv20, 0) AS var17,
       |    ret - lag(ret, 3) OVER ws AS dret3,
       |    max(vmc) OVER f3 AS tsmax_vmc3,
       |    min(vmc) OVER f3 AS tsmin_vmc3,
       |    sum(vwap) OVER f10 AS svw10,
       |    sum(close) OVER f5 AS sc5,
       |    sum(close) OVER f7 AS sc7,
       |    sum(close) OVER f20 AS sc20,
       |    sum(c5l) OVER f20 AS smdc520,
       |    min(low) OVER f5 AS a52min,
       |    sum(ret) OVER f240 AS sr240,
       |    sum(ret) OVER f20 AS sr20r,
       |    CASE WHEN count(*) OVER f5 > 1 THEN sqrt(
       |      (CAST(count(*) OVER f5 AS DOUBLE) * sum(absco * absco) OVER f5
       |        - sum(absco) OVER f5 * sum(absco) OVER f5)
       |      / (CAST(count(*) OVER f5 AS DOUBLE)
       |         * (CAST(count(*) OVER f5 AS DOUBLE) - 1.0))) END AS std_absco5,
       |    ${corrSql("close", "open", 10)} AS corr_co10,
       |    ${corrSql("close", "vold", 2)} AS corr_c_v2,
       |    ${corrSql("vwap", "c5l", 230)} AS corr_v_vw230,
       |    ${corrSql("adv20", "low", 5)} AS corr_adv_low5,
       |    list(close) OVER f30 AS l_c30,
       |    list(close) OVER f10 AS l_c10,
       |    ${tsRankAvgSql("vold", 5)} AS tsr_v5,
       |    ${tsRankAvgSql("high", 5)} AS tsr_h5,
       |    avg(close) OVER f8 AS mean_c8,
       |    avg(close) OVER f2 AS mean_c2,
       |    CASE WHEN count(*) OVER f8 > 1 THEN sqrt(
       |      (CAST(count(*) OVER f8 AS DOUBLE) * sum(close * close) OVER f8
       |        - sum(close) OVER f8 * sum(close) OVER f8)
       |      / (CAST(count(*) OVER f8 AS DOUBLE)
       |         * (CAST(count(*) OVER f8 AS DOUBLE) - 1.0))) END AS std_c8cf,
       |    min(vwap) OVER f16 AS tsmin_vw16,
       |    ${corrSql("vwap", "adv180", 18)} AS corr_vw_adv18,
       |    lag(-ret, 6) OVER ws AS nretl6,
       |    ret * total_mv AS capret,
       |    close - c5l AS dc5,
       |    close - c_lag10 AS dc10,
       |    ${tsRankAvgSql("abs(dc7)", 60)} AS tsr_absdc7_60,
       |    avg(close) OVER f200 AS mean_c200,
       |    sum(high) OVER f5 AS sh5,
       |    vwap - max(vwap) OVER f15 AS vmax15,
       |    sum(ret) OVER f10 AS sr10,
       |    sum(ret) OVER f2 AS sret2,
       |    ${corrSql("(-oc)", "voldl1", 15)} AS c36a,
       |    round(${corrSql("vwap", "adv20", 6)}, 6) AS c36b,
       |    round(${corrSql("adv20", "low", 12)}, 6) AS c31,
       |    hl2 - lag(hl2, 3) OVER ws AS dhl3,
       |    CASE WHEN open - hl2 <> 0 THEN (low - vwap) / (open - hl2) END AS ibs66,
       |    CASE WHEN open <> 0 THEN (-do2) / open END AS x73,
       |    ${tsRankAvgSql("close", 3)} AS tsr_c3,
       |    ${tsRankAvgSql("adv180", 12)} AS tsr_adv180_12,
       |    ${tsRankAvgSql("vwap", 3)} AS tsr_vw3,
       |    ${tsRankAvgSql("vold", 18)} AS tsr_v18,
       |    ${tsRankAvgSql("close", 8)} AS tsr_c8,
       |    ${tsRankAvgSql("adv60", 20)} AS tsr_adv60_20,
       |    ${tsRankAvgSql("vwap", 19)} AS tsr_vw19,
       |    ${tsRankAvgSql("adv60", 4)} AS tsr_adv60_4,
       |    ${tsRankAvgSql("close", 7)} AS tsr_c7,
       |    ${tsRankAvgSql("hl2", 3)} AS tsr_hl2_3,
       |    ${tsRankAvgSql("vold", 10)} AS tsr_v10,
       |    sum(adv20) OVER f22 AS s22adv20,
       |    sum(adv20) OVER f14 AS s14adv20,
       |    sum(adv30) OVER f37 AS s37adv30,
       |    sum(adv60) OVER f8 AS s8adv60,
       |    sum(adv60) OVER f19 AS s19adv60,
       |    sum(adv120) OVER f12 AS s12adv120,
       |    sum(adv40) OVER f19 AS s19adv40,
       |    sum(adv5) OVER f26 AS s26adv5,
       |    sum(wp78) OVER f19 AS s19wp78,
       |    ${dlSql("dvw3", 7)} AS dl66a,
       |    ${dlSql("dvw4", 2)} AS dl73a,
       |    ${dlSql("x77", 20)} AS dl77a,
       |    ${dlSql("b92", 14)} AS dl92a,
       |    round(${corrSql("hl2", "adv40", 8)}, 6) AS c72a,
       |    round(${corrSql("hl2", "adv40", 3)}, 6) AS c77,
       |    round(${corrSql("wp85", "adv30", 9)}, 6) AS c85a,
       |    ${corrSql("vwap", "vold", 4)} AS c75a,
       |    ${corrSql("low", "vold", 6)} AS c99b,
       |    sum(adv180) OVER f37 AS s37adv180,
       |    sum(adv10) OVER f49 AS s49adv10,
       |    ${tsRankAvgSql("adv150", 9)} AS tsr_adv150_9,
       |    ${tsRankAvgSql("low", 7)} AS tsr_low7,
       |    ${tsRankAvgSql("adv60", 17)} AS tsr_adv60_17,
       |    round(${corrSql("close", "adv20", 4)}, 6) AS c69,
       |    round(${corrSql("high", "adv10", 5)}, 6) AS c80,
       |    round(${corrSql("low", "adv10", 6)}, 6) AS c89,
       |    round(${corrSql("vwap", "adv30", 4)}, 6) AS c91b,
       |    ${dlSql("dvw1", 11)} AS dl76a,
       |    ${dlSql("do1", 14)} AS dl82a,
       |    round(wp87 - lag(wp87, 1) OVER ws, 6) AS d87,
       |    round(wp93 - lag(wp93, 2) OVER ws, 6) AS d93,
       |    ${argMinSql("close", 30)} AS amn100
       |  FROM a0
       |  WINDOW ws AS (PARTITION BY stock ORDER BY day),
       |    f2 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
       |    f4 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
       |    f5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |    f10 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       |    f12 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
       |    f20 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       |    f100 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 99 PRECEDING AND CURRENT ROW),
       |    f250 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 249 PRECEDING AND CURRENT ROW),
       |    f3 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |    f7 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       |    f8 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
       |    f16 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 15 PRECEDING AND CURRENT ROW),
       |    f30 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 29 PRECEDING AND CURRENT ROW),
       |    f240 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 239 PRECEDING AND CURRENT ROW),
       |    f15 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 14 PRECEDING AND CURRENT ROW),
       |    f200 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 199 PRECEDING AND CURRENT ROW),
       |    f14 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
       |    f19 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 18 PRECEDING AND CURRENT ROW),
       |    f22 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 21 PRECEDING AND CURRENT ROW),
       |    f26 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
       |    f37 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 36 PRECEDING AND CURRENT ROW),
       |    f49 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 48 PRECEDING AND CURRENT ROW)),
       |a2 AS (
       |  SELECT *,
       |    a8base - lag(a8base, 10) OVER ws AS a8diff,
       |    sign(CASE WHEN ret < 0 THEN std20 ELSE close END)
       |      * pow(abs(CASE WHEN ret < 0 THEN std20 ELSE close END), 2.0) AS a1sig,
       |    ${xrSql("open")} AS r_open,
       |    ${xrSql("volume")} AS r_vol,
       |    ${xrSql("low")} AS r_low,
       |    amount / nullif(adv20, 0) AS aratio,
       |    m100 - lag(m100, 100) OVER ws AS m100d,
       |    corr_hv5 - lag(corr_hv5, 5) OVER ws AS dcorr5,
       |    sign(dc1) + sign(dc1l) + sign(dc1l2) AS sgn3,
       |    (close - tsminl12) / nullif(tsmaxh12 - tsminl12, 0) AS stoch12,
       |    CASE WHEN tsmin_dc1_4 > 0 THEN dc1
       |         WHEN tsmax_dc1_4 < 0 THEN dc1 ELSE -dc1 END AS a10base,
       |    ${xrSql("vwap")} AS r_vwap,
       |    ${xrSql("vxc20")} AS r_stdc20,
       |    ${xrSql("vxh10")} AS r_stdh10,
       |    dc1 - dc1l AS ddc1,
       |    lag(a52min, 5) OVER ws AS a52minl,
       |    CAST(list_indexof(l_c30, list_aggregate(l_c30, 'max')) - 1 AS DOUBLE) AS argmax_c30,
       |    CAST(list_indexof(l_c10, list_aggregate(l_c10, 'max')) - 1 AS DOUBLE) AS argmax_c10,
       |    ${corrSql("sc5", "sc20", 2)} AS corr_s5_s20,
       |    ${corrSql("tsr_v5", "tsr_h5", 5)} AS corr_tsr5,
       |    ${xrSql("close")} AS r_close,
       |    ${xrSql("high")} AS r_high,
       |    ${xrSql("vr2")} AS r_vr2,
       |    ${xrSql("coo")} AS r_coo,
       |    ${tsRankAvgSql("var17", 5)} AS tsr_var17_5,
       |    list_sum(list_transform(list(var17) OVER f9v, (x, i) -> x * i))
       |      / (len(list(var17) OVER f9v) * (len(list(var17) OVER f9v) + 1) / 2.0)
       |      AS dl_var17_9,
       |    ${xrSql("dc1")} AS r_dc1,
       |    ${xrSql("oc")} AS r_oc,
       |    ${xrSql("round(1.0 + sr250, 6)")} AS r_sr250,
       |    ${xrSql("round(stdr2 / nullif(stdr5, 0), 6)")} AS r_ratio34,
       |    ${xrSql("dc5")} AS r29a,
       |    ${xrSql("dc10")} AS r31a,
       |    ${xrSql("(-dc3)")} AS r31f,
       |    ${xrSql("c36a")} AS r36a,
       |    ${xrSql("abs(c36b)")} AS r36d,
       |    ${xrSql("(mean_c200 - open) * (close - open)")} AS r36e,
       |    ${xrSql("1.0 / close")} AS r47a,
       |    ${xrSql("hc")} AS r47b,
       |    ${xrSql("dvw5")} AS r47c,
       |    ${xrSql("capret")} AS r56b,
       |    sum(sret2) OVER f3s AS ss23,
       |    ${tsRankAvgSql("vmax15", 20)} AS tsr84,
       |    ${tsRankAvgSql("nretl6", 5)} AS tsr_nret6_5,
       |    sign(CASE WHEN sum(abs(c31)) OVER (PARTITION BY day) <> 0
       |      THEN c31 / sum(abs(c31)) OVER (PARTITION BY day) END) AS sign31,
       |    (high - low) / (sc5 / 5.0) AS hlr,
       |    ${xrSql("hl2")} AS r_hl2,
       |    ${xrSql("adv15")} AS r_adv15,
       |    ${xrSql("adv30")} AS r_adv30,
       |    ${xrSql("adv50")} AS r_adv50,
       |    ${xrSql("dhl3")} AS r64b,
       |    ${xrSql("o_min13")} AS r65b,
       |    ${xrSql("om12")} AS r95a,
       |    ${xrSql("vm11")} AS r94a,
       |    ${xrSql("x71")} AS r71b,
       |    ${xrSql("dl66a")} AS r66a,
       |    ${xrSql("dl73a")} AS r73a,
       |    ${xrSql("dl77a")} AS r77a,
       |    ${xrSql("wp74")} AS r_wp74,
       |    ${xrSql("c85a")} AS r85a,
       |    ${xrSql("c75a")} AS r75a,
       |    ${xrSql("c99b")} AS r99b,
       |    ${tsRankAvgSql("dl92a", 18)} AS tsr92a,
       |    ${dlSql("ibs66", 11)} AS dl66b,
       |    ${dlSql("x73", 3)} AS dl73b,
       |    ${dlSql("c72a", 10)} AS dl72a,
       |    ${dlSql("c77", 5)} AS dl77b,
       |    round(${corrSql("vwap", "s22adv20", 9)}, 6) AS c62,
       |    round(${corrSql("so12", "s12adv120", 16)}, 6) AS c64,
       |    round(${corrSql("open", "s8adv60", 6)}, 6) AS c65,
       |    round(${corrSql("close", "s14adv20", 6)}, 6) AS c86,
       |    round(${corrSql("close", "s37adv30", 15)}, 6) AS c74a,
       |    round(${corrSql("s19wp78", "s19adv40", 6)}, 6) AS c78a,
       |    round(${corrSql("s19hl2", "s19adv40", 12)}, 6) AS c95,
       |    round(${corrSql("vwap", "s26adv5", 4)}, 6) AS c98a,
       |    round(${corrSql("s19hl2", "s19adv60", 8)}, 6) AS c99a,
       |    ${corrSql("tsr_c3", "tsr_adv180_12", 18)} AS c71,
       |    ${corrSql("tsr_vw3", "tsr_v18", 6)} AS c72b,
       |    ${corrSql("tsr_hl2_3", "tsr_v10", 7)} AS c85b,
       |    ${corrSql("tsr_c8", "tsr_adv60_20", 8)} AS c88b,
       |    ${corrSql("tsr_vw19", "tsr_adv60_4", 18)} AS c94b,
       |    ${corrSql("tsr_c7", "tsr_adv60_4", 3)} AS c96b,
       |    vwap - avg(vwap) OVER pdi AS nvwap,
       |    close - avg(close) OVER pdi AS nclose,
       |    low - avg(low) OVER pdi AS nlow,
       |    vold - avg(vold) OVER pdi AS nvol,
       |    adv20 - avg(adv20) OVER pdi AS nadv20,
       |    adv40 - avg(adv40) OVER pdi AS nadv40,
       |    adv81 - avg(adv81) OVER pdi AS nadv81,
       |    wp79 - avg(wp79) OVER pdi AS nwp79,
       |    wp80 - avg(wp80) OVER pdi AS nwp80,
       |    wp97 - avg(wp97) OVER pdi AS nwp97,
       |    ${xrSql("hm2")} AS r67a,
       |    ${xrSql("dvw1")} AS r70a,
       |    ${xrSql("cm4")} AS r90a,
       |    ${xrSql("dl76a")} AS r76a,
       |    ${xrSql("dl82a")} AS r82a,
       |    ${xrSql("amn100")} AS r100b,
       |    ${xrSql("adv20")} AS r_adv20x,
       |    ${tsRankAvgSql("c69", 9)} AS tsr69,
       |    ${tsRankAvgSql("c80", 5)} AS tsr80,
       |    ${dlSql("c89", 5)} AS dl89a,
       |    ${dlSql("c91b", 2)} AS dl91c,
       |    ${dlSql("d87", 2)} AS dl87a,
       |    ${dlSql("d93", 16)} AS dl93b,
       |    ${corrSql("tsr_vw3", "tsr_adv150_9", 14)} AS c79,
       |    ${corrSql("tsr_low7", "tsr_adv60_17", 4)} AS c97x,
       |    round(${corrSql("vwap", "s49adv10", 8)}, 6) AS c81,
       |    round(${corrSql("vwap", "s37adv180", 13)}, 6) AS c63
       |  FROM a1
       |  WINDOW ws AS (PARTITION BY stock ORDER BY day),
       |    f9v AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
       |    f3s AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |    pdi AS (PARTITION BY day, industry)),
       |a3 AS (
       |  SELECT *,
       |    list_filter(list(a1sig) OVER f5, v -> v IS NOT NULL) AS a1l,
       |    ${corrSql("r_open", "r_vol", 10)} AS corr3,
       |    ${corrSql("open", "CAST(volume AS DOUBLE)", 10)} AS corr6,
       |    ${tsRankAvgSql("r_low", 9)} AS tsr_low9,
       |    ${tsRankAvgSql("close", 10)} AS tsr_close10,
       |    ${corrSql("dc1", "dc1l", 250)} AS corr48,
       |    ${xrSql("stoch12")} AS r_stoch,
       |    ${xrSql("sgn3")} AS r_sgn3,
       |    ${xrSql("a10base")} AS r_a10,
       |    ${tsRankAvgSql("vold", 32)} AS tsr_vol32,
       |    ${tsRankAvgSql("chl", 16)} AS tsr_chl16,
       |    ${tsRankAvgSql("ret", 32)} AS tsr_ret32,
       |    ${corrSql("ocl", "close", 200)} AS corr_oc200,
       |    ${corrSql("high", "vold", 10)} AS corr_hv10,
       |    ${tsRankAvgSql("aratio", 20)} AS tsr_ar20,
       |    ${tsRankAvgSql("(-dc7)", 8)} AS tsr_md7_8,
       |    ${corrSql("high", "r_vol", 5)} AS corr_hrv5,
       |    ${corrSql("r_vol", "r_vwap", 5)} AS corr_rvv5,
       |    ${covSql("r_close", "r_vol", 5)} AS cov_rc_rv5,
       |    ${covSql("r_high", "r_vol", 5)} AS cov_rh_rv5,
       |    ${corrSql("r_high", "r_vol", 3)} AS corr_rh_rv3,
       |    ${corrSql("r_vr2", "r_coo", 6)} AS corr_002,
       |    max(corr_tsr5) OVER f3 AS a26max,
       |    ${corrSql("r_vol", "r_vwap", 6)} AS corr_rvv6,
       |    ${xrSql("(-r29a)")} AS r29b,
       |    ${xrSql("r31a")} AS r31b,
       |    ${xrSql("tsr_nret6_5")} AS r36c,
       |    round(CASE WHEN ss23 <> 0 THEN sr10 / ss23 END, 6) AS q56x,
       |    lag(hlr, 2) OVER (PARTITION BY stock ORDER BY day) AS hlr_l2,
       |    ${xrSql("r_vol")} AS r83b,
       |    pow(tsr84, dc4) AS p84,
       |    ${xrSql("c62")} AS r62a,
       |    ${xrSql("c64")} AS r64a,
       |    ${xrSql("c65")} AS r65a,
       |    ${tsRankAvgSql("c86", 20)} AS tsr86,
       |    ${xrSql("c74a")} AS r74a,
       |    round(${corrSql("r_wp74", "r_vol", 11)}, 6) AS c74b,
       |    round(${corrSql("r_low", "r_adv50", 12)}, 6) AS c75b,
       |    ${xrSql("c78a")} AS r78a,
       |    ${xrSql("c95")} AS r95b,
       |    ${dlSql("c98a", 7)} AS dl98a,
       |    ${xrSql("c99a")} AS r99a,
       |    ${dlSql("c71", 4)} AS dl71a,
       |    ${dlSql("(r71b * r71b)", 16)} AS dl71b,
       |    ${dlSql("c72b", 2)} AS dl72b,
       |    ${xrSql("c85b")} AS r85b,
       |    ((r_open + r_low) - r_high) - r_close AS x88,
       |    ${dlSql("c88b", 6)} AS dl88b,
       |    ${tsRankAvgSql("c94b", 2)} AS tsr94,
       |    ${argMaxSql("c96b", 12)} AS am96,
       |    round(${corrSql("r_vwap", "r_vol", 3)}, 6) AS c96a,
       |    round(${corrSql("r_open", "r_adv15", 20)}, 6) AS c98b,
       |    round(${corrSql("r_low", "r_adv30", 7)}, 6) AS c92,
       |    round(${corrSql("r_high", "r_adv15", 8)}, 6) AS c68,
       |    CASE WHEN (r_open * 2) < (r_hl2 + r_high) THEN 1.0 ELSE 0.0 END AS b62,
       |    ${tsRankAvgSql("dl66b", 6)} AS tsr66,
       |    ${tsRankAvgSql("dl73b", 16)} AS tsr73,
       |    ${xrSql("dl72a")} AS r72a,
       |    ${xrSql("dl77b")} AS r77b,
       |    round(${corrSql("nvwap", "vold", 3)}, 6) AS c58,
       |    round(${corrSql("nvwap", "vold", 4)}, 6) AS c59,
       |    round(${corrSql("nvwap", "nadv20", 6)}, 6) AS c67,
       |    round(${corrSql("nclose", "adv50", 17)}, 6) AS c70,
       |    round(${corrSql("nlow", "adv81", 8)}, 6) AS c76,
       |    round(${corrSql("nvol", "open", 17)}, 6) AS c82,
       |    round(${corrSql("nadv81", "close", 13)}, 6) AS c87,
       |    round(${corrSql("nadv40", "low", 5)}, 6) AS c90,
       |    round(${corrSql("nclose", "vold", 9)}, 6) AS c91a,
       |    round(${corrSql("nvwap", "adv81", 17)}, 6) AS c93,
       |    round(${corrSql("close", "r_adv20x", 5)}, 6) AS c100,
       |    round(nclose - lag(nclose, 2) OVER (PARTITION BY stock ORDER BY day), 6) AS d63r,
       |    nvwap - lag(nvwap, 2) OVER (PARTITION BY stock ORDER BY day) AS dnv2,
       |    round(nwp79 - lag(nwp79, 1) OVER (PARTITION BY stock ORDER BY day), 6) AS d79r,
       |    sign(round(nwp80 - lag(nwp80, 4) OVER (PARTITION BY stock ORDER BY day), 6)) AS s80,
       |    round(nvwap - lag(nvwap, 3) OVER (PARTITION BY stock ORDER BY day), 6) AS dnv3r,
       |    round(nwp97 - lag(nwp97, 3) OVER (PARTITION BY stock ORDER BY day), 6) AS d97r,
       |    ${tsRankAvgSql("dl89a", 3)} AS tsr89a,
       |    ${xrSql("dl91c")} AS r91b,
       |    ${xrSql("dl87a")} AS r87a,
       |    ${xrSql("dl93b")} AS r93b,
       |    ${xrSql("c79")} AS r79b,
       |    ${tsRankAvgSql("c97x", 18)} AS tsr97a,
       |    ${xrSql("c81")} AS r81a,
       |    ${dlSql("c63", 12)} AS dl63b
       |  FROM a2
       |  WINDOW f5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |    f3 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
       |a4 AS (
       |  SELECT *,
       |    CAST(list_indexof(a1l, list_aggregate(a1l, 'max')) - 1 AS DOUBLE) AS a1arg,
       |    (corr48 * dc1) / nullif(close, 0) AS a48num,
       |    ${corrSql("r_stoch", "r_vol", 6)} AS corr_rsv6,
       |    sum(corr_rvv6) OVER (PARTITION BY stock ORDER BY day
       |      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) / 2.0 AS s27,
       |    ${xrSql("r29b")} AS r29c,
       |    ${dlSql("(-r31b)", 10)} AS dl31,
       |    ${xrSql("q56x")} AS r56a,
       |    ${xrSql("hlr_l2")} AS r83a,
       |    ${xrSql("b62")} AS r62b,
       |    ${xrSql("c74b")} AS r74c,
       |    ${xrSql("c75b")} AS r75b,
       |    ${tsRankAvgSql("(((r95b * r95b) * (r95b * r95b)) * r95b)", 11)} AS tsr95,
       |    ${tsRankAvgSql("c68", 13)} AS tsr68,
       |    ${dlSql("c92", 6)} AS dl92b,
       |    ${dlSql("c96a", 4)} AS dl96a,
       |    ${argMinSql("c98b", 8)} AS amn98,
       |    ${dlSql("x88", 8)} AS dl88a,
       |    ${dlSql("am96", 14)} AS dl96b,
       |    ${tsRankAvgSql("dl71a", 15)} AS tsr71a,
       |    ${tsRankAvgSql("dl71b", 4)} AS tsr71b,
       |    ${xrSql("dl72b")} AS r72b,
       |    ${tsRankAvgSql("dl88b", 2)} AS tsr88,
       |    ${xrSql("dl98a")} AS r98a,
       |    ${dlSql("c58", 7)} AS dl58,
       |    ${dlSql("c59", 16)} AS dl59,
       |    ${dlSql("d63r", 8)} AS dl63a,
       |    ${xrSql("dl63b")} AS r63b,
       |    ${xrSql("c67")} AS r67b,
       |    round(max(dnv2) OVER (PARTITION BY stock ORDER BY day
       |      ROWS BETWEEN 3 PRECEDING AND CURRENT ROW), 6) AS m69,
       |    ${tsRankAvgSql("c70", 17)} AS tsr70,
       |    ${tsRankAvgSql("c76", 19)} AS tsr76a,
       |    ${xrSql("d79r")} AS r79a,
       |    ${xrSql("s80")} AS r80a,
       |    ${dlSql("c82", 6)} AS dl82b,
       |    ${dlSql("abs(c87)", 4)} AS dl87b,
       |    ${dlSql("dnv3r", 10)} AS dl89b,
       |    ${tsRankAvgSql("c90", 3)} AS tsr90,
       |    ${dlSql("c91a", 16)} AS dl91a,
       |    ${dlSql("c93", 19)} AS dl93a,
       |    ${dlSql("d97r", 20)} AS dl97a,
       |    ${dlSql("tsr97a", 15)} AS dl97b,
       |    c100 - r100b AS inner100,
       |    ${xrSql("((r81a * r81a) * (r81a * r81a))")} AS r81b
       |  FROM a3),
       |a5 AS (
       |  SELECT *,
       |    ${xrSql("a1arg")} AS r_a1arg,
       |    ${xrSql("a8diff")} AS r_a8diff,
       |    ${xrSql("ophl")} AS r_ophl,
       |    ${xrSql("opcl")} AS r_opcl,
       |    ${xrSql("opll")} AS r_opll,
       |    ${xrSql("-(1.0 - open / nullif(close, 0))")} AS r_a33,
       |    ${xrSql("tsr_close10")} AS r_tsrc10,
       |    ${xrSql("co")} AS r_co,
       |    ${xrSql("vwap - close")} AS r_vmc,
       |    ${xrSql("vwap + close")} AS r_vpc,
       |    avg(a48num) OVER (PARTITION BY day, industry) AS a48mean,
       |    ${xrSql("corr_oc200")} AS r_coc200,
       |    ${xrSql("(1.0 - r_ratio34) + (1.0 - r_dc1)")} AS r_a34,
       |    ${xrSql("corr_rvv5")} AS r_c50,
       |    ${xrSql("round(open - svw10 / 10.0, 6)")} AS r_a5,
       |    ${xrSql("cmv")} AS r_cmv,
       |    ${xrSql("tsmax_vmc3")} AS r_maxvmc3,
       |    ${xrSql("tsmin_vmc3")} AS r_minvmc3,
       |    ${xrSql("dv3")} AS r_dv3,
       |    ${xrSql("cov_rc_rv5")} AS r_cov13,
       |    ${xrSql("dret3")} AS r_dret3,
       |    ${xrSql("cov_rh_rv5")} AS r_cov16,
       |    ${xrSql("ddc1")} AS r_ddc1,
       |    ${xrSql("tsr_var17_5")} AS r_var17r,
       |    ${xrSql("std_absco5 + (close - open) + corr_co10")} AS r_x18,
       |    ${xrSql("-ret * adv20 * vwap * hc")} AS r_a25,
       |    ${xrSql("smdc520 / 20.0")} AS r_mdc,
       |    ${xrSql("corr_s5_s20")} AS r_cs45,
       |    ${xrSql("round((sr240 - sr20r) / 220.0, 6)")} AS r_a52,
       |    ${xrSql("argmax_c30")} AS r_am30,
       |    ${xrSql("argmax_c10")} AS r_am10,
       |    ${xrSql("ibsv")} AS r_ibsv,
       |    ${xrSql("corr_rh_rv3")} AS r_c15,
       |    corr_adv_low5 + hl2 - close AS a28x,
       |    sc7 / 7.0 - close AS x32a,
       |    ${xrSql("s27")} AS r_s27,
       |    ${xrSql("dl_var17_9")} AS r_dl39,
       |    ${xrSql("vwap - tsmin_vw16")} AS r_v61a,
       |    ${xrSql("corr_vw_adv18")} AS r_v61b,
       |    min(r29c) OVER (PARTITION BY stock ORDER BY day
       |      ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS m29,
       |    ${xrSql("dl31")} AS r31c,
       |    ${xrSql("dl88a")} AS r88a,
       |    ${tsRankAvgSql("dl92b", 6)} AS tsr92b,
       |    ${tsRankAvgSql("dl96a", 8)} AS tsr96a,
       |    ${tsRankAvgSql("dl96b", 13)} AS tsr96b,
       |    ${tsRankAvgSql("amn98", 6)} AS tsr98,
       |    ${tsRankAvgSql("dl58", 5)} AS tsr58,
       |    ${tsRankAvgSql("dl59", 8)} AS tsr59,
       |    ${xrSql("dl63a")} AS r63a,
       |    ${xrSql("m69")} AS r69a,
       |    ${dlSql("tsr76a", 17)} AS dl76b,
       |    ${tsRankAvgSql("dl82b", 13)} AS tsr82,
       |    ${tsRankAvgSql("dl87b", 14)} AS tsr87,
       |    ${tsRankAvgSql("dl89b", 15)} AS tsr89b,
       |    ${dlSql("dl91a", 3)} AS dl91b,
       |    ${tsRankAvgSql("dl93a", 7)} AS tsr93,
       |    ${xrSql("dl97a")} AS r97a,
       |    ${tsRankAvgSql("dl97b", 6)} AS tsr97b,
       |    inner100 - avg(inner100) OVER (PARTITION BY day, industry) AS n100b,
       |    ${prodSql("r81b", 14)} AS pr81
       |  FROM a4),
       |a6 AS (
       |  SELECT *,
       |    max(r_c50) OVER f5 AS tsmax_rc50,
       |    sum(r_c15) OVER f3r AS sum_rc15_3,
       |    list_sum(list_transform(list(r_am30) OVER f2r, (x, i) -> x * i))
       |      / (len(list(r_am30) OVER f2r) * (len(list(r_am30) OVER f2r) + 1) / 2.0)
       |      AS dl_am30,
       |    r_ibsv * 1.0 / sum(abs(r_ibsv)) OVER pd AS sc_ibsv,
       |    r_am10 * 1.0 / sum(abs(r_am10)) OVER pd AS sc_am10,
       |    a28x * 1.0 / sum(abs(a28x)) OVER pd AS sc_a28,
       |    x32a * 1.0 / sum(abs(x32a)) OVER pd AS sc_x32,
       |    corr_v_vw230 * 1.0 / sum(abs(corr_v_vw230)) OVER pd AS sc_c230,
       |    ${xrSql("dc7 * (1.0 - r_dl39)")} AS r_a39,
       |    round(CASE WHEN sum(abs(ln(m29))) OVER pd <> 0
       |      THEN ln(m29) / sum(abs(ln(m29))) OVER pd END, 6) AS sc29r,
       |    ${xrSql("r31c")} AS r31d,
       |    ${dlSql("tsr98", 8)} AS dl98b,
       |    ${tsRankAvgSql("dl76b", 19)} AS tsr76b,
       |    ${tsRankAvgSql("dl91b", 4)} AS tsr91,
       |    CASE WHEN sum(abs(n100b)) OVER pd <> 0
       |      THEN n100b / sum(abs(n100b)) OVER pd END AS sc100b,
       |    r_ibsv - avg(r_ibsv) OVER (PARTITION BY day, industry) AS nn100,
       |    ${xrSql("round(ln(pr81), 6)")} AS r81c
       |  FROM a5
       |  WINDOW f5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       |    f3r AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
       |    f2r AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
       |    pd AS (PARTITION BY day)),
       |a7 AS (
       |  SELECT *,
       |    ${xrSql("sc29r")} AS r29d,
       |    ${xrSql("r31d")} AS r31e,
       |    ${xrSql("dl98b")} AS r98b,
       |    nn100 - avg(nn100) OVER (PARTITION BY day, industry) AS n100a
       |  FROM a6),
       |a8 AS (
       |  SELECT *,
       |    ${xrSql("r29d")} AS r29e,
       |    CASE WHEN sum(abs(n100a)) OVER (PARTITION BY day) <> 0
       |      THEN n100a / sum(abs(n100a)) OVER (PARTITION BY day) END AS sc100a
       |  FROM a7),
       |a9 AS (
       |  SELECT *,
       |    min(r29e) OVER (PARTITION BY stock ORDER BY day
       |      ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m29b
       |  FROM a8)""".stripMargin

  private val alphaCte: String = alphaCteWith(Quotes.sqlCte)

  /** Shared oracle prefix: the quotes CTE + the base derivation
    * columns of Technical.compute (prev_c/delta_c/tr/tp/ret, money
    * flow, up/dn moves, OBV) — textually mirroring the Spark side. */
  private val baseCte: String =
    s"""WITH ${Quotes.sqlCte},
       |base AS (
       |  SELECT stock, day, close, open, high, low, volume, amount, turnover,
       |    lag(close, 1) OVER ws AS prev_c,
       |    close - lag(close, 1) OVER ws AS delta_c,
       |    greatest(high - low, abs(high - coalesce(lag(close, 1) OVER ws, close)),
       |             abs(low - coalesce(lag(close, 1) OVER ws, close))) AS tr,
       |    (high + low + close) / 3.0 AS tp,
       |    close / nullif(lag(close, 1) OVER ws, 0) - 1.0 AS ret
       |  FROM quotes
       |  WINDOW ws AS (PARTITION BY stock ORDER BY day)),
       |b2 AS (
       |  SELECT *,
       |    CASE WHEN tp > lag(tp, 1) OVER ws THEN tp * volume ELSE 0.0 END AS mf_pos,
       |    CASE WHEN tp < lag(tp, 1) OVER ws THEN tp * volume ELSE 0.0 END AS mf_neg,
       |    CASE WHEN delta_c > 0 THEN delta_c ELSE 0.0 END AS up_move,
       |    CASE WHEN delta_c < 0 THEN -delta_c ELSE 0.0 END AS dn_move,
       |    sum(sign(delta_c) * volume) OVER (PARTITION BY stock ORDER BY day
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS obv
       |  FROM base
       |  WINDOW ws AS (PARTITION BY stock ORDER BY day))""".stripMargin

  private val frames: String =
    """f5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
      |f12 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 11 PRECEDING AND CURRENT ROW),
      |f14 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW),
      |f20 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
      |f25 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 24 PRECEDING AND CURRENT ROW),
      |f60 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 59 PRECEDING AND CURRENT ROW),
      |ws AS (PARTITION BY stock ORDER BY day)""".stripMargin

  /** Closed-form sample-stddev SQL, matching [[graft.ops.TsOps.tsStddevCf]]
    * association for association (exact power sums for exact-grain
    * inputs — engine-proof where stddev_samp's incremental moments
    * are not; see tsStddevCf's doc). */
  private def stdCfSql(x: String, f: String): String = {
    val n = s"CAST(count(*) OVER $f AS DOUBLE)"
    s"(CASE WHEN $n > 1 THEN sqrt(($n * sum(($x) * ($x)) OVER $f" +
      s" - sum($x) OVER $f * sum($x) OVER $f) / ($n * ($n - 1.0))) END)"
  }

  private val q40Oracle: String =
    s"""$baseCte
         |SELECT stock, day,
         | floor((avg(close) OVER f5) * 1e6 + 0.5) / 1e6 + 0.0 AS ma_5,
         | floor((avg(close) OVER f20) * 1e6 + 0.5) / 1e6 + 0.0 AS ma_20,
         | floor((avg(close) OVER f60) * 1e6 + 0.5) / 1e6 + 0.0 AS ma_60,
         | floor(((close - avg(close) OVER f20) / nullif(avg(close) OVER f20, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS bias_20,
         | floor(((close - avg(close) OVER f60) / nullif(avg(close) OVER f60, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS bias_60,
         | floor((avg(close) OVER f20 + 2.0 * ${stdCfSql("close", "f20")}) * 1e6 + 0.5) / 1e6 + 0.0 AS boll_upper,
         | floor((avg(close) OVER f20 - 2.0 * ${stdCfSql("close", "f20")}) * 1e6 + 0.5) / 1e6 + 0.0 AS boll_lower,
         | floor((100.0 * sum(up_move) OVER f14
         |   / nullif(sum(up_move) OVER f14 + sum(dn_move) OVER f14, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS rsi_14,
         | floor((avg(tr) OVER f14) * 1e6 + 0.5) / 1e6 + 0.0 AS atr_14
         |FROM b2
         |WINDOW $frames
         |ORDER BY stock, day""".stripMargin

  private val q41Oracle: String =
    s"""$baseCte,
         |b3 AS (
         |  SELECT *,
         |    avg(tp) OVER f14 AS tp_m,
         |    list(tp) OVER f14 AS tp_l,
         |    max(high) OVER f14 AS hh14,
         |    min(low) OVER f14 AS ll14,
         |    sum(amount) OVER f20 / nullif(sum(volume) OVER f20, 0) AS vwap20,
         |    sum(mf_pos) OVER f14 AS smfp,
         |    sum(mf_neg) OVER f14 AS smfn
         |  FROM b2
         |  WINDOW $frames)
         |SELECT stock, day,
         | floor(((tp - tp_m) / nullif(0.015 *
         |   (list_sum(list_transform(tp_l, x -> abs(x - tp_m))) / len(tp_l)), 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS cci_14,
         | floor(((hh14 - close) / nullif(hh14 - ll14, 0) * -100.0) * 1e6 + 0.5) / 1e6 + 0.0 AS wr_14,
         | floor((100.0 * smfp / nullif(smfp + smfn, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS mfi_14,
         | floor((CAST(volume AS DOUBLE)
         |   / nullif(CAST(lag(volume, 20) OVER ws AS DOUBLE), 0) - 1.0) * 1e6 + 0.5) / 1e6 + 0.0 AS vroc_20,
         | floor(((obv - lag(obv, 20) OVER ws) / 20.0) * 1e6 + 0.5) / 1e6 + 0.0 AS obv_slope_20,
         | floor(((close - vwap20) / nullif(vwap20, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS vwap_bias_20
         |FROM b3
         |WINDOW ws AS (PARTITION BY stock ORDER BY day)
         |ORDER BY stock, day""".stripMargin

  private val q44Oracle: String =
    s"""WITH ${Quotes.sqlCte},
         |m1 AS (
         |  SELECT stock, day, close, high, low, volume, turnover,
         |    lag(close, 1) OVER ws AS prev_c,
         |    close / nullif(lag(close, 1) OVER ws, 0) - 1.0 AS ret,
         |    close / nullif(lag(close, 5) OVER ws, 0) - 1.0 AS roc_5,
         |    close / nullif(lag(close, 20) OVER ws, 0) - 1.0 AS roc_20,
         |    close / nullif(lag(close, 60) OVER ws, 0) - 1.0 AS roc_60
         |  FROM quotes
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day)),
         |m2 AS (
         |  SELECT *,
         |    (high - low) / nullif(prev_c, 0) AS amp,
         |    CASE WHEN close > prev_c THEN CAST(volume AS DOUBLE) ELSE 0.0 END AS v_up,
         |    CASE WHEN close < prev_c THEN CAST(volume AS DOUBLE) ELSE 0.0 END AS v_dn,
         |    CASE WHEN close = prev_c THEN CAST(volume AS DOUBLE) ELSE 0.0 END AS v_fl
         |  FROM m1),
         |m3 AS (
         |  SELECT *,
         |    avg(turnover) OVER f5 AS turnover_mean_5,
         |    avg(amp) OVER f5 AS amplitude_mean_5,
         |    (close - min(low) OVER f20)
         |      / nullif(max(high) OVER f20 - min(low) OVER f20, 0) AS pos_20,
         |    (close - min(low) OVER f60)
         |      / nullif(max(high) OVER f60 - min(low) OVER f60, 0) AS pos_60,
         |    roc_5 - lag(roc_5, 5) OVER ws AS mom_acc_5,
         |    (CAST(count(*) OVER f20 AS DOUBLE) * sum(CAST(day AS DOUBLE) * close) OVER f20
         |       - sum(CAST(day AS DOUBLE)) OVER f20 * sum(close) OVER f20)
         |    / nullif(CAST(count(*) OVER f20 AS DOUBLE)
         |         * sum(CAST(day AS DOUBLE) * CAST(day AS DOUBLE)) OVER f20
         |       - sum(CAST(day AS DOUBLE)) OVER f20 * sum(CAST(day AS DOUBLE)) OVER f20, 0)
         |      AS linear_reg_slope_20,
         |    (sum(v_up) OVER f26 + 0.5 * sum(v_fl) OVER f26)
         |      / nullif(sum(v_dn) OVER f26 + 0.5 * sum(v_fl) OVER f26, 0) AS vr_26,
         |    list_filter(list(ret) OVER f20, x -> x IS NOT NULL) AS lf
         |  FROM m2
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day),
         |    f5 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         |    f20 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
         |    f26 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         |    f60 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)),
         |m4 AS (SELECT *, len(lf) AS nn, list_sum(lf) / len(lf) AS mu FROM m3),
         |m5 AS (
         |  SELECT *,
         |    list_sum(list_transform(lf, x -> (x - mu) * (x - mu))) AS c2,
         |    list_sum(list_transform(lf, x -> (x - mu) * (x - mu) * (x - mu))) AS c3,
         |    list_sum(list_transform(lf, x -> (x - mu) * (x - mu) * (x - mu) * (x - mu))) AS c4
         |  FROM m4)
         |SELECT stock, day,
         | floor((roc_5) * 1e6 + 0.5) / 1e6 + 0.0 AS roc_5,
         | floor((roc_20) * 1e6 + 0.5) / 1e6 + 0.0 AS roc_20,
         | floor((roc_60) * 1e6 + 0.5) / 1e6 + 0.0 AS roc_60,
         | floor((CASE WHEN nn > 1 THEN sqrt(c2 / (nn - 1.0)) END) * 1e6 + 0.5) / 1e6 + 0.0 AS volatility_20,
         | floor((turnover_mean_5) * 1e6 + 0.5) / 1e6 + 0.0 AS turnover_mean_5,
         | floor((amplitude_mean_5) * 1e6 + 0.5) / 1e6 + 0.0 AS amplitude_mean_5,
         | floor((pos_20) * 1e6 + 0.5) / 1e6 + 0.0 AS pos_20,
         | floor((pos_60) * 1e6 + 0.5) / 1e6 + 0.0 AS pos_60,
         | floor((mom_acc_5) * 1e6 + 0.5) / 1e6 + 0.0 AS mom_acc_5,
         | floor((linear_reg_slope_20) * 1e6 + 0.5) / 1e6 + 0.0 AS linear_reg_slope_20,
         | floor((vr_26) * 1e6 + 0.5) / 1e6 + 0.0 AS vr_26,
         | floor((CASE WHEN c2 <> 0
         |   THEN sqrt(CAST(nn AS DOUBLE)) * c3 / sqrt(c2 * c2 * c2) END) * 1e6 + 0.5) / 1e6 + 0.0 AS skew_20,
         | floor((CASE WHEN c2 <> 0
         |   THEN CAST(nn AS DOUBLE) * c4 / (c2 * c2) - 3.0 END) * 1e6 + 0.5) / 1e6 + 0.0 AS kurt_20
         |FROM m5
         |ORDER BY stock, day""".stripMargin

  private val q45Oracle: String =
    s"""WITH ${Quotes.sqlCte}
         |SELECT stock, day,
         | floor((ln(total_mv)) * 1e6 + 0.5) / 1e6 + 0.0 AS ln_market_cap,
         | floor((1.0 / nullif(pe, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS ep_ttm,
         | floor((1.0 / nullif(pb, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS bp_lr,
         | floor((1.0 / nullif(ps, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS sp_ttm,
         | floor((dv_ratio) * 1e6 + 0.5) / 1e6 + 0.0 AS dividend_yield,
         | floor((pb / nullif(pe, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS roe_ttm,
         | floor(((pe - avg(pe) OVER f60) / nullif(${stdCfSql("pe", "f60")}, 0)) * 1e6 + 0.5) / 1e6 + 0.0
         |   AS pe_zscore_60,
         | floor(((pb - avg(pb) OVER f60) / nullif(${stdCfSql("pb", "f60")}, 0)) * 1e6 + 0.5) / 1e6 + 0.0
         |   AS pb_zscore_60
         |FROM quotes
         |WINDOW f60 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
         |ORDER BY stock, day""".stripMargin

  /** The 15 implemented alphas as raw SQL over the a5 stage —
    * shared by the q46/q47 finals and the q58 discovery rollup. */
  private val alphaExprSql: Seq[(String, String)] = Seq(
    "alpha_001" -> "r_a1arg - 0.5",
    "alpha_003" -> "-corr3",
    "alpha_004" -> "-tsr_low9",
    "alpha_006" -> "-corr6",
    "alpha_008" -> "-r_a8diff",
    "alpha_012" -> "sign(dv1) * (-dc1)",
    "alpha_020" -> "(-r_ophl) * r_opcl * r_opll",
    "alpha_033" -> "r_a33",
    "alpha_038" -> "(-r_tsrc10) * r_co",
    "alpha_041" -> "pow(high * low, 0.5) - vwap",
    "alpha_042" -> "r_vmc / nullif(r_vpc, 0)",
    "alpha_048" -> "(a48num - a48mean) / nullif(s48, 0)",
    "alpha_053" -> "a53",
    "alpha_054" -> "(-(low - close) * pow(open, 5.0)) / nullif((low - high) * pow(close, 5.0), 0)",
    "alpha_101" -> "(close - open) / (high - low + 0.001)",
    "alpha_009" -> ("CASE WHEN tsmin_dc1_5 > 0 THEN dc1" +
      " WHEN tsmax_dc1_5 < 0 THEN dc1 ELSE -dc1 END"),
    "alpha_010" -> "r_a10",
    "alpha_019" -> "-sign(dc7 + dc7) * (1.0 + r_sr250)",
    "alpha_022" -> "-(dcorr5 * r_stdc20)",
    "alpha_023" -> "CASE WHEN mh20 < high THEN -1.0 * dh2 ELSE 0.0 END",
    "alpha_024" -> ("CASE WHEN m100d / nullif(c_lag100, 0) <= 0.05" +
      " THEN -(close - tsminc100) ELSE -dc3 END"),
    "alpha_030" -> "((1.0 - r_sgn3) * sv5) / nullif(sv20, 0)",
    "alpha_034" -> "r_a34",
    "alpha_035" -> "tsr_vol32 * (1.0 - tsr_chl16) * (1.0 - tsr_ret32)",
    "alpha_037" -> "r_coc200 + r_oc",
    "alpha_040" -> "-r_stdh10 * corr_hv10",
    "alpha_043" -> "tsr_ar20 * tsr_md7_8",
    "alpha_044" -> "-corr_hrv5",
    "alpha_046" -> ("CASE WHEN 0.25 < ladder THEN -1.0" +
      " WHEN ladder < 0 THEN 1.0 ELSE -1.0 * dc1 END"),
    "alpha_049" -> "CASE WHEN ladder < -0.1 THEN 1.0 ELSE -1.0 * dc1 END",
    "alpha_050" -> "-tsmax_rc50",
    "alpha_051" -> "CASE WHEN ladder < -0.05 THEN 1.0 ELSE -1.0 * dc1 END",
    "alpha_055" -> "-corr_rsv6",
    "alpha_002" -> "-corr_002",
    "alpha_005" -> "r_a5 * (-abs(r_cmv))",
    "alpha_011" -> "(r_maxvmc3 + r_minvmc3) * r_dv3",
    "alpha_013" -> "-r_cov13",
    "alpha_014" -> "-r_dret3 * corr6",
    "alpha_015" -> "-sum_rc15_3",
    "alpha_016" -> "-r_cov16",
    "alpha_017" -> "-r_tsrc10 * r_ddc1 * r_var17r",
    "alpha_018" -> "-r_x18",
    "alpha_025" -> "r_a25",
    "alpha_026" -> "-a26max",
    "alpha_028" -> "sc_a28",
    "alpha_032" -> "sc_x32 + 20.0 * sc_c230",
    "alpha_045" -> "-(r_mdc * corr_c_v2 * r_cs45)",
    "alpha_052" -> "(-a52min + a52minl) * r_a52 * tsr_v5",
    "alpha_057" -> "-((close - vwap) / nullif(dl_am30, 0))",
    "alpha_060" -> "-(2.0 * sc_ibsv - sc_am10)",
    "alpha_021" -> ("CAST(CASE WHEN mean_c8 + std_c8cf < mean_c2 THEN -1.0" +
      " WHEN mean_c2 < mean_c8 - std_c8cf THEN 1.0" +
      " WHEN aratio < 1 THEN -1.0 ELSE 1.0 END AS DOUBLE)"),
    "alpha_027" -> "CAST(CASE WHEN 0.5 < r_s27 THEN -1.0 ELSE 1.0 END AS DOUBLE)",
    "alpha_039" -> "-r_a39 * (1.0 + r_sr250)",
    "alpha_061" -> "CAST((r_v61a < r_v61b) AS DOUBLE)",
    "alpha_007" -> ("CASE WHEN adv20 < amount" +
      " THEN -tsr_absdc7_60 * sign(dc7) ELSE -1.0 END"),
    "alpha_029" -> "m29b + tsr_nret6_5",
    "alpha_031" -> "r31e + r31f + sign31",
    "alpha_036" -> ("((((2.21 * r36a) + (0.7 * r_oc)) + (0.73 * r36c))" +
      " + r36d) + (0.6 * r36e)"),
    "alpha_047" -> ("((r47a * aratio) * (high * r47b))" +
      " / nullif(sh5 / 5.0, 0) - r47c"),
    "alpha_056" -> "-(r56a * r56b)",
    "alpha_083" -> "(r83a * r83b) / nullif(hlr / nullif(vmc + 0.001, 0), 0)",
    "alpha_084" -> ("CASE WHEN p84 > 1e6 THEN 1e6" +
      " WHEN p84 < -1e6 THEN -1e6 ELSE p84 END"),
    "alpha_062" -> "CASE WHEN r62a < r62b THEN -1.0 ELSE 0.0 END",
    "alpha_064" -> "CASE WHEN r64a < r64b THEN -1.0 ELSE 0.0 END",
    "alpha_065" -> "CASE WHEN r65a < r65b THEN -1.0 ELSE 0.0 END",
    "alpha_066" -> "-(r66a + tsr66)",
    "alpha_068" -> "CASE WHEN tsr68 < r_dc1 THEN -1.0 ELSE 0.0 END",
    "alpha_071" -> maxNSql("tsr71a", "tsr71b"),
    "alpha_072" -> "CASE WHEN r72b <> 0 THEN r72a / r72b END",
    "alpha_073" -> s"-(${maxNSql("r73a", "tsr73")})",
    "alpha_074" -> "CASE WHEN r74a < r74c THEN -1.0 ELSE 0.0 END",
    "alpha_075" -> "CASE WHEN r75a < r75b THEN 1.0 ELSE 0.0 END",
    "alpha_077" -> minNSql("r77a", "r77b"),
    "alpha_078" -> "pow(r78a, r_c50)",
    "alpha_085" -> "pow(r85a, r85b)",
    "alpha_086" -> "CASE WHEN tsr86 < r_cmv THEN -1.0 ELSE 0.0 END",
    "alpha_088" -> minNSql("r88a", "tsr88"),
    "alpha_092" -> minNSql("tsr92a", "tsr92b"),
    "alpha_094" -> "-pow(r94a, tsr94)",
    "alpha_095" -> "CASE WHEN r95a < tsr95 THEN 1.0 ELSE 0.0 END",
    "alpha_096" -> s"-(${maxNSql("tsr96a", "tsr96b")})",
    "alpha_098" -> "r98a - r98b",
    "alpha_099" -> "CASE WHEN r99a < r99b THEN -1.0 ELSE 0.0 END",
    "alpha_058" -> "-tsr58",
    "alpha_059" -> "-tsr59",
    "alpha_063" -> "-(r63a - r63b)",
    "alpha_067" -> "-pow(r67a, r67b)",
    "alpha_069" -> "-pow(r69a, tsr69)",
    "alpha_070" -> "-pow(r70a, tsr70)",
    "alpha_076" -> s"-(${maxNSql("r76a", "tsr76b")})",
    "alpha_079" -> "CASE WHEN r79a < r79b THEN 1.0 ELSE 0.0 END",
    "alpha_080" -> "-pow(r80a, tsr80)",
    "alpha_081" -> "CASE WHEN r81c < r_c50 THEN -1.0 ELSE 0.0 END",
    "alpha_082" -> s"-(${minNSql("r82a", "tsr82")})",
    "alpha_087" -> s"-(${maxNSql("r87a", "tsr87")})",
    "alpha_089" -> "tsr89a - tsr89b",
    "alpha_090" -> "-pow(r90a, tsr90)",
    "alpha_091" -> "-(tsr91 - r91b)",
    "alpha_093" -> "CASE WHEN r93b <> 0 THEN tsr93 / r93b END",
    "alpha_097" -> "-(r97a - tsr97b)",
    "alpha_100" -> "-(((1.5 * sc100a) - sc100b) * aratio)")

  /** Generate a batch's oracle SELECT from the shared expressions. */
  private def alphaBatchOracle(names: Seq[String]): String = {
    val exprs = alphaExprSql.toMap
    s"$alphaCte\nSELECT stock, day,\n" +
      names.map(n => s" floor((${exprs(n)}) * 1e6 + 0.5) / 1e6 + 0.0 AS $n")
        .mkString(",\n") +
      "\nFROM a9\nORDER BY stock, day"
  }

  private val q61Oracle: String =
      s"""WITH ${Quotes.sqlCte},
         |b AS (
         |  SELECT stock, day, open, close, high, volume,
         |    close / nullif(lag(close, 1) OVER ws, 0) - 1.0 AS ret,
         |    high / nullif(lag(close, 1) OVER ws, 0) - 1.0 AS hi_ret
         |  FROM quotes
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day)),
         |c AS (
         |  SELECT *,
         |    CAST(coalesce(ret >= 0.30, false) AS INT) AS is_limit_up,
         |    CAST(coalesce(hi_ret >= 0.30 AND NOT (ret >= 0.30), false) AS INT)
         |      AS is_limit_broken,
         |    round((close - open) * volume, 6) + 0.0 AS money_flow_main
         |  FROM b),
         |d AS (
         |  SELECT *,
         |    max(CASE WHEN is_limit_up = 0 THEN day END)
         |      OVER (PARTITION BY stock ORDER BY day
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_flat
         |  FROM c)
         |SELECT stock, day, is_limit_up, is_limit_broken,
         | CASE WHEN is_limit_up = 1 THEN day - coalesce(last_flat, 0)
         |      ELSE 0 END AS limit_up_streak,
         | money_flow_main
         |FROM d
         |ORDER BY stock, day""".stripMargin

  private val oraclesBase: Map[String, String] = Map(
    "q61_sentiment_factors" -> q61Oracle,
    "q99_survivorship" ->
      s"""WITH ${Quotes.sqlCte},
         |act AS (SELECT *, 'active' AS status FROM quotes WHERE stock % 7 <> 0),
         |del AS (SELECT *, 'delisted' AS status,
         |        CAST(stock % 60 + 1 AS BIGINT) AS delist_day
         |        FROM quotes WHERE stock % 7 = 0),
         |u AS (SELECT * FROM act UNION ALL BY NAME SELECT * FROM del)
         |SELECT status, day, count(*) AS n,
         | floor(avg(close) * 1e6 + 0.5) / 1e6 AS avg_close,
         | count(delist_day) AS n_delist
         |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q100_sector_leaderboard" ->
      s"""WITH ${Quotes.sqlCte},
         |r AS (
         |  SELECT *, floor((CASE WHEN lag(close, 1) OVER ws <> 0
         |      THEN close / lag(close, 1) OVER ws END - 1.0) * 100.0 * 1e6 + 0.5) / 1e6
         |    AS chg
         |  FROM quotes WINDOW ws AS (PARTITION BY stock ORDER BY day)),
         |g AS (
         |  SELECT day, industry, count(*) AS n_stocks,
         |   CAST(sum(CASE WHEN chg >= 5.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_surge,
         |   max(chg) AS max_chg,
         |   floor(sum(amount) / 1e8 * 1e6 + 0.5) / 1e6 AS heat
         |  FROM r GROUP BY 1, 2)
         |SELECT day, industry, n_stocks, n_surge, max_chg, heat,
         | rank() OVER (PARTITION BY day ORDER BY heat DESC, industry) AS rnk
         |FROM g ORDER BY day, industry""".stripMargin,
    "q92_screener_mask" ->
      s"""WITH t2 AS ($q40Oracle),
         |t5 AS ($q44Oracle),
         |t6 AS ($q45Oracle),
         |sent AS ($q61Oracle),
         |q AS (WITH ${Quotes.sqlCte}
         |  SELECT stock, day, pe,
         |    floor((total_mv / 1e8) * 1e6 + 0.5) / 1e6 + 0.0 AS mv_yi,
         |    turnover AS turnover_rate,
         |    floor(((CASE WHEN lag(close, 1) OVER ws <> 0
         |        THEN close / lag(close, 1) OVER ws END - 1.0) * 100.0)
         |      * 1e6 + 0.5) / 1e6 + 0.0 AS pct_chg
         |  FROM quotes
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day))
         |SELECT stock, mv_yi, pe, roe_ttm, pct_chg, turnover_rate, rsi_14,
         | CAST(ma_5 > ma_20 AND ma_20 > ma_60 AS INT) AS ma_aligned,
         | roc_20 AS month_mom, volatility_20 AS volatility,
         | limit_up_streak, is_limit_up
         |FROM q
         |LEFT JOIN t2 USING (stock, day)
         |LEFT JOIN t5 USING (stock, day)
         |LEFT JOIN t6 USING (stock, day)
         |LEFT JOIN sent USING (stock, day)
         |WHERE day = 60
         |  AND mv_yi BETWEEN 0.01 AND 10.0
         |  AND pe BETWEEN 10.0 AND 48.0
         |  AND roe_ttm >= 0.05
         |  AND pct_chg BETWEEN -5.0 AND 10.0
         |  AND turnover_rate >= 0.02
         |  AND rsi_14 >= 40.0
         |  AND roc_20 >= -0.20
         |  AND volatility_20 <= 1.0
         |  AND limit_up_streak >= 0
         |ORDER BY month_mom DESC, stock""".stripMargin,
    "q94_sector_equity" ->
      s"""WITH ${Quotes.sqlCte},
         |r AS (
         |  SELECT industry, day, pe,
         |    CASE WHEN lag(close, 1) OVER ws <> 0
         |      THEN close / lag(close, 1) OVER ws END - 1.0 AS ret
         |  FROM quotes
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day)),
         |g AS (
         |  SELECT industry, day, count(*) AS n_constituents,
         |    avg(ret) AS chg, avg(pe) AS pe_raw
         |  FROM r WHERE day > 1 GROUP BY 1, 2)
         |SELECT industry, day, n_constituents,
         | floor((chg * 100.0) * 1e6 + 0.5) / 1e6 + 0.0 AS sector_chg,
         | floor(pe_raw * 1e6 + 0.5) / 1e6 + 0.0 AS sector_pe,
         | floor(exp(sum(ln(1.0 + chg)) OVER (PARTITION BY industry ORDER BY day
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) * 1e6 + 0.5) / 1e6
         |   + 0.0 AS equity
         |FROM g
         |ORDER BY industry, day""".stripMargin,
    "q55_peers_snapshot" ->
      s"""WITH ${Quotes.sqlCte}
         |SELECT stock, round(total_mv / 1e8, 6) + 0.0 AS mv_yi, pe, pb, dv_ratio,
         | round(pb / nullif(pe, 0), 6) + 0.0 AS roe_ttm
         |FROM quotes
         |WHERE day = 40 AND industry = (
         |  SELECT industry FROM quotes WHERE stock = 7 AND day = 40)
         |ORDER BY total_mv DESC, stock LIMIT 7""".stripMargin,
    "q56_factor_snapshot" ->
      s"""WITH t2 AS ($q40Oracle),
         |t2b AS ($q41Oracle),
         |t5 AS ($q44Oracle),
         |t6 AS ($q45Oracle),
         |q AS (WITH ${Quotes.sqlCte}
         |      SELECT stock, day, round(close, 6) + 0.0 AS close, volume FROM quotes)
         |SELECT stock, day, close, volume, bias_20, rsi_14, cci_14, wr_14,
         | roc_20, volatility_20, pos_20, pe_zscore_60, pb_zscore_60, roe_ttm
         |FROM q
         |LEFT JOIN t2 USING (stock, day)
         |LEFT JOIN t2b USING (stock, day)
         |LEFT JOIN t5 USING (stock, day)
         |LEFT JOIN t6 USING (stock, day)
         |WHERE stock = 7 AND day = 40 LIMIT 1""".stripMargin,
    "q57_dynamic_join" ->
      s"""WITH t2 AS ($q40Oracle),
         |t5 AS ($q44Oracle),
         |t6 AS ($q45Oracle),
         |q AS (WITH ${Quotes.sqlCte}
         |      SELECT stock, day, round(close, 6) + 0.0 AS close FROM quotes)
         |SELECT stock, day, close, bias_20, rsi_14, roc_20, volatility_20, roe_ttm
         |FROM q
         |LEFT JOIN t2 USING (stock, day)
         |LEFT JOIN t5 USING (stock, day)
         |LEFT JOIN t6 USING (stock, day)
         |WHERE stock = 7 AND day BETWEEN 20 AND 60
         |ORDER BY day""".stripMargin,
    "q91_rank_ic" -> {
      val sorted = alphaExprSql.sortBy(_._1)
      val rankOf = (x: String) =>
        s"rank() OVER (PARTITION BY day, alpha ORDER BY $x)" +
          s" + (count(*) OVER (PARTITION BY day, alpha ORDER BY $x" +
          s" RANGE BETWEEN CURRENT ROW AND CURRENT ROW) - 1) / 2.0"
      s"""${alphaCte},
         |fin AS (
         |  SELECT stock, day,
         |    CASE WHEN close <> 0.0 THEN lead(close, 1)
         |      OVER (PARTITION BY stock ORDER BY day) / close END - 1.0 AS fwd,
         |  ${sorted.map { case (n, e) =>
                s"floor(($e) * 1e6 + 0.5) / 1e6 AS $n" }.mkString(",\n  ")}
         |  FROM a9),
         |m AS (
         |  SELECT stock, day, fwd,
         |    unnest([${sorted.map(n => s"'${n._1}'").mkString(", ")}]) AS alpha,
         |    unnest([${sorted.map(_._1).mkString(", ")}]) AS v
         |  FROM fin),
         |f2 AS (SELECT * FROM m WHERE v IS NOT NULL AND fwd IS NOT NULL),
         |r AS (
         |  SELECT *,
         |    ${rankOf("v")} AS rv,
         |    ${rankOf("fwd")} AS rf,
         |    ntile(10) OVER (PARTITION BY day, alpha ORDER BY v, stock) AS dec
         |  FROM f2),
         |g AS (
         |  SELECT alpha, day,
         |    CAST(count(*) AS DOUBLE) AS n,
         |    sum(rv) AS sx, sum(rf) AS sy,
         |    sum(rv * rv) AS sxx, sum(rf * rf) AS syy, sum(rv * rf) AS sxy,
         |    avg(CASE WHEN dec = 10 THEN fwd END) AS top_avg,
         |    avg(CASE WHEN dec = 1 THEN fwd END) AS bot_avg
         |  FROM r GROUP BY alpha, day),
         |i AS (
         |  SELECT alpha, day,
         |    floor((CASE WHEN (n * sxx - sx * sx) > 1e-9 AND (n * syy - sy * sy) > 1e-9
         |      THEN (n * sxy - sx * sy)
         |           / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)) END)
         |      * 1e6 + 0.5) / 1e6 + 0.0 AS ic,
         |    floor((top_avg - bot_avg) * 1e6 + 0.5) / 1e6 + 0.0 AS decile_spread
         |  FROM g)
         |SELECT alpha, day, ic,
         | floor(sum(ic) OVER (PARTITION BY alpha ORDER BY day
         |   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 1e6 + 0.5) / 1e6 + 0.0
         |   AS cum_ic,
         | decile_spread
         |FROM i
         |ORDER BY alpha, day""".stripMargin
    },
    // zipped-unnest melt: ONE aggregate pass over the full-panel CTE —
    // a per-alpha UNION ALL would let DuckDB's optimizer inline the
    // CTE once per branch (N× the whole pipeline)
    "q58_column_discovery" -> {
      val sorted = alphaExprSql.sortBy(_._1)
      s"""${alphaCte},
         |fin AS (
         |  SELECT stock, day,
         |  ${sorted.map { case (n, e) => s"($e) AS $n" }.mkString(",\n  ")}
         |  FROM a9)
         |SELECT unnest([${sorted.map(n => s"'${n._1}'").mkString(", ")}]) AS alpha,
         | unnest([${sorted.map(n => s"count(${n._1})").mkString(", ")}]) AS n_nonnull,
         | unnest([${sorted.map(n => s"floor(avg(${n._1}) * 1e6 + 0.5) / 1e6 + 0.0").mkString(", ")}]) AS avg_v
         |FROM fin
         |ORDER BY alpha""".stripMargin
    },
    "q40_factor_trend" -> q40Oracle,
    "q41_factor_osc" -> q41Oracle,
    // q43: the EMA-family recursions replayed STEPWISE with a
    // recursive CTE in the same association order as EmaFamily's
    // kernel (a * x + (1 - a) * state, constants printed from the
    // same Scala doubles) — identical IEEE ops on identical inputs,
    // so every chain matches bitwise before the 6-dp rounding. The
    // previous closed-form pow(b,day)*cumsum replay was a different
    // float computation whose equality held only away from round
    // boundaries (the q26 regeneration hazard, round-8 verdict #5).
    // Chained same-row states (dea from this row's e12/e26, kdj_d
    // from this row's k, trix t3 from this row's t2, mass mh2 from
    // this row's mh) inline their producer's expression — recursive
    // terms can't lateral-reference select-list aliases portably.
    "q43_factor_ema" -> {
      // the complement is computed HERE in binary (1 - a, the exact
      // double the Scala kernel multiplies by) and interpolated as a
      // literal: writing `(1 - $a)` in the SQL text lets DuckDB do the
      // subtraction in exact DECIMAL arithmetic, whose re-binarized
      // result differs from the binary subtraction by an ulp for
      // non-dyadic spans (a = 2/14: observed 2-ulp force_13 drift at
      // sf0.1 recursion depth, crossing the 6-dp boundary — r15
      // latent-divergence hunt)
      def stepRec(a: Double, x: String, prev: String) =
        s"($a * $x + ${1 - a} * $prev)"
      val e12n = stepRec(EmaFamily.aMacdFast, "t.close", "rec.e12")
      val e26n = stepRec(EmaFamily.aMacdSlow, "t.close", "rec.e26")
      val diffn = s"(($e12n - $e26n) * 2.0)"
      val dean = stepRec(EmaFamily.aSignal, diffn, "rec.dea")
      val kn = s"(CASE WHEN t.rsv IS NULL THEN rec.k WHEN rec.k IS NULL THEN t.rsv" +
        s" ELSE ${EmaFamily.aKdj} * t.rsv + ${1 - EmaFamily.aKdj} * rec.k END)"
      val dn = s"(CASE WHEN t.rsv IS NULL THEN rec.d WHEN rec.d IS NULL THEN $kn" +
        s" ELSE ${EmaFamily.aKdj} * $kn + ${1 - EmaFamily.aKdj} * rec.d END)"
      val t2n = stepRec(EmaFamily.aTrix, e12n, "rec.t2")
      val t3n = stepRec(EmaFamily.aTrix, t2n, "rec.t3")
      val fn = s"(CASE WHEN t.fin IS NULL THEN rec.f WHEN rec.f IS NULL THEN t.fin" +
        s" ELSE ${EmaFamily.aForce} * t.fin + ${1 - EmaFamily.aForce} * rec.f END)"
      val mhn = stepRec(EmaFamily.aMass, "t.hl", "rec.mh")
      val mh2n = stepRec(EmaFamily.aMass, mhn, "rec.mh2")
      s"""WITH RECURSIVE ${Quotes.sqlCte},
         |e0 AS (
         |  SELECT stock, day, close, high, low, volume,
         |    CASE WHEN max(high) OVER f9 - min(low) OVER f9 <> 0
         |      THEN (close - min(low) OVER f9)
         |           / (max(high) OVER f9 - min(low) OVER f9) * 100.0 END AS rsv,
         |    (close - lag(close, 1) OVER ws) * volume AS fin,
         |    high - low AS hl
         |  FROM quotes
         |  WINDOW ws AS (PARTITION BY stock ORDER BY day),
         |    f9 AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 8 PRECEDING AND CURRENT ROW)),
         |rec AS (
         |  SELECT stock, day, close, rsv, fin, hl,
         |    close AS e12, close AS e26, CAST(0.0 AS DOUBLE) AS dea,
         |    rsv AS k, rsv AS d, close AS t2, close AS t3,
         |    CAST(NULL AS DOUBLE) AS f, hl AS mh, hl AS mh2
         |  FROM e0 WHERE day = 1
         |  UNION ALL
         |  SELECT t.stock, t.day, t.close, t.rsv, t.fin, t.hl,
         |    $e12n AS e12, $e26n AS e26, $dean AS dea,
         |    $kn AS k, $dn AS d, $t2n AS t2, $t3n AS t3,
         |    $fn AS f, $mhn AS mh, $mh2n AS mh2
         |  FROM rec JOIN e0 t ON t.stock = rec.stock AND t.day = rec.day + 1)
         |SELECT stock, day,
         | floor(((e12 - e26) * 2.0) * 1e6 + 0.5) / 1e6 + 0.0 AS macd_diff,
         | floor((dea) * 1e6 + 0.5) / 1e6 + 0.0 AS macd_dea,
         | floor((k) * 1e6 + 0.5) / 1e6 + 0.0 AS kdj_k,
         | floor((d) * 1e6 + 0.5) / 1e6 + 0.0 AS kdj_d,
         | floor((3.0 * k - 2.0 * d) * 1e6 + 0.5) / 1e6 + 0.0 AS kdj_j,
         | floor(((t3 - lag(t3, 1) OVER wrec) / nullif(lag(t3, 1) OVER wrec, 0)) * 1e6 + 0.5) / 1e6 + 0.0 AS trix_12,
         | floor((f) * 1e6 + 0.5) / 1e6 + 0.0 AS force_13,
         | floor((sum(CASE WHEN mh2 <> 0 THEN mh / mh2 END) OVER frec) * 1e6 + 0.5) / 1e6 + 0.0 AS mass_25
         |FROM rec
         |WINDOW wrec AS (PARTITION BY stock ORDER BY day),
         |  frec AS (PARTITION BY stock ORDER BY day ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
         |ORDER BY stock, day""".stripMargin
    },
    "q44_factor_momentum" -> q44Oracle,
    "q45_factor_value" -> q45Oracle,
    "q48_similarity_search" ->
      s"""$baseCte,
         |f2 AS (
         |  SELECT stock, day, close, tp,
         |    100.0 * sum(up_move) OVER f14
         |      / nullif(sum(up_move) OVER f14 + sum(dn_move) OVER f14, 0) AS rsi,
         |    (close - avg(close) OVER f20) / nullif(avg(close) OVER f20, 0) AS bias,
         |    avg(tp) OVER f14 AS tp_m,
         |    list(tp) OVER f14 AS tp_l
         |  FROM b2
         |  WINDOW $frames),
         |f3 AS (
         |  SELECT stock, day, rsi, bias,
         |    (tp - tp_m) / nullif(0.015 *
         |      (list_sum(list_transform(tp_l, x -> abs(x - tp_m))) / len(tp_l)), 0) AS cci
         |  FROM f2),
         |tgt AS (
         |  SELECT rsi AS t_rsi, cci AS t_cci, bias AS t_bias
         |  FROM f3 WHERE stock = 7 AND day = 40)
         |SELECT stock, day,
         | round(sqrt(pow((rsi - t_rsi) * 1.0, 2) + pow((bias - t_bias) * 5.0, 2)
         |   + pow((cci - t_cci) * 0.5, 2)), 6) + 0.0 AS dist
         |FROM f3 CROSS JOIN tgt
         |WHERE day < 40 AND rsi IS NOT NULL AND bias IS NOT NULL AND cci IS NOT NULL
         |ORDER BY dist, stock, day
         |LIMIT 5""".stripMargin,
    // q129 mirrors the tail restriction itself (values equal the
    // full-history computation by the frame-containment argument in
    // the entry doc, but the oracle replays the SAME restricted
    // computation so the hash never leans on that argument)
    "q129_incremental_factors" -> {
      val restricted = baseCte
        .replace("base AS (",
          "mx AS (SELECT max(day) AS maxday FROM quotes),\n" +
            "qr AS (SELECT quotes.* FROM quotes, mx WHERE day > maxday - 25),\n" +
            "base AS (")
        .replace("FROM quotes\n", "FROM qr\n")
      s"""$restricted,
         |f2 AS (
         |  SELECT stock, day, close, tp,
         |    100.0 * sum(up_move) OVER f14
         |      / nullif(sum(up_move) OVER f14 + sum(dn_move) OVER f14, 0) AS rsi,
         |    (close - avg(close) OVER f20) / nullif(avg(close) OVER f20, 0) AS bias,
         |    avg(tp) OVER f14 AS tp_m,
         |    list(tp) OVER f14 AS tp_l
         |  FROM b2
         |  WINDOW $frames),
         |f3 AS (
         |  SELECT stock, day, rsi, bias,
         |    (tp - tp_m) / nullif(0.015 *
         |      (list_sum(list_transform(tp_l, x -> abs(x - tp_m))) / len(tp_l)), 0) AS cci
         |  FROM f2)
         |SELECT stock, day, round(rsi, 6) + 0.0 AS rsi_14,
         | round(bias, 6) + 0.0 AS bias_20, round(cci, 6) + 0.0 AS cci_14
         |FROM f3, mx WHERE day > maxday - 5 ORDER BY stock, day""".stripMargin
    },
    // q167 replays the streamed maintenance EXACTLY: the historical
    // chain over day <= cut plus one tail-restricted chain per
    // micro-batch (the same restriction the foreachBatch tail read
    // applies: context from cut+5i-24, batch days (cut+5i, cut+5i+5]),
    // each chain a suffixed clone of q129's rsi/bias/cci SQL — the
    // hash therefore never leans on the frame-containment argument
    "q167_stream_mart_append" -> {
      val bodyStart = baseCte.indexOf("base AS (")
      val head = baseCte.substring(0, bodyStart) // "WITH quotes...,\n"
      val body = baseCte.substring(bodyStart)    // base AS (...), b2 AS (...)
      def chain(sfx: String): String =
        body.replace("base AS (", s"base_$sfx AS (")
          .replace("FROM quotes\n", s"FROM qr_$sfx\n")
          .replace("b2 AS (", s"b2_$sfx AS (")
          .replace("FROM base\n", s"FROM base_$sfx\n") + ",\n" +
          s"""f2_$sfx AS (
             |  SELECT stock, day, close, tp,
             |    100.0 * sum(up_move) OVER f14
             |      / nullif(sum(up_move) OVER f14 + sum(dn_move) OVER f14, 0) AS rsi,
             |    (close - avg(close) OVER f20) / nullif(avg(close) OVER f20, 0) AS bias,
             |    avg(tp) OVER f14 AS tp_m,
             |    list(tp) OVER f14 AS tp_l
             |  FROM b2_$sfx
             |  WINDOW $frames),
             |f3_$sfx AS (
             |  SELECT stock, day, rsi, bias,
             |    (tp - tp_m) / nullif(0.015 *
             |      (list_sum(list_transform(tp_l, x -> abs(x - tp_m))) / len(tp_l)), 0) AS cci
             |  FROM f2_$sfx)""".stripMargin
      head +
        "mx AS (SELECT max(day) - 15 AS cut FROM quotes),\n" +
        "qr_h AS (SELECT quotes.* FROM quotes, mx WHERE day <= cut),\n" +
        "qr_0 AS (SELECT quotes.* FROM quotes, mx WHERE day > cut - 24 AND day <= cut + 5),\n" +
        "qr_1 AS (SELECT quotes.* FROM quotes, mx WHERE day > cut - 19 AND day <= cut + 10),\n" +
        "qr_2 AS (SELECT quotes.* FROM quotes, mx WHERE day > cut - 14 AND day <= cut + 15),\n" +
        chain("h") + ",\n" + chain("0") + ",\n" + chain("1") + ",\n" + chain("2") + "\n" +
        """SELECT stock, day, round(rsi, 6) + 0.0 AS rsi_14,
          | round(bias, 6) + 0.0 AS bias_20, round(cci, 6) + 0.0 AS cci_14
          |FROM (
          |  SELECT f.* FROM f3_h f
          |  UNION ALL SELECT f.* FROM f3_0 f, mx WHERE f.day > cut
          |  UNION ALL SELECT f.* FROM f3_1 f, mx WHERE f.day > cut + 5
          |  UNION ALL SELECT f.* FROM f3_2 f, mx WHERE f.day > cut + 10
          |) ORDER BY stock, day""".stripMargin
    },
    // q125 replays the full IVF pipeline: the same f3 factor CTE as
    // q48, centroid selection (16 lowest-id stocks at day 39), 6-dp-
    // quantized squared-distance cell assignment with lowest-cid tie-
    // break, nprobe=4 probe-list, cell-pruned scan, exact re-rank,
    // and the recall@3 join against the exact q48 top-3
    "q125_similarity_ivf" ->
      s"""$baseCte,
         |f2 AS (
         |  SELECT stock, day, close, tp,
         |    100.0 * sum(up_move) OVER f14
         |      / nullif(sum(up_move) OVER f14 + sum(dn_move) OVER f14, 0) AS rsi,
         |    (close - avg(close) OVER f20) / nullif(avg(close) OVER f20, 0) AS bias,
         |    avg(tp) OVER f14 AS tp_m,
         |    list(tp) OVER f14 AS tp_l
         |  FROM b2
         |  WINDOW $frames),
         |f3 AS (
         |  SELECT stock, day, rsi, bias,
         |    (tp - tp_m) / nullif(0.015 *
         |      (list_sum(list_transform(tp_l, x -> abs(x - tp_m))) / len(tp_l)), 0) AS cci
         |  FROM f2
         |  WHERE rsi IS NOT NULL AND bias IS NOT NULL),
         |f4 AS (SELECT stock, day, rsi, bias, cci FROM f3 WHERE cci IS NOT NULL),
         |cents AS (
         |  SELECT stock AS cid, rsi AS c_rsi, bias AS c_bias, cci AS c_cci
         |  FROM f4 WHERE day = 39 ORDER BY stock LIMIT 16),
         |dists AS (
         |  SELECT f.stock, f.day, f.rsi, f.bias, f.cci, c.cid,
         |    floor((pow((f.rsi - c.c_rsi) * 1.0, 2) + pow((f.bias - c.c_bias) * 5.0, 2)
         |      + pow((f.cci - c.c_cci) * 0.5, 2)) * 1e6 + 0.5) / 1e6 AS d
         |  FROM f4 f CROSS JOIN cents c WHERE f.day < 40),
         |assigned AS (
         |  SELECT stock, day, rsi, bias, cci, cid AS cell FROM (
         |    SELECT *, row_number() OVER (PARTITION BY stock, day ORDER BY d, cid) AS rnk
         |    FROM dists) WHERE rnk = 1),
         |tgt AS (SELECT rsi AS t_rsi, bias AS t_bias, cci AS t_cci
         |  FROM f4 WHERE stock = 7 AND day = 40),
         |probe AS (
         |  SELECT cid FROM cents CROSS JOIN tgt
         |  ORDER BY floor((pow((t_rsi - c_rsi) * 1.0, 2) + pow((t_bias - c_bias) * 5.0, 2)
         |    + pow((t_cci - c_cci) * 0.5, 2)) * 1e6 + 0.5) / 1e6, cid LIMIT 4),
         |scan AS (
         |  SELECT a.stock, a.day,
         |    round(sqrt(pow((a.rsi - t_rsi) * 1.0, 2) + pow((a.bias - t_bias) * 5.0, 2)
         |      + pow((a.cci - t_cci) * 0.5, 2)), 6) + 0.0 AS dist
         |  FROM assigned a CROSS JOIN tgt
         |  WHERE a.cell IN (SELECT cid FROM probe)),
         |stats AS (SELECT count(*) AS n_scanned FROM scan),
         |top3 AS (
         |  SELECT stock, day, dist,
         |    row_number() OVER (ORDER BY dist, stock, day) AS rn
         |  FROM scan ORDER BY dist, stock, day LIMIT 3),
         |exact3 AS (
         |  SELECT f.stock, f.day
         |  FROM f4 f CROSS JOIN tgt
         |  WHERE f.day < 40
         |  ORDER BY round(sqrt(pow((f.rsi - t_rsi) * 1.0, 2) + pow((f.bias - t_bias) * 5.0, 2)
         |    + pow((f.cci - t_cci) * 0.5, 2)), 6) + 0.0, f.stock, f.day LIMIT 3),
         |recall AS (
         |  SELECT count(*) / 3.0 AS recall_at_3
         |  FROM top3 JOIN exact3 USING (stock, day))
         |SELECT rn, stock, day, dist, n_scanned, recall_at_3
         |FROM top3 CROSS JOIN stats CROSS JOIN recall
         |ORDER BY rn""".stripMargin,
    "q49_kline_replay" ->
      s"""WITH ${Quotes.sqlCte},
         |nf AS (
         |  SELECT stock, day, close,
         |    round(close / first_value(close) OVER (PARTITION BY stock ORDER BY day
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 6) + 0.0 AS norm_first
         |  FROM quotes),
         |anchors AS (SELECT stock, close AS c0 FROM quotes WHERE day = 30)
         |SELECT nf.stock, nf.day, nf.day - 30 AS day_offset,
         | round(nf.close, 6) + 0.0 AS close,
         | round(nf.close / nullif(c0, 0), 6) + 0.0 AS norm_close,
         | norm_first
         |FROM nf JOIN anchors ON nf.stock = anchors.stock
         |WHERE nf.day - 30 BETWEEN -10 AND 20
         |ORDER BY nf.stock, nf.day""".stripMargin,
    "q90_alpha_all" -> alphaBatchOracle(Alpha101.columns),
    "q42_factor_risk" ->
      s"""$baseCte,
         |b4 AS (
         |  SELECT *,
         |    (close / nullif(max(close) OVER f14, 0) - 1.0) * 100.0 AS dd_pct,
         |    list(low) OVER f25 AS low_l,
         |    list(high) OVER f25 AS high_l
         |  FROM b2
         |  WINDOW $frames)
         |SELECT stock, day,
         | floor((sum(CASE WHEN delta_c > 0 THEN 1.0 ELSE 0.0 END) OVER f12
         |   / 12.0 * 100.0) * 1e6 + 0.5) / 1e6 + 0.0 AS psy_12,
         | floor((sqrt(avg(dd_pct * dd_pct) OVER f14)) * 1e6 + 0.5) / 1e6 + 0.0 AS ui_14,
         | floor((avg(abs(ret) / nullif(amount, 0)) OVER f20 * 1e8) * 1e6 + 0.5) / 1e6 + 0.0 AS amihud_20,
         | floor(((CAST(len(low_l) - list_indexof(low_l, list_aggregate(low_l, 'min')) AS DOUBLE)
         |      - CAST(len(high_l) - list_indexof(high_l, list_aggregate(high_l, 'max')) AS DOUBLE))
         |   * 4.0) * 1e6 + 0.5) / 1e6 + 0.0 AS aroon_osc_25,
         | floor((100.0 * log10(sum(tr) OVER f14
         |   / nullif(max(high) OVER f14 - min(low) OVER f14, 0))
         |   / ${math.log10(14.0)}) * 1e6 + 0.5) / 1e6 + 0.0 AS chop_14,
         | floor((${stdCfSql("CAST(volume AS DOUBLE)", "f20")} / 1e5) * 1e6 + 0.5) / 1e6 + 0.0 AS turnover_std_20
         |FROM b4
         |WINDOW $frames
         |ORDER BY stock, day""".stripMargin,
  )

  /** q136 probes a cell-partitioned copy of q125's assignment, and
    * q151 probes that store rebuilt as history + appended batch — the
    * values are exactly q125's, so one oracle serves all three keys
    * (for q151 the hash-match IS the lossless-append proof). */
  val oracles: Map[String, String] = oraclesBase +
    ("q136_similarity_ivf_part" -> oraclesBase("q125_similarity_ivf")) +
    ("q151_ivf_append" -> oraclesBase("q125_similarity_ivf")) +
    // q168 streams the EMA mart via state-seeded micro-batches; its
    // output is the FULL family panel (historical + streamed days),
    // so q43's recursive-CTE oracle — the whole recursion replayed
    // from day 1 — is the gate: a hash match directly proves the
    // seeded stream equals the scratch derive, with no containment
    // or seeding assumption on the oracle side
    ("q168_stream_ema_append" -> oraclesBase("q43_factor_ema")) +
    // q169 streams the alpha-slice mart; the oracle is the FULL
    // q90 chain restricted to the slice columns — the hash match
    // directly proves the tail-restricted stream equals the
    // full-history derive (the q168 gate precedent)
    ("q169_stream_alpha_append" -> alphaBatchOracle(streamAlphaSlice)) +
    // q170 streams the sentiment mart from a stored last-flat day
    // pointer; q61's full-history oracle is the direct gate
    ("q170_stream_sentiment_append" -> q61Oracle) +
    // q171 streams the FULL 101-column alpha mart (the plan-once
    // template); the oracle is the complete q90 chain — all 101
    // streamed columns hash-matched against the full-history derive
    ("q171_stream_alpha_full_append" -> alphaBatchOracle(Alpha101.columns)) +
    // q172/q173 close the family matrix: the momentum and value marts
    // streamed as kernel rows of the one family table, each gated
    // by its family's full-history oracle
    ("q172_stream_momentum_append" -> oraclesBase("q44_factor_momentum")) +
    ("q173_stream_value_append" -> oraclesBase("q45_factor_value")) +
    // q174 runs q167's maintenance WITH the mid-stream fold + snapshot
    // retirement; layout maintenance must never move a value, so the
    // oracle is q167's exact per-batch replay UNCHANGED — a hash
    // mismatch would mean the fold/retire corrupted a read
    ("q174_stream_maintained_append" -> oraclesBase("q167_stream_mart_append"))
}
