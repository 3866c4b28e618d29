package graft.sources

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Deterministic OHLCV + fundamentals quotes panel derived from the
  * driver's `events` table — the engine's replica of the reference's
  * `quant_db.market_stock_active_daily` + `stock_fundamental_daily`
  * join surface (`database/ddl/quant_db_ddl.md:153-324`, sample rows
  * `database/database_schema.md:508-667`).
  *
  * Axes: `stock` = user_id (the per-entity axis, ~150 at sf0.01),
  * `day` = row_number within stock ordered by event_id (the trading-
  * day axis; ragged per stock, like real listings/delistings —
  * SURVEY.md §7.3-4). Cross-sections are `partitionBy(day)`.
  *
  * Every derived column is integer arithmetic on (stock, day) plus
  * fractions at power-of-two grains (1/64, 1/16, …), so all values
  * are EXACTLY representable doubles and window sums over them are
  * exact regardless of accumulation order — this is what makes the
  * factor oracles hash-stable between Spark and DuckDB. [[sqlCte]]
  * is the same derivation as a DuckDB CTE, textually mirrored.
  *
  * Scale: one `row_number` window keyed on the high-cardinality
  * entity id (single hash shuffle), then pure per-row projections —
  * the same plan at 100 TB. [[panel]] pays that shuffle ONCE per
  * (session, source dir): the panel is persisted at MEMORY_AND_DISK
  * and every later call returns the same Dataset, so pages, mart
  * derives and stream seeds share one events scan, one stock shuffle
  * and one analysis (the reference's `@st.cache_data` page cache,
  * SURVEY §3.1, as Shark-style cached co-partitioned storage). The
  * cached relation keeps the exchange's `hashpartitioning(stock)`, so
  * stock-keyed windows, lags and joins over it plan no exchange.
  * Invariant, as for every [[graft.Residents]] entry: a source dir is
  * immutable within a session — rewrite data under a fresh dir.
  */
object Quotes {

  /** The session-resident panel for (session, source dir): the first
    * call builds and persists it, later calls return that Dataset, and
    * stopping the session unpersists it ([[graft.Residents]]). */
  def panel(spark: SparkSession, sfDir: String): DataFrame =
    graft.Residents.frame(spark, ("panel", sfDir))(build(spark, sfDir))

  private def build(spark: SparkSession, sfDir: String): DataFrame = {
    // cache with the partition layout the uncached derivation runs
    // with: Spark otherwise plans a cached query with AQE's partition
    // coalescing off, and the changed row order across partitions moves
    // order-sensitive float sums downstream (cross-sectional `scale`
    // sums over a day) by a few ULPs. Read once, when the cached plan
    // is built; the plan then runs under the session's own AQE confs.
    val key = "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    try derive(axes(spark, sfDir)).persist(StorageLevel.MEMORY_AND_DISK)
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** The events-derived `(stock, day)` axis frame [[panel]] derives
    * from. */
  private[sources] def axes(spark: SparkSession, sfDir: String): DataFrame = {
    val e = Tables.load(spark, sfDir, "events")
    // alias BEFORE the window so the row_number exchange is keyed on
    // `stock` itself: partitioning by user_id and renaming afterwards
    // leaves HashPartitioning(user_id) unrecognizable to downstream
    // stock-keyed windows (the alias lives below the exchange), which
    // costs every factor pipeline a second full-panel shuffle — and
    // the persisted panel keeps this partitioning for every reader
    val w = Window.partitionBy("stock").orderBy("event_id")
    e.select(col("user_id").as("stock"), col("event_id"))
      .select(col("stock"),
        row_number().over(w).cast("bigint").as("day"))
  }

  /** The OHLCV + fundamentals derivation over any `(stock, day)`
    * bigint axis frame — [[panel]] feeds it the events-derived axes;
    * the deep-history spec fixtures feed it a synthetic long-series
    * grid (r19 verdict ask #1: the driver SFs scale ENTITIES, so a
    * ≥ 500-day panel — where the adaptive-tail horizon rungs must
    * BIND instead of degenerating to the whole store — needs its own
    * axis). Same arithmetic, so the exact-double / hash-stability
    * properties in the object doc hold for every caller. */
  def derive(base: DataFrame): DataFrame = {
    // every factor pipeline windows over this frame — mount the
    // batched TS-window lowering on the session here (idempotent;
    // [[graft.plans.TsWindowStrategy]] falls back per-operator)
    org.apache.spark.sql.graftbridge.PlanBridge.installStrategy(
      base.sparkSession, graft.plans.TsWindowStrategy)
    def f(a: Int, b: Int): Column =
      ((col("stock") * a + col("day") * b) % 64).cast("double") / 64.0

    val lvl1 = base.select(
      col("stock"), col("day"),
      (col("stock") % 8).as("industry"),
      (lit(100) + (col("stock") * 37 + col("day") * 11) % 200 + f(5, 7)).as("close"),
      (lit(100) + (col("stock") * 37 + col("day") * 11) % 200 + f(11, 13)).as("open"),
      (lit(1000) + (col("stock") * 29 + col("day") * 31) % 9000).cast("bigint").as("volume"),
      (lit(10) + (col("stock") * 3 + col("day") * 5) % 40 + f(7, 3)).as("pe"),
      (lit(1) + ((col("stock") * 13 + col("day") * 3) % 80).cast("double") / 16.0).as("pb"),
      (lit(1) + ((col("stock") * 7 + col("day") * 11) % 160).cast("double") / 32.0).as("ps"),
      (((col("stock") * 3 + col("day") * 7) % 512).cast("double") / 128.0).as("dv_ratio"))

    val lvl2 = lvl1
      .withColumn("high", greatest(col("open"), col("close")) + f(3, 17))
      .withColumn("low", least(col("open"), col("close")) - f(13, 19))
      .withColumn("total_mv", col("close") * (lit(10000) + (col("stock") * 53) % 90000))

    lvl2
      .withColumn("amount",
        (col("high") + col("low") + lit(2) * col("close")) / 4.0 * col("volume"))
      .withColumn("vwap", col("amount") / col("volume"))
      .withColumn("turnover", col("volume") / lit(100000.0))
  }

  /** The identical derivation as DuckDB SQL, for embedding at the head
    * of every factor oracle: `WITH $sqlCte SELECT ...`. Arithmetic is
    * written in the same association order as [[panel]] so doubles
    * match bitwise. */
  val sqlCte: String =
    """quotes AS (
      |  SELECT stock, day, industry, open, close, high, low, volume,
      |         pe, pb, ps, dv_ratio, total_mv,
      |         (high + low + 2 * close) / 4.0 * volume AS amount,
      |         ((high + low + 2 * close) / 4.0 * volume) / volume AS vwap,
      |         volume / 100000.0 AS turnover
      |  FROM (
      |    SELECT stock, day, industry, open, close, volume, pe, pb, ps, dv_ratio,
      |           greatest(open, close) + ((stock*3 + day*17) % 64) / 64.0 AS high,
      |           least(open, close) - ((stock*13 + day*19) % 64) / 64.0 AS low,
      |           close * (10000 + (stock*53) % 90000) AS total_mv
      |    FROM (
      |      SELECT stock, day, stock % 8 AS industry,
      |             100 + (stock*37 + day*11) % 200 + ((stock*5 + day*7) % 64) / 64.0 AS close,
      |             100 + (stock*37 + day*11) % 200 + ((stock*11 + day*13) % 64) / 64.0 AS open,
      |             1000 + (stock*29 + day*31) % 9000 AS volume,
      |             10 + (stock*3 + day*5) % 40 + ((stock*7 + day*3) % 64) / 64.0 AS pe,
      |             1 + ((stock*13 + day*3) % 80) / 16.0 AS pb,
      |             1 + ((stock*7 + day*11) % 160) / 32.0 AS ps,
      |             ((stock*3 + day*7) % 512) / 128.0 AS dv_ratio
      |      FROM (
      |        SELECT user_id AS stock,
      |               row_number() OVER (PARTITION BY user_id ORDER BY event_id) AS day
      |        FROM events))))""".stripMargin

  /** [[sqlCte]] restricted to a subset of entities — for entries that
    * only exercise an operator SHAPE (e.g. schema-driven column
    * discovery) and don't need the full panel's cost on both engines.
    * The per-stock `day` axis is self-contained, so a stock-level
    * filter commutes with the whole derivation. */
  def sqlCteWhere(pred: String): String =
    sqlCte.replace("FROM events", s"FROM events WHERE $pred")
}
