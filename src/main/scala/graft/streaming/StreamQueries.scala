package graft.streaming


import graft.sources.Quotes
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}

/** q95: the stateful streaming EMA (SURVEY.md §2.10) as a driver-
  * visible, FULLY ORACLED entry. A (stock, day, close) slice of the
  * quotes panel is written as three day-ranged parquet files; a file
  * stream replays them as three micro-batches (maxFilesPerTrigger=1,
  * oldest-first by modification time — the writes are sequential
  * jobs, so mod times strictly increase); [[StreamOps.emaStream]]
  * carries one Double of state per stock across the batches. The
  * entry returns the STREAMED values themselves: the slice derives
  * deterministically from the oracle-visible `events` parquet
  * ([[Quotes.sqlCte]]), and panel doubles are exactly representable,
  * so DuckDB replays the recursion bit-exactly with a recursive CTE
  * written in the same association order (`a*x + (1-a)*state`) —
  * the temp dir is only transport, not state. Streaming/batch parity
  * against [[graft.ops.TsOps.ema]] stays pinned in EntryShapeSpec.
  *
  * Scale: the streaming side is the real plan — file source →
  * stateful flatMapGroupsWithState keyed on the entity id; the only
  * scale-variant piece is the state store, O(1) per key.
  */
object StreamQueries {
  private type Q = (SparkSession, String) => DataFrame

  val emaAlpha: Double = 2.0 / (12 + 1)

  /** The deterministic stream input slice (shared with the parity
    * spec): ~20 stocks of the panel, one row per (stock, day). */
  def emaSlice(s: SparkSession, dir: String): DataFrame =
    Quotes.panel(s, dir)
      .filter(col("stock") <= 20)
      .select(col("stock").cast("long").as("stock"), col("day"), col("close"))

  /** Runs the file-stream replay and returns the raw streamed frame
    * (stock, day, ema_stream). */
  /** q95's replay seed: three sequential writes = three files with
    * increasing mod time = three micro-batches in day order (per-key
    * event time must be monotone across batches for exact replay,
    * StreamOps.emaStream). Memoized — see [[replaySeed]]. */
  private def emaReplaySeed(s: SparkSession, dir: String): String =
    replaySeed((s, dir, "ema")) { r =>
      val slice = emaSlice(s, dir)
      Seq((lit(1), 22), (lit(23), 44), (lit(45), Int.MaxValue)).zipWithIndex
        .foreach { case ((lo, hi), i) =>
          slice.filter(col("day") >= lo && col("day") <= hi)
            .coalesce(1).write.parquet(s"$r/in/b$i")
        }
    }

  def streamedEma(s: SparkSession, dir: String): DataFrame = {
    // tmpfs when present: the replay files and checkpoint WAL are
    // fixture transport, and the commit-log fsync per micro-batch is
    // the entry's main non-engine cost on a disk-backed /tmp
    val root = graft.TempDirs.scratch("graft_stream", preferShm = true)
    val seedRoot = emaReplaySeed(s, dir)
    val schema = StructType(Seq(StructField("stock", LongType),
      StructField("day", LongType), StructField("close", DoubleType)))
    import s.implicits._
    val streamIn = s.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$seedRoot/in/*")
      .as[(Long, Long, Double)]
    runToMemorySink(s, root, "q95_ema_out",
      StreamOps.emaStream(streamIn, emaAlpha)
        .toDF("stock", "day", "ema_stream"))
  }

  def emaStreamValues: Q = (s, dir) => {
    val fr6 = (c: org.apache.spark.sql.Column) => floor(c * 1e6 + lit(0.5)) / 1e6
    streamedEma(s, dir)
      .select(col("stock"), col("day"), fr6(col("ema_stream")).as("ema"))
      .orderBy("stock", "day")
  }

  /** q114: the OTHER streaming surface (SURVEY.md §2.10) as a fully
    * oracled entry — tumbling event-time windows with a 2h watermark
    * ([[StreamOps.hourlyCounts]]), replayed over the `events` table
    * as a 3-micro-batch file stream. The batches are range-split by
    * thirds of [min ts, max ts], so event time is nondecreasing
    * across batches: the watermark only moves forward and NO row is
    * ever late — streamed output is exactly the batch aggregation
    * restricted to CLOSED windows (end ≤ final watermark = ms-floored
    * max event time − 2h), which is what the DuckDB oracle computes.
    * Append mode means open windows are retained state, never
    * emitted — the correct production semantics for a live feed.
    *
    * Scale: file source → watermarked window agg is the real plan;
    * state is one row per (open window, type), bounded by the
    * watermark horizon. */
  /** Epoch-micros view of an event-time column, independent of
    * whether the parquet footer says TIMESTAMP (isAdjustedToUTC=1) or
    * TIMESTAMP_NTZ (=0): regenerated testdata has shipped both, and a
    * typed `Row.getTimestamp` crashes on the NTZ flavor
    * (LocalDateTime). The session timeZone is pinned UTC, so the
    * NTZ→TIMESTAMP cast is the identity on the stored micros. */
  private def tsMicros(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Event-time column normalized to TIMESTAMP: Spark rejects
    * TIMESTAMP_NTZ as a watermark column
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE), so the replay frame pins
    * the type HERE — the same identity cast as [[tsMicros]] — and the
    * stream schema derives from the frame that wrote the files. */
  private def tsUtc(c: Column): Column = c.cast("timestamp")

  /** Runs `body` (which must START its streaming query inside) with
    * `spark.sql.shuffle.partitions` scoped down for the stream. A
    * streaming query captures the partition count at its FIRST
    * checkpoint and keeps it for life — it is the state-store shard
    * count, sized to key cardinality, not to batch scan parallelism.
    * These replay fixtures carry a few thousand keys, where 32 shards
    * × operators × micro-batches is pure state-store bookkeeping
    * (measured 17 s → ~8 s on the q120 join at sf0.1). Production
    * sizing at real cardinalities picks hundreds of shards the same
    * way: explicitly, per stream.
    *
    * SINGLE-THREADING ASSUMPTION: the override is session-global for
    * the duration of `body` (awaitTermination included); a batch
    * query running CONCURRENTLY on the same session would silently
    * plan with `n` shuffle partitions. Verify runs its entries
    * sequentially, and perfbench's nightly job runs the family-mart
    * backfill concurrently but never beside a stream; a concurrent
    * caller should run the stream on `s.newSession()` instead. */
  private def withStreamShuffle[T](s: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = s.conf.get(key)
    s.conf.set(key, n.toString)
    try body finally s.conf.set(key, prev)
  }

  /** Memoized replay-fixture seeds (r21, VERDICT item 2 — per-run
    * constants): the replay files every streaming entry re-wrote on
    * EVERY run are a pure function of (dir, entry) — INPUT transport
    * (split copies of the source table), never results — so they
    * build once per (session, dir, entry) into their own scratch
    * root, exactly the [[graft.analytics.FactorQueries]] stream-seed
    * precedent (r18 verdict ask #6). Each run streams the immutable
    * seed files against a FRESH checkpoint + sink, so every run's
    * stream still computes from the parquet inputs. */
  private val replaySeed = new graft.TempDirs.BuiltRoots[
    (SparkSession, String, String)](k => s"graft_replay_${k._3}")

  /** The shared replay SOURCE: the memoized seed holds one batch
    * file per split condition (three sequential writes → increasing
    * mod times → replayed in order, one micro-batch each); returns a
    * file-stream FACTORY — entries that need two readers over the
    * same files (q120's stream-stream join) call it twice. The
    * stream schema derives from the frame that wrote the files,
    * never hardcoded: the events.ts parquet column has shipped as
    * both TIMESTAMP and TIMESTAMP_NTZ across testdata regenerations
    * (see [[tsUtc]]). */
  private def replaySource(s: SparkSession, dir: String, name: String,
      ev: DataFrame, splits: (Long, Long) => Seq[Column]): () => DataFrame = {
    val seedRoot = replaySeed((s, dir, name)) { r =>
      // fixture transport (2 scalars for the split bounds), not
      // result materialization
      val mm = ev.agg(min(tsMicros(col("ts"))).as("lo"),
        max(tsMicros(col("ts"))).as("hi")).head()
      splits(mm.getLong(0), mm.getLong(1)).zipWithIndex.foreach {
        case (cond, i) =>
          ev.filter(cond).coalesce(1).write.parquet(s"$r/in/b$i")
      }
    }
    () => s.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$seedRoot/in/*")
  }

  /** Three disjoint thirds of the event-time range. */
  private def thirds(lo: Long, hi: Long): Seq[Column] = {
    val b1 = lo + (hi - lo) / 3
    val b2 = lo + 2 * ((hi - lo) / 3)
    val m = tsMicros(col("ts"))
    Seq(m < lit(b1), m >= lit(b1) && m < lit(b2), m >= lit(b2))
  }

  /** The shared replay TAIL: run `out` to completion into a memory
    * sink and return its table. The sink name is unique per scratch
    * root — the entry may run more than once per session (spec +
    * verify share a JVM in local runs). */
  private def runToMemorySink(s: SparkSession, root: String, prefix: String,
      out: DataFrame): DataFrame = {
    val sink =
      s"${prefix}_${java.lang.Long.toHexString(root.hashCode.toLong & 0xffffffffL)}"
    withStreamShuffle(s, 8) {
      val q = out.writeStream.format("memory").queryName(sink)
        .option("checkpointLocation", s"$root/ckpt")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    s.table(sink)
  }

  private def hourlySource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "hourly",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("event_type"), col("value")),
      thirds)

  def streamedHourly(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_hourly", preferShm = true)
    runToMemorySink(s, root, "q114_hourly",
      StreamOps.hourlyCounts(hourlySource(s, dir)()))
  }

  def hourlyStreamValues: Q = (s, dir) =>
    streamedHourly(s, dir)
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm").as("hour"),
        col("event_type"), col("n"), col("sum_value"))
      .orderBy("hour", "event_type")

  /** q143: streaming windowed DISTINCT-CARDINALITY via the KMV
    * sketch ([[StreamOps.windowedDistinctSketch]]) — unique users
    * per hour over a live stream. Structured Streaming refuses
    * `count(distinct)` (unbounded per-window state); the bottom-k
    * sketch is the production answer: ≤ k longs of state per open
    * window, merged across micro-batches, evicted by the watermark.
    * The replay fixture is q114's three-batch file stream; the entry
    * emits each CLOSED window's sketch verbatim (n_mins, kth_min)
    * plus the estimate derived from it post-close, and the DuckDB
    * oracle rebuilds sketch and estimate per window from the batch
    * table — the determinism of exact hash minima is what makes a
    * streaming approximation oracle-checkable at all. k = 8 against
    * the fixture's 10–20 users/hour exercises BOTH branches per run:
    * sparse hours close exhaustive (n_mins < k → exact), busy hours
    * estimate. */
  private def kmvSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "kmv",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("user_id")),
      thirds)

  def streamedDistinct(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_kmv", preferShm = true)
    runToMemorySink(s, root, "q143_kmv",
      StreamOps.windowedDistinctSketch(kmvSource(s, dir)(), kmvStreamK))
  }

  private val kmvStreamK = 8

  def distinctStreamValues: Q = (s, dir) =>
    streamedDistinct(s, dir)
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm").as("hour"),
        col("n_events"),
        size(col("mins")).cast("long").as("n_mins"),
        element_at(col("mins"), size(col("mins"))).as("kth_min"))
      .withColumn("est_users",
        graft.functions.SketchFns.kmvEstimate(col("n_mins"), col("kth_min"),
          lit(kmvStreamK.toLong)))
      .orderBy("hour")

  /** q116: streaming exactly-once dedup —
    * `dropDuplicatesWithinWatermark(event_id)` under a 48h watermark,
    * replayed over a file stream whose batches OVERLAP by ~a day
    * (each batch redelivers the tail of the previous range — the
    * at-least-once delivery a real source produces). Every
    * redelivery lands well inside the 48h horizon of its first
    * delivery, so the dedup state absorbs it: the streamed set is
    * exactly the distinct source set and the entry's per-type rollup
    * equals the batch aggregation the DuckDB oracle runs. Completes
    * the streaming tier: stateful recursion (q95), watermarked
    * windows (q114), dedup-on-the-wire (q116).
    *
    * Scale: `dropDuplicatesWithinWatermark` EVICTS a key once the
    * watermark passes its event time + delay, so state is genuinely
    * bounded by the horizon — plain `dropDuplicates(event_id)` under
    * a watermark never evicts when the event-time column is not one
    * of the keys, an unbounded state store at 100 TB. A redelivery
    * AFTER the horizon is re-emitted by design (pinned in
    * StreamOpsSpec); the rollup is a normal shuffle agg. */
  /** [lo, b1+ov) ∪ [b1, b2+ov) ∪ [b2, hi]: max event time still
    * nondecreasing across batches, every batch after the first
    * redelivers the previous day's rows. */
  private def overlappingThirds(lo: Long, hi: Long): Seq[Column] = {
    val third = (hi - lo) / 3
    val ovUs = 24L * 3600 * 1000 * 1000
    val m = tsMicros(col("ts"))
    Seq(m < lit(lo + third + ovUs),
        m >= lit(lo + third) && m < lit(lo + 2 * third + ovUs),
        m >= lit(lo + 2 * third))
  }

  private def dedupSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "dedup",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("event_id"), col("event_type"),
          col("user_id"), col("value")),
      overlappingThirds)

  def streamedDedup(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_dedup", preferShm = true)
    runToMemorySink(s, root, "q116_dedup",
      dedupSource(s, dir)()
        .withWatermark("ts", "48 hours")
        .dropDuplicatesWithinWatermark("event_id"))
  }

  def dedupStreamValues: Q = (s, dir) =>
    streamedDedup(s, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"),
        countDistinct("user_id").as("n_users"),
        round(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")

  /** q119: streaming SESSION windows — per-user activity sessions
    * with an 8h inactivity gap (`session_window`), the merging-window
    * shape the fixed tumbling windows of q114 can't express. Same
    * 3-batch range-split replay as q114 (event time nondecreasing →
    * no late data), 2h watermark, append mode: a session is emitted
    * exactly once, when the watermark passes its end (= last event
    * + gap). The DuckDB oracle sessionizes with gaps-and-islands
    * (break at inter-event gap >= 8h — Spark merges windows that
    * OVERLAP, so an exactly-gap-length silence starts a new session
    * in both engines) and applies the same ms-floored watermark
    * close rule as q114. Bounds are epoch micros so no timestamp
    * formatting is in the compare path.
    *
    * Scale: session state is per (user, open session) and merging is
    * Spark's native state-store path — the standard sessionization
    * plan for clickstream volumes. */
  private def sessionsSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "sessions",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("user_id"), col("value")),
      thirds)

  def streamedSessions(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_sessions", preferShm = true)
    runToMemorySink(s, root, "q119_sessions",
      sessionsSource(s, dir)()
        .withWatermark("ts", "2 hours")
        .groupBy(session_window(col("ts"), "8 hours").as("sw"), col("user_id"))
        .agg(count(lit(1)).as("n_events"), round(sum("value"), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("session_start_us"),
          unix_micros(col("sw.end")).as("session_end_us"),
          col("n_events"), col("sum_value")))
  }

  def sessionStreamValues: Q = (s, dir) =>
    streamedSessions(s, dir).orderBy("user_id", "session_start_us")

  /** q120: stream-stream INTERVAL JOIN — conversion attribution
    * (each `view` joined to the same user's `purchase`s within the
    * following 24h), the two-stream stateful shape none of
    * q95/q114/q116/q119 exercises. Both sides are file streams over
    * the same 3-batch range-split replay, each watermarked 2h; the
    * time-range condition lets Spark derive state watermarks for
    * BOTH buffers (views evictable 24h past the watermark, purchases
    * immediately past it) — bounded state, the production plan for
    * funnel attribution. Inner joins emit every match exactly once
    * regardless of watermark (the watermark only bounds state and
    * late data, and the monotone replay has no late rows), so the
    * streamed result IS the batch interval join, which is what the
    * DuckDB oracle runs. Lag is emitted in epoch micros — timestamp
    * arithmetic is exact integer micros in both engines. */
  private def attribSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "attrib",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("event_id"), col("user_id"),
          col("event_type")),
      thirds)

  def streamedAttribution(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_attrib", preferShm = true)
    // two readers over the same replay files — one per join side
    val src = attribSource(s, dir)
    val views = src().filter(col("event_type") === "view")
      .select(col("user_id").as("v_user"), col("event_id").as("view_event_id"),
        col("ts").as("v_ts"))
      .withWatermark("v_ts", "2 hours")
    val purchases = src().filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_event_id"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    runToMemorySink(s, root, "q120_attrib",
      views.join(purchases,
          col("v_user") === col("p_user") &&
            col("p_ts") >= col("v_ts") &&
            col("p_ts") <= col("v_ts") + expr("INTERVAL 24 HOURS"))
        .select(col("v_user").as("user_id"), col("view_event_id"),
          col("purchase_event_id"),
          (unix_micros(col("p_ts")) - unix_micros(col("v_ts"))).as("lag_us")))
  }

  def attributionStreamValues: Q = (s, dir) =>
    streamedAttribution(s, dir)
      .orderBy("user_id", "view_event_id", "purchase_event_id")

  /** q149 late-slice geometry, shared with the oracle: ticks in the
    * FIRST 6 hours of the range with `event_id % 5 == 0` are withheld
    * until the LAST micro-batch — by then the watermark (24h delay)
    * has passed their bars by ~19 days, so the stream DROPS them, and
    * the oracle computes those bars without them. A second slice (the
    * last 6 hours of batch 1's range, same id rule) is delivered one
    * batch late, INSIDE the horizon — absorbed into still-open bars.
    * Margins are measured in days, so no ms-floor edge sensitivity. */
  private val lateSliceUs = 6L * 3600 * 1000 * 1000

  /** Thirds with two late slices: batch 2 redelivers batch 1's tail
    * slice (absorbable), batch 3 delivers batch 1's head slice (too
    * late). Batch maxima stay nondecreasing — the id%5 filter leaves
    * the true range endpoints in their home batches. */
  private def lateThirds(lo: Long, hi: Long): Seq[Column] = {
    // the binding constraint on a regenerated fixture is the DROP
    // property, not slice disjointness: the head slice is dropped
    // only if the watermark at batch 3 (= max ts through batch 2 −
    // 24h = lo + 2(hi−lo)/3 − 24h) has passed every head-slice bar
    // end (≤ lo + 6h + 1min). A ~40h range keeps slices disjoint yet
    // ABSORBS the "dropped" slice, silently breaking oracle parity —
    // so fail loud on the real inequality (disjointness, (hi−lo)/3 ≥
    // 12h, is implied by it).
    require(2 * ((hi - lo) / 3) >=
      24L * 3600 * 1000 * 1000 + lateSliceUs + 60L * 1000 * 1000,
      s"events range ${hi - lo}us too short for the late-slice replay geometry")
    val b1 = lo + (hi - lo) / 3
    val b2 = lo + 2 * ((hi - lo) / 3)
    val m = tsMicros(col("ts"))
    val lateId = col("event_id") % 5 === 0
    val lateHead = m < lit(lo + lateSliceUs) && lateId
    val lateTail = m >= lit(b1 - lateSliceUs) && m < lit(b1) && lateId
    Seq(m < lit(b1) && !lateHead && !lateTail,
        (m >= lit(b1) && m < lit(b2)) || lateTail,
        m >= lit(b2) || lateHead)
  }

  /** q149: streaming tick→bar OHLC INGEST — the SURVEY §2.10 optional
    * extension: the reference's `future_db` stores 1-minute bars
    * produced downstream of its batch-only tick pipe
    * (`future_db_ddl.md`); this is the live version — `readStream` →
    * 24h watermark → tumbling 1-minute windows aggregating
    * open/high/low/close (min_by/max_by on the (ts, event_id) order
    * key — ONE hash aggregation with map-side partials, no per-group
    * sort, q98's discipline) + tick count + turnover, in append mode
    * so each bar is emitted exactly once when the watermark closes
    * it. The replay includes genuinely LATE deliveries both inside
    * and beyond the horizon ([[lateSliceUs]]): the in-horizon slice
    * lands in its still-open bars, the beyond-horizon slice is
    * dropped by the watermark — both behaviors deterministic, so the
    * DuckDB oracle replays the final bar set exactly (drop rule +
    * q114's ms-floored closed-window rule).
    *
    * Scale: the production bar-ingest plan verbatim — state is one
    * row per open (bar) window bounded by the 24h horizon, late data
    * is absorbed or dropped by watermark rule rather than
    * recomputation, and the aggregation is declarative (codegen'd
    * partials, no flatMapGroups state). The events fixture stands in
    * for the tick feed: value = price, ticks-per-bar = volume. */
  private def ohlcSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "ohlc",
      graft.Tables.load(s, dir, "events")
        .select(tsUtc(col("ts")).as("ts"), col("event_id"), col("value")),
      lateThirds)

  def streamedOhlc(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_ohlc", preferShm = true)
    val ord = struct(col("ts"), col("event_id"))
    runToMemorySink(s, root, "q149_ohlc",
      ohlcSource(s, dir)()
        .withWatermark("ts", "24 hours")
        .groupBy(window(col("ts"), "1 minute").as("w"))
        .agg(count(lit(1)).as("n_ticks"),
          min_by(col("value"), ord).as("open"),
          max("value").as("high"),
          min("value").as("low"),
          max_by(col("value"), ord).as("close"),
          round(sum("value"), 2).as("turnover"))
        .select(unix_micros(col("w.start")).as("bar_start_us"),
          col("n_ticks"), col("open"), col("high"), col("low"),
          col("close"), col("turnover")))
  }

  def ohlcStreamValues: Q = (s, dir) =>
    streamedOhlc(s, dir).orderBy("bar_start_us")

  /** q153 tracked items, shared with the oracle literal. */
  private val cmsTrackedUsers = Seq(1L, 2L, 3L, 4L, 5L)

  /** q153: streaming windowed COUNT-MIN frequency telemetry — q143's
    * companion: where the KMV sketch answers "how many DISTINCT" with
    * ≤ k longs of state, the CMS answers "how often is item X" with a
    * FIXED d×w counter grid per open window. The sketch needs no
    * custom aggregate in streaming at all: each event pre-explodes
    * (statelessly) into its d cell coordinates and the "sketch" is a
    * plain windowed count keyed (window, row, bucket) — ≤ d·w = 128
    * state rows per open hour REGARDLESS of traffic, watermark-
    * evicted, mergeable across micro-batches by the aggregation
    * itself (cells merge by addition — the CMS property). Closed
    * windows emit their cells; the tracked-item estimates (min over
    * the item's d cells, absent cell = 0) and the true counts are
    * derived batch-side, q132's true-vs-estimate shape per hour.
    * Deterministic portable hashing → the DuckDB oracle replays
    * sketch, estimate, and truth cell for cell. */
  private def cmsSource(s: SparkSession, dir: String): () => DataFrame =
    replaySource(s, dir, "cms",
      graft.Tables.load(s, dir, "events")
        .filter(col("user_id").isNotNull)
        .select(tsUtc(col("ts")).as("ts"), col("user_id")),
      thirds)

  def streamedCms(s: SparkSession, dir: String): DataFrame = {
    import graft.analytics.CorpusQueries.{cmsBucket, cmsDepth, cmsRowHash}
    val root = graft.TempDirs.scratch("graft_stream_cms", preferShm = true)
    val h = cmsRowHash(col("user_id").cast("string"))
    runToMemorySink(s, root, "q153_cms",
      cmsSource(s, dir)()
        .withWatermark("ts", "2 hours")
        .select(col("ts"), h.as("h"))
        .select(col("ts"), explode(array((0 until cmsDepth).map(r =>
          struct(lit(r).as("r"), cmsBucket(col("h"), r).as("bucket"))): _*))
          .as("c"))
        .groupBy(window(col("ts"), "1 hour").as("w"), col("c.r").as("r"),
          col("c.bucket").as("bucket"))
        .agg(count(lit(1)).as("cnt"))
        .select(col("w.start").as("hour"), col("r"), col("bucket"), col("cnt")))
  }

  def cmsStreamValues: Q = (s, dir) => {
    import graft.analytics.CorpusQueries.{cmsBucket, cmsDepth, cmsRowHash}
    import s.implicits._
    // the cells frame is consumed twice (closed-hours grid + the
    // estimate join): checkpoint the ≤128-rows/hour sketch so the
    // memory-sink view isn't self-joined (analyzer can't dedupe
    // MemoryPlan references) and isn't re-read per consumer
    val cells = streamedCms(s, dir).localCheckpoint()
    val uh = cmsRowHash(col("user_id").cast("string"))
    val uframe = cmsTrackedUsers.toDF("user_id")
      .select(col("user_id"), explode(array((0 until cmsDepth).map(r =>
        struct(lit(r).as("r"), cmsBucket(uh, r).as("bucket"))): _*)).as("c"))
      .select(col("user_id"), col("c.r").as("r"), col("c.bucket").as("bucket"))
    // closed hours × tracked users × d rows; an absent cell means
    // nothing hashed there that hour — its count is 0, and min picks
    // it up (the estimate must not ignore empty cells)
    val est = cells.select(col("hour")).distinct()
      .crossJoin(broadcast(uframe))
      .join(cells, Seq("hour", "r", "bucket"), "left")
      .groupBy("hour", "user_id")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("cms_n"))
    val truth = graft.Tables.load(s, dir, "events")
      .filter(col("user_id").isin(cmsTrackedUsers: _*))
      .groupBy(date_trunc("hour", col("ts").cast("timestamp")).as("hour"),
        col("user_id"))
      .agg(count(lit(1)).as("true_n"))
    est.join(truth, Seq("hour", "user_id"), "left")
      .select(date_format(col("hour"), "yyyy-MM-dd HH:mm").as("hour"),
        col("user_id"), coalesce(col("true_n"), lit(0L)).as("true_n"),
        col("cms_n"))
      .orderBy("hour", "user_id")
  }

  /** q154: STREAM-STATIC join — dedup-on-arrival as a LIVE feed
    * (q127's batch flow restated on the last streaming join family
    * the tier lacked): arriving documents stream in as micro-batches
    * and LEFT-join the PERSISTED bucketed fingerprint index (q127's
    * layout) to split each batch into index-dups vs new. The join is
    * STATELESS — no watermark, no state store: the static side is
    * re-planned per micro-batch against the current table, which is
    * precisely the production semantics (index updates land between
    * batches). The replay makes the boundary of that semantic
    * explicit: batch 3 re-crawls a batch-1 ARRIVAL, and the static
    * join does NOT catch it (the index never saw batch 1) — the
    * documented gap that q134's nightly write-back closes. Batch
    * identity rides as a data column, so the per-(batch, source)
    * rollup is deterministic and the DuckDB oracle replays arrivals,
    * index membership, and the uncaught re-crawl relationally.
    *
    * Scale: the per-batch join is bucket-local against the index
    * (only the batch moves — q127's argument); stream side state is
    * ZERO. */
  /** The q154/q156 SHARED scaffolding — one definition because the
    * two entries' cross-pin (static-new − writeback-new ==
    * stream-dups, StreamOpsSpec) rests on them replaying the
    * IDENTICAL geometry: builds the bucketed fingerprint index of
    * history (keep_id from `keepAgg` — q154 stores the keeper id,
    * q156 stores −1 so stream-generation hits are distinguishable),
    * writes the three arrival batches as replay files (new docs split
    * by id range + re-crawls of history in batches 1–2 + re-crawls of
    * BATCH-1 ARRIVALS in batch 3, batch id carried as data), and
    * returns (index table name, the raw arrival stream with fp). */
  private def fpIndexAndReplay(s: SparkSession, dir: String, root: String,
      prefix: String, keepAgg: Column): (String, DataFrame) = {
    val d = graft.Tables.load(s, dir, "documents")
    val fp = graft.functions.TextFns.fingerprint(col("text"))
    val tag = java.lang.Long.toHexString(root.hashCode.toLong & 0xffffffffL)
    val idxName = s"${prefix}_$tag"
    d.filter(col("doc_id") < 400)
      .groupBy(fp.as("fp")).agg(keepAgg.as("keep_id"))
      .write.format("parquet").bucketBy(8, "fp").sortBy("fp")
      .option("path", s"$root/$idxName").mode("overwrite").saveAsTable(idxName)
    def arrivals(i: Int): DataFrame = {
      val fresh = d.filter(col("doc_id") >= 400 + i * 34 &&
          col("doc_id") < (400 + (i + 1) * 34).min(500))
        .select(col("doc_id").as("arrival_id"), col("source"), col("text"))
      val recrawl = i match {
        case 0 => d.filter(col("doc_id") < 10)
          .select((col("doc_id") + 100000).as("arrival_id"), col("source"), col("text"))
        case 1 => d.filter(col("doc_id") >= 300 && col("doc_id") < 310)
          .select((col("doc_id") + 200000).as("arrival_id"), col("source"), col("text"))
        case _ => d.filter(col("doc_id") >= 400 && col("doc_id") < 410)
          .select((col("doc_id") + 300000).as("arrival_id"), col("source"), col("text"))
      }
      fresh.unionAll(recrawl).withColumn("batch_id", lit(i.toLong))
    }
    val writtenSchema = (0 until 3).map { i =>
      val b = arrivals(i)
      b.coalesce(1).write.parquet(s"$root/in/b$i")
      b.schema
    }.head
    val stream = s.readStream.schema(writtenSchema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$root/in/*")
      .select(col("arrival_id"), col("source"), col("batch_id"), fp.as("fp"))
    (idxName, stream)
  }

  def streamedIndexDedup(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_sjoin", preferShm = true)
    val (idxName, stream) =
      fpIndexAndReplay(s, dir, root, "g154_fp_index", min("doc_id"))
    runToMemorySink(s, root, "q154_sjoin",
      stream.join(s.table(idxName).select(col("fp"), col("keep_id")),
        Seq("fp"), "left"))
  }

  def indexDedupStreamValues: Q = (s, dir) =>
    streamedIndexDedup(s, dir)
      .groupBy("batch_id", "source")
      .agg(count(lit(1)).as("n_arrived"),
        sum(when(col("keep_id").isNotNull, 1L).otherwise(0L)).as("n_dup_hist"),
        sum(when(col("keep_id").isNull, 1L).otherwise(0L)).as("n_new"))
      .orderBy("batch_id", "source")

  /** q156: streaming index WRITE-BACK via `foreachBatch` — closing
    * q154's pinned gap LIVE: q154's stateless stream-static join
    * cannot see earlier micro-batches' arrivals (its index is
    * static); here each micro-batch, inside ONE `foreachBatch`
    * transaction, (1) dedups its per-fp winners against the CURRENT
    * index — which now includes every previous batch's write-back —
    * (2) appends its verdict rows to the result store, and (3)
    * appends its genuinely-new fingerprints to the bucketed index as
    * the next generation. The same batch-3 re-crawl of a batch-1
    * arrival that q154 reports as `n_new` is caught here as
    * `n_dup_stream`. This is the canonical Spark pattern for
    * stream-to-store upserts (foreachBatch = the sink with batch-
    * scoped full-DataFrame semantics — AT-LEAST-ONCE, so both effects
    * are built idempotent under retry; see the sink comment); batch
    * order under the file replay is deterministic, so the DuckDB
    * oracle replays the sequential index evolution with a min-batch
    * window. At 100 TB: per batch one bucket-local probe + one
    * batch-sized bucketed append — q134's movement bound, at
    * micro-batch cadence. */
  /** The q156 per-micro-batch transaction — foreachBatch is
    * AT-LEAST-ONCE: a batch that fails between its writes and the
    * checkpoint commit is re-executed, so both effects are idempotent
    * under retry — the verdict write lands in a per-batchId directory
    * with OVERWRITE (a retry replaces its own output, never appends a
    * duplicate), and the index append is naturally idempotent because
    * a retry re-probes the index its first attempt already appended
    * to: every fp now hits, so the keep_id-isNull write-back set is
    * empty. This is the standard recipe for exactly-once-on-retry
    * foreachBatch sinks — and the RESTART pin (StreamOpsSpec) proves
    * it live: a crash injected after a batch's writes but before its
    * commit, then a second `Trigger.AvailableNow` start on the same
    * checkpoint, yields rollup and final index identical to an
    * uninterrupted run. */
  private def writeBackBatch(s: SparkSession, idxName: String, root: String)(
      batch: DataFrame, batchId: Long): Unit = {
    val winners = batch.groupBy("fp")
      .agg(min("arrival_id").as("arrival_id"),
        count(lit(1)).as("n_in_batch"),
        min("source").as("source"), min("batch_id").as("batch_id"))
    val verdicts = winners.hint("merge")
      .join(s.table(idxName), Seq("fp"), "left")
      .localCheckpoint() // ONE probe feeds results AND write-back
    verdicts.write.mode("overwrite").parquet(s"$root/out/bid=$batchId")
    // the write-back: this batch's new fps become the next
    // generation, keep_id = the winning arrival. Retry windows:
    // a crash BETWEEN the two statements re-runs the verdict
    // overwrite idempotently and appends once; a crash AFTER
    // both statements re-probes an index that already holds
    // this batch's fps, so the re-written verdicts carry
    // keep_id = their OWN arrival_id — the rollup classifies
    // that self-hit as `new` (a genuine stream-dup's keep_id is
    // an EARLIER batch's arrival id, never the winner's own),
    // so the retried output is value-identical.
    verdicts.filter(col("keep_id").isNull)
      .select(col("fp"), col("arrival_id").as("keep_id"))
      .write.format("parquet").bucketBy(8, "fp").sortBy("fp")
      .mode("append").saveAsTable(idxName)
    // the next batch must SEE this append: drop the cached file
    // listing (the bucketed append does not reliably invalidate
    // the shared relation cache — without this, batch 2 probed
    // a stale index and missed batch 0's write-back)
    s.catalog.refreshTable(idxName)
  }

  /** q156 pipeline factory: builds the scaffolding ONCE under `root`
    * and returns (index table name, start function). Each invocation
    * of the start function runs one `Trigger.AvailableNow` pass
    * against the SAME checkpoint dir — so the restart-recovery pin
    * can kill a run mid-stream and resume it. `failAfterWritesOf`
    * injects a crash AFTER that batch's two writes land but BEFORE
    * its checkpoint commit — the widest at-least-once retry window. */
  private[streaming] def writeBackHarness(s: SparkSession, dir: String,
      root: String): (String, Option[Long] => Unit) = {
    // q154's scaffolding verbatim (shared def), so the two entries'
    // verdicts on the SAME replay differ only by the write-back;
    // keep_id = −1 encodes "historical" here, leaving arrival ids
    // free to mark stream-generation hits
    val (idxName, stream) =
      fpIndexAndReplay(s, dir, root, "g156_fp_index", min(lit(-1L)))
    val start = (failAfterWritesOf: Option[Long]) => withStreamShuffle(s, 8) {
      val q = stream.writeStream
        .option("checkpointLocation", s"$root/ckpt")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          writeBackBatch(s, idxName, root)(batch, batchId)
          if (failAfterWritesOf.contains(batchId))
            throw new RuntimeException(
              s"injected crash: batch $batchId wrote, not yet committed")
          ()
        }
        .trigger(Trigger.AvailableNow())
        .start()
      try q.awaitTermination()
      catch {
        // the injected crash surfaces as a query failure — exactly a
        // driver death between sink writes and checkpoint commit
        case e: org.apache.spark.sql.streaming.StreamingQueryException
            if failAfterWritesOf.isDefined &&
              (Option(e.getMessage).exists(_.contains("injected crash")) ||
                Option(e.getCause).flatMap(c => Option(c.getMessage))
                  .exists(_.contains("injected crash"))) => ()
      }
    }
    (idxName, start)
  }

  def streamedWriteBack(s: SparkSession, dir: String): DataFrame = {
    val root = graft.TempDirs.scratch("graft_stream_wb", preferShm = true)
    val (_, start) = writeBackHarness(s, dir, root)
    start(None)
    s.read.parquet(s"$root/out").drop("bid")
  }

  /** The q156 rollup over an already-materialized verdict frame —
    * separate so the spec can derive raw assertions AND the rollup
    * from ONE stream run instead of replaying the pipeline twice. */
  private[streaming] def writeBackRollup(verdicts: DataFrame): DataFrame =
    verdicts
      .groupBy("batch_id", "source")
      .agg(sum("n_in_batch").as("n_arrived"),
        sum(when(col("keep_id") === -1L, 1L).otherwise(0L)).as("n_dup_hist"),
        // keep_id = the winner's OWN arrival id only happens on a
        // foreachBatch retry after a completed attempt (the batch's
        // new fps are already in the index): classify it as new, so
        // retried and first-attempt outputs roll up identically
        sum(when(col("keep_id") >= 0 && col("keep_id") =!= col("arrival_id"),
          1L).otherwise(0L)).as("n_dup_stream"),
        sum(when(col("keep_id").isNull || col("keep_id") === col("arrival_id"),
          1L).otherwise(0L)).as("n_new"))
      .orderBy("batch_id", "source")

  def writeBackStreamValues: Q = (s, dir) =>
    writeBackRollup(streamedWriteBack(s, dir))

  val entries: Map[String, Q] = Map(
    "q156_stream_writeback" -> writeBackStreamValues,
    "q154_stream_index_dedup" -> indexDedupStreamValues,
    "q153_stream_cms" -> cmsStreamValues,
    "q149_stream_ohlc" -> ohlcStreamValues,
    "q95_ema_stream_parity" -> emaStreamValues,
    "q114_stream_hourly" -> hourlyStreamValues,
    "q143_stream_distinct" -> distinctStreamValues,
    "q116_stream_dedup" -> dedupStreamValues,
    "q119_stream_sessions" -> sessionStreamValues,
    "q120_stream_attribution" -> attributionStreamValues)

  /** DuckDB replays the EMA recursion stepwise along the contiguous
    * per-stock `day` axis (`day` is a row_number, so `rec.day + 1`
    * walks each series) with literals in the SAME association order
    * as [[StreamOps.emaStream]]'s `alpha * x + (1 - alpha) * state` —
    * identical double ops on exactly-representable inputs, so values
    * match bitwise before the 6-dp quantization. */
  val oracles: Map[String, String] = Map(
    // q156: the sequential index evolution replayed with a window —
    // a winner's verdict is historical-dup (fp in the pre-stream
    // index), stream-dup (fp first written back by an EARLIER batch:
    // min batch over the fp's winners < this batch), or new (this
    // batch is the fp's first). Deterministic because the file replay
    // fixes batch order.
    "q156_stream_writeback" ->
      raw"""WITH fps AS (
         | SELECT doc_id, source,
         |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         | FROM documents),
         |hist AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 400),
         |arr AS (
         |  SELECT doc_id AS arrival_id, source, fp, 0 AS batch_id FROM fps
         |   WHERE doc_id >= 400 AND doc_id < 434
         |  UNION ALL
         |  SELECT doc_id + 100000, source, fp, 0 FROM fps WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id, source, fp, 1 FROM fps
         |   WHERE doc_id >= 434 AND doc_id < 468
         |  UNION ALL
         |  SELECT doc_id + 200000, source, fp, 1 FROM fps
         |   WHERE doc_id >= 300 AND doc_id < 310
         |  UNION ALL
         |  SELECT doc_id, source, fp, 2 FROM fps
         |   WHERE doc_id >= 468 AND doc_id < 500
         |  UNION ALL
         |  SELECT doc_id + 300000, source, fp, 2 FROM fps
         |   WHERE doc_id >= 400 AND doc_id < 410),
         |w AS (SELECT batch_id, fp, min(arrival_id) AS arrival_id,
         |        count(*) AS n_in_batch, min(source) AS source
         |      FROM arr GROUP BY batch_id, fp),
         |wm AS (SELECT *,
         |  min(batch_id) OVER (PARTITION BY fp) AS first_b,
         |  CASE WHEN fp IN (SELECT fp FROM hist) THEN 1 ELSE 0 END AS in_hist
         | FROM w)
         |SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
         | CAST(sum(n_in_batch) AS BIGINT) AS n_arrived,
         | CAST(sum(in_hist) AS BIGINT) AS n_dup_hist,
         | CAST(sum(CASE WHEN in_hist = 0 AND batch_id > first_b
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_stream,
         | CAST(sum(CASE WHEN in_hist = 0 AND batch_id = first_b
         |   THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |FROM wm GROUP BY 1, 2 ORDER BY batch_id, source""".stripMargin,
    // q154: arrivals, index membership (fps of docs < 400) and the
    // per-(batch, source) split replayed relationally — including the
    // batch-3 re-crawls of batch-1 arrivals, which count as n_new
    // because a STATIC index cannot see them (the documented gap
    // q134's write-back closes)
    "q154_stream_index_dedup" ->
      raw"""WITH fps AS (
         | SELECT doc_id, source,
         |  md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
         | FROM documents),
         |idx AS (SELECT DISTINCT fp FROM fps WHERE doc_id < 400),
         |arr AS (
         |  SELECT doc_id AS arrival_id, source, fp, 0 AS batch_id FROM fps
         |   WHERE doc_id >= 400 AND doc_id < 434
         |  UNION ALL
         |  SELECT doc_id + 100000, source, fp, 0 FROM fps WHERE doc_id < 10
         |  UNION ALL
         |  SELECT doc_id, source, fp, 1 FROM fps
         |   WHERE doc_id >= 434 AND doc_id < 468
         |  UNION ALL
         |  SELECT doc_id + 200000, source, fp, 1 FROM fps
         |   WHERE doc_id >= 300 AND doc_id < 310
         |  UNION ALL
         |  SELECT doc_id, source, fp, 2 FROM fps
         |   WHERE doc_id >= 468 AND doc_id < 500
         |  UNION ALL
         |  SELECT doc_id + 300000, source, fp, 2 FROM fps
         |   WHERE doc_id >= 400 AND doc_id < 410),
         |j AS (SELECT arr.batch_id, arr.source,
         |        CASE WHEN idx.fp IS NOT NULL THEN 1 ELSE 0 END AS hit
         |      FROM arr LEFT JOIN idx USING (fp))
         |SELECT CAST(batch_id AS BIGINT) AS batch_id, source,
         | count(*) AS n_arrived,
         | CAST(sum(hit) AS BIGINT) AS n_dup_hist,
         | CAST(sum(1 - hit) AS BIGINT) AS n_new
         |FROM j GROUP BY 1, 2 ORDER BY batch_id, source""".stripMargin,
    // q153: the sketch rebuilt per hour from the batch table — every
    // event crossed with the d hash params onto its cells, q114's
    // ms-floored closed-window rule, estimates as min over the
    // tracked item's cells with absent cells counting 0
    "q153_stream_cms" -> {
      import graft.analytics.CorpusQueries.{cmsA, cmsB, cmsWidth}
      val p = graft.functions.DedupFns.minhashP
      val params = cmsA.zip(cmsB).zipWithIndex
        .map { case ((a, b), i) => s"($i, $a, $b)" }.mkString(", ")
      val users = cmsTrackedUsers.map(u => s"($u)").mkString(", ")
      s"""WITH wm AS (
         | SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 2 HOUR AS w
         | FROM events WHERE user_id IS NOT NULL),
         |hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS h
         | FROM events, wm WHERE date_trunc('hour', ts) + INTERVAL 1 HOUR <= w
         |  AND user_id IS NOT NULL),
         |hm AS (SELECT date_trunc('hour', ts) AS h,
         |  CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |    AS BIGINT) % $p AS hh
         | FROM events WHERE user_id IS NOT NULL),
         |params(r, a, b) AS (VALUES $params),
         |cells AS (SELECT h, r, ((hh * a + b) % $p) % $cmsWidth AS bucket,
         |    count(*) AS cnt
         |  FROM hm CROSS JOIN params GROUP BY 1, 2, 3),
         |u(user_id) AS (VALUES $users),
         |ub AS (SELECT user_id, r,
         |  ((CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |     AS BIGINT) % $p * a + b) % $p) % $cmsWidth AS bucket
         | FROM u CROSS JOIN params),
         |est AS (
         | SELECT hrs.h, ub.user_id, min(coalesce(cells.cnt, 0)) AS cms_n
         | FROM hrs CROSS JOIN ub
         | LEFT JOIN cells ON cells.h = hrs.h AND cells.r = ub.r
         |  AND cells.bucket = ub.bucket
         | GROUP BY 1, 2),
         |tru AS (SELECT date_trunc('hour', ts) AS h, user_id,
         |    count(*) AS true_n
         |  FROM events WHERE user_id IN (SELECT user_id FROM u)
         |  GROUP BY 1, 2)
         |SELECT strftime(est.h, '%Y-%m-%d %H:%M') AS hour,
         | CAST(est.user_id AS BIGINT) AS user_id,
         | CAST(coalesce(true_n, 0) AS BIGINT) AS true_n,
         | CAST(cms_n AS BIGINT) AS cms_n
         |FROM est LEFT JOIN tru ON tru.h = est.h AND tru.user_id = est.user_id
         |ORDER BY hour, user_id""".stripMargin
    },
    // q149: the kept set is deterministic (the beyond-horizon late
    // slice is dropped, the in-horizon one absorbed), so the oracle
    // rebuilds each bar from events MINUS the dropped slice, with
    // open/close via (ts, event_id)-ordered row_numbers and q114's
    // ms-floored closed-window rule at the 24h delay
    "q149_stream_ohlc" ->
      s"""WITH lohi AS (SELECT epoch_us(min(ts)) AS lo FROM events),
         |kept AS (
         | SELECT e.ts, e.event_id, e.value FROM events e, lohi
         | WHERE NOT (epoch_us(e.ts) < lohi.lo + $lateSliceUs
         |            AND e.event_id % 5 = 0)),
         |wm AS (
         | SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 24 HOUR AS w
         | FROM events),
         |b AS (SELECT date_trunc('minute', ts) AS bar, ts, event_id, value
         |      FROM kept),
         |rk AS (SELECT *,
         |  row_number() OVER (PARTITION BY bar ORDER BY ts, event_id) AS ra,
         |  row_number() OVER (PARTITION BY bar ORDER BY ts DESC, event_id DESC)
         |    AS rd
         | FROM b),
         |agg AS (
         | SELECT bar, count(*) AS n_ticks,
         |  max(CASE WHEN ra = 1 THEN value END) AS open,
         |  max(value) AS high, min(value) AS low,
         |  max(CASE WHEN rd = 1 THEN value END) AS close,
         |  round(sum(value), 2) AS turnover
         | FROM rk GROUP BY bar)
         |SELECT epoch_us(bar) AS bar_start_us, n_ticks, open, high, low,
         |  close, turnover
         |FROM agg, wm WHERE bar + INTERVAL 1 MINUTE <= w
         |ORDER BY bar_start_us""".stripMargin,
    // exactly-once restored: the deduped stream is the distinct
    // source set, so the rollup is a plain batch aggregation
    "q116_stream_dedup" ->
      """SELECT event_type, count(*) AS n_events,
        | count(DISTINCT user_id) AS n_users,
        | round(sum(value), 2) AS sum_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // the closed-window rule: Spark's event-time watermark tracks max
    // event time floored to MILLISECONDS (EventTimeStatsAccum), so
    // the oracle floors the same way before subtracting the delay;
    // append mode emits a window once its end <= watermark
    // q143: the per-window sketch rebuilt from the batch table — k
    // smallest distinct user-id hashes per hour via a partitioned
    // row_number — with q114's watermark-closure predicate and the
    // same fixed-order estimator chain as the entry
    "q143_stream_distinct" ->
      s"""WITH wm AS (
         | SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 2 HOUR AS w
         | FROM events),
         |hm AS (
         | SELECT DISTINCT date_trunc('hour', ts) AS h,
         |  CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT)
         |    AS hh
         | FROM events WHERE user_id IS NOT NULL),
         |rk AS (SELECT h, hh,
         |  row_number() OVER (PARTITION BY h ORDER BY hh) AS r FROM hm),
         |mins AS (
         | SELECT h, CAST(count(*) AS BIGINT) AS n_mins, max(hh) AS kth_min
         | FROM rk WHERE r <= 8 GROUP BY h),
         |ne AS (SELECT date_trunc('hour', ts) AS h, count(*) AS n_events
         | FROM events GROUP BY 1)
         |SELECT strftime(mins.h, '%Y-%m-%d %H:%M') AS hour, ne.n_events,
         | n_mins, kth_min,
         | CASE WHEN n_mins < 8 THEN n_mins
         |      ELSE CAST(floor(CAST(7 AS DOUBLE) / kth_min
         |        * CAST(1152921504606846976 AS DOUBLE) + 0.5) AS BIGINT)
         | END AS est_users
         |FROM mins JOIN ne ON ne.h = mins.h, wm
         |WHERE mins.h + INTERVAL 1 HOUR <= w
         |ORDER BY hour""".stripMargin,
    "q114_stream_hourly" ->
      """WITH wm AS (
        | SELECT make_timestamp(epoch_ms(max(ts)) * 1000) - INTERVAL 2 HOUR AS w
        | FROM events),
        |agg AS (
        | SELECT date_trunc('hour', ts) AS h, event_type,
        |  count(*) AS n, round(sum(value), 2) AS sum_value
        | FROM events GROUP BY 1, 2)
        |SELECT strftime(h, '%Y-%m-%d %H:%M') AS hour, event_type, n, sum_value
        |FROM agg, wm WHERE h + INTERVAL 1 HOUR <= w
        |ORDER BY hour, event_type""".stripMargin,
    // the streamed inner interval join equals the batch join: inner
    // joins withhold nothing and the monotone replay has no late rows
    "q120_stream_attribution" ->
      """SELECT a.user_id, a.event_id AS view_event_id,
        | b.event_id AS purchase_event_id,
        | epoch_us(b.ts) - epoch_us(a.ts) AS lag_us
        |FROM events a JOIN events b ON a.user_id = b.user_id
        | AND a.event_type = 'view' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 24 HOUR
        |ORDER BY a.user_id, view_event_id, purchase_event_id""".stripMargin,
    // gaps-and-islands sessionization: break at inter-event silence
    // >= the 8h gap (mirrors session_window's overlap-merge rule),
    // session end = last event + gap, closed when end <= the
    // ms-floored watermark (q114's rule)
    "q119_stream_sessions" ->
      """WITH o AS (
        | SELECT user_id, ts, value,
        |  CASE WHEN lag(ts) OVER w IS NULL
        |    OR ts - lag(ts) OVER w >= INTERVAL 8 HOUR THEN 1 ELSE 0 END AS brk
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, value, sum(brk) OVER (
        |  PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) AS sid
        | FROM o),
        |agg AS (
        | SELECT user_id, sid, epoch_us(min(ts)) AS session_start_us,
        |  epoch_us(max(ts) + INTERVAL 8 HOUR) AS session_end_us,
        |  count(*) AS n_events, round(sum(value), 2) AS sum_value
        | FROM s GROUP BY 1, 2),
        |wm AS (
        | SELECT epoch_us(make_timestamp(epoch_ms(max(ts)) * 1000)
        |   - INTERVAL 2 HOUR) AS w FROM events)
        |SELECT user_id, session_start_us, session_end_us, n_events, sum_value
        |FROM agg, wm WHERE session_end_us <= w
        |ORDER BY user_id, session_start_us""".stripMargin,
    "q95_ema_stream_parity" ->
      s"""WITH RECURSIVE ${Quotes.sqlCteWhere("user_id <= 20")},
         |t AS (SELECT stock, day, close FROM quotes),
         |rec AS (
         |  SELECT stock, day, close AS ema FROM t WHERE day = 1
         |  UNION ALL
         |  SELECT t.stock, t.day, (2.0/13) * t.close + (1 - 2.0/13) * rec.ema
         |  FROM rec JOIN t ON t.stock = rec.stock AND t.day = rec.day + 1)
         |SELECT stock, day, floor(ema * 1e6 + 0.5) / 1e6 AS ema
         |FROM rec ORDER BY stock, day""".stripMargin)
}
