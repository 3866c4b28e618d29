package perfbench

import scala.collection.mutable

import graft.SparkEntry
import graft.analytics.{CorpusQueries, FactorQueries}
import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The two workloads. Each returns its tracing-overhead probe: a short,
  * repeatable unit of its own work that [[Main]] times with tracing off
  * and on. */
object Workloads {
  private def q(name: String): (SparkSession, String) => DataFrame = SparkEntry.queries(name)

  // ---- nightly_etl ----

  /** The stored-tick ingest chain: zipped CSV parse (encoding sniffing,
    * bad-line skip), code normalisation, partitioned sorted sink. */
  private def ingestPass(r: Run, glob: String, out: String): Unit = {
    val ticks = r.trace.span("sources.readZippedCsv") {
      Ingest.readZippedCsv(r.s, glob).toDF()
        .withColumn("code",
          Ingest.normalizeCode(regexp_extract(col("src_file"), "(\\d+)", 1)))
        .select("code", "trade_time", "price", "volume", "direction")
    }
    r.trace.span("sources.writeSortedParquet") {
      Ingest.writeSortedParquet(ticks, out, partCols = Seq("code"),
        sortCols = Seq("trade_time"))
    }
  }

  /** Family marts built by the nightly backfill, with the entry that reads
    * each one back (and whose oracle checks it). */
  private val families = Seq(
    "technical" -> "q40_factor_trend", "ema" -> "q43_factor_ema",
    "momentum" -> "q44_factor_momentum", "value" -> "q45_factor_value",
    "sentiment" -> "q61_sentiment_factors")

  private val appendEntry = "q167_stream_mart_append"

  def nightly(r: Run): () => Unit = {
    val s = r.s
    FactorQueries.ignorePersistentMartRoot()
    val market = s"${r.args.inputs}/market"
    val zips = s"${r.args.inputs}/zips"
    val sink = s"${r.args.work}/ingest"

    // 1. ingest the tick drop at least three times: the run's median is a
    // warm pass, the cold first one is left out without a separate warm-up
    r.window(3) { _ =>
      r.op("ingest")(ingestPass(r, s"$zips/*.zip", sink)).foreach { _ =>
        r.checkCount("ingest_rows", "ingest", s.read.parquet(sink).count(), "tick_rows")
      }
    }

    // 2. cold backfill of the family marts, built concurrently
    r.op("backfill") {
      val parent = r.trace.current
      val pool = java.util.concurrent.Executors.newFixedThreadPool(families.size)
      try {
        families.map { case (fam, entry) =>
          pool.submit(new java.util.concurrent.Callable[Unit] {
            override def call(): Unit =
              r.trace.under(parent, s"factors.$fam") { q(entry)(s, market); () }
          })
        }.foreach(_.get())
      } finally pool.shutdown()
    }
    if (r.opTimes.contains("backfill"))
      families.foreach { case (_, entry) => r.keep(entry, "backfill", q(entry)(s, market)) }

    // 3. stream seeds (set-up: the first maintenance run builds them),
    // 4. the streamed day-append on the seeded stores
    r.setup("setup.seed") { q(appendEntry)(s, market).count() }
    r.op("append")(r.trace.span("streaming.q167")(q(appendEntry)(s, market))).foreach { case (df, _) =>
      r.keep(appendEntry, "append", df)
    }

    // 5. corpus curation and the incremental near-dup of new arrivals
    curation(r, s"${r.args.inputs}/corpus")

    () => ingestPass(r, s"$zips/*.zip", s"${r.args.work}/ingest_probe")
  }

  // ---- research ----

  /** Plane-A page classes and their share of a round of requests: kline,
    * factor snapshot, industry peers, sector rotation, sector leaderboard
    * and screener, two requests each per round. */
  val pages: Seq[(String, Int)] = Seq(
    "q55_peers_snapshot" -> 2, "q49_kline_replay" -> 2, "q94_sector_equity" -> 2,
    "q56_factor_snapshot" -> 2, "q100_sector_leaderboard" -> 2, "q92_screener_mask" -> 2)

  /** The seeded request order of one round: every page `weight` times,
    * shuffled. */
  def round(rng: java.util.SplittableRandom): Seq[String] = {
    val xs = pages.flatMap { case (p, w) => Seq.fill(w)(p) }.toArray
    for (i <- xs.indices.reverse) {
      val j = rng.nextInt(i + 1)
      val t = xs(i); xs(i) = xs(j); xs(j) = t
    }
    xs.toSeq
  }

  private def request(r: Run, dir: String, page: String): Option[((StructType, Array[Row]), Double)] =
    r.op("request") {
      r.trace.span(s"analytics.$page") {
        val df = q(page)(r.s, dir)
        (df.schema, df.collect())
      }
    }

  def research(r: Run): () => Unit = {
    val dir = s"${r.args.inputs}/market"
    // mart open: the persisted marts are validated and re-read, and every
    // page is rendered once untimed
    r.setup("setup.marts") {
      pages.foreach { case (p, _) => q(p)(r.s, dir).collect() }
    }
    val rng = new java.util.SplittableRandom(r.args.seed)
    val first = mutable.LinkedHashMap.empty[String, (StructType, Array[Row])]
    // at least two rounds: every page's run median then rests on four
    // requests (run.py values a round at its pages' run medians)
    var rounds = 0
    r.window(2) { _ =>
      rounds += 1
      round(rng).foreach { page =>
        request(r, dir, page) match {
          case Some(((schema, rows), secs)) =>
            r.requests += Json.obj("page" -> page, "s" -> secs, "rows" -> rows.length)
            if (!first.contains(page)) first(page) = (schema, rows)
          case None =>
            r.requests += Json.obj("page" -> page, "s" -> None, "rows" -> -1)
        }
      }
    }
    first.foreach { case (page, (schema, rows)) =>
      r.keepRows(page, s"request:$page", rows, schema)
    }
    r.passes("request") = rounds
    r.facts("rounds") = rounds
    () => Seq("q49_kline_replay", "q55_peers_snapshot", "q94_sector_equity")
      .foreach(p => q(p)(r.s, dir).collect())
  }

  // ---- nightly_etl: corpus curation ----

  private val pipelineEntry = "q148_curation_pipeline"
  private val neardupEntry = "q135_incremental_neardup"

  /** Near-dup mining with connected components, the q148 curation
    * pipeline, then q135's incremental near-dup against the persisted band
    * index: one pass each, as the nightly job runs them. */
  private def curation(r: Run, dir: String): Unit = {
    val s = r.s
    r.op("curation") {
      r.trace.span("functions.mine") {
        CorpusQueries.dropClusterMemo(s, dir)
        CorpusQueries.primeClusterLabels(s, dir)
      }
      val df = r.trace.span("analytics.q148")(q(pipelineEntry)(s, dir))
      val rows = r.trace.span("analytics.q148.collect")(df.collect())
      (df.schema, rows)
    }.foreach { case ((schema, rows), _) =>
      // q148's DuckDB oracle replays the whole chain in SQL and takes
      // longer than a run; its funnel is checked for consistency instead
      r.keepRows(pipelineEntry, "curation", rows, schema, kind = "funnel")
    }
    r.op("neardup") {
      val df = r.trace.span("analytics.q135")(q(neardupEntry)(s, dir))
      (df.schema, r.trace.span("analytics.q135.collect")(df.collect()))
    }.foreach { case ((schema, rows), _) =>
      r.keepRows(neardupEntry, "neardup", rows, schema)
    }
  }
}
