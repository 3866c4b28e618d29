package graft.analytics

import java.io.{ByteArrayOutputStream, FileOutputStream}
import java.nio.charset.Charset
import java.nio.file.{Files, Paths}
import java.util.zip.{ZipEntry, ZipOutputStream}

import graft.sources.Ingest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** q93: the Plane-C ingest pipeline as a driver-visible entry
  * (`Project report.md §4.1-4.2`): a deterministic zip/CSV fixture is
  * written to a temp dir, then the full chain runs —
  * `readZippedCsv` (S2/S3, encoding sniffing + bad-line skip) →
  * `normalizeCode` (X6) → `mergeAdjusted` (J10, qfq/hfq suffixed
  * joins) → `writeSortedParquet` (S4) → read-back — and the entry
  * returns a per-code summary of the read-back table. Fully oracled:
  * the fixture lives outside the driver's DuckDB-visible parquet dir,
  * but it is a closed-form function of (code, z, i), so the oracle
  * replays the generator with `generate_series` (see [[oracles]]).
  *
  * Scale: one task per zip (binaryFile), hive-partitioned sorted
  * sink — the same plan shape that ingests a directory of thousands
  * of daily zips on a real cluster.
  */
object IngestQueries {
  private type Q = (SparkSession, String) => DataFrame

  /** Deterministic tick CSV fixture: `nZips` zip files × one member
    * per code × `rowsPerMember` ticks. Member `000002.csv` of each
    * zip is GB18030-encoded with a Chinese direction column (the
    * legacy-encoding path); the rest are UTF-8. Two bad lines per
    * member exercise on_bad_lines=skip. Returns total GOOD rows. */
  def writeFixture(dir: String, nZips: Int, rowsPerMember: Int,
                   nCodes: Int = 4): Long = {
    Files.createDirectories(Paths.get(dir))
    val gb = Charset.forName("GB18030")
    val codes =
      if (nCodes == 4) Seq("600001", "000002", "430047", "688001")
      else (0 until nCodes).map(i =>
        f"${Seq("600", "000", "430", "688")(i % 4)}${i / 4}%03d")
    var good = 0L
    for (z <- 0 until nZips) {
      val zos = new ZipOutputStream(new FileOutputStream(s"$dir/ticks_$z.zip"))
      for (code <- codes) {
        val legacy = code == "000002"
        val sb = new StringBuilder("trade_time,price,volume,direction\n")
        for (i <- 0 until rowsPerMember) {
          val t = f"2024-01-02 09:${30 + (z * 7 + i) % 30}%02d:${i % 60}%02d.$z$i"
          val px = 10.0 + (code.head - '0') + ((z * 13 + i * 7) % 64) / 64.0
          val vol = 100 + (z * 31 + i * 17) % 900
          val dirn = if (legacy) (if (i % 2 == 0) "买" else "卖")
                     else (if (i % 2 == 0) "B" else "S")
          sb.append(s"$t,$px,$vol,$dirn\n")
          good += 1
        }
        sb.append("bad,line\n")             // wrong arity -> skipped
        sb.append("2024-01-02,notanum,1,B\n") // bad numeric -> skipped
        zos.putNextEntry(new ZipEntry(s"$code.csv"))
        val bytes = if (legacy) sb.toString.getBytes(gb)
                    else sb.toString.getBytes("UTF-8")
        zos.write(bytes)
        zos.closeEntry()
      }
      zos.close()
    }
    good
  }

  /** The ingest chain over a fixture at `root`; returns the cleaned
    * merged frame (pre-sink) for q93. */
  def ingestChain(s: SparkSession, root: String): DataFrame = {
    val ticks = Ingest.readZippedCsv(s, s"$root/zips/*.zip").toDF()
      .withColumn("code",
        Ingest.normalizeCode(regexp_extract(col("src_file"), "(\\d+)", 1)))
    val raw = ticks.select(col("code"), col("trade_time"), col("price"),
      col("volume"), col("direction"))
    // qfq/hfq surfaces derived from the raw frame (the reference's
    // three per-adjustment files carry the same keys; here the
    // adjusted prices are deterministic transforms so the merge is
    // verifiable without extra fixtures)
    val qfq = raw.select(col("code"), col("trade_time"),
      (col("price") * 0.5).as("price"))
    val hfq = raw.select(col("code"), col("trade_time"),
      (col("price") * 2.0).as("price"))
    Ingest.mergeAdjusted(raw, qfq, hfq,
      keys = Seq("code", "trade_time"), priceCols = Seq("price"))
  }

  /** q93: fixture → full chain → sorted hive sink → read-back →
    * per-code deterministic summary. The summary carries the X6
    * sector identity hash ([[Ingest.sectorId]], md5 16-hex of
    * type_name — `Project report.md:604-617`) keyed on the code's
    * exchange prefix, so the hash function is exercised end to end
    * in the driver-visible row hash, not just in its unit test. */
  def ingestRoundtrip: Q = (s, _) => {
    val root = graft.TempDirs.scratch("graft_ingest")
    writeFixture(s"$root/zips", nZips = 3, rowsPerMember = 200)
    val merged = ingestChain(s, root)
    Ingest.writeSortedParquet(merged, s"$root/out",
      partCols = Seq("code"), sortCols = Seq("trade_time"))
    val back = s.read.parquet(s"$root/out")
    back.groupBy("code").agg(
      count(lit(1)).as("n"),
      sum(col("volume")).as("sum_vol"),
      (floor(sum(col("price")) * 1e6 + lit(0.5)) / 1e6).as("sum_px"),
      (floor(sum(col("price_qfq")) * 1e6 + lit(0.5)) / 1e6).as("sum_px_qfq"),
      (floor(sum(col("price_hfq")) * 1e6 + lit(0.5)) / 1e6).as("sum_px_hfq"),
      min(col("trade_time")).as("t_min"),
      max(col("trade_time")).as("t_max"))
      .withColumn("sector_id",
        Ingest.sectorId(lit("industry"), substring(col("code"), 1, 3)))
      .orderBy("code")
  }

  /** q124: bucketed, sorted storage + CO-LOCATED join (S8). Two
    * quotes-derived tables are sunk with
    * `bucketBy(8, stock, day).sortBy(stock, day)` — Spark's
    * pre-shuffled layout — then re-read and merge-joined on the
    * bucket keys with ZERO exchange on either side (pinned in
    * IngestSpec): the join reads bucket i of both tables into the
    * same task. THE storage-side answer to repeated big fact⋈fact
    * joins at 100 TB — the shuffle is paid once at write time and
    * amortized over every subsequent join; only the final per-stock
    * rollup (post-join, map-side combined) shuffles, and it moves
    * aggregated rows. The `merge` hint keeps the demonstration
    * honest at tiny SF where AQE would otherwise broadcast.
    *
    * Values are bucketing-independent (the join is 1:1 on the panel
    * key), so the DuckDB oracle is the same rollup over the quotes
    * CTE — the entry's hash proves the bucketed write+read+join
    * chain is lossless. */
  def bucketedJoin: Q = (s, dir) => {
    val root = graft.TempDirs.scratch("graft_bucket_join")
    val panel = graft.sources.Quotes.panel(s, dir)
    // catalog names are SESSION-GLOBAL state: suffix them with the
    // per-run scratch root's hash (the streaming sinks' pattern) so
    // two sessions sharing a warehouse — parallel test suites, a
    // concurrent Verify — never race on the same table name
    val tag = java.lang.Long.toHexString(root.hashCode.toLong & 0xffffffffL)
    def sink(df: DataFrame, name: String): Unit = {
      df.write.format("parquet")
        .bucketBy(8, "stock", "day").sortBy("stock", "day")
        .option("path", s"$root/$name").mode("overwrite")
        .saveAsTable(name)
    }
    val (pName, vName) = (s"g124_prices_$tag", s"g124_volumes_$tag")
    sink(panel.select("stock", "day", "close"), pName)
    sink(panel.select("stock", "day", "volume"), vName)
    // no DROP here: the returned frame is LAZY (the caller — and the
    // IngestSpec plan pin — executes it after this function returns),
    // so the catalog entries must outlive the call. The data files
    // live under the self-deleting scratch root; the few per-run
    // catalog entries in the session-local metastore are inert.
    val p = s.table(pName)
    val v = s.table(vName)
    p.hint("merge").join(v, Seq("stock", "day"))
      .groupBy("stock")
      .agg(count(lit(1)).as("n_days"),
        sum(col("volume")).as("sum_vol"),
        (floor(sum(col("close") * col("volume")) / sum(col("volume")) * 1e6
          + lit(0.5)) / 1e6).as("vw_close"))
      .orderBy("stock")
  }

  /** q130: partition COMPACTION — the maintenance pass every
    * append-heavy lakehouse store needs: streaming/micro-batch writes
    * leave many small files per partition (simulated here: 8 writers
    * × every day ⇒ 8 files/day), and the nightly compactor rewrites
    * each partition into one right-sized file (`repartition(partCol)`
    * ⇒ one task owns each partition's rows). At 100 TB small files
    * are a primary scan-performance killer (footer/open overhead per
    * file, tiny row groups); compaction cost is one full shuffle of
    * the store, amortized over every subsequent read. The entry
    * returns a per-day rollup of the compacted store — values are
    * layout-independent, so the hash proves the rewrite lossless
    * (q124's convention); file counts before/after are pinned in
    * IngestSpec. */
  def compactPartitions: Q = (s, dir) => {
    val root = graft.TempDirs.scratch("graft_compact")
    val panel = graft.sources.Quotes.panel(s, dir)
      .select(col("stock"), col("day"), col("close"), col("volume"))
    panel.repartition(8) // row-hash spread: every writer hits every day
      .write.partitionBy("day").parquet(s"$root/raw")
    Ingest.compactPartitioned(s, s"$root/raw", s"$root/compact", "day")
    s.read.parquet(s"$root/compact")
      .groupBy(col("day").cast("long").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(col("volume")).as("sum_vol"),
        (floor(sum(col("close")) * 1e6 + lit(0.5)) / 1e6).as("sum_close"))
      .orderBy("day")
  }

  /** q131: SCHEMA-EVOLUTION read — a corpus/market store accretes
    * columns over time (an early batch lacks `volume`); the reader
    * must union batches of different widths without a migration
    * rewrite. `mergeSchema` reconciles parquet footers at planning
    * time and nulls the missing column in old batches — at 100 TB
    * "rewrite history to add a column" is not an option, so this read
    * path IS the schema-migration story. Footer merging itself costs
    * a distributed footer-read job over the file listing, so a
    * production store amortizes it by recording the merged schema in
    * a catalog (metastore/table format) and reading with that
    * explicit schema — the RESULT is identical to this entry; only
    * the schema-discovery step moves out of the per-query path. The
    * rollup aggregates both eras with explicit null handling, oracled
    * by re-deriving the same era split. */
  def schemaEvolution: Q = (s, dir) => {
    val root = graft.TempDirs.scratch("graft_schema_evo")
    val panel = graft.sources.Quotes.panel(s, dir)
    panel.filter(col("day") <= 40).select(col("stock"), col("day"), col("close"))
      .write.parquet(s"$root/b1") // old schema: no volume column
    panel.filter(col("day") > 40)
      .select(col("stock"), col("day"), col("close"), col("volume"))
      .write.parquet(s"$root/b2") // evolved schema
    s.read.option("mergeSchema", "true").parquet(s"$root/b1", s"$root/b2")
      .groupBy(when(col("day") <= 40, "v1").otherwise("v2").as("era"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("volume").isNull, 1L).otherwise(0L)).as("n_null_vol"),
        coalesce(sum(col("volume")), lit(0L)).as("sum_vol"),
        (floor(sum(col("close")) * 1e6 + lit(0.5)) / 1e6).as("sum_close"))
      .orderBy("era")
  }

  val entries: Map[String, Q] = Map(
    "q93_ingest_roundtrip" -> ingestRoundtrip,
    "q124_bucketed_join" -> bucketedJoin,
    "q130_compact_partitions" -> compactPartitions,
    "q131_schema_evolution" -> schemaEvolution)

  /** The zip fixture is not DuckDB-visible, but every value in it is a
    * closed-form function of (code, z, i) — so the oracle REPLAYS the
    * generator with `generate_series` and aggregates the same way the
    * entry does, exercising the full chain (decode → bad-line skip →
    * normalizeCode → qfq/hfq merge → sorted sink → read-back) against
    * an independent derivation. Float-exact: every price is a multiple
    * of 1/64 (and 1e6/64 = 15625 is integral), so the per-code sums
    * and the 6-dp floor are bit-stable in both engines regardless of
    * addition order. */
  val oracles: Map[String, String] = Map(
    // values are bucketing-independent (1:1 join on the panel key):
    // the oracle is the same per-stock rollup over the quotes CTE.
    // Float-exact: close is integer + 1/64 grain and volume integer,
    // so sum(close*volume) and sum(volume) are exact in both engines.
    "q124_bucketed_join" ->
      s"""WITH ${graft.sources.Quotes.sqlCte}
         |SELECT stock, count(*) AS n_days,
         | CAST(sum(volume) AS BIGINT) AS sum_vol,
         | floor(sum(close * volume) / sum(volume) * 1e6 + 0.5) / 1e6 AS vw_close
         |FROM quotes GROUP BY stock ORDER BY stock""".stripMargin,
    // values are layout-independent: the hash proves the
    // spread-write -> compact -> read chain lossless
    "q130_compact_partitions" ->
      s"""WITH ${graft.sources.Quotes.sqlCte}
         |SELECT day, count(*) AS n,
         | CAST(sum(volume) AS BIGINT) AS sum_vol,
         | floor(sum(close) * 1e6 + 0.5) / 1e6 AS sum_close
         |FROM quotes GROUP BY day ORDER BY day""".stripMargin,
    // the era split re-derived; v1 rows contribute NULL volume after
    // the mergeSchema union, counted and zero-coalesced identically
    "q131_schema_evolution" ->
      s"""WITH ${graft.sources.Quotes.sqlCte}
         |SELECT CASE WHEN day <= 40 THEN 'v1' ELSE 'v2' END AS era,
         | count(*) AS n,
         | CAST(sum(CASE WHEN day <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_null_vol,
         | CAST(sum(CASE WHEN day <= 40 THEN 0 ELSE volume END) AS BIGINT) AS sum_vol,
         | floor(sum(close) * 1e6 + 0.5) / 1e6 AS sum_close
         |FROM quotes GROUP BY 1 ORDER BY era""".stripMargin,
    "q93_ingest_roundtrip" ->
      """WITH codes(dig, code) AS (VALUES
        |  (6, '600001.SH'), (0, '000002.SZ'), (4, '430047.BJ'), (6, '688001.SH')),
        |ticks AS (
        |  SELECT code,
        |    '2024-01-02 09:' || lpad(CAST(30 + (z*7 + i) % 30 AS VARCHAR), 2, '0')
        |      || ':' || lpad(CAST(i % 60 AS VARCHAR), 2, '0')
        |      || '.' || CAST(z AS VARCHAR) || CAST(i AS VARCHAR) AS trade_time,
        |    10.0 + dig + ((z*13 + i*7) % 64) / 64.0 AS price,
        |    100 + (z*31 + i*17) % 900 AS volume
        |  FROM codes
        |  CROSS JOIN generate_series(0, 2) AS gz(z)
        |  CROSS JOIN generate_series(0, 199) AS gi(i))
        |SELECT code, count(*) AS n,
        |  CAST(sum(volume) AS BIGINT) AS sum_vol,
        |  floor(sum(price) * 1e6 + 0.5) / 1e6 AS sum_px,
        |  floor(sum(price * 0.5) * 1e6 + 0.5) / 1e6 AS sum_px_qfq,
        |  floor(sum(price * 2.0) * 1e6 + 0.5) / 1e6 AS sum_px_hfq,
        |  min(trade_time) AS t_min, max(trade_time) AS t_max,
        |  substring(md5('industry_' || substring(code, 1, 3)), 1, 16) AS sector_id
        |FROM ticks
        |GROUP BY code ORDER BY code""".stripMargin)
}
