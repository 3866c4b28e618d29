package graft

import org.apache.spark.sql.SparkSession

/** The ONE local-mode session builder behind every runnable main
  * (Verify, CrossProcessSpec's child JVMs) and the perfbench harness. A conf
  * block copied per main drifts: a measured tuning applied to some
  * copies silently unbalances the comparison between them.
  *
  * Every setting here is LOCAL-MODE tuning for the driver's
  * single-JVM `local[32]` box. A real multi-executor cluster keeps
  * the defaults where noted (shuffle compression in particular).
  */
object LocalSession {

  /** Common builder; callers append main-specific configs before
    * `getOrCreate()`. */
  def builder(cpus: String): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // AQE coalescing floor: the panel exchange shuffles only the
      // narrow key columns (~1.6 MB at sf0.1), but feeds hundreds of
      // derived-column windows — the default 1 MB floor coalesces it
      // to ~5 partitions and strangles compute parallelism
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      // the JVM-wide generated-class cache defaults to 100 entries;
      // a multi-query session evicts everything before the ~450-
      // projection alpha pipeline runs, recompiling per task
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      // constraint propagation is O(plan-size^2)-ish on the ~500-
      // projection alpha DAG and infers nothing the panel queries
      // need (no join pruning hinges on inferred IsNotNull here):
      // measured -25% on isolated q90 (149->111 s) and q58 (90->69 s)
      // at sf0.1 with identical results
      .config("spark.sql.constraintPropagation.enabled", "false")
      // the shared full-panel alpha frame (~500 double cols) is the
      // only large persisted frame; building its columnar cache with
      // per-column compression cost +40 s at sf0.1 (174 -> 135 s
      // isolated q58) for memory we don't need back — the frame is
      // ~400 MB raw against an 8 GB heap
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      // shuffle compression trades CPU for I/O; with page-cache-backed
      // LOCAL shuffle files the CPU loses (alpha derivation cold
      // 78 -> 70 s at sf0.1 with lz4 off). A network-shuffling cluster
      // keeps the default ON.
      .config("spark.shuffle.compress", "false")
      .config("spark.shuffle.spill.compress", "false")
      // partition-dir listing above this count becomes a DISTRIBUTED
      // Spark job (default threshold 32): for the day-partitioned
      // streamed stores (~100 `day=` dirs on local fs) that job costs
      // 0.15-0.2 s of pure scheduling per store re-read — 21 listing
      // jobs ≈ 1.9 s/run on q168, re-paid per micro-batch (measured
      // r21: q168 11.1→7.8 s, q171 33.1→23.0 s with driver-side
      // listing). Scale-dependent: a cluster reading 10k+-partition
      // tables wants the distributed listing back — set the conf
      // lower on the returned builder there; table formats with
      // manifests (guide §6) sidestep the listing entirely.
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold", "4096")
      // driver-compare determinism: the oracle (DuckDB) reads naive
      // timestamps; pin the session so TZ-sensitive entries canonize
      // identically on any host
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
}
