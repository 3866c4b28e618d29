package graft.sources

import graft.{PlanAudit, Residents, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The session-resident quotes panel: one persisted, stock-partitioned
  * Dataset per (session, source dir), identical to the uncached
  * derivation, dropped when its session stops — and the factor frame
  * next to it, and the session cleanup every [[graft.Residents]]
  * entry shares. */
class QuotesPanelSpec extends SparkSpec {
  private val sf = "/root/testdata/sf0.001"

  /** A fresh source dir holding a copy of the fixture's events: a key
    * no other spec has built, so first calls really are first. */
  private def freshDir(): String = {
    val d = graft.TempDirs.scratch("graft_quotes_panel")
    java.nio.file.Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$d/events.parquet"))
    d
  }

  /** The cache builders behind every cached relation `df` reads. */
  private def cachedRelations(df: DataFrame): Set[AnyRef] =
    df.queryExecution.withCachedData.collect {
      case r: InMemoryRelation => r.cacheBuilder: AnyRef
    }.toSet

  /** Five calls of `first` released at once: the concurrent first
    * calls of a resident that no one has built yet. */
  private def concurrentFirsts(first: () => DataFrame): Seq[DataFrame] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 5).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame = { start.await(); first() }
      }))
      start.countDown()
      calls.map(_.get())
    } finally pool.shutdown()
  }

  test("calls share one Dataset backed by one cached relation, also when concurrent") {
    val dir = freshDir()
    val firsts = concurrentFirsts(() => Quotes.panel(spark, dir))
    val p = firsts.head
    assert(firsts.forall(_ eq p))
    assert(Quotes.panel(spark, dir) eq p)
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(firsts.flatMap(f => cachedRelations(f.select("stock", "close"))).toSet.size == 1)
    val rows = p.count()
    assert(rows > 0 && Quotes.panel(spark, dir).count() == rows)
  }

  test("the factor frame: concurrent first calls build one persisted frame") {
    val dir = freshDir()
    val firsts = concurrentFirsts(() => graft.analytics.FactorQueries.factorFrame(spark, dir))
    val f = firsts.head
    assert(firsts.forall(_ eq f))
    assert(graft.analytics.FactorQueries.factorFrame(spark, dir) eq f)
    assert(f.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(cachedRelations(f.select("stock", "rsi_14")).size == 1)
    // one row per panel key: the pages' LEFT joins to it add no rows
    val keys = Quotes.panel(spark, dir).select("stock", "day")
    assert(f.count() == keys.count() && f.select("stock", "day").distinct().count() == f.count())
  }

  test("a stock-keyed lag over the panel plans no exchange") {
    val lagged = Quotes.panel(spark, sf).withColumn("prev_close",
      lag(col("close"), 1).over(Window.partitionBy("stock").orderBy("day")))
    val plan = PlanAudit.finalPlan(lagged)
    assert(plan.contains("InMemoryTableScan"), plan)
    assert(!plan.contains("Exchange"), plan)
  }

  test("the cached panel equals the uncached derivation, partition for partition") {
    // the same derivation over a copy of the events: a different scan
    // location, so the cache manager cannot substitute the cached panel
    val uncached = Quotes.derive(Quotes.axes(spark, freshDir()))
    assert(cachedRelations(uncached).isEmpty)
    // same partitions holding the same rows in the same order, doubles
    // compared by their bits: downstream order-sensitive float sums
    // see exactly the input the uncached derivation gave them
    def layout(df: DataFrame) = df.rdd.glom().collect().map(_.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).toSeq).toSeq
    val cached = Quotes.panel(spark, sf)
    assert(cached.schema == uncached.schema)
    val (a, b) = (layout(cached), layout(uncached))
    assert(a.flatten.nonEmpty && a.map(_.size) == b.map(_.size))
    a.zip(b).foreach { case (x, y) => assert(x == y) }
  }

  test("a stopped session's panels are dropped; a new session rebuilds") {
    val old = spark
    val before = Quotes.panel(old, sf)
    val rows = before.count()
    // the factor frame builds the technical, momentum, value and
    // sentiment marts; the q95 entry builds its replay seed
    val frameBefore = graft.analytics.FactorQueries.factorFrame(old, sf)
    assert(frameBefore.count() == rows)
    assert(graft.streaming.StreamQueries.emaStreamValues(old, sf).count() > 0)
    val held = Residents.held(old)
    assert(Set[Any]("panel", "factors", "mart", "replay-seed").subsetOf(
      held.keySet.collect { case k: Product => k.productElement(0) }))
    val seedRoot = held.collectFirst {
      case (("replay-seed", `sf`, "ema"), Some(r: String)) => r
    }.get
    assert(java.nio.file.Files.isDirectory(java.nio.file.Paths.get(seedRoot)))
    old.stop()
    // stop() drains the listener bus, so the cleanup has run
    assert(Residents.held(old).isEmpty)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(seedRoot)))
    assert(before.storageLevel == StorageLevel.NONE)
    assert(frameBefore.storageLevel == StorageLevel.NONE)
    val fresh: SparkSession = SparkSpec.session
    assert(!(fresh eq old))
    val after = Quotes.panel(fresh, sf)
    assert(!(after eq before) && (after.sparkSession eq fresh))
    assert(after.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(after.count() == rows)
    val frameAfter = graft.analytics.FactorQueries.factorFrame(fresh, sf)
    assert(!(frameAfter eq frameBefore) && (frameAfter.sparkSession eq fresh))
    assert(frameAfter.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(frameAfter.count() == rows)
  }
}
