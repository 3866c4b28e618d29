package graft.sources

import graft.{PlanAudit, SparkSpec}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** The session-resident quotes panel: one persisted, stock-partitioned
  * Dataset per (session, source dir), identical to the uncached
  * derivation, dropped when its session stops. */
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

  test("calls share one Dataset backed by one cached relation, also when concurrent") {
    val dir = freshDir()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(5)
    val firsts = try {
      val start = new java.util.concurrent.CountDownLatch(1)
      val calls = (1 to 5).map(_ => pool.submit(new java.util.concurrent.Callable[DataFrame] {
        override def call(): DataFrame = { start.await(); Quotes.panel(spark, dir) }
      }))
      start.countDown()
      calls.map(_.get())
    } finally pool.shutdown()
    val p = firsts.head
    assert(firsts.forall(_ eq p))
    assert(Quotes.panel(spark, dir) eq p)
    assert(p.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(firsts.flatMap(f => cachedRelations(f.select("stock", "close"))).toSet.size == 1)
    val rows = p.count()
    assert(rows > 0 && Quotes.panel(spark, dir).count() == rows)
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
    old.stop()
    // stop() drains the listener bus, so the cleanup has run
    assert(!Quotes.residents.keySet.stream.anyMatch(_._1 eq old))
    val fresh: SparkSession = SparkSpec.session
    assert(!(fresh eq old))
    val after = Quotes.panel(fresh, sf)
    assert(!(after eq before) && (after.sparkSession eq fresh))
    assert(after.storageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(after.count() == rows)
  }
}
