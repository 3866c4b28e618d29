package graft.analytics

import graft.{PlanAudit, SparkSpec}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.graftbridge.ListenerBusBridge

/** The research pages' job budget: at a few thousand rows a page's
  * time is driver time per Spark job, so each page runs in at most two
  * jobs over the session-resident panel and factor frame, and none
  * ends in a range-partitioned global sort (a sampling job plus a
  * shuffle for a bounded result). */
class PageJobsSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  private val pages = Seq(
    "q49" -> FactorQueries.klineReplay,
    "q55" -> FactorQueries.peersSnapshot,
    "q56" -> FactorQueries.factorSnapshot,
    "q92" -> FactorQueries.screenerMask,
    "q94" -> FactorQueries.sectorEquityCurve,
    "q100" -> FactorQueries.sectorLeaderboard)

  test("every research page runs in at most 2 jobs, with no range-partitioned sort") {
    // the first render builds the panel, the marts and the factor frame
    pages.foreach { case (_, q) => q(spark, dir).collect() }
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try pages.foreach { case (name, q) =>
      ListenerBusBridge.drain(spark.sparkContext)
      jobs.set(0)
      val df = q(spark, dir)
      assert(df.collect().nonEmpty, name)
      ListenerBusBridge.drain(spark.sparkContext)
      assert(jobs.get >= 1 && jobs.get <= 2, s"$name ran ${jobs.get} jobs")
      val plan = PlanAudit.finalPlan(df)
      assert(!plan.contains("rangepartitioning"), s"$name:\n$plan")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
