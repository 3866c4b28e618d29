package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[PlanAudit.finalSections]] on a captured plan text: a query over
  * the factor frame (`FactorQueries.factorFrame`), executed at
  * sf0.001. The frame's cached relation prints its own adaptive plan,
  * which holds the panel's cached relation and ITS adaptive plan; the
  * nested markers are printed without the enclosing tree's prefix.
  * Spark-free — the contract is about the text only. */
class PlanAuditSpec extends AnyFunSuite {

  private val plan: Vector[String] = {
    val src = scala.io.Source.fromResource("factor_frame_plan.txt")
    try src.getLines().toVector finally src.close()
  }

  test("through the cache: every Final section stays, every Initial section goes") {
    val kept = PlanAudit.finalSections(plan.mkString("\n"), throughCache = true)
      .linesIterator.toVector
    // lines 1-36: the query's, the factor frame's and the panel's final
    // plans; 48-71: the frame's four broadcast join sides, printed after
    // the panel's nested Initial section (lines 37-47); from line 72 on,
    // the frame's and the query's Initial sections
    assert(kept == plan.slice(0, 36) ++ plan.slice(47, 71))
    assert(!kept.exists(_.contains("Initial Plan")))
    // the technical mart's side, the one printed right after the
    // nested section, survives with its scan
    val stage = kept.indexWhere(_.contains("BroadcastQueryStage 1"))
    assert(stage >= 0)
    assert(kept.drop(stage).take(6).exists(l =>
      l.contains("FileScan") && l.contains("graft_factor_mart_technical")))
    assert(kept.count(_.contains("BroadcastQueryStage")) == 4)
    assert(kept.count(_.contains("FileScan")) == 5)
  }

  test("a cached relation is a leaf by default") {
    val kept = PlanAudit.finalSections(plan.mkString("\n"), throughCache = false)
      .linesIterator.toVector
    assert(kept == plan.take(5))
    assert(kept.last.contains("InMemoryTableScan"))
  }
}
