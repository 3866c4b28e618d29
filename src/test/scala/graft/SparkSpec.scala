package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one local SparkSession for the whole test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
}

object SparkSpec {
  private var current: SparkSession = _

  /** The shared session, rebuilt when a spec has stopped it (specs of
    * session-lifecycle cleanup stop it on purpose). */
  def session: SparkSession = synchronized {
    if (current == null || current.sparkContext.isStopped) current = build()
    current
  }

  private def build(): SparkSession = {
    // the suite must be hermetic to ambient deployment config: with
    // SPARK_GRAFT_MART_DIR exported, mart consumers would scan under
    // the persistent root and every plan pin on the scratch path
    // ('graft_factor_mart...') would go red.
    // Specs that test the persistent path pass an explicit root to
    // buildMartAt, which this switch does not affect.
    graft.analytics.FactorQueries.ignorePersistentMartRoot()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
