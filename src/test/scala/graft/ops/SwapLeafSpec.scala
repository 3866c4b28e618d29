package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** Pins [[PlanBridge.swapLeaf]] — the plan-once template mechanism
  * behind q171's streamed full-alpha maintenance: a DAG analyzed once
  * over an empty all-nullable stand-in must produce, for every
  * swapped-in input, exactly what building the same DAG directly over
  * that input produces — including through a window stage and a
  * custom [[graft.plans.MultiRankNode]] stage (the two operator
  * classes the alpha pipeline is made of). The misuse cases fail
  * loudly: silent misbinding is the failure mode templates invite. */
class SwapLeafSpec extends SparkSpec {

  private val schema = StructType(Seq(
    StructField("stock", LongType, nullable = true),
    StructField("day", LongType, nullable = true),
    StructField("x", DoubleType, nullable = true)))

  /** A small two-axis DAG: a per-stock trailing window, a per-day
    * MultiRank pct rank, and a composite of both. */
  private def dag(in: DataFrame): DataFrame = {
    val w = Window.partitionBy("stock").orderBy("day").rowsBetween(-2, 0)
    val withWin = in.withColumn("mx", avg(col("x")).over(w))
    PlanOps.multiRank(withWin, Seq("day"), Seq(("rx", "x", true)))
      .withColumn("score", col("mx") * col("rx"))
  }

  private def template = PlanBridge.analyzed(dag(
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)))

  private def input(seed: Int): DataFrame = {
    import scala.jdk.CollectionConverters._
    val rows = (for (s <- 1L to 4L; d <- 1L to 6L)
      yield org.apache.spark.sql.Row(s, d, ((s * 7 + d * 3 + seed) % 11).toDouble))
      .asJava
    spark.createDataFrame(rows, schema)
  }

  private def rows(df: DataFrame): Vector[Vector[Any]] =
    df.orderBy("stock", "day").collect()
      .map(_.toSeq.map {
        case d: Double => java.lang.Double.doubleToLongBits(d)
        case v => v
      }.toVector).toVector

  test("one template, two swapped inputs: each equals the direct build, bit for bit") {
    val tpl = template
    Seq(1, 2).foreach { seed =>
      val in = input(seed)
      val swapped = rows(PlanBridge.swapLeaf(spark, tpl, in))
      val direct = rows(dag(in))
      assert(swapped.nonEmpty && swapped == direct,
        swapped.zip(direct).find { case (a, b) => a != b }.toString)
    }
  }

  test("column order of the replacement does not matter (bound by name)") {
    val in = input(3).select("x", "day", "stock")
    assert(rows(PlanBridge.swapLeaf(spark, template, in)) == rows(dag(input(3))))
  }

  test("missing column, type mismatch, widened nullability, multi-leaf: loud failures") {
    val tpl = template
    intercept[IllegalArgumentException] {
      PlanBridge.swapLeaf(spark, tpl, input(1).drop("x"))
    }
    intercept[Exception] {
      PlanBridge.swapLeaf(spark, tpl,
        input(1).withColumn("x", col("x").cast("float")))
    }
    // a template built over a NON-nullable stand-in must reject a
    // nullable replacement (nulls through a non-null attribute would
    // miscompile null checks)
    val strict = PlanBridge.analyzed(dag(spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType(schema.fields.map(_.copy(nullable = false))))))
    intercept[IllegalArgumentException] {
      PlanBridge.swapLeaf(spark, strict, input(1))
    }
    // two leaves (self-join) is not a template
    val joined = PlanBridge.analyzed(
      input(1).as("a").join(input(2).as("b"), Seq("stock", "day")))
    intercept[IllegalArgumentException] {
      PlanBridge.swapLeaf(spark, joined, input(1))
    }
  }

  test("duplicate replacement column names the template binds: loud failure") {
    // a toMap lookup would silently keep the LAST x and bind the
    // whole template body to it — the one misuse class the r19
    // loud-failure pins missed (r19 ADVICE 3)
    val in = input(1).select(col("stock"), col("day"), col("x"),
      (col("x") * 2).as("x"))
    intercept[IllegalArgumentException] {
      PlanBridge.swapLeaf(spark, template, in)
    }
  }
}
