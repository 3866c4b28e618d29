package graft.factors

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Value / fundamentals factor corpus — `database/functions/basic
  * factor_function.md:50-58` / `database/ddl/factor_db_ddl.md:115-132`
  * (`factor_value_daily`): size, valuation yields, and 60-day
  * valuation z-scores, all over the panel's pe/pb/ps/dv_ratio/
  * total_mv fundamentals.
  *
  * `yoy_net_profit` is intentionally omitted: it requires quarterly
  * income-statement history the panel (and the reference's daily
  * surface) does not carry.
  *
  * Scale: pure per-row projections plus two 60-row windows on the
  * shared stock shuffle.
  */
object Value {

  private val W = Window.partitionBy("stock").orderBy("day")
  private def t(d: Int) = W.rowsBetween(-(d - 1), 0)

  private def div(num: Column, den: Column): Column =
    when(den =!= 0.0, num / den)

  private def zscore60(c: Column): Column =
    // closed-form exact-sum stddev (pe/pb are 1/64- and 1/16-grain
    // exact): engine-proof vs the built-in's incremental moments
    div(c - avg(c).over(t(60)), graft.ops.TsOps.tsStddevCf(c, 60, W))

  /** ROE proxy: pb / pe on the panel row (null when pe is 0). */
  val roeTtm: Column = div(col("pb"), col("pe"))

  def compute(quotes: DataFrame): DataFrame =
    quotes
      .withColumn("ln_market_cap", log(col("total_mv")))
      .withColumn("ep_ttm", div(lit(1.0), col("pe")))
      .withColumn("bp_lr", div(lit(1.0), col("pb")))
      .withColumn("sp_ttm", div(lit(1.0), col("ps")))
      .withColumn("dividend_yield", col("dv_ratio"))
      .withColumn("roe_ttm", roeTtm)
      .withColumn("pe_zscore_60", zscore60(col("pe")))
      .withColumn("pb_zscore_60", zscore60(col("pb")))

  /** Output factor column names (factor_value_daily order). */
  val columns: Seq[String] = Seq(
    "ln_market_cap", "ep_ttm", "bp_lr", "sp_ttm", "dividend_yield",
    "roe_ttm", "pe_zscore_60", "pb_zscore_60")
}
