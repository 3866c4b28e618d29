package graft.factors

import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, StructField, StructType}

/** The recursive EMA factor family of
  * `database/functions/basic factor_function.md:8-9,13,17,26-27`:
  * macd (diff/dea), kdj (k/d/j), trix_12, force_13 and the mass_25
  * ratio input — all pandas `ewm(adjust=False)` recursions, which are
  * not frame-expressible (SURVEY.md §7.3-1).
  *
  * Unlike [[graft.ops.TsOps.ema]] (one series per pass), this runs
  * EVERY chain in a single stock-clustered, (stock, day)-sorted pass
  * — one streaming `mapPartitions` with O(1) state per stock: 11
  * recursive registers instead of 11 shuffles. The downstream
  * `mass_25` rolling sum reuses the same hash partitioning (no second
  * exchange).
  *
  * Pinned conventions (tested in EmaFamilySpec; mirrored stepwise by
  * the q43 recursive-CTE oracle):
  *  - ewm(adjust=False): y_1 = x_1, y_t = a*x_t + (1-a)*y_{t-1};
  *  - null input rows carry state (output = previous state, null if
  *    the series hasn't started) — only force_13's day-1 input is
  *    null on the Quotes panel;
  *  - spans: macd 12/26/9 (a = 2/(n+1)), kdj a = 1/3 (M1=3), trix
  *    span 12, force span 13, mass EMA span 9;
  *  - macd_diff = (EMA12 - EMA26) * 2 (the reference's scaling),
  *    macd_dea = EMA(diff, 9);
  *  - kdj: K = EMA(rsv, 1/3) with rsv = (C-L9)/(H9-L9)*100, D =
  *    EMA(K, 1/3), J = 3K - 2D;
  *  - trix_12 = (TEMA_t - TEMA_{t-1}) / TEMA_{t-1}, null on day 1;
  *  - mass_25 = rolling 25-sum of EMA(H-L,9)/EMA(EMA(H-L,9),9).
  *
  * Both kernels ([[compute]] and the q168 seeded variant
  * [[computeSeeded]]) advance the SAME [[EmaState.step]] — one
  * definition of the recursion, so streamed maintenance can never
  * drift from the scratch derive by construction.
  */
object EmaFamily {

  // public: the q43 oracle re-derives the chains from these exact doubles
  val aMacdFast = 2.0 / 13
  val aMacdSlow = 2.0 / 27
  val aSignal = 2.0 / 10
  val aKdj = 1.0 / 3
  val aTrix = 2.0 / 13
  val aForce = 2.0 / 14
  val aMass = 2.0 / 10

  /** The family's full recursion state for one stock: the 11 EMA
    * registers plus mass_25's trailing-25 ratio ring. NaN = series
    * not started (maps to null in any stored snapshot). This is the
    * EXACT state a resumed recursion needs — q168's streamed mart
    * maintenance stores it per stock per snapshot day and seeds the
    * next batch from it, because an EMA looks back over the ENTIRE
    * history: no bounded bar tail can reproduce it (the containment
    * argument that makes q167's technical slice exact does NOT hold
    * here — r17 verdict ask #6). */
  private[graft] final class EmaState {
    var e12 = Double.NaN; var e26 = Double.NaN; var dea = Double.NaN
    var k = Double.NaN; var d = Double.NaN
    var t1 = Double.NaN; var t2 = Double.NaN; var t3 = Double.NaN
    var f = Double.NaN
    var mh = Double.NaN; var mh2 = Double.NaN
    // ring buffer for the trailing-25 sum of the mass ratio
    val ring = new Array[Double](25)
    var ringN = 0
    var ringIdx = 0

    def reset(): Unit = {
      e12 = Double.NaN; e26 = Double.NaN; dea = Double.NaN
      k = Double.NaN; d = Double.NaN
      t1 = Double.NaN; t2 = Double.NaN; t3 = Double.NaN
      f = Double.NaN; mh = Double.NaN; mh2 = Double.NaN
      ringN = 0; ringIdx = 0
    }

    private def ema(prev: Double, x: Double, a: Double): Double =
      if (prev.isNaN) x else a * x + (1 - a) * prev
    private def orNull(x: Double): Any = if (x.isNaN) null else x

    /** One trading day: advances every register and returns the 8
      * factor outputs in [[columns]] order. The association order of
      * every float op here is the single source of truth — the q43
      * oracle's recursive CTE mirrors it textually. */
    def step(close: Double, rsvIsNull: Boolean, rsv: Double,
             finIsNull: Boolean, fin: Double, hl: Double): Seq[Any] = {
      // macd chain
      e12 = ema(e12, close, aMacdFast)
      e26 = ema(e26, close, aMacdSlow)
      val diff = (e12 - e26) * 2.0
      dea = ema(dea, diff, aSignal)
      // kdj chain (carry state over null rsv)
      if (!rsvIsNull) {
        k = ema(k, rsv, aKdj)
        d = ema(d, k, aKdj)
      }
      val j = if (k.isNaN) null else 3.0 * k - 2.0 * d
      // trix chain: remember TEMA before this row's update
      val prevT3 = t3
      t1 = ema(t1, close, aTrix)
      t2 = ema(t2, t1, aTrix)
      t3 = ema(t3, t2, aTrix)
      val trix =
        if (prevT3.isNaN || prevT3 == 0.0) null else (t3 - prevT3) / prevT3
      // force chain (input null on day 1)
      if (!finIsNull) f = ema(f, fin, aForce)
      // mass ratio chain + trailing-25 sum (oldest-first re-sum
      // matches the window frame-scan accumulation order)
      mh = ema(mh, hl, aMass)
      mh2 = ema(mh2, mh, aMass)
      val mass: Any =
        if (mh2 == 0.0) null
        else {
          if (ringN < 25) { ring(ringN) = mh / mh2; ringN += 1 }
          else { ring(ringIdx) = mh / mh2; ringIdx = (ringIdx + 1) % 25 }
          var s = 0.0
          var i = 0
          while (i < ringN) { s += ring((ringIdx + i) % 25); i += 1 }
          s
        }
      Seq(diff, dea, orNull(k), orNull(d), j, trix, orNull(f), mass)
    }

    /** Snapshot values in [[stateColumns]] order: 11 registers
      * (null = not started) then the ring contents OLDEST-FIRST —
      * the exact order [[step]] re-sums, so a seeded ring replays
      * the same float additions. */
    def snapshot: Seq[Any] =
      Seq(orNull(e12), orNull(e26), orNull(dea), orNull(k), orNull(d),
        orNull(t1), orNull(t2), orNull(t3), orNull(f), orNull(mh),
        orNull(mh2),
        (0 until ringN).map(i => ring((ringIdx + i) % 25)))

    def seedRing(vals: Seq[Double]): Unit = {
      ringN = math.min(25, vals.length)
      var i = 0
      while (i < ringN) { ring(i) = vals(i); i += 1 }
      ringIdx = 0
    }
  }

  /** Adds macd_diff/macd_dea/kdj_k/kdj_d/kdj_j/trix_12/force_13/
    * mass_25 to a quotes panel keyed (stock, day).
    *
    * ONE exchange end-to-end (FactorPlanSpec pins it): the rsv/fin
    * window pass clusters by stock and sorts by (stock, day), and the
    * kernel consumes its output in that order; mass_25's rolling
    * 25-sum runs inside the same streaming pass via a ring buffer
    * instead of a post-pass window (mapPartitions erases partitioning
    * info, so a window after it would re-shuffle). */
  def compute(quotes: DataFrame): DataFrame = {
    val pre = preFrame(quotes)
    val outSchema = StructType(pre.schema.fields ++
      columns.map(StructField(_, DoubleType, nullable = true)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val iStock = pre.schema.fieldIndex("stock")
    val iClose = pre.schema.fieldIndex("close")
    val iRsv = pre.schema.fieldIndex("rsv")
    val iFin = pre.schema.fieldIndex("fin")
    val iHl = pre.schema.fieldIndex("hl")

    val withRec = pre
      .mapPartitions { rows =>
        var key: Any = null
        var started = false
        val st = new EmaState
        rows.map { r =>
          val kk = r.get(iStock)
          if (!started || kk != key) {
            key = kk; started = true
            st.reset()
          }
          val outs = st.step(r.getDouble(iClose),
            r.isNullAt(iRsv), if (r.isNullAt(iRsv)) 0.0 else r.getDouble(iRsv),
            r.isNullAt(iFin), if (r.isNullAt(iFin)) 0.0 else r.getDouble(iFin),
            r.getDouble(iHl))
          Row.fromSeq(r.toSeq ++ outs)
        }
      }

    withRec.drop("rsv", "fin", "hl")
  }

  /** The shared input pass: the window-derived recursion INPUTS (rsv
    * needs the trailing 9-day high/low, fin the 1-day close lag —
    * bounded lookback, unlike the recursions themselves). The window
    * pass is what clusters the rows by stock (an exchange only when
    * the input is not already stock-clustered — the cached quotes
    * panel is, even after AQE coalesced its partitions, where an
    * explicit repartition(stock) would re-shuffle) and sorts them by
    * (stock, day): its output order is the kernels' input order. */
  private def preFrame(quotes: DataFrame): DataFrame = {
    val W = Window.partitionBy("stock").orderBy("day")
    def t(d: Int) = W.rowsBetween(-(d - 1), 0)
    val hh9 = max(col("high")).over(t(9))
    val ll9 = min(col("low")).over(t(9))
    quotes
      .withColumn("rsv",
        when(hh9 - ll9 =!= 0.0, (col("close") - ll9) / (hh9 - ll9) * 100.0))
      .withColumn("fin",
        (col("close") - lag(col("close"), 1).over(W)) * col("volume"))
      .withColumn("hl", col("high") - col("low"))
  }

  /** q168's SEEDED kernel: the same recursion as [[compute]], but
    * resumable mid-history from a stored per-stock [[EmaState]]
    * snapshot, and emitting the post-row state alongside the factor
    * outputs so the caller can persist the NEXT snapshot.
    *
    * `quotes` = the window-input bar tail (≥ 8 days strictly below
    * `fromDay`, for rsv's 9-day frame and fin's 1-day lag) plus the
    * new days; `state` = one row per stock, [[stateColumns]] schema,
    * holding the registers as of the day before `fromDay`; rows
    * below `fromDay` feed the window pass and are then dropped —
    * their recursion effect is already inside the seed (re-applying
    * them would double-count, the EMA analogue of q167's duplicated-
    * batch corruption). With `state = None` and no `fromDay` this is
    * a from-scratch run that also exposes the state axis — the
    * historical build uses it to derive mart + first snapshot in one
    * pass.
    *
    * Output: the quote columns + the 8 [[columns]] + the 12
    * [[stateColumns]]. Exactness is by construction: the seed holds
    * the exact IEEE-754 registers (parquet stores raw bits), the
    * window inputs are contained in the tail, and both paths advance
    * [[EmaState.step]] — so a streamed row is bit-identical to the
    * same row in a full-history run (StreamMartSpec pins it, and the
    * q168 oracle replays the FULL recursion from day 1). */
  def computeSeeded(quotes: DataFrame, state: Option[DataFrame],
      fromDay: Option[Long] = None): DataFrame = {
    val withState = state match {
      case Some(st) =>
        // state is dimension-sized (one row per entity) — broadcast,
        // never shuffle the bars onto it
        quotes.join(broadcast(st.select(
          (col("stock") +: stateColumns.map(col)): _*)), Seq("stock"), "left")
      case None =>
        stateColumns.foldLeft(quotes)((q, c) => q.withColumn(c,
          if (c == "st_ring") lit(null).cast(ArrayType(DoubleType))
          else lit(null).cast(DoubleType)))
    }
    val pre = preFrame(withState)
    // drop the window-input tail AFTER the window pass, BEFORE the
    // recursion: its effect on the registers is already in the seed
    val recInput = fromDay.map(fd => pre.filter(col("day") >= fd)).getOrElse(pre)

    val baseFields = pre.schema.fields.filterNot(f =>
      Set("rsv", "fin", "hl").contains(f.name) || stateColumns.contains(f.name))
    val outSchema = StructType(baseFields ++
      columns.map(StructField(_, DoubleType, nullable = true)) ++
      stateColumns.map(c =>
        if (c == "st_ring") StructField(c, ArrayType(DoubleType), nullable = true)
        else StructField(c, DoubleType, nullable = true)))
    implicit val enc: Encoder[Row] = Encoders.row(outSchema)
    val iStock = pre.schema.fieldIndex("stock")
    val iClose = pre.schema.fieldIndex("close")
    val iRsv = pre.schema.fieldIndex("rsv")
    val iFin = pre.schema.fieldIndex("fin")
    val iHl = pre.schema.fieldIndex("hl")
    val iBase = baseFields.map(f => pre.schema.fieldIndex(f.name))
    val iSt = stateColumns.dropRight(1).map(pre.schema.fieldIndex)
    val iRing = pre.schema.fieldIndex("st_ring")

    recInput.mapPartitions { rows =>
      var key: Any = null
      var started = false
      val st = new EmaState
      rows.map { r =>
        val kk = r.get(iStock)
        if (!started || kk != key) {
          key = kk; started = true
          st.reset()
          // seed from the joined snapshot (all-null = fresh series)
          def g(i: Int): Double =
            if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
          st.e12 = g(iSt(0)); st.e26 = g(iSt(1)); st.dea = g(iSt(2))
          st.k = g(iSt(3)); st.d = g(iSt(4))
          st.t1 = g(iSt(5)); st.t2 = g(iSt(6)); st.t3 = g(iSt(7))
          st.f = g(iSt(8)); st.mh = g(iSt(9)); st.mh2 = g(iSt(10))
          if (!r.isNullAt(iRing)) st.seedRing(r.getSeq[Double](iRing))
        }
        val outs = st.step(r.getDouble(iClose),
          r.isNullAt(iRsv), if (r.isNullAt(iRsv)) 0.0 else r.getDouble(iRsv),
          r.isNullAt(iFin), if (r.isNullAt(iFin)) 0.0 else r.getDouble(iFin),
          r.getDouble(iHl))
        Row.fromSeq(iBase.toSeq.map(r.get) ++ outs ++ st.snapshot)
      }
    }
  }

  /** Output factor column names. */
  val columns: Seq[String] = Seq(
    "macd_diff", "macd_dea", "kdj_k", "kdj_d", "kdj_j", "trix_12",
    "force_13", "mass_25")

  /** Stored-state column names ([[EmaState]] register order; st_ring
    * last, an array<double> of the mass ratio ring oldest-first). */
  val stateColumns: Seq[String] = Seq(
    "st_e12", "st_e26", "st_dea", "st_k", "st_d", "st_t1", "st_t2",
    "st_t3", "st_f", "st_mh", "st_mh2", "st_ring")
}
