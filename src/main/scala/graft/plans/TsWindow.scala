package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, AttributeSet, CurrentRow, EvalMode, Expression, GenericInternalRow, JoinedRow, Literal, NamedExpression, RowFrame, SortOrder, SpecifiedWindowFrame, UnboundedFollowing, UnboundedPreceding, UnsafeProjection, UnsafeRow, WindowExpression, WindowSpecDefinition}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, CollectList, Complete, Count, Max, Min, StddevSamp, Sum}
import org.apache.spark.sql.catalyst.expressions.{Lag, Lead, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Window => LogicalWindow}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.graftbridge.SpillableRowBuffer
import org.apache.spark.sql.types._

/** Batched TIME-SERIES window evaluation: every supported rolling /
  * running / offset window expression of one entity-keyed Window
  * operator computed in a single pass over the in-memory group with
  * primitive state — the TS sibling of [[MultiRankNode]] (r20
  * optimization round).
  *
  * Why this exists (measured, r20): the alpha corpus's two
  * stock-keyed window stages hold ~90% of the DAG's executor time,
  * and the thread-dump profile shows the cost is WindowExec's
  * machinery, not the arithmetic — per output row Spark re-evaluates
  * every aggregate's INPUT EXPRESSION once per visited frame row
  * (`sum(when(b, x*x))` over a 250-row frame recomputes the
  * conditional product 250× per row), per task it re-generates and
  * looks up the frame processors' projection SOURCE (
  * `GenerateMutableProjection` + regex canonicalization showed in
  * 17% of runnable samples), and `collect_list` boxes every visited
  * element into an `ArrayBuffer[Any]`. This node evaluates each
  * input expression ONCE per row into primitive columns, then runs
  * tight per-function loops over them.
  *
  * BIT-EXACTNESS (the swap must never move a value — the driver
  * re-hashes every entry): every kernel replays Spark's own
  * accumulation order operation-for-operation —
  *  - sliding frames re-aggregate per output row, oldest→newest,
  *    from the same zero/null-start buffer semantics
  *    (`sum`: null until the first non-null, which adds to 0.0;
  *    `avg`: sum starts 0.0 and adds `coalesce(v, 0.0)` — the
  *    null-input `+0.0` is kept because `-0.0 + 0.0` flips the zero
  *    sign);
  *  - running (unbounded-preceding) frames accumulate incrementally
  *    in row order — the same left fold Spark's unbounded frame does;
  *  - min/max tie-keeping and all double comparisons use
  *    `SQLOrderingUtil.compareDoubles` (the `least`/`greatest`
  *    ordering);
  *  - stddev_samp replays `CentralMomentAgg`'s exact update
  *    recurrence (n, avg, m2 with deltaN) over non-null inputs and
  *    its divide-before-sqrt eval;
  *  - collect_list drops nulls and preserves row order (the values
  *    land in an [[org.apache.spark.sql.catalyst.util.GenericArrayData]]
  *    exactly as the ImperativeAggregate's buffer copy would).
  * Partition-only (cross-sectional) specs lower too (r21): the
  * whole-partition frame's sum/avg/min/max/count/stddev is ONE fold
  * in buffer order — exactly the fold
  * UnboundedWindowFunctionFrame.prepare runs — written to every row
  * of the group; row_number over the ordered spec is the buffer
  * position. Anything not in the supported set — range frames, rank
  * functions, distinct/filtered aggregates, ANSI/TRY sum or avg,
  * ignoreNulls offsets, non-literal defaults, float/double partition
  * keys (boxed equals would split a -0.0/0.0 group) — leaves the
  * WHOLE operator on Spark's WindowExec (the strategy matches
  * all-or-nothing).
  * Parity is pinned by TsWindowSpec's randomized window-vs-node
  * property cases (nulls, -0.0, NaN, ties) plus the hash-exact
  * Alpha101/Factor goldens and the driver's DuckDB oracle.
  *
  * At 100 TB the plan shape is unchanged — same exchanges, same
  * sort, same operator boundaries (the node REQUIRES the clustering
  * + ordering WindowExec required and preserves the child's) — only
  * the per-group evaluation is replaced.
  */
object TsWindowStrategy extends SparkStrategy {
  /** Lowering gate: session conf `spark.graft.tsWindow=window` keeps
    * Spark's WindowExec (TsWindowSpec's reference side); any other
    * value lowers everything supported. */
  private def useWindowExec: Boolean = try {
    org.apache.spark.sql.internal.SQLConf.get.getConfString(
      "spark.graft.tsWindow", "exec") == "window"
  } catch { case _: Exception => false }

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case w: LogicalWindow =>
      if (useWindowExec) Nil
      else TsWindowExec.plan(w, planLater(w.child)).toSeq
    case _ => Nil
  }
}

private[plans] object TsFnKind {
  val SumD = 0; val SumL = 1; val AvgD = 2; val MinD = 3; val MaxD = 4
  val MinL = 5; val MaxL = 6; val CountRows = 7; val CountNonNull = 8
  val Stddev = 9; val CollectD = 10; val Offset = 11; val RowNum = 12
}

/** One supported window function: `kind` (TsFnKind), `input` ordinal
  * into the input projection (-1 for countRows/row_number), `span` =
  * frame length in rows (Int.MaxValue = unbounded preceding,
  * [[TsFnSpec.WholeSpan]] = the whole partition — the partition-only
  * XS frame), `offset` for lag/lead (negative = lag), `nullOnOne` =
  * stddev_samp's nullOnDivideByZero. */
private[plans] final case class TsFnSpec(kind: Int, input: Int, span: Int,
    offset: Int = 0, nullOnOne: Boolean = true, ansi: Boolean = false)

private[plans] object TsFnSpec {
  /** unboundedpreceding → unboundedfollowing: one value per group. */
  val WholeSpan: Int = -2
}

case class TsWindowExec(
    wexprs: Seq[NamedExpression],
    fns: Seq[TsFnSpec],
    inputs: Seq[Expression],
    partKeys: Seq[Expression],
    orderSpec: Seq[SortOrder],
    child: SparkPlan) extends UnaryExecNode {

  override def output: Seq[Attribute] = child.output ++ wexprs.map(_.toAttribute)
  override def producedAttributes: AttributeSet =
    AttributeSet(wexprs.map(_.toAttribute))
  override def requiredChildDistribution: Seq[Distribution] =
    Seq(ClusteredDistribution(partKeys))
  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(partKeys.map(SortOrder(_, Ascending)) ++ orderSpec)
  override def outputPartitioning: Partitioning = child.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = child.outputOrdering
  override protected def withNewChildInternal(newChild: SparkPlan): TsWindowExec =
    copy(child = newChild)

  protected override def doExecute(): RDD[InternalRow] = {
    val childOutput = child.output
    val keyOrds = partKeys.map {
      case a: Attribute =>
        val o = childOutput.indexWhere(_.exprId == a.exprId)
        require(o >= 0, s"group key $a not found in child output")
        o
      case e => throw new IllegalStateException(s"non-attribute group key $e")
    }.toArray
    val keyTypes = partKeys.map(_.dataType).toArray
    val inputExprs = inputs.toArray
    val inputIsDouble = inputExprs.map(_.dataType == DoubleType)
    val fnArr = fns.toArray
    val outputTypes = output.map(_.dataType).toArray
    val memRows = conf.windowExecBufferInMemoryThreshold
    val spillRows = conf.windowExecBufferSpillThreshold
    val spillBytes = conf.windowExecBufferSpillSizeThreshold
    // r21 memory guard: cap the unspillable per-group primitive block
    // at ~chunkRows output rows per segment (`spark.graft.tsWindow
    // .chunkRows`, set by the spec's tiny-chunk parity probe). 64k rows ≈ (#inputs + #fns) × 512 KB —
    // a skewed tick-grain entity group can no longer OOM a task.
    val chunkRows = try {
      conf.getConfString("spark.graft.tsWindow.chunkRows", "65536").toInt
    } catch { case _: Exception => 65536 }
    child.execute().mapPartitions { iter =>
      if (!iter.hasNext) Iterator.empty
      else new TsWindowGroupIterator(iter, childOutput, outputTypes,
        keyOrds, keyTypes, inputExprs, inputIsDouble, fnArr,
        memRows, spillRows, spillBytes, chunkRows)
    }
  }
}

object TsWindowExec {

  /** Partition-key types [[TsWindowGroupIterator.sameKeys]] compares
    * EXACTLY (integral/date/string/boolean). Float/Double keys are
    * excluded: boxed equals would split a -0.0/0.0 boundary that
    * Spark's SQL ordering treats as one group. */
  private def exactKeyType(t: DataType): Boolean = t match {
    case LongType | IntegerType | DateType | TimestampType |
         TimestampNTZType | ShortType | ByteType | BooleanType |
         StringType => true
    case _ => false
  }

  /** Try to lower a logical Window; None → Spark's WindowExec. */
  def plan(w: LogicalWindow, child: SparkPlan): Option[TsWindowExec] = {
    // attribute partition keys of exactly-comparable types, and either
    // a single ascending attribute ordering (the TS shape — the
    // panel's (stock, day)) or NO ordering (the partition-only XS
    // shape: whole-partition aggregates over the day cross-section)
    if (w.partitionSpec.isEmpty ||
        !w.partitionSpec.forall(e =>
          e.isInstanceOf[Attribute] && exactKeyType(e.dataType))) return None
    if (w.orderSpec.size > 1) return None
    if (w.orderSpec.size == 1) {
      val so = w.orderSpec.head
      if (so.direction != Ascending || !so.child.isInstanceOf[Attribute]) return None
    }

    val inputs = Vector.newBuilder[Expression]
    var inputKeys = Map.empty[Expression, Int] // canonicalized → ordinal
    var nInputs = 0
    def inputOrd(e: Expression): Int = {
      if (e.dataType != DoubleType && e.dataType != LongType) return -2
      if (!e.deterministic) return -2
      val key = e.canonicalized
      inputKeys.get(key) match {
        case Some(i) => i
        case None =>
          inputs += e; inputKeys += (key -> nInputs); nInputs += 1; nInputs - 1
      }
    }

    // frame bounds can be folded literals or constant expressions
    // (lag's resolved frame carries UnaryMinus(Literal(k)))
    def constInt(e: Expression): Option[Int] = e match {
      case Literal(v: Int, IntegerType) => Some(v)
      case _ if e.foldable && e.dataType == IntegerType =>
        Option(e.eval(null)).map(_.asInstanceOf[Int])
      case _ => None
    }

    def rowSpan(frame: Expression): Int = frame match {
      case SpecifiedWindowFrame(RowFrame, lo, CurrentRow) => lo match {
        case UnboundedPreceding => Int.MaxValue
        case CurrentRow => 1
        case e => constInt(e) match {
          case Some(v) if v <= 0 => 1 - v
          case _ => -1
        }
      }
      // the partition-only XS frame (and explicit whole-partition
      // frames over ordered specs): one aggregate value per group
      case SpecifiedWindowFrame(RowFrame, UnboundedPreceding, UnboundedFollowing) =>
        TsFnSpec.WholeSpan
      case _ => -1
    }

    val specs = Vector.newBuilder[TsFnSpec]
    val ok = w.windowExpressions.forall {
      case a: org.apache.spark.sql.catalyst.expressions.Alias => a.child match {
        case WindowExpression(fn, WindowSpecDefinition(_, _, frame)) => fn match {
          case ae: AggregateExpression
              if ae.mode == Complete && !ae.isDistinct && ae.filter.isEmpty =>
            val span = rowSpan(frame)
            if (span == -1) false
            else ae.aggregateFunction match {
              // evalMode (r20 ADVICE): double sums/avgs are identical
              // under LEGACY and ANSI (IEEE-754 addition never
              // errors); long sums wrap under LEGACY but must RAISE
              // on overflow under ANSI — the native loop carries an
              // addExact flag for that. try_sum/try_avg fall back.
              case Sum(c, ctx) if (c.dataType == DoubleType || c.dataType == LongType) &&
                  ctx.evalMode != EvalMode.TRY =>
                val i = inputOrd(c); if (i < 0) false else {
                  specs += TsFnSpec(
                    if (c.dataType == DoubleType) TsFnKind.SumD else TsFnKind.SumL,
                    i, span,
                    ansi = c.dataType == LongType && ctx.evalMode == EvalMode.ANSI)
                  true
                }
              case Average(c, mode) if c.dataType == DoubleType &&
                  mode != EvalMode.TRY =>
                val i = inputOrd(c); if (i < 0) false else {
                  specs += TsFnSpec(TsFnKind.AvgD, i, span); true
                }
              case Min(c) if c.dataType == DoubleType || c.dataType == LongType =>
                val i = inputOrd(c); if (i < 0) false else {
                  specs += TsFnSpec(
                    if (c.dataType == DoubleType) TsFnKind.MinD else TsFnKind.MinL,
                    i, span); true
                }
              case Max(c) if c.dataType == DoubleType || c.dataType == LongType =>
                val i = inputOrd(c); if (i < 0) false else {
                  specs += TsFnSpec(
                    if (c.dataType == DoubleType) TsFnKind.MaxD else TsFnKind.MaxL,
                    i, span); true
                }
              case Count(Seq(c)) =>
                c match {
                  case l: Literal if l.value != null =>
                    specs += TsFnSpec(TsFnKind.CountRows, -1, span); true
                  case _ =>
                    val i = inputOrd(c); if (i < 0) false else {
                      specs += TsFnSpec(TsFnKind.CountNonNull, i, span); true
                    }
                }
              case s: StddevSamp if s.child.dataType == DoubleType =>
                val i = inputOrd(s.child); if (i < 0) false else {
                  specs += TsFnSpec(TsFnKind.Stddev, i, span,
                    nullOnOne = s.nullOnDivideByZero); true
                }
              // whole-partition collect keeps WindowExec: per-row
              // O(group) arrays are unboundable either way
              case cl: CollectList if cl.child.dataType == DoubleType &&
                  span != TsFnSpec.WholeSpan =>
                val i = inputOrd(cl.child); if (i < 0) false else {
                  specs += TsFnSpec(TsFnKind.CollectD, i, span); true
                }
              case _ => false
            }
          // row_number over the ordered spec: position in the group's
          // buffer order — identical to WindowExec's RowNumberLike
          // counter over the same sorted child
          case _: RowNumber if w.orderSpec.nonEmpty =>
            specs += TsFnSpec(TsFnKind.RowNum, -1, Int.MaxValue); true
          // frameless offsets: lag/lead with literal offset, literal
          // null default, respectNulls — read the offset from the
          // resolved frame bounds (lo == hi == the physical offset)
          case off @ (_: Lag | _: Lead) =>
            val (in, default, ignoreNulls) = off match {
              case Lag(i, _, d, ig) => (i, d, ig)
              case Lead(i, _, d, ig) => (i, d, ig)
            }
            (frame match {
              case SpecifiedWindowFrame(RowFrame, lo, hi)
                  if lo.semanticEquals(hi) => constInt(lo)
              case _ => None
            }) match {
              case Some(k) if !ignoreNulls && isNullLiteral(default) =>
                val i = inputOrd(in)
                if (i < 0) false else {
                  specs += TsFnSpec(TsFnKind.Offset, i, 0, offset = k); true
                }
              case _ => false
            }
          case _ => false
        }
        case _ => false
      }
      case _ => false
    }
    if (!ok) None
    else Some(TsWindowExec(w.windowExpressions, specs.result(),
      inputs.result(), w.partitionSpec, w.orderSpec, child))
  }

  private def isNullLiteral(e: Expression): Boolean = e match {
    case Literal(null, _) => true
    case _ => false
  }
}

/** Streams (partition-key) groups: buffer one group (spillable),
  * evaluate the input projection into primitive columns, compute
  * every function's output column with tight loops, emit joined rows
  * — in SEGMENTS of at most `chunkRows` output rows (r21 memory
  * guard; r20 judged this block "unspillable and ungoverned" at
  * tick-grain group sizes). The unspillable primitive footprint is
  * now (#inputs × (chunk + lookback + lookahead) + #scalar outputs ×
  * chunk) values REGARDLESS of group length — lookback/lookahead are
  * the widest sliding frame / offset reach the operator carries.
  * Groups that fit one segment (the daily-grain common case) run
  * exactly the r20 single-pass shape with zero overhead.
  *
  * Segment bit-exactness: sliding kernels only read inputs inside
  * their frame, which the lookback overlap keeps resident; RUNNING
  * (unbounded-preceding) kernels carry their fold state across
  * segments — the identical left fold, merely split at segment
  * boundaries; WHOLE-PARTITION kernels fold once in a streaming
  * pre-pass over the row buffer (chunked groups only — single-
  * segment groups fold over the gathered arrays directly) in the
  * same buffer order with the same operations. collect_list over an
  * UNBOUNDED frame disables segmentation for the operator (its
  * per-row output is O(group) either way). */
private final class TsWindowGroupIterator(
    input: Iterator[InternalRow],
    childOutput: Seq[Attribute],
    outputTypes: Array[DataType],
    keyOrds: Array[Int], keyTypes: Array[DataType],
    inputExprs: Array[Expression], inputIsDouble: Array[Boolean],
    fns: Array[TsFnSpec],
    memRows: Int, spillRows: Int, spillBytes: Long,
    chunkRows: Int) extends Iterator[InternalRow] {

  private val numFns = fns.length
  private val numIn = inputExprs.length
  private val join = new JoinedRow
  // pooled projections (r21, ProjPool): per-task UnsafeProjection.create
  // regenerated the codegen SOURCE per task per node — ~35% of warm
  // alpha-DAG executor samples. Checkout semantics keep instances
  // single-consumer; released when the task ends.
  private val projB = ProjPool.acquireTypes(
    scala.collection.immutable.ArraySeq.unsafeWrapArray(outputTypes))
  private val inProjB = ProjPool.acquire(
    scala.collection.immutable.ArraySeq.unsafeWrapArray(inputExprs), childOutput)
  private val toUnsafeB = ProjPool.acquireTypes(
    scala.collection.immutable.ArraySeq.unsafeWrapArray(outputTypes.dropRight(numFns)))
  ProjPool.releaseOnTaskEnd(projB, inProjB, toUnsafeB)
  private val proj = projB.proj
  private val inProj = inProjB.proj
  private val buffer = new SpillableRowBuffer(memRows, spillRows, spillBytes)
  private val fnRow = new GenericInternalRow(numFns)
  private val toUnsafe = toUnsafeB.proj
  private def unsafe(r: InternalRow): UnsafeRow = r match {
    case u: UnsafeRow => u
    case o => toUnsafe(o)
  }

  // widest sliding/collect frame and offset reach: the input-array
  // overlap a segment must keep resident
  private val maxLookback: Int = {
    var m = 0
    fns.foreach { f =>
      if (f.kind == TsFnKind.Offset) m = math.max(m, math.max(0, -f.offset))
      else if (f.span > 0 && f.span != Int.MaxValue) m = math.max(m, f.span - 1)
    }
    m
  }
  private val maxLookahead: Int = {
    var m = 0
    fns.foreach { f =>
      if (f.kind == TsFnKind.Offset) m = math.max(m, math.max(0, f.offset))
    }
    m
  }
  private val segmentable: Boolean =
    !fns.exists(f => f.kind == TsFnKind.CollectD && f.span == Int.MaxValue)

  private val hasWhole: Boolean = fns.exists(_.span == TsFnSpec.WholeSpan)

  private var pendingHead: UnsafeRow = unsafe(input.next()).copy()
  private var groupSize = 0
  private var groupPos = 0
  private var emitRows: Iterator[UnsafeRow] = Iterator.empty

  // current segment [segStart, segEnd), its output-array capacity,
  // and the sliding input window [inBase, inBase+inLen)
  private var segStart = 0
  private var segEnd = 0
  private var segCap = 0
  private var inBase = 0
  private var inLen = 0
  private var gatherIter: Iterator[UnsafeRow] = Iterator.empty
  private var gatherPos = 0
  // input columns (primitive) + null flags, windowed at inBase
  private var inD: Array[Array[Double]] = _
  private var inL: Array[Array[Long]] = _
  private var inNull: Array[Array[Boolean]] = _
  // scalar outputs (primitive) + null flags, local to the segment;
  // collect-list outputs are built per emitted row
  private var outD: Array[Array[Double]] = _
  private var outL: Array[Array[Long]] = _
  private var outNull: Array[Array[Boolean]] = _
  // running-kernel carry (span == Int.MaxValue), per fn
  private val cAny = new Array[Boolean](numFns)
  private val cD1 = new Array[Double](numFns) // acc / cur / avg
  private val cD2 = new Array[Double](numFns) // m2
  private val cD3 = new Array[Double](numFns) // stddev n
  private val cL1 = new Array[Long](numFns) // acc / cur / count
  // whole-partition finals (streaming pre-pass, chunked groups only)
  private val wAny = new Array[Boolean](numFns)
  private val wD1 = new Array[Double](numFns)
  private val wD2 = new Array[Double](numFns)
  private val wD3 = new Array[Double](numFns)
  private val wL1 = new Array[Long](numFns)
  private var preFolded = false

  override def hasNext: Boolean = groupPos < groupSize || pendingHead != null

  override def next(): InternalRow = {
    if (groupPos == groupSize) startNextGroup()
    else if (groupPos == segEnd) loadSegment()
    val r = emitRows.next()
    val i = groupPos
    val li = i - segStart
    var j = 0
    while (j < numFns) {
      val f = fns(j)
      f.kind match {
        case TsFnKind.CollectD =>
          fnRow.update(j, collectArray(f, i))
        case TsFnKind.SumL | TsFnKind.MinL | TsFnKind.MaxL |
             TsFnKind.CountRows | TsFnKind.CountNonNull =>
          if (outNull(j)(li)) fnRow.setNullAt(j) else fnRow.update(j, outL(j)(li))
        case TsFnKind.Offset =>
          val src = i + f.offset
          if (src < 0 || src >= groupSize || inNull(f.input)(src - inBase)) {
            fnRow.setNullAt(j)
          } else if (inputIsDouble(f.input)) {
            fnRow.update(j, inD(f.input)(src - inBase))
          } else fnRow.update(j, inL(f.input)(src - inBase))
        case TsFnKind.RowNum =>
          fnRow.update(j, i + 1)
        case _ =>
          if (outNull(j)(li)) fnRow.setNullAt(j) else fnRow.update(j, outD(j)(li))
      }
      j += 1
    }
    groupPos += 1
    proj(join(r, fnRow))
  }

  private def collectArray(f: TsFnSpec, i: Int): org.apache.spark.sql.catalyst.util.ArrayData = {
    val lo = if (f.span == Int.MaxValue) 0 else math.max(0, i - (f.span - 1))
    val vals = inD(f.input); val nulls = inNull(f.input)
    var m = 0
    var j = lo
    while (j <= i) { if (!nulls(j - inBase)) m += 1; j += 1 }
    val out = new Array[Double](m)
    var k = 0; j = lo
    while (j <= i) {
      if (!nulls(j - inBase)) { out(k) = vals(j - inBase); k += 1 }
      j += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(out)
  }

  private def sameKeys(a: InternalRow, b: InternalRow): Boolean = {
    var i = 0
    while (i < keyOrds.length) {
      val ord = keyOrds(i)
      val an = a.isNullAt(ord); val bn = b.isNullAt(ord)
      val eq =
        if (an || bn) an && bn
        else keyTypes(i) match {
          case LongType | TimestampType | TimestampNTZType =>
            a.getLong(ord) == b.getLong(ord)
          case IntegerType | DateType => a.getInt(ord) == b.getInt(ord)
          case _ => a.get(ord, keyTypes(i)) == b.get(ord, keyTypes(i))
        }
      if (!eq) return false
      i += 1
    }
    true
  }

  private def startNextGroup(): Unit = {
    buffer.clear()
    val head = pendingHead
    pendingHead = null
    buffer.add(head)
    var break = false
    while (!break && input.hasNext) {
      val r = unsafe(input.next())
      if (sameKeys(head, r)) buffer.add(r)
      else { pendingHead = r.copy(); break = true }
    }
    val n = buffer.length
    groupSize = n
    groupPos = 0
    segStart = 0
    segEnd = 0
    segCap = if (segmentable) math.min(n, math.max(1, chunkRows)) else n
    val inCap = math.min(n, segCap + maxLookback + maxLookahead)
    inD = new Array[Array[Double]](numIn)
    inL = new Array[Array[Long]](numIn)
    inNull = Array.ofDim[Boolean](numIn, inCap)
    var c = 0
    while (c < numIn) {
      if (inputIsDouble(c)) inD(c) = new Array[Double](inCap)
      else inL(c) = new Array[Long](inCap)
      c += 1
    }
    inBase = 0
    inLen = 0
    gatherIter = buffer.iterator
    gatherPos = 0
    java.util.Arrays.fill(cAny, false)
    java.util.Arrays.fill(cD1, 0.0)
    java.util.Arrays.fill(cD2, 0.0)
    java.util.Arrays.fill(cD3, 0.0)
    java.util.Arrays.fill(cL1, 0L)
    preFolded = false
    if (hasWhole && segCap < n) { wholePrePass(n); preFolded = true }
    emitRows = buffer.iterator
    loadSegment()
  }

  /** Gather inputs for the next segment [segEnd, segEnd+segCap) —
    * keeping the lookback overlap, reading ahead by the offset
    * lookahead — and run every kernel over it. */
  private def loadSegment(): Unit = {
    val s = segEnd
    val e = math.min(groupSize, s + segCap)
    val newBase = math.max(0, s - maxLookback)
    val shift = newBase - inBase
    if (shift > 0) {
      val keep = math.max(0, inLen - shift)
      var c = 0
      while (c < numIn) {
        if (keep > 0) {
          if (inD(c) != null) System.arraycopy(inD(c), shift, inD(c), 0, keep)
          else System.arraycopy(inL(c), shift, inL(c), 0, keep)
          System.arraycopy(inNull(c), shift, inNull(c), 0, keep)
        }
        c += 1
      }
      inBase = newBase
      inLen = keep
    }
    val needTo = math.min(groupSize, e + maxLookahead)
    while (gatherPos < needTo) {
      val pr = inProj(gatherIter.next())
      val slot = gatherPos - inBase
      var c = 0
      while (c < numIn) {
        val nl = pr.isNullAt(c)
        inNull(c)(slot) = nl
        if (!nl) {
          if (inputIsDouble(c)) inD(c)(slot) = pr.getDouble(c)
          else inL(c)(slot) = pr.getLong(c)
        }
        c += 1
      }
      gatherPos += 1
    }
    inLen = gatherPos - inBase
    val len = e - s
    outD = new Array[Array[Double]](numFns)
    outL = new Array[Array[Long]](numFns)
    outNull = Array.ofDim[Boolean](numFns, len)
    var j = 0
    while (j < numFns) {
      val f = fns(j)
      f.kind match {
        case TsFnKind.SumD => sumD(f, s, e, j)
        case TsFnKind.SumL => sumL(f, s, e, j)
        case TsFnKind.AvgD => avgD(f, s, e, j)
        case TsFnKind.MinD => extremeD(f, s, e, j, wantMin = true)
        case TsFnKind.MaxD => extremeD(f, s, e, j, wantMin = false)
        case TsFnKind.MinL => extremeL(f, s, e, j, wantMin = true)
        case TsFnKind.MaxL => extremeL(f, s, e, j, wantMin = false)
        case TsFnKind.CountRows => countRows(f, s, e, j)
        case TsFnKind.CountNonNull => countNonNull(f, s, e, j)
        case TsFnKind.Stddev => stddev(f, s, e, j)
        case TsFnKind.CollectD | TsFnKind.Offset | TsFnKind.RowNum =>
          () // emit-time
      }
      j += 1
    }
    segStart = s
    segEnd = e
  }

  /** Streaming whole-partition folds for a CHUNKED group: one pass
    * over the row buffer in buffer order, running each whole-span
    * kernel's exact accumulation — identical to the single-segment
    * array fold, which is identical to WindowExec's
    * UnboundedWindowFunctionFrame.prepare. */
  private def wholePrePass(n: Int): Unit = {
    java.util.Arrays.fill(wAny, false)
    java.util.Arrays.fill(wD1, 0.0)
    java.util.Arrays.fill(wD2, 0.0)
    java.util.Arrays.fill(wD3, 0.0)
    java.util.Arrays.fill(wL1, 0L)
    val it = buffer.iterator
    while (it.hasNext) {
      val pr = inProj(it.next())
      var j = 0
      while (j < numFns) {
        val f = fns(j)
        if (f.span == TsFnSpec.WholeSpan) {
          f.kind match {
            case TsFnKind.SumD =>
              if (!pr.isNullAt(f.input)) {
                wAny(j) = true; wD1(j) += pr.getDouble(f.input)
              }
            case TsFnKind.SumL =>
              if (!pr.isNullAt(f.input)) {
                wAny(j) = true
                wL1(j) =
                  if (f.ansi) Math.addExact(wL1(j), pr.getLong(f.input))
                  else wL1(j) + pr.getLong(f.input)
              }
            case TsFnKind.AvgD =>
              if (pr.isNullAt(f.input)) wD1(j) += 0.0
              else { wD1(j) += pr.getDouble(f.input); wL1(j) += 1 }
            case TsFnKind.MinD | TsFnKind.MaxD =>
              if (!pr.isNullAt(f.input)) {
                val v = pr.getDouble(f.input)
                if (!wAny(j)) { wD1(j) = v; wAny(j) = true }
                else {
                  val cm = SQLOrderingUtil.compareDoubles(v, wD1(j))
                  if (if (f.kind == TsFnKind.MinD) cm < 0 else cm > 0) wD1(j) = v
                }
              }
            case TsFnKind.MinL | TsFnKind.MaxL =>
              if (!pr.isNullAt(f.input)) {
                val v = pr.getLong(f.input)
                if (!wAny(j)) { wL1(j) = v; wAny(j) = true }
                else if (if (f.kind == TsFnKind.MinL) v < wL1(j)
                         else v > wL1(j)) wL1(j) = v
              }
            case TsFnKind.CountRows => () // = n, set below
            case TsFnKind.CountNonNull =>
              if (!pr.isNullAt(f.input)) wL1(j) += 1
            case TsFnKind.Stddev =>
              if (!pr.isNullAt(f.input)) {
                val v = pr.getDouble(f.input)
                wD3(j) += 1.0
                val delta = v - wD1(j)
                val deltaN = delta / wD3(j)
                wD1(j) += deltaN
                wD2(j) += delta * (delta - deltaN)
              }
            case _ => ()
          }
        }
        j += 1
      }
    }
    var j = 0
    while (j < numFns) {
      if (fns(j).span == TsFnSpec.WholeSpan &&
          fns(j).kind == TsFnKind.CountRows) wL1(j) = n.toLong
      j += 1
    }
  }

  /** Whole-partition emit: every row of the group carries the final
    * fold value (WindowExec's UnboundedWindowFunctionFrame evaluates
    * the same fold once in buffer order, then writes it per row). */
  private def fillD(out: Array[Double], on: Array[Boolean], n: Int,
      v: Double, isNull: Boolean): Unit = {
    if (isNull) java.util.Arrays.fill(on, 0, n, true)
    else java.util.Arrays.fill(out, 0, n, v)
  }

  private def fillL(out: Array[Long], on: Array[Boolean], n: Int,
      v: Long, isNull: Boolean): Unit = {
    if (isNull) java.util.Arrays.fill(on, 0, n, true)
    else java.util.Arrays.fill(out, 0, n, v)
  }

  // every sliding kernel recomputes per output row over
  // [max(0, i-span+1) .. i] in ascending order — Spark's own frame
  // scan order — the unbounded (running) case accumulates
  // incrementally with its state carried across segments (the
  // identical left fold), and the whole-partition case folds once
  // and fills

  private def sumD(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val vals = inD(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Double](len); outD(j) = out
    val on = outNull(j)
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) fillD(out, on, len, wD1(j), !wAny(j))
      else { // single segment: s == 0, e == groupSize, inBase == 0
        var acc = 0.0; var any = false
        var i = 0
        while (i < e) { if (!nulls(i)) { any = true; acc += vals(i) }; i += 1 }
        fillD(out, on, len, acc, !any)
      }
    } else if (f.span == Int.MaxValue) {
      var acc = cD1(j); var any = cAny(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) { any = true; acc += vals(i - inBase) }
        if (any) out(i - s) = acc else on(i - s) = true
        i += 1
      }
      cD1(j) = acc; cAny(j) = any
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var acc = 0.0; var any = false
        var k = lo
        while (k <= i) {
          if (!nulls(k - inBase)) { any = true; acc += vals(k - inBase) }
          k += 1
        }
        if (any) out(i - s) = acc else on(i - s) = true
        i += 1
      }
    }
  }

  private def sumL(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val vals = inL(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Long](len); outL(j) = out
    val on = outNull(j)
    // ANSI long sums raise on overflow (Spark's Add in ANSI mode);
    // LEGACY wraps — both folds are otherwise identical
    val exact = f.ansi
    @inline def add(a: Long, b: Long): Long =
      if (exact) Math.addExact(a, b) else a + b
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) fillL(out, on, len, wL1(j), !wAny(j))
      else {
        var acc = 0L; var any = false
        var i = 0
        while (i < e) {
          if (!nulls(i)) { any = true; acc = add(acc, vals(i)) }
          i += 1
        }
        fillL(out, on, len, acc, !any)
      }
    } else if (f.span == Int.MaxValue) {
      var acc = cL1(j); var any = cAny(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) { any = true; acc = add(acc, vals(i - inBase)) }
        if (any) out(i - s) = acc else on(i - s) = true
        i += 1
      }
      cL1(j) = acc; cAny(j) = any
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var acc = 0L; var any = false
        var k = lo
        while (k <= i) {
          if (!nulls(k - inBase)) { any = true; acc = add(acc, vals(k - inBase)) }
          k += 1
        }
        if (any) out(i - s) = acc else on(i - s) = true
        i += 1
      }
    }
  }

  /** Average's buffer sum starts at 0.0 and adds `coalesce(v, 0.0)`
    * for EVERY visited row — the null-input `+0.0` is replayed (it
    * turns a `-0.0` partial sum into `+0.0`). */
  private def avgD(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val vals = inD(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Double](len); outD(j) = out
    val on = outNull(j)
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) {
        val cnt = wL1(j)
        fillD(out, on, len, if (cnt > 0) wD1(j) / cnt.toDouble else 0.0, cnt == 0)
      } else {
        var acc = 0.0; var cnt = 0L
        var i = 0
        while (i < e) {
          if (nulls(i)) acc += 0.0 else { acc += vals(i); cnt += 1 }
          i += 1
        }
        fillD(out, on, len, if (cnt > 0) acc / cnt.toDouble else 0.0, cnt == 0)
      }
    } else if (f.span == Int.MaxValue) {
      var acc = cD1(j); var cnt = cL1(j)
      var i = s
      while (i < e) {
        if (nulls(i - inBase)) acc += 0.0
        else { acc += vals(i - inBase); cnt += 1 }
        if (cnt > 0) out(i - s) = acc / cnt.toDouble else on(i - s) = true
        i += 1
      }
      cD1(j) = acc; cL1(j) = cnt
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var acc = 0.0; var cnt = 0L
        var k = lo
        while (k <= i) {
          if (nulls(k - inBase)) acc += 0.0
          else { acc += vals(k - inBase); cnt += 1 }
          k += 1
        }
        if (cnt > 0) out(i - s) = acc / cnt.toDouble else on(i - s) = true
        i += 1
      }
    }
  }

  /** least/greatest keep the FIRST of SQL-order ties (strict `<`/`>`
    * replacement only), via compareDoubles. */
  private def extremeD(f: TsFnSpec, s: Int, e: Int, j: Int, wantMin: Boolean): Unit = {
    val vals = inD(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Double](len); outD(j) = out
    val on = outNull(j)
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) fillD(out, on, len, wD1(j), !wAny(j))
      else {
        var cur = 0.0; var any = false
        var i = 0
        while (i < e) {
          if (!nulls(i)) {
            val v = vals(i)
            if (!any) { cur = v; any = true }
            else {
              val cm = SQLOrderingUtil.compareDoubles(v, cur)
              if (if (wantMin) cm < 0 else cm > 0) cur = v
            }
          }
          i += 1
        }
        fillD(out, on, len, cur, !any)
      }
    } else if (f.span == Int.MaxValue) {
      var cur = cD1(j); var any = cAny(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) {
          val v = vals(i - inBase)
          if (!any) { cur = v; any = true }
          else {
            val cm = SQLOrderingUtil.compareDoubles(v, cur)
            if (if (wantMin) cm < 0 else cm > 0) cur = v
          }
        }
        if (any) out(i - s) = cur else on(i - s) = true
        i += 1
      }
      cD1(j) = cur; cAny(j) = any
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var cur = 0.0; var any = false
        var k = lo
        while (k <= i) {
          if (!nulls(k - inBase)) {
            val v = vals(k - inBase)
            if (!any) { cur = v; any = true }
            else {
              val cm = SQLOrderingUtil.compareDoubles(v, cur)
              if (if (wantMin) cm < 0 else cm > 0) cur = v
            }
          }
          k += 1
        }
        if (any) out(i - s) = cur else on(i - s) = true
        i += 1
      }
    }
  }

  private def extremeL(f: TsFnSpec, s: Int, e: Int, j: Int, wantMin: Boolean): Unit = {
    val vals = inL(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Long](len); outL(j) = out
    val on = outNull(j)
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) fillL(out, on, len, wL1(j), !wAny(j))
      else {
        var cur = 0L; var any = false
        var i = 0
        while (i < e) {
          if (!nulls(i)) {
            val v = vals(i)
            if (!any) { cur = v; any = true }
            else if (if (wantMin) v < cur else v > cur) cur = v
          }
          i += 1
        }
        fillL(out, on, len, cur, !any)
      }
    } else if (f.span == Int.MaxValue) {
      // running: one incremental fold (the identical strict-<
      // replacement WindowExec's unbounded frame accumulates)
      var cur = cL1(j); var any = cAny(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) {
          val v = vals(i - inBase)
          if (!any) { cur = v; any = true }
          else if (if (wantMin) v < cur else v > cur) cur = v
        }
        if (any) out(i - s) = cur else on(i - s) = true
        i += 1
      }
      cL1(j) = cur; cAny(j) = any
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var cur = 0L; var any = false
        var k = lo
        while (k <= i) {
          if (!nulls(k - inBase)) {
            val v = vals(k - inBase)
            if (!any) { cur = v; any = true }
            else if (if (wantMin) v < cur else v > cur) cur = v
          }
          k += 1
        }
        if (any) out(i - s) = cur else on(i - s) = true
        i += 1
      }
    }
  }

  private def countRows(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val len = e - s
    val out = new Array[Long](len); outL(j) = out
    if (f.span == TsFnSpec.WholeSpan) {
      fillL(out, outNull(j), len,
        if (preFolded) wL1(j) else groupSize.toLong, isNull = false)
      return
    }
    var i = s
    while (i < e) {
      val lo = if (f.span == Int.MaxValue) 0 else math.max(0, i - (f.span - 1))
      out(i - s) = (i - lo + 1).toLong
      i += 1
    }
  }

  private def countNonNull(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Long](len); outL(j) = out
    if (f.span == TsFnSpec.WholeSpan) {
      if (preFolded) fillL(out, outNull(j), len, wL1(j), isNull = false)
      else {
        var acc = 0L
        var i = 0
        while (i < e) { if (!nulls(i)) acc += 1; i += 1 }
        fillL(out, outNull(j), len, acc, isNull = false)
      }
    } else if (f.span == Int.MaxValue) {
      var acc = cL1(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) acc += 1
        out(i - s) = acc
        i += 1
      }
      cL1(j) = acc
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var acc = 0L
        var k = lo
        while (k <= i) { if (!nulls(k - inBase)) acc += 1; k += 1 }
        out(i - s) = acc
        i += 1
      }
    }
  }

  /** CentralMomentAgg's exact update recurrence over non-null
    * inputs; StddevSamp eval: n == 0 → null; n == 1 → null when
    * nullOnDivideByZero else NaN; else sqrt(m2 / (n - 1)). The
    * running case accumulates ONE incremental fold (previously
    * recomputed from row 0 per output row — O(n²); each prefix state
    * of the single fold is bit-identical by construction). */
  private def stddev(f: TsFnSpec, s: Int, e: Int, j: Int): Unit = {
    val vals = inD(f.input); val nulls = inNull(f.input)
    val len = e - s
    val out = new Array[Double](len); outD(j) = out
    val on = outNull(j)
    def emit(li: Int, cn: Double, m2: Double): Unit = {
      if (cn == 0.0) on(li) = true
      else if (cn == 1.0) {
        if (f.nullOnOne) on(li) = true else out(li) = Double.NaN
      } else out(li) = math.sqrt(m2 / (cn - 1.0))
    }
    if (f.span == TsFnSpec.WholeSpan) {
      var cn = 0.0; var avg = 0.0; var m2 = 0.0
      if (preFolded) { cn = wD3(j); avg = wD1(j); m2 = wD2(j) }
      else {
        var i = 0
        while (i < e) {
          if (!nulls(i)) {
            val v = vals(i)
            cn += 1.0
            val delta = v - avg
            val deltaN = delta / cn
            avg += deltaN
            m2 += delta * (delta - deltaN)
          }
          i += 1
        }
      }
      if (cn == 0.0) fillD(out, on, len, 0.0, isNull = true)
      else if (cn == 1.0) {
        if (f.nullOnOne) fillD(out, on, len, 0.0, isNull = true)
        else fillD(out, on, len, Double.NaN, isNull = false)
      } else fillD(out, on, len, math.sqrt(m2 / (cn - 1.0)), isNull = false)
    } else if (f.span == Int.MaxValue) {
      var cn = cD3(j); var avg = cD1(j); var m2 = cD2(j)
      var i = s
      while (i < e) {
        if (!nulls(i - inBase)) {
          val v = vals(i - inBase)
          cn += 1.0
          val delta = v - avg
          val deltaN = delta / cn
          avg += deltaN
          m2 += delta * (delta - deltaN)
        }
        emit(i - s, cn, m2)
        i += 1
      }
      cD3(j) = cn; cD1(j) = avg; cD2(j) = m2
    } else {
      var i = s
      while (i < e) {
        val lo = math.max(0, i - (f.span - 1))
        var cn = 0.0; var avg = 0.0; var m2 = 0.0
        var k = lo
        while (k <= i) {
          if (!nulls(k - inBase)) {
            val v = vals(k - inBase)
            cn += 1.0
            val delta = v - avg
            val deltaN = delta / cn
            avg += deltaN
            m2 += delta * (delta - deltaN)
          }
          k += 1
        }
        emit(i - s, cn, m2)
        i += 1
      }
    }
  }
}
