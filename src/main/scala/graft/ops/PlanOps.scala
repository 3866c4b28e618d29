package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.AttributeReference
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}
import org.apache.spark.sql.types.DoubleType

import scala.collection.immutable.ListMap

/** Plan-size control for wide derived-column pipelines.
  *
  * A chain of N `.withColumn` calls creates N nested Projects and —
  * because Dataset construction analyzes eagerly — costs N full
  * re-analyses of a growing plan: O(N²·cols) driver time. At the
  * Alpha101 pipeline's ~330 derived columns that was ~5 minutes of
  * pure planning per query BEFORE any data moved (round-5 bench:
  * q90/q58/q91 each ~490-730 s at sf0.1, almost all driver-side).
  *
  * [[withColumnsBatched]] folds consecutive definitions into one
  * `withColumns` projection per dependency layer: a new batch starts
  * only when a definition references (or redefines) a name created
  * earlier in the SAME batch. Analysis then runs once per layer
  * (~30 layers instead of ~330 chained projections), and each layer
  * is a single flat Project that Catalyst collapses cheaply.
  */
object PlanOps {

  /** Unresolved column names referenced by an expression tree
    * (window partition/order specs and lambda bodies included). */
  private def refs(c: Column): Set[String] =
    org.apache.spark.sql.graftbridge.ColumnBridge.referencedNames(c)

  /** Greedy CONTIGUOUS batching — measured better than true
    * topological layering, keep it. A/B on the full alpha corpus at
    * sf0.1 (same commit, only the schedule swapped): greedy 136 s vs
    * 234 s for BOTH as-early-as-possible and as-late-as-possible
    * topological schedules, despite near-identical Window-operator
    * counts (160 vs ~154). Mechanism: topological layers put ~150
    * definitions in ONE projection, and the analyzer extracts that
    * projection's window specs as one stack of adjacent Window
    * operators with no Project between them — every operator in the
    * stack then carries the full layer width. Greedy's many small
    * batches leave Project boundaries between window stacks where
    * ColumnPruning drops dead intermediates, so per-operator
    * projection codegen (the dominant cost, ~0.3 s/op) runs over
    * narrower schemas. */
  /** Max definitions per batch. Capping splits oversized greedy runs
    * at extra Project boundaries, giving ColumnPruning more places to
    * narrow schemas between window stacks. Swept on the full alpha
    * corpus at sf0.1 (isolated q90, same commit): uncapped 152.9 s,
    * cap 6 → 142.1, 10 → 124.5, 14 → 114.2, 20 → 106.1, 26 → 112.1,
    * 32 → 100.4/98.4 (repeated), 48 → 118.2. 32 is the measured
    * optimum. */
  private val BatchCap = 32

  def withColumnsBatched(df: DataFrame, defs: Seq[(String, Column)]): DataFrame =
    withColumnsBatched(df, defs, Map.empty, "day")

  /** As above, with a RANK REGISTRY: definitions whose name is a key
    * of `ranks` are percentile ranks over `partKey` of the column
    * named by the value. They are scheduled exactly like the window
    * expression they carry (the stored Column IS the window
    * formulation), but LOWER to [[graft.plans.MultiRankNode]] stages
    * — all ranks of a batch in one per-group pass instead of one
    * WindowExec Sort per rank ordering. */
  def withColumnsBatched(df: DataFrame, defs: Seq[(String, Column)],
      ranks: Map[String, String], partKey: String): DataFrame =
    withColumnsBatched(df, defs, ranks, partKey, None)

  /** As above with build-time LIVENESS PRUNING: when `keep` is given
    * (the columns the caller's consumers read), a narrow `select` is
    * inserted after every batch whose columns include names no later
    * definition references. Catalyst's ColumnPruning does this for
    * pure Project/Window chains, but cannot push a projection through
    * a custom operator ([[graft.plans.MultiRankNode]]) — and at scale
    * the dead width rides every exchange and every WindowExec buffer
    * copy. Build-time pruning is deterministic, engine-independent,
    * and applies to rank stages and projections alike. */
  def withColumnsBatched(df: DataFrame, defs: Seq[(String, Column)],
      ranks: Map[String, String], partKey: String,
      keep: Option[Seq[String]]): DataFrame = {
    val ordered = keyPhaseOrder(defs, ranks.keySet)
    val batches = Vector.newBuilder[ListMap[String, Column]]
    var cur = ListMap.empty[String, Column]
    var curNonRank = 0 // cap counts projection width; ranks aren't projected
    ordered.foreach { case (name, c) =>
      val isRank = ranks.contains(name)
      // a rank may read an EARLIER rank of the same batch (rank-of-
      // rank chains compute sequentially inside one group pass); any
      // other intra-batch read still splits
      val conflict = refs(c).exists(r =>
        cur.contains(r) && !(isRank && ranks.contains(r)))
      val full = !isRank && curNonRank >= BatchCap
      if (cur.contains(name) || conflict || full) {
        batches += cur; cur = ListMap(name -> c); curNonRank = if (isRank) 0 else 1
      } else { cur = cur + (name -> c); if (!isRank) curNonRank += 1 }
    }
    if (cur.nonEmpty) batches += cur
    val bs = batches.result()
    // suffix liveness: what must still exist AFTER batch i = keep ∪
    // everything referenced by any later definition (window partition
    // keys and rank inputs included — refs() walks them)
    val liveAfter: Array[Set[String]] = keep match {
      case None => null
      case Some(k) =>
        val arr = new Array[Set[String]](bs.size)
        var needed = k.toSet
        var i = bs.size - 1
        while (i >= 0) {
          arr(i) = needed
          needed = (needed -- bs(i).keySet) ++ bs(i).valuesIterator.flatMap(refs)
          i -= 1
        }
        arr
    }
    bs.zipWithIndex.foldLeft(df) { case (d, (b, i)) =>
      val (rk, ex) = b.toSeq.partition { case (n, _) => ranks.contains(n) }
      val d2 = if (ex.nonEmpty) d.withColumns(ListMap(ex: _*)) else d
      val applied =
        if (rk.isEmpty) d2
        else multiRankStage(d2, partKey, rk.map { case (n, _) => n -> ranks(n) })
      if (liveAfter == null) applied
      else {
        val live = liveAfter(i)
        val cols = applied.columns
        if (cols.forall(live.contains)) applied
        else applied.select(cols.filter(live.contains).map(col): _*)
      }
    }
  }

  private def multiRankStage(df: DataFrame, partKey: String,
      rankDefs: Seq[(String, String)]): DataFrame =
    multiRank(df, Seq(partKey), rankDefs.map { case (o, in) => (o, in, true) })

  /** Mount one [[graft.plans.MultiRankNode]] over `df`: every
    * (outputName, inputColName, pct) rank of one cross-section
    * (composite `partKeys`) computed in a single group pass.
    * pct=true → pandas pct rank ([[XsOps.rankPct]] semantics, null
    * input → null rank, bit-parity pinned). pct=false → average-tie
    * rank over the NON-NULL inputs, null input → null rank. NOTE:
    * on null-bearing input pct=false diverges from [[XsOps.avgRank]]
    * (whose window orders nulls FIRST, assigning them real ranks and
    * shifting every non-null rank up by the null count); on null-free
    * input the two agree exactly (parity-pinned in MultiRankSpec,
    * including a null-bearing case pinning the documented divergence).
    * Callers wanting avgRank's null behavior must pre-filter or
    * pre-coalesce nulls — q91 pre-filters. An input may name an
    * earlier output of the same call (rank-of-rank chains).
    *
    * Calls carrying more than [[RankStageCap]] ranks are split into
    * chained stages, bounding the unspillable per-group rank-value
    * block (MultiRankGroupIterator's memory note) at K × group
    * doubles per task. The split adds no exchange or sort —
    * consecutive stages chain on the same clustering and ordering —
    * and costs one extra (spillable) row-buffer pass per additional
    * stage; rank-of-rank references across a split resolve through
    * the earlier stage's output attribute. */
  def multiRank(df: DataFrame, partKeys: Seq[String],
      rankDefs: Seq[(String, String, Boolean)]): DataFrame =
    rankDefs.grouped(RankStageCap).foldLeft(df)((d, chunk) =>
      multiRankSingle(d, partKeys, chunk))

  /** Ranks per stage — see [[multiRank]]'s memory-bound note. */
  private[ops] val RankStageCap = 32

  private def multiRankSingle(df: DataFrame, partKeys: Seq[String],
      rankDefs: Seq[(String, String, Boolean)]): DataFrame = {
    val spark = df.sparkSession
    PlanBridge.installStrategy(spark, graft.plans.MultiRankStrategy)
    val plan = PlanBridge.analyzed(df)
    val byName = plan.output.map(a => a.name -> a).toMap
    val keys = partKeys.map(k => byName.getOrElse(k,
      throw new IllegalArgumentException(s"rank partition key $k not in frame")))
    val outs = rankDefs.map { case (o, _, _) =>
      require(!byName.contains(o), s"rank $o would shadow an existing column")
      AttributeReference(o, DoubleType, nullable = true)()
    }
    val outByName = rankDefs.map(_._1).zip(outs).toMap
    val ins = rankDefs.map { case (_, in, _) =>
      byName.getOrElse(in, outByName.getOrElse(in,
        throw new IllegalArgumentException(s"rank input $in not in frame")))
    }
    PlanBridge.ofRows(spark,
      graft.plans.MultiRankNode(keys, ins, outs, rankDefs.map(_._3), plan))
  }

  /** Key-phase scheduling: permute definitions so window definitions with
    * the same partition key cluster into contiguous phases — each
    * stock↔day key flip in the layer sequence is one full-frame
    * Exchange, and the hand-written TS/XS stage alternation flips
    * more often than the dependency structure forces. On the full
    * alpha corpus at sf0.1 this cuts the physical plan from 21
    * exchanges (11 stock + 10 day) to 8, cold execution 158→97 s and
    * warm 65→44 s (same 32-def batching cap, same results — pinned
    * by the hash-exact Alpha101Spec goldens and the q90 oracle). At
    * cluster scale the win is direct: 13 fewer shuffles of the
    * progressively widening panel. Correctness-preserving: a
    * definition is only emitted after (a) every definition it reads,
    * (b) every EARLIER READER of a name it redefines
    * (anti-dependency — e.g. `vwap` is redefined in stage 0), and
    * (c) any earlier definition of its own name. Scheduling is
    * Kahn's algorithm with a phase preference: emit every ready
    * scalar or current-key definition, flip the key only when
    * starved. Deterministic (original order breaks ties). */
  private[ops] def keyPhaseOrder(defs: Seq[(String, Column)]): Seq[(String, Column)] =
    keyPhaseOrder(defs, Set.empty)

  /** `rankNames`: definitions that lower to batched rank stages. The
    * keyed-phase inner loop emits them in their own waves (non-rank
    * ready defs to a fixed point, then rank defs to a fixed point) so
    * ranks cluster into long contiguous runs — each run is ONE
    * MultiRank group pass; interleaving them with ordinary day
    * windows would fragment the runs into many single-rank stages. */
  private[ops] def keyPhaseOrder(defs: Seq[(String, Column)],
      rankNames: Set[String]): Seq[(String, Column)] = {
    val n = defs.size
    val idx = defs.indices
    val name = defs.map(_._1).toArray
    val refsOf = defs.map { case (_, c) => refs(c) }.toArray
    def kindOf(c: Column): Int = {
      val keys = org.apache.spark.sql.graftbridge.ColumnBridge.windowPartitionKeys(c)
      if (keys.isEmpty) 0 // free
      else {
        val heads = keys.map(_.headOption.getOrElse("")).toSet
        if (heads == Set("stock")) 1
        else if (!heads.contains("stock")) 2 // day / (day, industry)
        else 3 // mixed: forces both exchanges wherever it lands
      }
    }
    val kind = defs.map { case (_, c) => kindOf(c) }.toArray
    // widest partition-key list of the def's window specs: within a
    // phase, COARSER keys emit first — hashpartitioning(day) satisfies
    // a later (day, industry) window's clustering, but hash(day,
    // industry) does NOT satisfy a later (day) window, which would
    // cost an extra full-frame exchange (round-9 advice)
    val keyLen = defs.map { case (_, c) =>
      val ks = org.apache.spark.sql.graftbridge.ColumnBridge.windowPartitionKeys(c)
      if (ks.isEmpty) 0 else ks.map(_.size).max
    }.toArray
    // dependency edges j -> i (j must precede i)
    val deps = Array.fill(n)(Set.newBuilder[Int])
    val lastDef = scala.collection.mutable.Map.empty[String, Int]
    val readers = scala.collection.mutable.Map.empty[String, List[Int]]
    idx.foreach { i =>
      refsOf(i).foreach { r =>
        lastDef.get(r).foreach(j => deps(i) += j)
        readers(r) = i :: readers.getOrElse(r, Nil)
      }
      // anti-dep: earlier readers of the name this def (re)defines,
      // plus the previous definition of the same name
      readers.getOrElse(name(i), Nil).foreach(j => if (j != i) deps(i) += j)
      lastDef.get(name(i)).foreach(j => deps(i) += j)
      lastDef(name(i)) = i
    }
    val dep = deps.map(_.result())
    val isRank = defs.map { case (nm, _) => rankNames.contains(nm) }.toArray
    val emitted = new Array[Boolean](n)
    val out = Vector.newBuilder[(String, Column)]
    var phase = 1 // start stock-side: stage 0 is lag/delta heavy
    var done = 0
    val waveOrder = idx.sortBy(i => (keyLen(i), i)) // coarser keys first, stable
    while (done < n) {
      // one wave: every ready def of the current phase matching `pred`,
      // repeated to a fixed point
      def emitWave(pred: Int => Boolean): Boolean = {
        var any = false
        var prog = true
        while (prog) {
          prog = false
          waveOrder.foreach { i =>
            if (!emitted(i) && pred(i) && (kind(i) == 0 || kind(i) == phase)
                && dep(i).forall(emitted)) {
              out += defs(i); emitted(i) = true; done += 1; prog = true; any = true
            }
          }
        }
        any
      }
      var progressed = true
      while (progressed) {
        val a = emitWave(i => !isRank(i))
        val b = emitWave(i => isRank(i))
        progressed = a || b
      }
      if (done < n) {
        // starved: flip phase; if neither keyed phase can run, fall
        // back to emitting the first ready def of any kind (mixed)
        val alt = if (phase == 1) 2 else 1
        val canAlt = idx.exists(i => !emitted(i) && (kind(i) == 0 || kind(i) == alt)
          && dep(i).forall(emitted))
        if (canAlt) phase = alt
        else idx.find(i => !emitted(i) && dep(i).forall(emitted)) match {
          case Some(i) => out += defs(i); emitted(i) = true; done += 1
          case None => throw new IllegalStateException(
            "keyPhaseOrder: dependency cycle among column definitions")
        }
      }
    }
    out.result()
  }

  /** Records percentile-rank definitions for batched lowering. Rank
    * calls NESTED inside a larger expression (`-xr(x) * xr(y)`) are
    * hoisted to fresh named defs automatically; the recorded def
    * carries the equivalent WINDOW formulation ([[XsOps.rankPct]]),
    * so scheduling classifies it exactly like the hand-written
    * window chain. */
  final class RankRecorder(val partKey: String) {
    private var n = 0
    private var pending = Vector.empty[(String, Column)]
    private var reg = Map.empty[String, String]

    /** Record a pct-rank of `x` over `partKey` under a fresh name;
      * returns a reference to the rank column (for embedding). */
    def rank(x: Column): Column = {
      n += 1
      val name = s"xr_h$n"
      record(name, x)
      col(name)
    }

    /** Record a NAMED pct-rank def (standalone rank columns). If the
      * input isn't a bare column it is hoisted as `xr_in_<name>` —
      * the prefix keeps hoists out of the `alpha_*` schema-discovery
      * namespace (q58 discovers columns by prefix). */
    private[ops] def record(name: String, x: Column): Unit = {
      val input = ColumnBridge.simpleColumnName(x).getOrElse {
        val in = s"xr_in_$name"
        pending :+= (in -> x)
        in
      }
      pending :+= (name -> XsOps.rankPct(col(input), col(partKey)))
      reg += name -> input
    }

    private[ops] def drain(): Vector[(String, Column)] = {
      drainGen += 1
      val p = pending; pending = Vector.empty; p
    }
    private[ops] def registry: Map[String, String] = reg
    /** Monotone drain counter backing [[ColChain]]'s linearity guard:
      * each chain value remembers the generation it was built at and
      * refuses to extend if the recorder has been drained since —
      * catching the silent-misattachment hazards of sharing one
      * mutable recorder (branching a chain value, reusing a recorder
      * across chains) at the first misuse instead of producing a
      * frame with ranks attached to the wrong branch. */
    private[ops] var drainGen: Int = 0
  }

  /** Drop-in deferred builder for long `.withColumn` chains: records
    * definitions without touching the plan, then [[build]] emits the
    * batched layers. Lets a 330-column pipeline keep its readable
    * one-column-per-line shape while paying analyzer cost per LAYER,
    * not per column. With a [[RankRecorder]] attached, rank defs
    * recorded while an expression was being BUILT are spliced in
    * just before the consuming definition.
    *
    * CONTRACT: a recorder-backed chain is SINGLE-LINEAR — each chain
    * value is extended at most once, the recorder belongs to exactly
    * one chain, and every `rec.rank()` call's expression is passed to
    * the NEXT `withColumn`/`withRank` on that chain. Violations
    * (branching a value, reusing a recorder, abandoning a branch)
    * would silently drop or misattach pending rank definitions, so
    * the chain enforces linearity: every extension checks that the
    * recorder has not been drained by another branch since this value
    * was created, and fails fast otherwise. */
  final case class ColChain(df: DataFrame, defs: Vector[(String, Column)] = Vector.empty,
      rec: Option[RankRecorder] = None, recGen: Int = 0) {
    private def guard(): Unit = rec.foreach { r =>
      require(r.drainGen == recGen,
        s"ColChain linearity violation: this chain value was created at recorder " +
          s"drain generation $recGen but the recorder is now at ${r.drainGen} — " +
          "a chain value was branched (used twice) or the RankRecorder is shared " +
          "with another chain; build each chain with its own fresh recorder and " +
          "extend each value at most once")
    }
    private def drained: Vector[(String, Column)] =
      rec.fold(Vector.empty[(String, Column)])(_.drain())
    def withColumn(name: String, c: Column): ColChain = {
      guard()
      copy(defs = defs ++ drained :+ (name -> c), recGen = recGen + (if (rec.isDefined) 1 else 0))
    }
    /** Named pct-rank of `x` over the recorder's partition key. */
    def withRank(name: String, x: Column): ColChain = {
      require(rec.nonEmpty, "withRank needs a RankRecorder: ColChain(df, rec = Some(...))")
      guard()
      rec.get.record(name, x)
      copy(defs = defs ++ drained, recGen = recGen + 1)
    }
    def build: DataFrame = buildKeeping(None)
    /** Build with liveness pruning down to `keep` (see
      * [[withColumnsBatched]]'s pruning overload). */
    def buildKeeping(keep: Option[Seq[String]]): DataFrame = {
      guard()
      val all = defs ++ drained
      rec match {
        case Some(r) => withColumnsBatched(df, all, r.registry, r.partKey, keep)
        case None => withColumnsBatched(df, all, Map.empty, "day", keep)
      }
    }
  }
}
