package graft.tools

import graft.{LocalSession, PlanAudit}

/** Wall-vs-SF slope audit (builder tooling, r13 verdict ask #5): runs
  * every batch entry at sf0.001 / sf0.01 / sf0.1 and reports the
  * log-log slope of the TOP decade — `log10(w(sf0.1) / w(sf0.01))` —
  * the empirical scaling exponent where row work has begun to
  * dominate the per-query constant. A row-linear operator reads
  * slope ≤ ~1 (usually far below: the constant still amortizing); a
  * slope meaningfully above 1 on a non-trivial wall is the
  * super-linearity signature this audit exists to flag BEFORE a
  * 1000× scale-up finds it. Small walls are noise-floored: an entry
  * under `minWall` at the largest SF is all constant, and its ratio
  * is scheduler jitter, not scaling.
  *
  * Session-memoized derivations (the alpha panel, cluster labels)
  * are primed per SF dir OUTSIDE the timed windows — consumer
  * entries measure consumption, and the derivations get their own
  * rows via explicit timing. Streaming
  * entries are skipped ([[PlanAudit.goldenEntries]]'s argument:
  * fixture-driven, scale-independent). Output: one markdown table
  * (slope-descending) ready for README §scale-audit, plus a
  * machine-readable JSON line.
  */
object ScaleAudit {

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val sfs =
      if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
        "/root/testdata/sf0.1")
    // validate BEFORE the (expensive) measurement: a bad dir list
    // must fail in milliseconds, not after minutes of timing
    require(sfs.size >= 2, s"need >= 2 SF dirs to measure a slope, got $sfs")
    sfs.foreach { d =>
      require(d.split('/').last.matches("sf[0-9.]+"),
        s"dir basename must be sf<number> (the slope denominator): $d")
      require(new java.io.File(d).isDirectory, s"not a directory: $d")
    }
    // equal or non-increasing sf values make log10(sfRatio) = 0 and
    // slope() emits Infinity/NaN rows that sort to the TOP of the
    // report — fail before any timing starts, not after
    val sfVals = sfs.map(_.split('/').last.stripPrefix("sf").toDouble)
    require(sfVals.zip(sfVals.tail).forall { case (a, b) => a < b },
      s"SF dirs must be strictly increasing by scale factor, got $sfVals")
    // a persistent mart root would make the factor_mart derive rows
    // time a manifest-gated READ, not the build — same guard as
    // perfbench's nightly backfill
    graft.analytics.FactorQueries.ignorePersistentMartRoot()
    val minWall = sys.env.getOrElse("SPARK_GRAFT_AUDIT_MIN_WALL", "0.5").toDouble
    val rerunWall = sys.env.getOrElse("SPARK_GRAFT_RERUN_WALL", "2.5").toDouble
    val spark = LocalSession.builder(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // SPARK_GRAFT_AUDIT_ONLY=q02,q34,...: restrict to a subset — the
    // second-decade audit (SynthScale's sf1 dir) measures only the
    // steepest entries rather than paying the full corpus at 10x rows
    val only = sys.env.get("SPARK_GRAFT_AUDIT_ONLY")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSet)
    // exact name or "qNN" prefix up to the underscore — a bare
    // startsWith would let q16 silently select q160..q167 too
    val entries = PlanAudit.goldenEntries
      .filter { case (n, _) =>
        only.forall(o => o.exists(x => n == x || n.startsWith(x + "_"))) }
    val names = "factor_mart" +: "cluster_derive" +: entries.map(_._1)
    val walls: Seq[Map[String, Double]] = sfs.map { dir =>
      // a failed priming must record the -1 sentinel, not its
      // time-to-failure — a fail-fast reading would otherwise feed
      // slope() a bogus numerator and report silently
      def timeDerive(prime: => Unit): Double = {
        val t0 = System.nanoTime()
        try { prime; (System.nanoTime() - t0) / 1e9 }
        catch { case _: Exception => -1.0 }
      }
      val derive = Seq(
        "factor_mart" -> timeDerive(
          graft.analytics.FactorQueries.primeFactorMarts(spark, dir)),
        "cluster_derive" -> timeDerive(
          graft.analytics.CorpusQueries.primeClusterLabels(spark, dir)))
      val qs = entries.map { case (name, fn) =>
        def once(): Double =
          try time(fn(spark, dir).write.format("noop").mode("overwrite").save())
          catch { case _: Exception => -1.0 }
        val w1 = once()
        // contention guard: min of a rerun on slow reads
        val w = if (w1 >= rerunWall) { val w2 = once()
          if (w2 >= 0 && w2 < w1) w2 else w1 } else w1
        name -> w
      }
      (derive ++ qs).toMap
    }
    def slope(n: String): Option[Double] = {
      val (mid, top) = (walls(walls.size - 2)(n), walls.last(n))
      if (mid <= 0 || top <= 0) None
      else Some(math.log10(top / mid) /
        math.log10(sfRatio(sfs(sfs.size - 2), sfs.last)))
    }
    val rows = names.flatMap { n =>
      slope(n).map(sl => (n, walls.map(_(n)), sl))
    }.sortBy(-_._3)
    println(s"| entry | ${sfs.map(_.split('/').last).mkString(" s | ")} s | slope | verdict |")
    println("| --- | " + sfs.map(_ => "--- |").mkString(" ") + " --- | --- |")
    rows.foreach { case (n, ws, sl) =>
      val verdict =
        if (ws.last < minWall) "constant-dominated"
        else if (sl > 1.2) "SUPER-LINEAR — investigate"
        else if (sl > 0.9) "row-linear"
        else "sub-linear (constant amortizing)"
      println(f"| $n | ${ws.map(w => f"$w%.2f").mkString(" | ")} | $sl%.2f | $verdict |")
    }
    val flagged = rows.filter { case (_, ws, sl) => ws.last >= minWall && sl > 1.2 }
    println(s"""{"metric":"scale_audit","flagged":[${
      flagged.map("\"" + _._1 + "\"").mkString(",")}],"entries":${rows.size}}""")
    spark.stop()
  }

  /** Ratio of two `sfX.Y` dir names' scale factors (10.0 for the
    * standard decade steps). */
  private def sfRatio(a: String, b: String): Double = {
    def sf(p: String) = p.split('/').last.stripPrefix("sf").toDouble
    sf(b) / sf(a)
  }
}
