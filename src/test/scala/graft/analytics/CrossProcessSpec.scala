package graft.analytics

import graft.SparkSpec
import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit.SECONDS
import org.apache.hadoop.mapreduce.JobContext
import org.apache.spark.internal.io.FileCommitProtocol.TaskCommitMessage
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** The persistent stores' cross-process properties. The test JVM is
  * one side of each; the other side is a child JVM running
  * [[CrossProcessChild]]:
  *
  *  - two builder JVMs race one persistent factor mart over a stale
  *    one: both build, one replaces the stale mart, the other finds the
  *    winner valid and discards its copy, both read the same complete
  *    mart, and a later session reuses it untouched;
  *  - a reader in another JVM never sees a torn day while q167
  *    maintenance appends, and sees the historical generation and
  *    every batch's generation;
  *  - the persistent streamed store one session builds is reused,
  *    folded and appended by the next without moving a value.
  *
  * A child runs with this JVM's own options and classpath plus a
  * 2 GB heap. Its store roots, temp files and log live in one scratch
  * dir per test, deleted when the test ends. A child that overruns
  * its bound is stopped, and the test fails with the child's output. */
class CrossProcessSpec extends SparkSpec {
  import CrossProcessChild.{digest, touch}

  private val dir = "/root/testdata/sf0.001"

  /** A child JVM and the file its stdout and stderr go to. */
  private final class Child(val name: String, p: Process, log: File) {
    def alive: Boolean = p.isAlive
    def output: String =
      if (!log.isFile) "" else
        Files.readAllLines(log.toPath).asScala.takeRight(200).mkString("\n")
    def hasLine(line: String): Boolean =
      log.isFile && Files.readAllLines(log.toPath).asScala.contains(line)

    /** Wait up to `bound` s for the child to print `line`. */
    def awaitLine(line: String, bound: Long): Unit = {
      val deadline = System.nanoTime + bound * 1000000000L
      while (!hasLine(line) && p.isAlive && System.nanoTime < deadline)
        Thread.sleep(50)
      if (!hasLine(line)) fail(s"child $name never printed $line:\n$output")
    }

    /** Wait up to `bound` s for a clean exit; the child's `RESULT`
      * line as a key → value map. */
    def result(bound: Long): Map[String, String] = {
      if (!p.waitFor(bound, SECONDS)) {
        stop()
        fail(s"child $name overran ${bound}s:\n$output")
      }
      if (p.exitValue != 0)
        fail(s"child $name exited ${p.exitValue}:\n$output")
      Files.readAllLines(log.toPath).asScala.find(_.startsWith("RESULT "))
        .map(_.split(' ').toSeq.tail.map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap)
        .getOrElse(fail(s"child $name printed no RESULT line:\n$output"))
    }

    /** SIGTERM first, so the child's shutdown hooks still remove its
      * own scratch; SIGKILL after a grace period. */
    def stop(): Unit = if (p.isAlive) {
      p.destroy()
      if (!p.waitFor(20, SECONDS)) { p.destroyForcibly(); p.waitFor(20, SECONDS) }
    }
  }

  /** One test's scratch dir and the children forked into it. */
  private final class Scratch(val path: String) {
    private var children = List.empty[Child]

    def fork(name: String, args: String*): Child = {
      val jvm = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
      val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvm ++
        Seq("-Xmx2g", s"-Djava.io.tmpdir=$path",
          "-cp", sys.props("java.class.path"),
          CrossProcessChild.getClass.getName.stripSuffix("$")) ++ args
      val log = new File(path, s"$name.log")
      val c = new Child(name, new ProcessBuilder(cmd: _*)
        .redirectErrorStream(true).redirectOutput(log).start(), log)
      children ::= c
      c
    }

    def stopAll(): Unit = children.foreach(_.stop())
  }

  private def crossProcess(name: String)(body: Scratch => Unit): Unit = {
    val x = new Scratch(graft.TempDirs.scratch(s"graft_xproc_$name"))
    try body(x)
    finally {
      x.stopAll()
      graft.TempDirs.deleteRecursively(Paths.get(x.path))
    }
  }

  /** Every file under `p` with its size and mtime. */
  private def stamps(p: String): Map[String, (Long, Long)] = {
    val st = Files.walk(Paths.get(p))
    try st.iterator.asScala.filter(Files.isRegularFile(_)).map { f =>
      f.toString -> ((Files.size(f), Files.getLastModifiedTime(f).toMillis))
    }.toMap
    finally st.close()
  }

  test("two builder JVMs race one persistent mart: both build, one mart wins, a later session reuses it") {
    crossProcess("mart") { x =>
      val root = s"${x.path}/root"
      val go = s"${x.path}/_GO"
      val ds = FactorQueries.valueDataset
      val p = FactorQueries.martPathFor(root, dir, ds)
      // a stale predecessor at the destination (an older version's
      // manifest, no data): the first publisher collides with it and
      // must replace it, the second collides with the winner and must
      // validate it before discarding its own copy
      Files.createDirectories(Paths.get(p))
      Files.write(Paths.get(p, FactorQueries.martManifestName), "version=stale\n".getBytes)
      val kids = Seq("a", "b").map(n => x.fork(n, "mart", root, dir, go))
      // start barrier: neither checks the root before both are up
      kids.foreach(_.awaitLine("READY", 120))
      touch(go)
      val res = kids.map(_.result(180))
      res.foreach(r => assert(r("preValid") == "false",
        s"a child reused instead of racing: $res"))
      assert(res.map(r => (r("path"), r("rows"), r("checksum"))).distinct.size == 1,
        s"the children read different marts: $res")
      assert(res.forall(_("postValid") == "true"), s"mart invalid after the race: $res")
      assert(res.head("path") == p)
      assert(FactorQueries.martValid(spark, p, ds, dir))
      val left = new File(root).listFiles().toSeq
      assert(!left.exists(_.getName.contains(".tmp-")),
        s"orphaned temp marts: ${left.map(_.getName)}")
      assert(left.count(_.isDirectory) == 1, s"expected one mart dir: ${left.map(_.getName)}")
      // a later session validates the manifest and reuses the files
      val before = stamps(p)
      assert(FactorQueries.buildMartAt(spark, dir, ds, Some(root)) == p)
      assert(stamps(p) == before, "the persistent mart was rewritten instead of reused")
      assert(digest(spark.read.parquet(p)) == ((res.head("rows").toLong,
        res.head("checksum").toLong)))
    }
  }

  test("a reader JVM never sees a torn day during q167 maintenance and sees every generation") {
    crossProcess("read") { x =>
      val root = s"${x.path}/root"
      // a complete day partition holds exactly the panel's rows of that day
      val expect = graft.sources.Quotes.panel(spark, dir).groupBy("day").count()
        .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap
      val writer = x.fork("writer", "stream", root, dir)
      // a FRESH read per poll lists the store anew; a listing that
      // races a partition rename fails and is simply retried
      def poll(): Option[Map[Long, Long]] =
        try Some(spark.read.parquet(s"$root/mart").groupBy("day").count()
          .collect().map(r => r.getAs[Number](0).longValue -> r.getLong(1)).toMap)
        catch { case _: Exception => None }
      var polls = 0
      var torn = Vector.empty[String]
      def check(counts: Map[Long, Long]): Unit = {
        polls += 1
        counts.foreach { case (d, n) =>
          if (!expect.get(d).contains(n)) torn :+= s"day=$d read $n of ${expect.get(d)}" }
      }
      // generation n: the store as the writer's n-th mart commit left
      // it (n = 0 the historical build, then one per batch), parked
      // until this reader writes _SEEN_n
      var gens = Vector.empty[Map[Long, Long]]
      val deadline = System.nanoTime + 240 * 1000000000L
      while (writer.alive && System.nanoTime < deadline) {
        val n = gens.size
        if (new File(s"$root/_GEN_$n").isFile) {
          var g = poll()
          while (g.isEmpty && System.nanoTime < deadline) g = poll()
          g.foreach { counts => check(counts); gens :+= counts; touch(s"$root/_SEEN_$n") }
        } else if (n > 0) poll().foreach(check)
        Thread.sleep(20)
      }
      val res = writer.result(120)
      assert(torn.isEmpty, s"torn reads over $polls polls: ${torn.take(10)}")
      assert(gens.size == 4 && res("commits") == "4",
        s"saw ${gens.size} of 4 generations; writer: $res")
      gens.foreach { g =>
        assert(g.keySet == expect.keySet.filter(_ <= g.keys.max),
          s"a generation is not a day prefix: ${g.keys.toSeq.sorted}")
      }
      val sizes = gens.map(_.size)
      assert(sizes.zip(sizes.tail).forall { case (a, b) => a < b },
        s"generations did not grow: $sizes")
      assert(poll().contains(expect), "the full day set is not visible at the end")
    }
  }

  test("the persistent streamed store: one JVM builds it, the next reuses, folds and appends it") {
    crossProcess("persist") { x =>
      val root = s"${x.path}/root"
      val built = x.fork("night0", "persist", root, dir).result(180)
      assert(built("reused") == "false", s"night 0 found a store: $built")
      val p = FactorQueries.streamStorePathFor(root, dir)
      assert(FactorQueries.streamStoreValid(spark, p, dir))
      // plant the fragmentation retries accumulate in an aged partition
      val cut = FactorQueries.seedCut(p)
      FactorQueries.fragmentOldestDay(spark, s"$p/mart")
      assert(FactorQueries.dayPartitionFiles(s"$p/mart")
        .exists { case (d, n) => d <= cut && n > 1 })
      assert(FactorQueries.streamStoreNight(spark, root, dir),
        "the second session rebuilt the store instead of reusing it")
      val aged = FactorQueries.dayPartitionFiles(s"$p/mart").filter(_._1 <= cut)
      assert(aged.nonEmpty && aged.values.forall(_ == 1),
        s"the fold left an aged partition fragmented: $aged")
      assert(FactorQueries.dayPartitionFiles(s"$p/firstbar").size <= 2,
        "first-bar snapshots were not retired")
      assert(digest(spark.read.parquet(s"$p/mart")) ==
        ((built("rows").toLong, built("checksum").toLong)),
        "reuse, fold or the drained append moved a value")
      assert(FactorQueries.streamStoreValid(spark, p, dir))
    }
  }
}

/** The child side of [[CrossProcessSpec]], one mode per property:
  *
  *  - `mart <root> <dir> <go>`: print READY, wait for the `go` file,
  *    build (or reuse) the value mart under `root`, print whether it
  *    was valid before, its path, rows, checksum and validity after;
  *  - `stream <root> <dir>`: run the q167 harness under `root`
  *    through [[HandOffCommitProtocol]], print the mart commit count;
  *  - `persist <root> <dir>`: one [[FactorQueries.streamStoreNight]]
  *    on the persistent store under `root`; print whether it reused
  *    the store, its rows and checksum. */
object CrossProcessChild {

  /** Row count and an order-free full-content checksum: the bit_xor
    * of a row hash (ANSI mode throws on a long-sum overflow, and rows
    * are unique by (stock, day), so xor cancellation cannot mask a
    * difference). */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.select(count(lit(1)),
      bit_xor(xxhash64(df.columns.toSeq.map(col): _*))).head()
    (r.getLong(0), r.getLong(1))
  }

  def touch(path: String): Unit = { new File(path).createNewFile(); () }

  def awaitFile(path: String, bound: Long = 120): Unit = {
    val deadline = System.nanoTime + bound * 1000000000L
    while (!new File(path).isFile)
      if (System.nanoTime < deadline) Thread.sleep(20)
      else throw new IllegalStateException(s"no $path after ${bound}s")
  }

  def main(args: Array[String]): Unit = {
    FactorQueries.ignorePersistentMartRoot()
    val spark = graft.LocalSession.builder("2").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val ok = try { run(spark, args.toSeq); true }
      catch { case t: Throwable => t.printStackTrace(); false }
    spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  private def run(spark: SparkSession, args: Seq[String]): Unit = args match {
    case Seq("mart", root, dir, go) =>
      val ds = FactorQueries.valueDataset
      println("READY")
      awaitFile(go)
      val pre = FactorQueries.martValid(spark,
        FactorQueries.martPathFor(root, dir, ds), ds, dir)
      val p = FactorQueries.buildMartAt(spark, dir, ds, Some(root))
      val (rows, sum) = digest(spark.read.parquet(p))
      val post = FactorQueries.martValid(spark, p, ds, dir)
      println(s"RESULT preValid=$pre path=$p rows=$rows checksum=$sum postValid=$post")

    case Seq("stream", root, dir) =>
      spark.conf.set("spark.sql.sources.commitProtocolClass",
        classOf[HandOffCommitProtocol].getName)
      FactorQueries.streamHarness(spark, FactorQueries.streamFamily("technical"),
        graft.sources.Quotes.panel(spark, dir), root)(None)
      println(s"RESULT commits=${HandOffCommitProtocol.commits.get}")

    case Seq("persist", root, dir) =>
      val reused = FactorQueries.streamStoreNight(spark, root, dir)
      val (rows, sum) = digest(spark.read.parquet(
        s"${FactorQueries.streamStorePathFor(root, dir)}/mart"))
      println(s"RESULT reused=$reused rows=$rows checksum=$sum")

    case _ => throw new IllegalArgumentException(s"usage: ${args.mkString(" ")}")
  }
}

/** Spark's own commit protocol, plus a hand-off after every job that
  * commits into a `mart` dir: write `_GEN_<n>` beside it and wait for
  * the reader's `_SEEN_<n>`. The reader thus sees the state every
  * commit leaves, so a day written by two commits shows up torn on
  * every run, not only when a poll happens to land between them. */
class HandOffCommitProtocol(jobId: String, path: String, dynamic: Boolean)
    extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamic) {
  import CrossProcessChild.{awaitFile, touch}

  override def commitJob(job: JobContext, commits: Seq[TaskCommitMessage]): Unit = {
    super.commitJob(job, commits)
    if (path.endsWith("/mart")) {
      val root = new org.apache.hadoop.fs.Path(path).getParent.toUri.getPath
      val n = HandOffCommitProtocol.commits.getAndIncrement()
      touch(s"$root/_GEN_$n")
      awaitFile(s"$root/_SEEN_$n")
    }
  }
}

object HandOffCommitProtocol {
  val commits = new java.util.concurrent.atomic.AtomicInteger
}
