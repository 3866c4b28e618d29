package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.scalatest.funsuite.AnyFunSuite

/** [[Residents]]: the session-resident registry. Spark-free — owners
  * are strings, and an owner's end is the thunk the registry hands to
  * `watchEnd`, called by hand. Frame release (unpersist) needs a
  * session and is pinned by QuotesPanelSpec's stop test. */
class ResidentsSpec extends AnyFunSuite {

  /** A registry plus the end thunk it registered for each owner. */
  private final class Fixture {
    val ends = new java.util.concurrent.ConcurrentHashMap[String, () => Unit]()
    val watches = new AtomicInteger()
    val reg = new Residents[String]((owner, end) => {
      watches.incrementAndGet(); ends.put(owner, end); ()
    })
    def end(owner: String): Unit = ends.get(owner)()
  }

  private def entries(root: String): Set[String] = {
    val st = Files.list(Paths.get(root))
    try st.toArray.map(_.toString.split('/').last).toSet finally st.close()
  }

  private def exists(root: String) = Files.exists(Paths.get(root))

  /** A root build writing one file, counting its runs. */
  private final class CountingBuild extends (String => Unit) {
    val builds = new AtomicInteger()
    def apply(r: String): Unit = {
      builds.incrementAndGet(); Files.writeString(Paths.get(r, "part"), "x"); ()
    }
  }

  test("a successful build runs once and is memoized") {
    val f = new Fixture
    val build = new CountingBuild
    val r1 = f.reg.root("s", "a", "graft_spec_a")(build)
    val r2 = f.reg.root("s", "a", "graft_spec_a")(build)
    assert(build.builds.get == 1)
    assert(r1 == r2)
    assert(entries(r1) == Set("part"))
    // a different key builds into its own root
    val r3 = f.reg.root("s", "b", "graft_spec_b")(build)
    assert(build.builds.get == 2 && r3 != r1)
    // one end watch per owner, not per entry
    assert(f.watches.get == 1)
  }

  /** A seed build that writes ErrorIfExists-style (createFile throws
    * on leftovers) and fails after a partial write on its first
    * attempt: a retry succeeds only if that attempt was cleaned up. */
  private final class FlakyBuild extends (String => Unit) {
    var attempts = 0
    var roots = Vector.empty[String]
    def apply(r: String): Unit = {
      attempts += 1; roots :+= r
      Files.createDirectories(Paths.get(r, "in"))
      Files.createFile(Paths.get(r, "in", "b0"))
      if (attempts == 1) throw new IllegalStateException("partial build")
    }
  }

  test("a build that throws leaves its root empty") {
    val build = new FlakyBuild
    val e = intercept[IllegalStateException](
      new Fixture().reg.root("s", "seed", "graft_spec_seed")(build))
    assert(e.getMessage == "partial build")
    val failed = build.roots.head
    assert(Files.isDirectory(Paths.get(failed)))
    assert(entries(failed).isEmpty)
  }

  test("the next call after a failed build rebuilds into the same root") {
    val reg = new Fixture().reg
    val build = new FlakyBuild
    intercept[IllegalStateException](reg.root("s", "seed", "graft_spec_seed")(build))
    val r = reg.root("s", "seed", "graft_spec_seed")(build)
    assert(build.attempts == 2)
    assert(build.roots == Vector(r, r))
    assert(entries(r) == Set("in"))
    // the rebuilt root is memoized like any other
    assert(reg.root("s", "seed", "graft_spec_seed")(build) == r && build.attempts == 2)
  }

  /** `n` calls of `body` released at once, on their own threads. */
  private def concurrently[T](n: Int)(body: () => T): Seq[java.util.concurrent.Future[T]] = {
    val pool = Executors.newFixedThreadPool(n)
    try {
      val start = new CountDownLatch(1)
      val calls = (1 to n).map(_ => pool.submit(new Callable[T] {
        override def call(): T = { start.await(); body() }
      }))
      start.countDown()
      calls
    } finally pool.shutdown()
  }

  test("5 concurrent first calls build once") {
    val reg = new Fixture().reg
    val builds = new AtomicInteger()
    val values = concurrently(5)(() => reg("s", "panel") {
      builds.incrementAndGet(); Thread.sleep(50); new Object
    }).map(_.get(30, TimeUnit.SECONDS))
    assert(builds.get == 1)
    assert(values.forall(_ eq values.head))
    assert(reg("s", "panel")(new Object) eq values.head)
  }

  test("a first call for a second key does not wait on a slow build") {
    val reg = new Fixture().reg
    val started = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val slow = concurrently(1)(() => reg("s", "slow") {
      started.countDown(); release.await(); "slow"
    }).head
    assert(started.await(30, TimeUnit.SECONDS))
    // the slow build holds its own holder's lock only: another key of
    // the same owner builds and returns while it is still running
    val other = concurrently(1)(() => reg("s", "other")("other")).head
    assert(other.get(30, TimeUnit.SECONDS) == "other")
    assert(!slow.isDone)
    release.countDown()
    assert(slow.get(30, TimeUnit.SECONDS) == "slow")
  }

  test("a value build that throws is not memoized") {
    val reg = new Fixture().reg
    var calls = 0
    def make(): String = { calls += 1; if (calls == 1) sys.error("boom") else "v" }
    intercept[RuntimeException](reg("s", "k")(make()))
    assert(reg("s", "k")(make()) == "v" && reg("s", "k")(make()) == "v")
    assert(calls == 2)
  }

  test("forget releases that entry only; the next call rebuilds") {
    val reg = new Fixture().reg
    val build = new CountingBuild
    val a = reg.root("s1", "a", "graft_spec_a")(build)
    val b = reg.root("s1", "b", "graft_spec_b")(build)
    val other = reg.root("s2", "a", "graft_spec_a")(build)
    reg.forget("s1", "a")
    assert(!exists(a))
    assert(exists(b) && exists(other))
    assert(reg.held("s1").keySet == Set("b") && reg.held("s2").keySet == Set("a"))
    val a2 = reg.root("s1", "a", "graft_spec_a")(build)
    assert(build.builds.get == 4 && a2 != a && entries(a2) == Set("part"))
    // forgetting an absent key is a no-op
    reg.forget("s1", "missing")
  }

  test("a session's end releases that session only; the next call rebuilds") {
    val f = new Fixture
    val build = new CountingBuild
    val roots = Seq("a", "b").map(k => f.reg.root("s1", k, s"graft_spec_$k")(build))
    val value = f.reg("s1", "template")(new Object)
    val live = f.reg.root("s2", "a", "graft_spec_a")(build)
    val liveValue = f.reg("s2", "template")(new Object)
    f.end("s1")
    assert(f.reg.held("s1").isEmpty)
    assert(roots.forall(!exists(_)))
    // the live session keeps every entry, built values unchanged
    assert(exists(live) && entries(live) == Set("part"))
    assert(f.reg.held("s2").keySet == Set("a", "template"))
    assert(f.reg("s2", "template")(new Object) eq liveValue)
    // a later call for the ended owner rebuilds and watches it again
    assert(!(f.reg("s1", "template")(new Object) eq value))
    assert(f.watches.get == 3)
  }
}
