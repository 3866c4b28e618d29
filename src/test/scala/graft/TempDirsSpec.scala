package graft

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** [[TempDirs.BuiltRoots]]: the memo behind the streamed entries'
  * store and replay-file seeds. Spark-free — the contract is about
  * the root and the build thunk only. */
class TempDirsSpec extends AnyFunSuite {

  private def newMemo = new TempDirs.BuiltRoots[String](k => s"graft_spec_$k")

  private def entries(root: String): Set[String] = {
    val st = Files.list(Paths.get(root))
    try st.toArray.map(_.toString.split('/').last).toSet finally st.close()
  }

  test("a successful build runs once and is memoized") {
    val memo = newMemo
    var builds = 0
    val build: String => Unit = r => {
      builds += 1; Files.writeString(Paths.get(r, "part"), "x"); ()
    }
    val r1 = memo("a")(build)
    val r2 = memo("a")(build)
    assert(builds == 1)
    assert(r1 == r2)
    assert(entries(r1) == Set("part"))
    // a different key builds into its own root
    val r3 = memo("b")(build)
    assert(builds == 2 && r3 != r1)
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
    val e = intercept[IllegalStateException](newMemo("seed")(build))
    assert(e.getMessage == "partial build")
    val failed = build.roots.head
    assert(Files.isDirectory(Paths.get(failed)))
    assert(entries(failed).isEmpty)
  }

  test("the next call after a failed build rebuilds into the same root") {
    val memo = newMemo
    val build = new FlakyBuild
    intercept[IllegalStateException](memo("seed")(build))
    val r = memo("seed")(build)
    assert(build.attempts == 2)
    assert(build.roots == Vector(r, r))
    assert(entries(r) == Set("in"))
    // the rebuilt root is memoized like any other
    assert(memo("seed")(build) == r && build.attempts == 2)
  }
}
