package graft

import java.nio.file.{Files, Path, Paths}

/** Scratch directories for engine entries that stage files (zip
  * fixtures, stream sources, checkpoints and stores, scratch marts) —
  * created like `Files.createTempDirectory` but deleted recursively
  * at JVM exit, so repeated Verify runs and test suites don't
  * accumulate gigabytes in /tmp (round-6 verdict, hygiene item). */
object TempDirs {
  private val registered = new java.util.concurrent.ConcurrentLinkedQueue[Path]()
  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      registered.forEach { p =>
        try deleteRecursively(p)
        catch { case _: Throwable => () } // best effort at exit
      }
    }, "graft-tempdir-cleanup"))
  }

  /** Create a fresh scratch dir that self-deletes at JVM exit. With
    * `preferShm`, allocate under /dev/shm (tmpfs) when present: the
    * streamed entries' stores, seeds and checkpoints are small-file
    * heavy, and routing them through memory removes container-disk
    * variance from their timings (measured 5× run-to-run swings on
    * a shared host; the engine work is identical either way). */
  def scratch(prefix: String, preferShm: Boolean = false): String = {
    hookInstalled
    val shm = Paths.get("/dev/shm")
    val p =
      if (preferShm && Files.isDirectory(shm) && Files.isWritable(shm))
        Files.createTempDirectory(shm, prefix)
      else Files.createTempDirectory(prefix)
    registered.add(p)
    p.toString
  }

  /** Delete `p` and everything under it, deepest first. Best effort:
    * a file that cannot be deleted stays, and so do its parents. */
  def deleteRecursively(p: Path): Unit = {
    if (Files.exists(p)) {
      val st = Files.walk(p)
      try st.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { val _ = f.toFile.delete() })
      finally st.close()
    }
  }

  /** Scratch roots built once per key and memoized (the streamed
    * entries' store and replay-file seeds). The root is allocated
    * eagerly (`preferShm`) and built lazily on the first call; later
    * calls return it without building. A build that throws leaves
    * its root EMPTY and stays unmemoized, so the next call rebuilds
    * into the same root — seed writes are ErrorIfExists by design,
    * and leftovers of a partial build would fail every retry. */
  final class BuiltRoots[K](prefix: K => String) {
    private val holders = new java.util.concurrent.ConcurrentHashMap[K, () => String]()

    def apply(key: K)(build: String => Unit): String =
      holders.computeIfAbsent(key, { k =>
        val r = scratch(prefix(k), preferShm = true)
        lazy val built: String =
          try { build(r); r }
          catch { case e: Throwable =>
            try { deleteRecursively(Paths.get(r)); Files.createDirectories(Paths.get(r)) }
            catch { case _: Exception => () }
            throw e
          }
        () => built
      })()

    /** Forget every key matching `p` (its root stays until JVM exit). */
    def forgetIf(p: K => Boolean): Unit = { holders.keySet.removeIf(k => p(k)); () }
  }
}
