package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-resident state: everything the engine builds once per
  * session and serves to later calls — the quotes panel and factor
  * frame, the factor marts, the q102/q128 cluster labels, the q171
  * alpha template, and the streamed entries' seed and run roots. The
  * reference serves its pages from a per-session cache
  * (`@st.cache_data`, SURVEY §3.1); like Shark's cache manager, one
  * registry owns the lifetime of all of it.
  *
  * Entries are keyed by (owner, key). Every entry keeps these rules:
  *  - the first call builds and later calls return what it built.
  *    Only the holder is allocated inside the map's `computeIfAbsent`;
  *    the build runs outside the map's bin lock, under the holder's
  *    own lazy-val lock, so concurrent first calls for one key share
  *    one build (the nightly backfill's five family builds share one
  *    panel) and a first call for another key never waits on it;
  *  - a build that throws is not memoized: the next call builds again;
  *  - releasing an entry — [[forget]], or its owner ending — unpersists
  *    a built frame and deletes a scratch root. The first entry of an
  *    owner registers the owner's end with `watchEnd`, once.
  *
  * Invariant: a source dir is immutable within a session (keys carry
  * no source stamp yet) — rewrite data under a fresh dir. */
class Residents[S <: AnyRef](watchEnd: (S, () => Unit) => Unit) {

  /** One entry; `built` is set once the build returned, so a release
    * sees only what was actually built. */
  private final class Holder(make: () => AnyRef, release: Option[AnyRef] => Unit) {
    @volatile var built: Option[AnyRef] = None
    lazy val value: AnyRef = { val v = make(); built = Some(v); v }
    def close(): Unit = release(built)
  }

  private val entries =
    new java.util.concurrent.ConcurrentHashMap[(S, Any), Holder]()
  private val watched = java.util.concurrent.ConcurrentHashMap.newKeySet[S]()

  private def get[T](owner: S, key: Any)(holder: => Holder): T = {
    if (watched.add(owner)) watchEnd(owner, () => drop(owner))
    entries.computeIfAbsent((owner, key), _ => holder).value.asInstanceOf[T]
  }

  /** The value `make` builds, once per (owner, key). */
  def apply[T <: AnyRef](owner: S, key: Any)(make: => T): T =
    get(owner, key)(new Holder(() => make, _ => ()))

  /** A persisted frame `make` builds, once per (owner, key); releasing
    * the entry unpersists it. */
  def frame(owner: S, key: Any)(make: => DataFrame): DataFrame =
    get(owner, key)(new Holder(() => make,
      _.foreach(_.asInstanceOf[DataFrame].unpersist(blocking = false))))

  /** A scratch root (`preferShm`) that `build` fills, once per
    * (owner, key). The root is allocated with the holder, so a build
    * that throws leaves its root EMPTY and the next call rebuilds into
    * the same root — seed writes are ErrorIfExists by design, and
    * leftovers of a partial build would fail every retry. Releasing
    * the entry deletes the root. */
  def root(owner: S, key: Any, prefix: String)(build: String => Unit): String =
    get(owner, key) {
      val r = TempDirs.scratch(prefix, preferShm = true)
      new Holder(() =>
        try { build(r); r }
        catch { case e: Throwable =>
          try { TempDirs.deleteRecursively(Paths.get(r)); Files.createDirectories(Paths.get(r)) }
          catch { case _: Exception => () }
          throw e
        },
        _ => TempDirs.deleteRecursively(Paths.get(r)))
    }

  /** Release one entry; the next call for its key builds again. */
  def forget(owner: S, key: Any): Unit =
    Option(entries.remove((owner, key))).foreach(_.close())

  /** Release every entry of `owner`: its end, as `watchEnd` reports
    * it. */
  private def drop(owner: S): Unit = {
    val gone = new java.util.ArrayList[Holder]()
    entries.entrySet.removeIf { e =>
      val mine = e.getKey._1 eq owner
      if (mine) gone.add(e.getValue)
      mine
    }
    watched.remove(owner)
    gone.forEach(_.close())
  }

  /** The keys held for `owner`, each with what its build returned
    * (None while unbuilt). */
  private[graft] def held(owner: S): Map[Any, Option[AnyRef]] = {
    import scala.jdk.CollectionConverters._
    entries.asScala.collect { case ((o, k), h) if o eq owner => k -> h.built }.toMap
  }
}

/** The engine's one registry, keyed by session: a session's entries
  * are released when its application ends, so a long-lived JVM (test
  * suites, a notebook server) never pins a stopped session's frames,
  * plans or scratch roots. */
object Residents extends Residents[SparkSession]((s, end) =>
  s.sparkContext.addSparkListener(new SparkListener {
    override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = end()
  }))
