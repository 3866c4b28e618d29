package perfbench

import scala.collection.mutable

/** One recorded call: nanoTime bounds, parent span id (0 = root). */
final case class Span(id: Int, parent: Int, name: String, t0: Long, t1: Long)

/** In-memory span recorder: workload → op → layer call. Spans nest per
  * thread; a call that fans out onto other threads passes its span id
  * explicitly ([[Trace.under]]). While disabled, `span` runs its body
  * with no bookkeeping at all. Spans are written once, at exit. */
final class Trace(@volatile var enabled: Boolean) {

  private val done = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[Int]] {
    override def initialValue(): List[Int] = Nil
  }

  def current: Int = stack.get.headOption.getOrElse(0)

  def span[A](name: String)(body: => A): A = under(current, name)(body)

  /** A span whose parent is `parent`, whichever thread runs it. */
  def under[A](parent: Int, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val saved = stack.get
      stack.set(id :: saved)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(saved)
        done.synchronized { done += Span(id, parent, name, t0, t1) }
      }
    }

  def spans: Seq[Span] = done.synchronized(done.toList)

  def json: String = Json.arr(spans.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "t0" -> s.t0, "t1" -> s.t1)
  })
}
