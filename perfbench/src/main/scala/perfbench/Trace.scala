package perfbench

import scala.collection.mutable

/** One timed interval: `parent` is 0 for a root span, `op` the op id the
  * span belongs to (-1 outside ops). Times are System.nanoTime values.
  */
final case class Span(id: Int, parent: Int, name: String, op: Int, start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans are kept in memory for the whole run
  * and written out once at the end. When disabled, `span` only runs
  * its body, so untraced runs pay one branch per boundary.
  */
final class Trace(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, name, op, t0, t1)
      }
    }

  /** Records a span measured elsewhere (e.g. a planning phase reported
    * by a listener), clipped to its parent's interval.
    */
  def addChild(parent: Span, name: String, start: Long, end: Long): Unit = {
    val s = math.max(parent.start, math.min(start, parent.end))
    val e = math.max(s, math.min(end, parent.end))
    spans += Span(nextId, parent.id, name, parent.op, s, e)
    nextId += 1
  }

  def all: Seq[Span] = spans.toSeq

  /** Self time of each span: its duration minus the part of its
    * interval covered by its children.
    */
  def selfNs: Map[Int, Long] = Trace.selfNs(spans.toSeq)
}

object Trace {
  def selfNs(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }
        .sortBy(_._1)
        .foldLeft((0L, Long.MinValue)) { case ((sum, hi), (a, b)) =>
          if (b <= hi) (sum, hi)
          else (sum + b - math.max(a, hi), b)
        }._1
      s.id -> (s.durNs - covered)
    }.toMap
  }
}
