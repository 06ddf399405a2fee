package svsbench

import scala.collection.mutable

/** One traced call: a layer boundary crossed by the benchmark's own code.
  * Times are `System.nanoTime` readings.
  */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    start: Long, end: Long) {
  def durNs: Long = end - start
}

/** In-memory span recorder. Spans nest per thread (the enclosing open
  * span is the parent) and carry the op id of the workload step that
  * caused them. Nothing is written until the run ends.
  *
  * When disabled, [[span]] is a plain call, so the untraced run pays
  * nothing.
  */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val nextId = new java.util.concurrent.atomic.AtomicInteger(1)
  private val stack = new ThreadLocal[List[(Int, Int)]] { // (spanId, opId)
    override def initialValue(): List[(Int, Int)] = Nil
  }

  def span[A](name: String, op: Int = -1)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId.getAndIncrement()
      val outer = stack.get()
      val parent = outer.headOption.map(_._1).getOrElse(0)
      val opId = if (op >= 0) op else outer.headOption.map(_._2).getOrElse(0)
      stack.set((id, opId) :: outer)
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(outer)
        spans.synchronized { spans += Span(id, parent, opId, name, t0, t1) }
      }
    }

  def all: Seq[Span] = spans.synchronized(spans.toVector)
}

object Tracer {
  /** Self time of each span: its duration minus the part of its
    * interval covered by its children (overlapping children count
    * once).
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = unionLength(kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a })
      s.id -> (s.durNs - covered)
    }.toMap
  }

  /** Total length of a set of half-open intervals. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }
}
