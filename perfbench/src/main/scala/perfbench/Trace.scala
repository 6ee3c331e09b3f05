package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed call: `op` is the operation it belongs to (a query name or a
  * build step), `layer` the boundary it crosses (`op`, `operators.build`,
  * `spark.plan`, `spark.action`, `ops.materialize`, `spark.job`). Times are
  * nanoseconds on the tracer's clock. */
final case class Span(id: Int, parent: Int, layer: String, op: String,
    start: Long, end: Long) {
  def dur: Long = end - start
}

/** In-memory span recorder for the single client thread. When disabled,
  * `span` only runs its body, so the untraced run pays nothing for it. */
final class Tracer(val enabled: Boolean) {
  private val t0Nano = System.nanoTime()
  private val t0Wall = System.currentTimeMillis()
  private val done = ArrayBuffer.empty[Span]
  private var open: List[(Int, String, String, Long)] = Nil
  private var nextId = 1

  def now: Long = System.nanoTime() - t0Nano

  /** A wall-clock millisecond (as Spark's listener events carry) on this
    * tracer's clock. */
  def fromWallMs(ms: Long): Long = (ms - t0Wall) * 1000000L

  def span[A](layer: String, op: String)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(0)
      open = (id, layer, op, now) :: open
      try body
      finally {
        val (_, _, _, start) = open.head
        open = open.tail
        done += Span(id, parent, layer, op, start, now)
      }
    }

  def spans: Seq[Span] = done.toSeq
  def clear(): Unit = done.clear()
}

object Trace {

  /** Nanoseconds of `[start, end)` covered by at least one interval. */
  def covered(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    val clipped = intervals
      .map { case (a, b) => (math.max(a, start), math.min(b, end)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else if (b > curB) curB = b
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** A span's self time: its duration minus the part of its interval that
    * its child spans cover (children may overlap one another, as parallel
    * Spark jobs do, and are counted once). */
  def selfTime(s: Span, children: Seq[Span]): Long =
    s.dur - covered(s.start, s.end, children.map(c => (c.start, c.end)))

  /** The innermost call span open at time `t` (the latest-starting span
    * whose interval holds it), the span a job started at `t` belongs to. */
  def innermostAt(calls: Seq[Span], t: Long): Option[Span] =
    calls.filter(s => s.start <= t && t <= s.end).sortBy(_.start).lastOption

  /** Self time summed per layer, in seconds. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val kids = spans.groupBy(_.parent)
    spans.groupBy(_.layer).map { case (layer, ss) =>
      layer -> ss.map(s => selfTime(s, kids.getOrElse(s.id, Nil))).sum / 1e9
    }
  }
}
