package perfbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval on the run's clock (nanoseconds since the run
  * started). `parent` is the id of the enclosing span, -1 at top level;
  * `op` is the op the span belongs to, -1 outside ops.
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String, name: String,
                      startNs: Long, endNs: Long)

/** In-memory span recorder. Spans nest by call structure: a span opened
  * inside another one becomes its child. When disabled, [[span]] only runs
  * its body, so an untraced run pays nothing but the call; outside an op
  * (set-up, warm-up) spans are not recorded either.
  *
  * Listener-side intervals (stages, tasks, streaming trigger phases) come
  * in on wall-clock milliseconds; [[fromEpochMs]] maps them onto the same
  * clock.
  */
final class Tracer(val enabled: Boolean) {
  private val baseNs = System.nanoTime()
  private val baseMs = System.currentTimeMillis()
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  @volatile var currentOp: Int = -1

  def nowNs: Long = System.nanoTime() - baseNs
  def fromEpochMs(ms: Long): Long = (ms - baseMs) * 1000000L

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled || currentOp < 0) body
    else {
      val id = spans.synchronized { spans += null; spans.size - 1 }
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = nowNs
      try body
      finally {
        stack = stack.tail
        spans.synchronized { spans(id) = Span(id, parent, currentOp, layer, name, t0, nowNs) }
      }
    }

  /** Record an interval measured elsewhere (listener events) for `op`. */
  def record(parent: Int, op: Int, layer: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && op >= 0) spans.synchronized {
      spans += Span(spans.size, parent, op, layer, name, startNs, endNs)
    }

  def all: Seq[Span] = spans.synchronized(spans.toList)
}
