package perfbench

import scala.collection.mutable.ArrayBuffer

/** One span: a timed call at a layer boundary, with the span that caused
  * it and the Spark counters that moved inside it (leaf spans only). */
final case class Span(id: Int, parent: Int, name: String, kind: String,
    startNs: Long, endNs: Long, counts: Map[String, Long])

/** In-memory span recorder. Without counters (untraced runs) it only
  * times the body. With counters it also drains the listener bus around
  * each leaf span, charges the counter delta to it, and keeps every span
  * for the end of the run. Nanoseconds spent draining are summed in
  * [[drainNs]]: tracing's own blocking cost on the driver thread. */
final class Trace(counters: Option[Counters]) {
  val spans = ArrayBuffer.empty[Span]
  var drainNs = 0L
  private var stack = List(-1)

  def enabled: Boolean = counters.isDefined

  private def snap(): Map[String, Long] = {
    val t0 = System.nanoTime()
    try counters.get.snapshot() finally drainNs += System.nanoTime() - t0
  }

  /** Run `body` as span `name`; returns its result and wall nanoseconds.
    * Leaf spans carry the counter delta of their body. */
  def span[T](name: String, kind: String, leaf: Boolean = false)(body: => T)
      : (T, Long) =
    if (!enabled) {
      val t0 = System.nanoTime()
      val out = body
      (out, System.nanoTime() - t0)
    } else {
      val before = if (leaf) snap() else Counters.Zero
      val id = spans.size
      spans += null // reserve the id; filled in when the span ends
      stack = id :: stack
      val t0 = System.nanoTime()
      var t1 = t0
      try {
        val out = body
        t1 = System.nanoTime()
        (out, t1 - t0)
      } finally {
        if (t1 == t0) t1 = System.nanoTime() // body threw
        stack = stack.tail
        val counts =
          if (leaf) Counters.delta(before, snap()) else Map.empty[String, Long]
        spans(id) = Span(id, stack.head, name, kind, t0, t1, counts)
      }
    }
}
