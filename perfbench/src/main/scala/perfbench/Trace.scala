package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

/** One process-wide monotonic clock, in milliseconds since the benchmark
  * started. Spans, schedules and listener arrival times all use it.
  */
object Clock {
  private val base = System.nanoTime()
  def ms: Double = (System.nanoTime() - base) / 1e6
}

/** A traced interval. `parent` is the id of the enclosing span (or null
  * for a root), `trace` groups the spans of one micro-batch, one query
  * or one read. `layer` names the module the self time is charged to.
  */
final case class Span(id: String, name: String, layer: String,
    start: Double, end: Double, parent: String, trace: String)

/** In-memory span buffer, written out once when the run ends. Disabled
  * (every call a pass-through) unless the run is traced.
  */
final class Trace(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val seq = new java.util.concurrent.atomic.AtomicLong()

  def nextId(prefix: String): String = s"$prefix#${seq.incrementAndGet()}"

  def add(s: Span): Unit = if (enabled) spans.add(s)

  /** Time `body` as a span; recorded even when `body` throws. */
  def span[T](id: String, name: String, layer: String, parent: String,
      trace: String)(body: => T): T = {
    if (!enabled) body
    else {
      val t0 = Clock.ms
      try body
      finally spans.add(Span(id, name, layer, t0, Clock.ms, parent, trace))
    }
  }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.start)

  def toJson: Seq[Json.Obj] = all.map(s => Json.obj(
    "id" -> s.id, "name" -> s.name, "layer" -> s.layer,
    "start_ms" -> s.start, "end_ms" -> s.end,
    "parent" -> s.parent, "trace" -> s.trace))
}
