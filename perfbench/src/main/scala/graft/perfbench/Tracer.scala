package graft.perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans of one benchmark run, written to its artifact at the
  * end. Times are seconds since the tracer was created. */
final class Tracer(val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = ArrayBuffer.empty[Tracer.Span]
  private var open = List.empty[Int]

  def now: Double = (System.nanoTime() - t0) / 1e9

  /** Runs `f` inside a span nested under the innermost open span. */
  def span[A](name: String)(f: => A): (A, Tracer.Span) = {
    val s = Tracer.Span(spans.size, name, now, open.headOption.getOrElse(-1))
    spans += s
    open = s.id :: open
    try (f, s)
    finally { s.end = now; open = open.tail }
  }

  /** Records a span whose bounds were clocked by the caller. */
  def record(name: String, start: Double, end: Double): Tracer.Span = {
    val s = Tracer.Span(spans.size, name, start, open.headOption.getOrElse(-1))
    s.end = end
    spans += s
    s
  }

  def dump: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "name" -> s.name, "start_s" -> s.start, "end_s" -> s.end,
      "parent" -> s.parent, "run_id" -> runId, "counts" -> s.counts)
  }
}

object Tracer {
  final case class Span(id: Int, name: String, start: Double, parent: Int) {
    var end: Double = Double.NaN
    /** Counts taken at this span's boundary (rows, bytes, listener totals). */
    var counts: Map[String, Double] = Map.empty
    def seconds: Double = end - start
  }
}
