package perfbench

import scala.collection.mutable.ArrayBuffer

/** One span: a named interval with the span that caused it. Times are
  * epoch milliseconds so they line up with Spark listener event times. */
final case class Span(id: Int, name: String, parent: Int,
    start: Double, end: Double, attrs: Map[String, String])

/** In-memory span buffer, written out once at the end of a run. A
  * disabled trace records nothing and hands out parent id -1, so the
  * timed code path is the same call sequence with tracing on or off. */
final class Trace(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]

  def add(name: String, parent: Int, start: Double, end: Double,
      attrs: Map[String, String] = Map.empty): Int =
    if (!enabled) -1
    else synchronized {
      val id = spans.size
      spans += Span(id, name, parent, start, end, attrs)
      id
    }

  /** Runs `f` inside a span; `f` receives the span's id for its children.
    * The span is recorded even when `f` throws. */
  def span[T](name: String, parent: Int, attrs: Map[String, String] = Map.empty)
      (f: Int => T): T = {
    if (!enabled) return f(-1)
    val id = synchronized {
      val i = spans.size
      spans += Span(i, name, parent, Trace.nowMs(), Double.NaN, attrs)
      i
    }
    try f(id)
    finally synchronized { spans(id) = spans(id).copy(end = Trace.nowMs()) }
  }

  def all: Vector[Span] = synchronized(spans.toVector)

  /** Span duration minus the part of its interval that child spans cover. */
  def selfMs: Map[Int, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val covered = Trace.union(kids.getOrElse(s.id, Vector.empty)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end))))
      s.id -> ((s.end - s.start) - covered)
    }.toMap
  }

  def write(path: java.nio.file.Path): Unit = {
    val self = selfMs
    val lines = all.map { s =>
      Json.obj(Seq(
        "id" -> s.id.toString, "name" -> Json.str(s.name),
        "parent" -> s.parent.toString,
        "start_ms" -> Json.num(s.start), "end_ms" -> Json.num(s.end),
        "self_ms" -> Json.num(self(s.id)),
        "attrs" -> Json.obj(s.attrs.toSeq.sortBy(_._1)
          .map { case (k, v) => k -> Json.str(v) })))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    ()
  }
}

object Trace {
  private val baseEpoch = System.currentTimeMillis().toDouble
  private val baseNano = System.nanoTime()
  /** Epoch milliseconds with nanoTime resolution. */
  def nowMs(): Double = baseEpoch + (System.nanoTime() - baseNano) / 1e6

  /** Total length of the union of intervals (empty ones ignored). */
  def union(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }
}
