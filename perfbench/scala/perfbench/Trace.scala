package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run.
  *
  * A span is (id, parent, request, name, start, end) in nanoseconds of
  * `System.nanoTime`. Spans are recorded only around calls the benchmark
  * makes into the library's public functions, never inside the library, so
  * a span's self time is the time spent in that layer's entry point minus
  * the nested layer calls the benchmark itself made. Nothing is recorded
  * while tracing is off; `span` then costs one volatile read.
  *
  * Counters are recorded at the same boundaries (walk nodes expanded,
  * tokens embedded, rows written) and keyed by metric name.
  */
object Trace {
  @volatile var on: Boolean = false
  /** True for the whole traced window, including the untimed bookkeeping
    * between requests where spans are off but counters are taken. */
  @volatile var active: Boolean = false

  final class Span(val id: Int, val parent: Int, val req: Long,
                   val name: String, val t0: Long, var t1: Long)

  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var request: Long = -1L
  private val counters = scala.collection.mutable.LinkedHashMap.empty[String, Double]

  /** Time `body` as a span named `name`, a child of the innermost open one. */
  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(-1)
      val s = new Span(spans.length, parent, request, name, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body
      finally {
        s.t1 = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Root span of request `id`: every span opened inside carries its id. */
  def inRequest[T](id: Long)(body: => T): T = {
    request = id
    try span("request")(body)
    finally request = -1L
  }

  /** Setup-phase layer times (ms), recorded whether or not tracing is on:
    * a handful of calls per set-up, one map per set-up. */
  val setupMs = ArrayBuffer.empty[scala.collection.mutable.LinkedHashMap[String, Double]]

  def newSetup(): Unit = setupMs += scala.collection.mutable.LinkedHashMap.empty

  def timed[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body
    finally {
      val m = setupMs.last
      m(name) = m.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e6
    }
  }

  def count(name: String, v: Double): Unit =
    if (active) counters(name) = counters.getOrElse(name, 0.0) + v

  def reset(): Unit = { spans.clear(); stack = Nil; counters.clear() }

  /** One JSON object per span, in start order. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val sb = new java.lang.StringBuilder
    spans.foreach { s =>
      sb.append(s"""{"id":${s.id},"parent":${s.parent},"req":${s.req},""")
        .append(s""""name":"${s.name}","start":${s.t0},"end":${s.t1}}""")
        .append('\n')
    }
    java.nio.file.Files.writeString(path, sb.toString)
  }

  def counterMap: Map[String, Double] = counters.toMap
}
