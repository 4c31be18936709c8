package graftbench

import scala.collection.mutable
import org.apache.spark.SparkContext

/** One traced call: `layer` is the module the call enters (sources,
  * etl, operators, functions, corpus, plans, lookup, write), `name` the
  * metric stem it reports under. Times are `System.nanoTime` values.
  */
final case class Span(id: Long, parent: Option[Long], name: String,
    layer: String, start: Long, end: Long,
    counts: Map[String, Double] = Map.empty) {
  def durationNs: Long = end - start
}

object Span {
  /** Self time: the span's duration minus the part of its interval
    * that its children cover. Overlapping children count once, and
    * child time outside the parent's interval is clipped.
    */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val clipped = children.map(c =>
      (math.max(c.start, span.start), math.min(c.end, span.end)))
    span.durationNs - Stats.unionLength(clipped)
  }
}

/** In-memory span recorder. Entering a span sets the Spark job-group
  * local property [[Tracer.SpanProperty]] to its id, so the engine
  * listener can attribute every job (and its stages and tasks) to the
  * innermost open span on the calling thread. A disabled tracer runs
  * the body untouched.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L

  def span[T](name: String, layer: String)(body: => T): T =
    spanCounted(name, layer)(body)._1

  /** Like [[span]], but the body also returns counts recorded on the span. */
  def spanCounted[T](name: String, layer: String)(
      body: => T, counts: T => Map[String, Double] = (_: T) => Map.empty[String, Double])
      : (T, Span) = {
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      return (r, Span(0, None, name, layer, t0, System.nanoTime()))
    }
    val id = nextId; nextId += 1
    val parent = stack.headOption
    stack.push(id)
    sc.setLocalProperty(Tracer.SpanProperty, id.toString)
    val t0 = System.nanoTime()
    try {
      val r = body
      val s = Span(id, parent, name, layer, t0, System.nanoTime(), counts(r))
      spans += s
      (r, s)
    } finally {
      stack.pop()
      sc.setLocalProperty(Tracer.SpanProperty, parent.map(_.toString).orNull)
    }
  }

  def all: Seq[Span] = spans.toSeq

  def childrenOf(id: Long): Seq[Span] = spans.filter(_.parent.contains(id)).toSeq

  def selfNs(s: Span): Long = Span.selfNs(s, childrenOf(s.id))

  /** Every span id in the subtree rooted at `id`, itself included. */
  def subtree(id: Long): Set[Long] = {
    val kids = childrenOf(id)
    kids.flatMap(k => subtree(k.id)).toSet + id
  }

  /** Spans as JSON lines (ids, parent, name, layer, start/end ns,
    * self ns, counts).
    */
  def jsonLines: Seq[String] = spans.toSeq.map { s =>
    val counts = s.counts.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      .mkString("{", ",", "}")
    s"""{"id":${s.id},"parent":${s.parent.map(_.toString).getOrElse("null")},""" +
      s""""name":"${s.name}","layer":"${s.layer}","start_ns":${s.start},""" +
      s""""end_ns":${s.end},"self_ns":${selfNs(s)},"counts":$counts}"""
  }
}

object Tracer {
  val SpanProperty = "graftbench.span"
}

object Json {
  /** Numbers with all their digits; non-finite values become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}
