package graft.perfbench

import scala.collection.mutable

/** Spans around the benchmark's calls into each engine layer. A span
  * holds its name, start and end, its parent span and a trace id (the
  * iteration), plus the counts recorded while it was open. Spans stay
  * in memory until [[write]]. With `enabled = false` every call is a
  * pass-through, which is how the untraced (end-to-end) runs use it.
  */
final class Tracer(val enabled: Boolean, counters: SparkCounters) {

  final class Span(val id: Int, val parent: Int, val trace: Int,
                   val name: String, val startNs: Long) {
    var endNs: Long = startNs
    var jobs: Long = 0
    val counts: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
    def seconds: Double = (endNs - startNs) / 1e9
  }

  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer.empty
  private var stack: List[Span] = Nil
  var traceId: Int = 0

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val jobs0 = counters.snapshot().jobs
      val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), traceId,
        name, System.nanoTime())
      spans += s
      stack = s :: stack
      try body
      finally {
        // drained before the clock stops, so a span owns the jobs it ran
        s.jobs = counters.snapshot().jobs - jobs0
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Adds `v` to count `key` of the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach { s =>
      s.counts(key) = s.counts.getOrElse(key, 0.0) + v
    }

  /** Self time of every span: its duration minus the time its direct
    * children cover (children of one span never overlap: one client
    * thread).
    */
  def selfSeconds: Map[Int, Double] = {
    val child = mutable.Map.empty[Int, Double].withDefaultValue(0.0)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.seconds)
    spans.map(s => s.id -> math.max(0.0, s.seconds - child(s.id))).toMap
  }

  /** Per trace id: layer name -> (self seconds, summed counts, jobs). */
  def byLayer: Map[Int, Map[String, (Double, Map[String, Double], Long)]] = {
    val self = selfSeconds
    spans.groupBy(_.trace).map { case (tr, ss) =>
      tr -> ss.groupBy(_.name).map { case (name, group) =>
        val counts = group.flatMap(_.counts).groupBy(_._1)
          .map { case (k, kv) => k -> kv.map(_._2).sum }
        name -> ((group.map(s => self(s.id)).sum, counts, group.map(_.jobs).sum))
      }
    }
  }

  /** One JSON object per span, one per line. */
  def write(path: String): Unit = {
    val self = selfSeconds
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(Json.obj(
        "trace" -> s.trace, "id" -> s.id, "parent" -> s.parent,
        "name" -> s.name, "start_ns" -> s.startNs, "end_ns" -> s.endNs,
        "self_s" -> self(s.id), "jobs" -> s.jobs,
        "counts" -> s.counts.toMap))
    } finally w.close()
  }
}

/** Minimal JSON rendering for the result and trace files. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Number => n.toString
    case m: Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${value(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case a: Array[_] => a.map(value).mkString("[", ",", "]")
    case o => str(o.toString)
  }

  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
