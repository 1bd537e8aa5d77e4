package perfbench

import scala.collection.mutable.ArrayBuffer

/** In-memory spans around the benchmark's calls into the engine: name,
  * start, end and parent. A disabled tracer only runs the body, so the
  * untraced run pays nothing for the calls it wraps.
  */
final class Tracer(val enabled: Boolean) {
  import Tracer.Span
  private val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private val origin = System.nanoTime()

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), System.nanoTime(), 0L)
      spans += s
      stack = s.id :: stack
      try body
      finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
      }
    }

  /** Spans as JSON; self time is the span's duration minus its children's. */
  def toJson: String = {
    val childNs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(s => s.endNs - s.startNs).sum }
    spans.map { s =>
      val dur = s.endNs - s.startNs
      Json.obj(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_s" -> (s.startNs - origin) / 1e9, "end_s" -> (s.endNs - origin) / 1e9,
        "self_s" -> (dur - childNs.getOrElse(s.id, 0L)) / 1e9)
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

object Tracer {
  private final case class Span(id: Int, name: String, parent: Int, startNs: Long, var endNs: Long)
}

/** Minimal JSON writer for flat result records. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
        case '"' => "\\\""
        case '\\' => "\\\\"
        case c if c < ' ' => f"\\u${c.toInt}%04x"
        case c => c.toString
      } + "\""
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, x) => value(k) + ":" + value(x) }.mkString("{", ",", "}")
}
