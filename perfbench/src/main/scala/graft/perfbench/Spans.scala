package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

/** Append-only span log, written as JSON lines when the run ends.
  *
  * A span is `run → pass → op → construct / plan / execute / cleanup →
  * job → stage`; every record carries its parent's id, wall-clock start
  * and end in epoch milliseconds, and the counts measured at that
  * boundary. The Python side derives every reported metric from this
  * file, so the JVM records facts and never aggregates them.
  */
final class Spans {
  private val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()

  def add(kind: String, id: String, parent: String, start: Long, end: Long,
      attrs: (String, Any)*): Unit = {
    val fields = Seq("span" -> kind, "id" -> id, "parent" -> parent,
      "start" -> start, "end" -> end) ++ attrs
    lines.add(fields.map { case (k, v) => s"${Spans.q(k)}:${Spans.value(v)}" }
      .mkString("{", ",", "}"))
  }

  def write(path: Path): Unit = {
    val sb = new StringBuilder
    lines.forEach(l => sb.append(l).append('\n'))
    Files.write(path, sb.toString.getBytes(UTF_8))
  }
}

object Spans {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case other => q(other.toString)
  }
}
