package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.collection.mutable

/** Spans recorded around the calls the benchmark makes (passes, operations,
  * a cell's build and sink) plus the Spark jobs under them. Kept in memory
  * and written as JSON lines when the run ends. Times are epoch ms; parent
  * 0 is the run itself. */
final class Spans(runId: String) {
  private val done = mutable.ArrayBuffer[Map[String, Any]]()
  private val opened = mutable.Map[Long, (String, Long, Long)]()
  private var next = 1L

  def open(name: String, parent: Long): Long = synchronized {
    val id = next
    next += 1
    opened(id) = (name, parent, System.currentTimeMillis())
    id
  }

  def close(id: Long): Unit = synchronized {
    opened.remove(id).foreach { case (name, parent, start) =>
      done += Map("id" -> id, "name" -> name, "parent" -> parent,
        "start_ms" -> start, "end_ms" -> System.currentTimeMillis())
    }
  }

  def addJobs(jobs: Seq[Map[String, Any]]): Unit = synchronized { done ++= jobs }

  /** Write every closed span to `path`; returns the path. */
  def write(path: Path): String = synchronized {
    Files.writeString(path,
      done.map(s => Json.write(s + ("run" -> runId))).mkString("", "\n", "\n"), UTF_8)
    path.toString
  }
}

/** Minimal JSON writer for the harness's result maps. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString)
        .map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case other => quote(other.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
