package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** A minimal JSON writer for the run's result and span files. */
object Json {
  /** Text that is already JSON. */
  final case class Raw(json: String)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Raw(json) => json
    case Some(x) => render(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: java.lang.Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => s"${quote(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case m: java.util.Map[_, _] => render(m.asScala)
    case it: Iterable[_] => it.map(render).mkString("[", ",", "]")
    case it: java.lang.Iterable[_] => render(it.asScala)
    case a: Array[_] => render(a.toSeq)
    case x => quote(x.toString)
  }

  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }

  def write(path: String, v: Any): Unit = {
    Files.createDirectories(Paths.get(path).getParent)
    Files.writeString(Paths.get(path), render(v))
  }
}
