package perfbench

/** Minimal JSON writer for the harness's result and trace files. */
object Json {
  /** A pre-rendered JSON fragment, embedded verbatim. */
  final case class Raw(json: String)

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] =>
      m.toSeq.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case Some(x) => value(x)
    case None => "null"
    case other => str(other.toString)
  }

  /** An object with keys in the given order. */
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}
