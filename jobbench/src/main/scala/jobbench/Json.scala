package jobbench

/** A minimal JSON renderer for the result line and the trace dump. */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => s"${str(k)}: ${render(x)}" }.mkString("{", ", ", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => s"${str(k.toString)}: ${render(x)}" }
        .mkString("{", ", ", "}")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number in JSON: $d")
      d.toString
    case n: Number => n.toString
    case xs: Iterable[_] => xs.map(render).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  private def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
