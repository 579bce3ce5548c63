package graftbench

/** Minimal JSON rendering for the harness result file (maps, sequences,
  * strings, numbers, booleans). Non-finite doubles render as null.
  */
object Json {
  def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\t' => b.append("\\t")
      case '\r' => b.append("\\r")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def render(v: Any): String = v match {
    case null                       => "null"
    case s: String                  => quote(s)
    case b: Boolean                 => b.toString
    case d: Double                  => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float                   => render(f.toDouble)
    case n: Int                     => n.toString
    case n: Long                    => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }.mkString("{", ",", "}")
    case a: Array[_]                => render(a.toSeq)
    case xs: Iterable[_]            => xs.map(render).mkString("[", ",", "]")
    case other                      => quote(other.toString)
  }
}
