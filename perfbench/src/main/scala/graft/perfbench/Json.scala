package graft.perfbench

/** Minimal JSON rendering for the result line and the side files. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c    => b.append(c)
    }
    b.append('"').toString
  }

  def num(x: Double): String = {
    require(!x.isNaN && !x.isInfinite, s"non-finite number $x")
    if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString else x.toString
  }

  /** Renders maps, sequences, strings, booleans, numbers and options. */
  def render(v: Any): String = v match {
    case null | None        => "null"
    case Some(x)            => render(x)
    case s: String          => str(s)
    case b: Boolean         => b.toString
    case i: Int             => i.toString
    case l: Long            => l.toString
    case d: Double          => num(d)
    case f: Float           => num(f.toDouble)
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => s"${str(k.toString)}:${render(x)}" }.mkString("{", ",", "}")
    case s: Iterable[_]     => s.map(render).mkString("[", ",", "]")
    case other              => str(other.toString)
  }
}
