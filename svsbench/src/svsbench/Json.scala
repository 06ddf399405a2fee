package svsbench

/** Minimal JSON writer for the benchmark's flat records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case p: Product if p.productArity == 2 =>
      value(Seq(p.productElement(0), p.productElement(1)))
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  /** Metrics as `{"name": {"value": v, "unit": u}, ...}`. */
  def metrics(m: collection.Seq[(String, (Double, String))]): String =
    obj(m.toSeq.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) })
}
