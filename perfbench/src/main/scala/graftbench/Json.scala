package graftbench

/** Minimal JSON rendering for the result record and the trace file. */
object Json {
  final case class Raw(s: String) { override def toString: String = s }

  def obj(kv: Seq[(String, Any)]): Raw =
    Raw(kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}"))

  def arr(vs: Seq[Any]): Raw = Raw(vs.map(value).mkString("[", ",", "]"))

  def value(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => value(x)
    case r: Raw => r.s
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null"
      else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      obj(m.toSeq.map { case (k, x) => k.toString -> x }).s
    case s: Iterable[_] => arr(s.toSeq).s
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
