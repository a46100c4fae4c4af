package perfbench

/** Strict JSON writer: objects keep key order, a repeated key is an
  * error (never a silent overwrite), and a non-finite number is an
  * error rather than an invalid token. */
object Json {
  /** An already-rendered JSON value. */
  final case class Raw(json: String)

  def obj(fields: Seq[(String, Any)]): String = {
    val dup = fields.groupBy(_._1).collect { case (k, v) if v.size > 1 => k }
    require(dup.isEmpty, s"duplicate JSON keys: ${dup.mkString(", ")}")
    fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}")
  }

  def value(v: Any): String = v match {
    case Raw(j) => j
    case s: String => str(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double =>
      require(!d.isNaN && !d.isInfinite, s"non-finite number: $d")
      d.toString
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => throw new IllegalArgumentException(s"not JSON: $other")
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
