package graft

/** The JSON the batch mains and the probe tool print and write. */
object Json {
  /** A JSON string literal.  Quote, backslash and every char below 0x20 are
    * escaped: a tab or CR in an oracle's SQL would otherwise make the
    * consumer's parse fail and drop every query it checks. */
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
    (b += '"').toString
  }

  /** An object with `fields` in order.  Values are rendered JSON: numbers
    * and nested objects print as they are, strings go through [[str]]. */
  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  /** An array of rendered JSON values. */
  def arr(values: Iterable[Any]): String = values.mkString("[", ",", "]")
}
