package perfbench

/** The little JSON the harness writes and reads: values are passed
  * around already rendered. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString

  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")

  def arr(items: Seq[String]): String = items.mkString("[", ", ", "]")

  /** A flat JSON array of strings (no escapes inside), as gen.py writes it. */
  def strings(text: String): Seq[String] =
    "\"([^\"]*)\"".r.findAllMatchIn(text).map(_.group(1)).toSeq
}
