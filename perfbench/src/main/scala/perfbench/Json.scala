package perfbench

/** Minimal JSON writer for the result and spans files. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
  def num(x: Long): String = x.toString
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null" else java.lang.Double.toString(x)
  def bool(b: Boolean): String = b.toString
  def obj(kv: (String, String)*): String = kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(xs: String*): String = xs.mkString("[", ",", "]")
  def metric(value: Double, unit: String): String = obj("value" -> num(value), "unit" -> str(unit))
}
