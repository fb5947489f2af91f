package graft

/** The JSON the harness mains print and write ([[Bench]], [[MediaBench]],
  * [[Verify]]). Strings escape the quote, the backslash and every control
  * character: a tab or CR in builder-authored SQL would otherwise make a
  * reader's `json.load` fail.
  */
private[graft] object Json {

  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** three decimals in the root locale: the default-locale formatter can
    * emit a comma decimal separator */
  def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** an object of already-rendered values, in the order given */
  def obj(kvs: Iterable[(String, String)]): String =
    kvs.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")

  def nums(kv: Iterable[(String, Double)], f: Double => String = r3): String =
    obj(kv.map { case (k, v) => k -> f(v) })

  def strs(vs: Iterable[String]): String = arr(vs.map(str))
}
