package graft.perfbench

/** Just enough JSON writing for the run's result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
      case ch => ch.toString
    } + "\""

  /** A finite number as JSON; a non-finite one (a latency made infinite
    * by failed operations) is written as null. */
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  /** An object from already-encoded values. */
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
}
