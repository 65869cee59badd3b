package graftbench

/** Minimal JSON writer for the benchmark's result and trace files. */
object Json {

  /** A JSON string literal: backslash, quote and every control character
    * below 0x20 are escaped, so any job description or query name yields
    * a parseable line. */
  def str(s: String): String = {
    val b = new StringBuilder(s.length + 2).append('"')
    s.foreach {
      case '"'  => b.append("\\\"")
      case '\\' => b.append("\\\\")
      case '\n' => b.append("\\n")
      case '\r' => b.append("\\r")
      case '\t' => b.append("\\t")
      case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
      case c => b.append(c)
    }
    b.append('"').toString
  }

  /** Numbers keep all their digits; NaN and infinities become null. */
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** An object from already-encoded values, in the given key order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
