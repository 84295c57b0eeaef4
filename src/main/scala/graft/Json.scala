package graft

/** The one JSON string escaper for graft's hand-built payloads (stats API,
  * snapshot catalog, bench records): quotes, backslashes and every control
  * character, with the short forms for newline, carriage return and tab.
  * Exception messages and paths carry all of these, and one unescaped
  * character corrupts the whole payload.
  */
object Json {
  /** `s` escaped for the inside of a JSON string literal; null reads as "". */
  def escape(s: String): String =
    Option(s).getOrElse("").flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  /** `s` as a quoted JSON string literal. */
  def str(s: String): String = "\"" + escape(s) + "\""
}
