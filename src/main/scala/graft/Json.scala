package graft

/** The one JSON string escaper: backslash, quote, and ALL control
  * chars (<0x20) — a tab or newline in an error message or in
  * hand-written oracle SQL would otherwise make the reader's
  * json.load fail. */
object Json {
  def escape(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }

  /** `s` as a quoted JSON string. */
  def string(s: String): String = "\"" + escape(s) + "\""
}
