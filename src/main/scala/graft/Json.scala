package graft

/** JSON helpers for the harness mains' hand-built artifacts. */
object Json {

  /** A JSON string literal: backslash, quote and ALL control chars
    * (< 0x20) escaped — a tab in hand-written oracle SQL or a newline in an
    * exception message would otherwise make a reader's json.load fail.
    */
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
