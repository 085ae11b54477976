package graft

/** Minimal JSON string escaping shared by the mains.
  *
  * Bench, Probe and Verify emit hand-assembled JSON; a narrow
  * quote/backslash/CR/LF escape once let a tab or other control
  * character in a Spark stack summary produce an invalid record, and a
  * tab or CR in builder-authored oracle SQL would make the oracle's
  * `json.load` fail. One escaper, covering every char < 0x20, used by all.
  */
object JsonUtil {
  /** `s` as a quoted JSON string literal, all control chars escaped
    * (`\n`, `\r`, `\t` by their short forms). */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
