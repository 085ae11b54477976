package graft

/** Minimal JSON string escaping shared by the measurement mains.
  *
  * Bench and Probe each emit hand-assembled one-line JSON records; a
  * narrow quote/backslash/CR/LF escape once let a tab or other control
  * character in a Spark stack summary produce an invalid record. One
  * escaper, covering every char < 0x20, used by both.
  */
object JsonUtil {
  /** `s` as a quoted JSON string literal, all control chars escaped. */
  def jstr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
