package graft.core

/** Small reference utilities that round out the §2 inventory. */
object Util {

  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (<0x20) escaped — a tab or newline in SQL text or an
    * exception message would otherwise break a one-line JSON record.
    */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
