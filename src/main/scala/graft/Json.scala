package graft

/** Minimal JSON rendering shared by the dev mains (Bench, and DevProf
  * in both modes): the sweep protocol parses their output lines as
  * JSON, so every interpolated string is escaped and every observed metric
  * value is rendered JSON-safe (non-finite doubles → null, strings
  * quoted) — an unparseable artifact line is a silent hole in the
  * adjudication record. */
object Json {
  /** Escaped string CONTENT (no surrounding quotes). */
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case '\r' => "\\r"; case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  }

  /** Quoted, escaped JSON string. */
  def str(s: String): String = "\"" + esc(s) + "\""

  /** One observe-row value: numbers verbatim (NaN/Infinity map to
    * null — they are not valid JSON), booleans and null verbatim,
    * anything else as a quoted string. */
  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => if (f.isNaN || f.isInfinite) "null" else f.toString
    case n: java.lang.Number => n.toString
    case b: java.lang.Boolean => b.toString
    case other => str(other.toString)
  }
}
