package graft

/** Shared helper for the JSON-writing mains (Bench, ScalingBench):
  * caller-supplied strings (data-dir paths, failure messages) are
  * interpolated into hand-built JSON lines, and one containing a quote
  * or backslash would silently corrupt the artifact. Escape the two
  * JSON string metacharacters plus control chars before interpolation.
  */
object Jsonl {
  def esc(s: String): String =
    s.flatMap {
      case '\\' => "\\\\"
      case '"'  => "\\\""
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
}
