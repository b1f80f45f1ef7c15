package graft.core

/** The one JSON string escaper in main: the bench and plan-fingerprint
  * lines, the oracle map and the cache's variables list all quote their
  * strings here. It escapes backslash, quote and every control character
  * below 0x20 (`\n`, `\r`, `\t` by name, the rest as `\uXXXX`): a tab or
  * CR in oracle SQL would otherwise make `tools/compare.py`'s
  * `json.load` fail and silently zero the correctness gate. */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object of already-encoded values, in the given order. */
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
