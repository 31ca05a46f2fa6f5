package graft

/** The one JSON string writer for the records the mains emit. */
object Json {
  /** `s` as a quoted JSON string: backslash, quote and ALL control
    * chars (< 0x20) escaped — a tab or CR in the oracle SQL, or a quote
    * in an env value, would otherwise make the reader's json.load fail
    * and silently drop the record. */
  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** `{"k1":v1,...}` over `keys` in order: keys escaped, each value
    * already JSON. */
  def obj(keys: Seq[String])(value: String => String): String =
    keys.map(k => str(k) + ":" + value(k)).mkString("{", ",", "}")

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")
}
