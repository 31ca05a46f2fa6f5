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

  /** `{"k1":v1,...}` over the fields in order: keys escaped, each value
    * already JSON. */
  def fields(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")

  /** [[fields]] over `keys`, each value computed from its key. */
  def obj(keys: Seq[String])(value: String => String): String =
    fields(keys.map(k => k -> value(k)))

  def arr(values: Seq[String]): String = values.mkString("[", ",", "]")
}
