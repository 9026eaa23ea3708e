package graft

/** The one JSON writer behind every hand-written JSON artifact
  * (validation results, diagnoses, run state, package and mapping exports,
  * Verify's `oracle_sql.json`). */
object Json {

  /** `s` as a JSON string literal: quote, backslash and every control char
    * below 0x20 escaped — a tab or CR left raw makes a strict parser reject
    * the whole document. Everything else, surrogate pairs included, passes
    * through unchanged. */
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A JSON object from (key, already-rendered value) pairs, in order. */
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => s"${q(k)}: $v" }.mkString("{", ", ", "}")
}
