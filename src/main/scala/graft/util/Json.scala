package graft.util

/** Minimal JSON writing shared by the Verify and Bench output paths.
  * [[quote]] escapes backslash, quote, and ALL control chars (<0x20) — a tab or CR
  * in builder-authored SQL or an env-provided path would otherwise make
  * the driver's json.load fail. */
object Json {
  def quote(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** A name→seconds object, `{"name":1.234,...}` in the given order: 3
    * decimals keep a bench line compact enough for a bounded tail
    * capture (a full-precision line overflowed it and lost the total). */
  def seconds(lines: Seq[(String, Double)]): String =
    lines.map { case (k, v) => quote(k) + ":" + f"$v%.3f" }.mkString("{", ",", "}")
}
