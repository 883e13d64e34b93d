package graft.layerbench

/** The little JSON the harness reads and writes: flat string maps
  * (the expected-checksum file) and escaped strings. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  /** Parse a JSON object of string values (`{"k": "v", ...}`). */
  def readStringMap(text: String): Map[String, String] = {
    val kv = "\"((?:[^\"\\\\]|\\\\.)*)\"\\s*:\\s*\"((?:[^\"\\\\]|\\\\.)*)\"".r
    kv.findAllMatchIn(text).map(m => m.group(1) -> m.group(2)).toMap
  }

  def writeStringMap(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s"  ${str(k)}: ${str(v)}" }
      .mkString("{\n", ",\n", "\n}\n")
}
