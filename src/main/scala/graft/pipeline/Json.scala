package graft.pipeline

import com.fasterxml.jackson.databind.ObjectMapper

/** The pipeline's JSON helpers: one string escaper for every hand-built
  * JSON line (capture files, the attempts manifest, header maps, run.json)
  * and one shared Jackson mapper. `ObjectMapper` is thread-safe for reads
  * and writes once configured, so executor tasks share the JVM's instance
  * instead of building one per row. */
object Json {

  val mapper: ObjectMapper = new ObjectMapper()

  /** `s` as a JSON string literal, quotes included; null → `null`. */
  def quote(s: String): String =
    if (s == null) "null"
    else {
      val b = new java.lang.StringBuilder(s.length + 2).append('"')
      s.foreach {
        case '"' => b.append("\\\"")
        case '\\' => b.append("\\\\")
        case '\n' => b.append("\\n")
        case '\r' => b.append("\\r")
        case '\t' => b.append("\\t")
        case c if c < ' ' => b.append(f"\\u${c.toInt}%04x")
        case c => b.append(c)
      }
      b.append('"').toString
    }
}
