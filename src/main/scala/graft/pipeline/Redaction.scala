package graft.pipeline

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Header/value redaction (reference run_capture.py:229–244 + key list
  * :11–22): values whose key is in the sensitive set, or whose lowercase
  * key contains token/secret/pass, become "***REDACTED***".
  *
  * Two forms:
  * - [[redactMap]]: pure column expression (`transform_values`) for
  *   MapType header columns — codegen'd, no UDF.
  * - [[redactJsonUdf]]: recursive walk over arbitrary nested JSON strings
  *   (dict/list at any depth) — the only Layer-A operation that genuinely
  *   needs driver-defined code (SURVEY.md §2.6 X1); Jackson ships with
  *   Spark so no extra dependency.
  */
object Redaction {

  def isSensitive(key: String): Boolean = {
    val k = key.toLowerCase
    Model.sensitiveKeys.contains(k) ||
      k.contains("token") || k.contains("secret") || k.contains("pass")
  }

  /** Column-expression redaction for MapType(String,String) headers. */
  def redactMap(headers: Column): Column =
    transform_values(headers, (k, v) =>
      when(sensitivePred(k), lit(Model.redactedValue)).otherwise(v))

  private def sensitivePred(k: Column): Column = {
    val lk = lower(k)
    Model.sensitiveKeys.foldLeft(
      lk.contains("token") || lk.contains("secret") || lk.contains("pass"))(
      (acc, s) => acc || lk === s)
  }

  /** Recursive JSON-string redaction UDF over the shared [[Json.mapper]].
    * Invalid JSON passes through unchanged (mirrors the reference's
    * defensive parsing). */
  val redactJsonUdf: org.apache.spark.sql.expressions.UserDefinedFunction =
    udf { (json: String) =>
      if (json == null) null
      else
        try {
          val tree = Json.mapper.readTree(json)
          redactNode(tree)
          Json.mapper.writeValueAsString(tree)
        } catch { case _: Exception => json }
    }

  private def redactNode(node: JsonNode): Unit = node match {
    case o: ObjectNode =>
      val names = o.fieldNames()
      val toRedact = scala.collection.mutable.ArrayBuffer.empty[String]
      while (names.hasNext) {
        val name = names.next()
        val child = o.get(name)
        if (isSensitive(name) && child.isValueNode) toRedact += name
        else redactNode(child)
      }
      toRedact.foreach(n => o.put(n, Model.redactedValue))
    case a: ArrayNode =>
      val it = a.elements()
      while (it.hasNext) redactNode(it.next())
    case _ =>
  }
}
