package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import Model._

/** Connector contract (reference connectors/base.py:15–34): plan work
  * items, map them to metadata fetch requests, extract artifact targets
  * from metadata responses — all as DataFrame transforms. Extraction is
  * pure column expressions (from_json PERMISSIVE + null-safe access), so
  * the reference's defensive isinstance-guarded traversal (F8) becomes
  * schema-driven nulls and parse failures dead-letter instead of throwing.
  *
  * extract() output contract: item_index, response_id, source_url,
  * artifact_url (null → parse error), error_message (null → ok).
  * `Runner` extracts from the fetched metadata rows before their responses
  * are appended, so there `id` (and hence `response_id`) is a typed null;
  * it takes the dead letters' response ids from the append.
  */
trait Connector extends Serializable {
  def name: String
  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem]
  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest]
  def extract(responses: DataFrame): DataFrame
  def artifactFixture: String
}

/** SEC EDGAR (reference connectors/sec_edgar.py): submissions JSON →
  * first accession + primary document → Archives artifact URL. */
object SecEdgarConnector extends Connector {
  val name = "sec_edgar"
  val artifactFixture = "artifact.htm"

  /** plan(limit) = [{"cik10": "0000320193"}][:max(limit,1)] (sec_edgar.py:13–14). */
  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem] = {
    import spark.implicits._
    Seq(PlanItem(name, 0, """{"cik10": "0000320193"}"""))
      .take(math.max(limit, 1)).toDS()
  }

  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest] = {
    import spark.implicits._
    items.map { it =>
      val cik10 = extractJsonField(it.params_json, "cik10")
      FetchRequest(name, it.item_index, "metadata", "GET",
        s"https://data.sec.gov/submissions/CIK$cik10.json",
        it.params_json, "submissions.json")
    }
  }

  /** P1 first-element extraction + P3 URL construction (sec_edgar.py:23–31):
    * accession.replace("-",""), int(cik10) zero-pad strip, f-string URL. */
  def extract(responses: DataFrame): DataFrame = {
    val parsed = from_json(col("body").cast("string"), secSubmissionsSchema)
    val accession = parsed.getField("filings").getField("recent")
      .getField("accessionNumber").getItem(0)
    val primary = parsed.getField("filings").getField("recent")
      .getField("primaryDocument").getItem(0)
    val cik10 = get_json_object(col("params_json"), "$.cik10")
    responses
      .withColumn("accession", accession)
      .withColumn("primary_doc", primary)
      .select(
        col("item_index"), col("id").as("response_id"), col("url").as("source_url"),
        when(col("accession").isNotNull && col("primary_doc").isNotNull,
          format_string("https://www.sec.gov/Archives/edgar/data/%s/%s/%s",
            cik10.cast("bigint").cast("string"),
            regexp_replace(col("accession"), "-", ""),
            col("primary_doc"))).as("artifact_url"),
        when(col("accession").isNull || col("primary_doc").isNull,
          lit("no accession/primary document in submissions payload"))
          .as("error_message"))
  }

  private def extractJsonField(json: String, field: String): String = {
    val m = ("\"" + field + "\"\\s*:\\s*\"([^\"]*)\"").r
    m.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
  }
}

/** NRC ADAMS APS (reference connectors/nrc_adams_aps.py): POST search →
  * first result → pdf URL via the multi-key coalescing fallback chain. */
object NrcAdamsApsConnector extends Connector {
  val name = "nrc_adams_aps"
  val artifactFixture = "document.pdf"

  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem] = {
    import spark.implicits._
    Seq(PlanItem(name, 0, """{"query": "reactor"}"""))
      .take(math.max(limit, 1)).toDS()
  }

  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest] = {
    import spark.implicits._
    items.map { it =>
      FetchRequest(name, it.item_index, "metadata", "POST",
        "https://adams.nrc.gov/wba/services/search",
        it.params_json, "search.json")
    }
  }

  /** F2 status gate (nrc_adams_aps.py:37–47) then P2 coalescing extraction
    * over both envelope variants (nrc_adams_aps.py:92–111).
    *
    * Uses explicit JSON paths (get_json_object is byte-exact on key case)
    * rather than one from_json schema: the case-variant sibling keys
    * (pdfUrl/PdfUrl, Url/url) collide under Spark's default
    * case-insensitive field resolver. Envelope precedence results >
    * Results > documents, then the reference's key fallback order. */
  def extract(responses: DataFrame): DataFrame = {
    val body = col("body").cast("string")
    val envelopes = Seq("results", "Results", "documents")
    val keys = Seq("pdfUrl", "PdfUrl", "document.Url", "document.url", "Url", "url")
    val paths = for (e <- envelopes; k <- keys) yield s"$$.$e[0].$k"
    val pdfUrl = coalesce(paths.map(p => get_json_object(body, p)): _*)
    responses
      .withColumn("pdf_url", pdfUrl)
      .select(
        col("item_index"), col("id").as("response_id"), col("url").as("source_url"),
        when(col("status_code") === 200, col("pdf_url")).as("artifact_url"),
        when(col("status_code") =!= 200,
          format_string("search request failed with status %d", col("status_code")))
          .when(col("pdf_url").isNull, lit("no pdf url in first search result"))
          .as("error_message"))
  }
}
