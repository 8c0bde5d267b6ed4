package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed layout of the provenance warehouse (SCALING.md "Ingest spine";
  * NEXT #5): `responses` hash-bucketed by `id` and `artifacts` by
  * `response_id`, both into the same bucket count — so the lineage FK join
  * (J1/J2, reference storage/db.py join of artifacts→responses) co-locates
  * at READ time with zero Exchange on either side. At 100 TB, that turns
  * every lineage query's dominant shuffle into a per-bucket local join.
  *
  * Spark attaches bucketing metadata through the catalog, not the parquet
  * files, so this layout is catalog-backed: appends go through
  * `bucketBy(...).saveAsTable` against an EXTERNAL table rooted under
  * `warehouseDir`. The data outlives the session; a fresh session re-attaches
  * with [[register]] (idempotent `CREATE TABLE IF NOT EXISTS ... CLUSTERED
  * BY`). Bucket-file naming is Spark's, so only this class should write the
  * directories.
  *
  * Id assignment reuses [[ProvenanceStore]]'s schemes (including the
  * materialize-once pin for partitioned ids); the dedup-append contract for
  * artifacts (INSERT OR IGNORE on UNIQUE(source_url, sha256),
  * storage/db.py:76) is preserved.
  *
  * The max-id probe reads `max(id)` through the catalog table (vectorized
  * parquet + stats row-group skip). The footer-only aggregate pushdown of
  * the DSv2 face doesn't apply here — catalog tables resolve to the
  * built-in source — which is fine: the probe stays O(row groups) metadata.
  */
final class BucketedProvenance(
    spark: SparkSession,
    warehouseDir: String,
    buckets: Int = 32,
    idMode: ProvenanceStore.IdMode = ProvenanceStore.IdMode.Partitioned,
    namePrefix: String = "graft") {

  require(buckets > 0, s"bucket count must be positive, got $buckets")

  val responsesName = s"${namePrefix}_responses"
  val artifactsName = s"${namePrefix}_artifacts"

  /** Idempotently attach both tables to the current session's catalog —
    * needed once per NEW session over an existing warehouse (saveAsTable
    * registers automatically on first write in a session). */
  def register(): Unit = {
    def ddl(name: String, schema: org.apache.spark.sql.types.StructType,
        bucketCol: String, path: String): Unit =
      spark.sql(
        s"""CREATE TABLE IF NOT EXISTS $name (${schema.toDDL})
           |USING PARQUET
           |CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) INTO $buckets BUCKETS
           |LOCATION '$path'""".stripMargin)
    ddl(responsesName, Model.responsesSchema, "id", s"$warehouseDir/$responsesName")
    ddl(artifactsName, Model.artifactsSchema, "response_id", s"$warehouseDir/$artifactsName")
  }

  def responses: DataFrame = tableOrEmpty(responsesName, Model.responsesSchema)
  def artifacts: DataFrame = tableOrEmpty(artifactsName, Model.artifactsSchema)

  private def tableOrEmpty(name: String, schema: org.apache.spark.sql.types.StructType) =
    if (spark.catalog.tableExists(name)) spark.table(name)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)

  private def maxId(name: String): Long =
    if (!spark.catalog.tableExists(name)) 0L
    else spark.table(name).agg(coalesce(max(col("id")), lit(0L))).head().getLong(0)

  private def writeBucketed(
      rows: DataFrame, name: String, bucketCol: String): Unit =
    rows.write
      .format("parquet")
      .option("path", s"$warehouseDir/$name")
      .bucketBy(buckets, bucketCol)
      .sortBy(bucketCol)
      .mode(SaveMode.Append)
      .saveAsTable(name)

  /** Append response rows (same input contract as
    * [[ProvenanceStore.appendResponses]]); returns the appended rows WITH
    * ids for FK propagation. */
  def appendResponses(rows: DataFrame): DataFrame = {
    val base = maxId(responsesName)
    val withIds = ProvenanceStore.pinIds(
      ProvenanceStore.withIdColumn(rows, base, ProvenanceStore.responseOrder, idMode)
        .withColumn("created_at", current_timestamp())
        .select(Model.responsesSchema.fieldNames.toIndexedSeq.map(col)
          :+ col("item_index") :+ col("stage"): _*),
      idMode)
    writeBucketed(withIds.drop("item_index", "stage"), responsesName, "id")
    withIds
  }

  /** Dedup-append artifacts on (source_url, sha256); returns only the rows
    * actually inserted. Bucketed by `response_id` (the lineage join key),
    * not `id` — lineage locality is the point of this layout. */
  def appendArtifacts(rows: DataFrame): DataFrame = {
    val base = maxId(artifactsName)
    val existing = artifacts.select("source_url", "sha256")
    val fresh = rows
      .dropDuplicates("source_url", "sha256")
      .join(existing, Seq("source_url", "sha256"), "left_anti")
    val withIds = ProvenanceStore.pinIds(
      ProvenanceStore.withIdColumn(fresh, base, ProvenanceStore.artifactOrder, idMode)
        .withColumn("created_at", current_timestamp())
        .select(Model.artifactsSchema.fieldNames.toIndexedSeq.map(col): _*),
      idMode)
    writeBucketed(withIds, artifactsName, "response_id")
    withIds
  }

  /** The lineage join this layout exists for: artifacts ⋈ responses on the
    * FK, shuffle-free (both sides pre-bucketed on the join key). */
  def lineage: DataFrame =
    artifacts.as("a").join(responses.as("r"),
      col("a.response_id") === col("r.id"))
}
