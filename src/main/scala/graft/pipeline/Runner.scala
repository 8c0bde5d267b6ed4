package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Dataset, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import Model._

/** The reference's per-item driver loop (pipeline.py:14–64) restructured as
  * set-at-a-time DataFrame stages with fan-out to the sinks, one Spark
  * execution per sink:
  *
  *   plan → metadata fetch → extract (P1–P3) → artifact fetch
  *     → responses append, metadata + artifact rows together (K1)
  *     → sha256 (X0) → artifacts dedup append (K2) with blob writes (K3)
  *     → captures (K4–K8, redacted X1) with the attempts manifest
  *     → manifest (K9) → dead-letter parse errors (F6) → run.json (K10)
  *
  * An offline run makes 8 SQL executions: the responses append (max-id
  * probe, id pin, parquet write), the artifacts append (max-id probe,
  * parquet write whose map stage writes the blobs), the capture pass and
  * the two JSON manifests. The fetches and extraction run inside the
  * responses append's pin; extraction sees the fetched metadata rows with
  * a null `id`, and parse errors take their `response_id` from the
  * appended metadata rows.
  *
  * Where the reference pipelines one item at a time through all stages,
  * this runs every item through each stage partition-parallel; per-host
  * rate discipline lives inside the source (HttpSource), and idempotency
  * under re-execution comes from K2's anti-join + K3's write-if-absent.
  *
  * Failure (K12) writes error.txt and a failed run.json carrying the counts
  * of the sinks that finished and the stage that threw. Metadata responses
  * are written together with artifact responses, so a run that fails
  * before the responses append (in either fetch or in extraction) has
  * written no responses at all.
  */
object Runner {

  case class RunResult(
      runDir: String,
      status: String,
      attempts: Long,
      responses: Long,
      artifacts: Long,
      parseErrors: Long)

  def run(
      spark: SparkSession,
      connector: Connector,
      limit: Int,
      fixtureRoot: String,
      warehouseDir: String,
      blobRoot: String,
      runRoot: String,
      live: Boolean = false,
      config: HttpSource.HttpConfig = HttpSource.HttpConfig(),
      transport: HttpSource.Transport = null,
      hostParallelism: Int = 1,
      idMode: ProvenanceStore.IdMode = ProvenanceStore.IdMode.Partitioned): RunResult = {
    import spark.implicits._

    val startedAt = java.time.Instant.now()
    val runDir = buildRunDir(runRoot, startedAt)
    val store = new ProvenanceStore(spark, warehouseDir, idMode)
    // live mode (reference cli.py:29 --live): real transport, no fixtures;
    // offline stays the default, exactly as in the reference (cli.py:33)
    val offlineRoot = if (live) None else Some(fixtureRoot)
    val tr: HttpSource.Transport =
      if (!live) null
      else if (transport != null) transport
      else HttpSource.jdkTransport(config.connectTimeoutMs)
    def fetch(requests: Dataset[FetchRequest]) =
      HttpSource.fetch(spark, requests, tr, offlineRoot,
        maxArtifactBytes = config.maxArtifactBytes,
        hostParallelism = hostParallelism, config = config)

    // counts of the sinks that have finished; `stage` names the one running
    val counts = scala.collection.mutable.Map[String, Long]()
    var stage = "plan"
    try {
      tee(runDir, s"run start provider=${connector.name} limit=$limit live=$live")
      // S4 plan → S2/S3 metadata fetch (offline fixture transport). Cached:
      // extraction, the responses append and the captures all read it, and
      // a live fetch must not run twice.
      val metaFetched = fetch(
        connector.metadataRequests(spark, connector.plan(spark, limit))).cache()

      // P1–P3 extraction on the fetched rows, before any id exists; F6
      // split into targets vs dead-letter.
      val extracted = connector.extract(
        responseRows(metaFetched).withColumn("id", lit(null).cast("long")))
      val targets = extracted
        .filter(col("artifact_url").isNotNull && col("error_message").isNull)

      // S6 artifact fetch
      val artRequests = targets.select(col("item_index"), col("artifact_url"))
        .as[(Int, String)]
        .map { case (idx, url) =>
          FetchRequest(connector.name, idx, "artifact", "GET", url, null,
            connector.artifactFixture)
        }
      val artFetched = fetch(artRequests).filter(_.status_code == 200).cache()

      // K1 one responses append for both stages, ids back for FK J1/J2.
      // The row count rides the append's own materialization as an
      // observe() metric; the returned rows are already pinned.
      stage = "responses"
      val responsesObs = Observation()
      val withIds = store.appendResponses(
        responseRows(metaFetched).union(responseRows(artFetched))
          .observe(responsesObs, count(lit(1)).as("n")))
      counts("responses") = responsesObs.get("n").asInstanceOf[Long]

      // X0 hash → K3 blob writes inside K2's dedup append: every fetched
      // artifact's blob is written if absent (restoring one deleted since
      // an earlier run) in the append's map stage, before its parquet commit
      stage = "artifacts"
      val hashed = withIds.filter(col("stage") === "artifact")
        .select(col("provider"), col("url").as("source_url"),
          sha2(col("body"), 256).as("sha256"),
          length(col("body")).cast("long").as("bytes"),
          col("body"), col("id").as("response_id"))
        .withColumn("blob_path",
          concat(lit(blobRoot + "/"), substring(col("sha256"), 1, 2),
            lit("/"), col("sha256")))
      val inserted = store.appendArtifacts(BlobStore.writeThrough(hashed, blobRoot))

      // K4–K8 per-attempt capture files with X1 redaction, and the
      // attempts manifest, in one pass
      stage = "captures"
      counts("attempts") = CaptureSink.writeCaptures(metaFetched.union(artFetched), runDir)

      // K9 manifest — streamed JSON lines per run, never collected: a
      // 100 TB ingest's manifest is itself big data (round-4 verdict #5).
      // Counts for the K10 summary ride as observe() metrics on the writes,
      // with no post-hoc count() jobs (at 100 TB every extra action is a
      // full re-scan of its lineage).
      stage = "manifest"
      val insertedObs = Observation()
      inserted.observe(insertedObs, count(lit(1)).as("n"))
        .select("source_url", "sha256", "blob_path")
        .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$runDir/artifacts")
      counts("artifacts") = insertedObs.get("n").asInstanceOf[Long]

      // F6 dead letters, with the response id of their item's metadata
      // row (one metadata request per planned item)
      stage = "parse_errors"
      val metaIds = withIds.filter(col("stage") === "metadata")
        .select(col("item_index"), col("id").as("response_id"))
      val errorsObs = Observation()
      extracted.filter(col("error_message").isNotNull).drop("response_id")
        .join(metaIds, Seq("item_index"), "left")
        .select(lit(connector.name).as("provider"), lit("extract").as("stage"),
          col("error_message").as("message"), col("source_url").as("url"),
          col("item_index"), col("response_id"))
        .observe(errorsObs, count(lit(1)).as("n"))
        .coalesce(1).write.mode(SaveMode.Overwrite).json(s"$runDir/parse_errors")
      counts("parse_errors") = errorsObs.get("n").asInstanceOf[Long]

      // K10 run summary
      val result = RunResult(runDir, "succeeded", counts("attempts"),
        counts("responses"), counts("artifacts"), counts("parse_errors"))
      tee(runDir, s"run succeeded attempts=${result.attempts} " +
        s"responses=${result.responses} artifacts=${result.artifacts} " +
        s"parse_errors=${result.parseErrors}")
      writeRunJson(runDir, "succeeded", None, connector.name, limit, startedAt,
        counts.toMap, idMode)
      result
    } catch {
      case e: Exception =>
        // K12: error.txt + failed status (reference cli.py:106–115), with
        // the counts of the sinks that finished and the stage that threw
        Files.createDirectories(Paths.get(runDir))
        Files.write(Paths.get(s"$runDir/error.txt"),
          String.valueOf(e).getBytes("UTF-8"))
        tee(runDir, s"run failed in stage $stage: $e")
        writeRunJson(runDir, "failed", Some(stage), connector.name, limit, startedAt,
          counts.toMap, idMode)
        throw e
    }
  }

  /** The `responses` append's input columns of a fetch. */
  private def responseRows(fetched: Dataset[CapturedFetch]): DataFrame =
    fetched.toDF().select(col("provider"), col("method"), col("url"),
      col("params_json"), col("status_code"), col("headers_json"), col("body"),
      col("item_index"), col("stage"))

  /** K11: tee log lines to console AND `<runDir>/run.log` (reference
    * run_capture.py:39–51 — a logging handler writing into the run dir). */
  private def tee(runDir: String, msg: String): Unit = {
    val line = s"${java.time.Instant.now()} $msg"
    println(line)
    Files.write(Paths.get(s"$runDir/run.log"), (line + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
  }

  /** Timestamped run dir with numeric collision suffix (reference
    * run_capture.py:54–64). */
  def buildRunDir(root: String, startedAt: java.time.Instant): String = {
    val stem = java.time.format.DateTimeFormatter.ofPattern("yyyyMMdd'T'HHmmss'Z'")
      .withZone(java.time.ZoneOffset.UTC).format(startedAt)
    var dir = Paths.get(root, stem)
    var i = 1
    while (Files.exists(dir)) { dir = Paths.get(root, s"$stem-$i"); i += 1 }
    Files.createDirectories(dir)
    dir.toString
  }

  /** K10 run.json. `counts` holds the sinks that finished; an unfinished
    * one reads null. `failed_stage` names the stage that threw: `plan`
    * (before the first execution), `responses` (which also runs both
    * fetches and extraction), `artifacts` (with the blob writes),
    * `captures`, `manifest` or `parse_errors`; null on success. */
  private def writeRunJson(
      runDir: String, status: String, failedStage: Option[String],
      provider: String, limit: Int, startedAt: java.time.Instant,
      counts: Map[String, Long], idMode: ProvenanceStore.IdMode): Unit = {
    val endedAt = java.time.Instant.now()
    // id_mode is recorded so a partitioned run's sparse ids are traceable to
    // a declared scheme, not mistaken for reference (contiguous) parity
    val idModeName = idMode match {
      case ProvenanceStore.IdMode.Partitioned => "partitioned"
      case ProvenanceStore.IdMode.Contiguous  => "contiguous"
    }
    val countLines = Seq("attempts", "responses", "artifacts", "parse_errors")
      .map(k => s"""    ${Json.quote(k)}: ${counts.get(k).fold("null")(_.toString)}""")
    val json =
      s"""{
         |  "status": ${Json.quote(status)},
         |  "failed_stage": ${Json.quote(failedStage.orNull)},
         |  "args": {"provider": ${Json.quote(provider)}, "limit": $limit, "id_mode": ${Json.quote(idModeName)}},
         |  "started_at": "$startedAt",
         |  "ended_at": "$endedAt",
         |  "counts": {
         |${countLines.mkString(",\n")}
         |  }
         |}""".stripMargin
    Files.write(Paths.get(s"$runDir/run.json"), json.getBytes("UTF-8"))
  }
}
