package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.Model._

/** A benchmark-side connector for one provider shape: it plans the
  * generated items and points each metadata request at the item's own
  * fixture; extraction and the artifact fixture are the real connector's. */
final class FixtureConnector(shape: Connector, items: Seq[String]) extends Connector {
  val name: String = shape.name
  val artifactFixture: String = shape.artifactFixture

  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem] = {
    import spark.implicits._
    items.take(limit).zipWithIndex.map { case (p, i) => PlanItem(name, i, p) }.toDS()
  }

  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest] = {
    import spark.implicits._
    val provider = name
    items.map { it =>
      val fixture = FixtureConnector.field(it.params_json, "fixture")
      if (provider == NrcAdamsApsConnector.name)
        FetchRequest(provider, it.item_index, "metadata", "POST",
          "https://adams.nrc.gov/wba/services/search", it.params_json, fixture)
      else
        FetchRequest(provider, it.item_index, "metadata", "GET",
          s"https://data.sec.gov/submissions/CIK${FixtureConnector.field(it.params_json, "cik10")}.json",
          it.params_json, fixture)
    }
  }

  def extract(responses: DataFrame): DataFrame = shape.extract(responses)
}

object FixtureConnector {
  def field(json: String, key: String): String =
    ("\"" + key + "\"\\s*:\\s*\"([^\"]*)\"").r.findFirstMatchIn(json).map(_.group(1)).getOrElse("")
}

/** The ingest workload: `Runner.run` over generated offline fixtures.
  *
  * A cold 200-item call is the first `Runner.run` of the process; an
  * untimed call of the other provider shape warms that path. Then cycles
  * run until `seconds` have elapsed: a bulk batch of both shapes into an
  * empty warehouse, then an incremental batch, half of it repeating bulk
  * items, into the populated one. Every call is checked against the
  * generator's expected counts and the stores' invariants.
  *
  * In a traced run every second cycle calls the pipeline's layers itself,
  * in `Runner.run`'s order, forcing each result so that its span holds that
  * layer's work; its counts must equal the expected ones, and
  * `Runner.residual_s` is the preceding untraced call's wall minus the
  * layer spans. */
final class IngestWorkload(spark: SparkSession, ctx: RunContext) {
  import spark.implicits._
  import IngestWorkload._

  private val batches: Map[String, Batch] = {
    val root = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(s"${ctx.dataDir}/manifest.json"))
    root.get("batches").elements().asScala.map { b =>
      val exp = b.get("expect")
      Batch(b.get("name").asText(), b.get("provider").asText(),
        b.get("items").elements().asScala.map(_.asText()).toSeq,
        exp.fieldNames().asScala.map(k => k -> exp.get(k).asLong()).toMap)
    }.map(b => b.name -> b).toMap
  }

  private def shape(provider: String): Connector =
    if (provider == SecEdgarConnector.name) SecEdgarConnector else NrcAdamsApsConnector

  private val calls = ArrayBuffer[Map[String, Any]]()
  private val cycles = ArrayBuffer[Map[String, Any]]()
  private val lastRunnerWall = scala.collection.mutable.Map[String, Double]()

  /** Store invariants after a call: blobs are exactly the distinct sha256
    * set, and every artifact row points at a stored response. */
  private def storeProblems(d: Dirs): Seq[String] = {
    val store = new ProvenanceStore(spark, d.warehouse)
    val shas = store.artifacts.select("sha256").distinct().as[String].collect().toSet
    val blobRoot = java.nio.file.Paths.get(d.blobs)
    val blobs =
      if (!java.nio.file.Files.exists(blobRoot)) Set.empty[String]
      else {
        val s = java.nio.file.Files.walk(blobRoot)
        try s.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(_.getFileName.toString).filterNot(_.startsWith(".")).toSet
        finally s.close()
      }
    val orphans = store.artifacts.select("response_id")
      .join(store.responses.select(col("id").as("response_id")), Seq("response_id"), "left_anti")
      .count()
    (if (blobs != shas) Seq(s"blob set ${blobs.size} != distinct sha256 ${shas.size}") else Nil) ++
      (if (orphans != 0) Seq(s"$orphans artifacts without a response") else Nil)
  }

  private def check(b: Batch, got: Map[String, Long], runJson: Option[String], d: Dirs,
      stores: Boolean): Seq[String] = {
    val counts = Seq("attempts", "responses", "artifacts", "parse_errors").flatMap { k =>
      if (got.get(k) != b.expect.get(k)) Some(s"$k ${got.get(k)} != expected ${b.expect.get(k)}") else None
    }
    val status = runJson.toSeq.flatMap { p =>
      val txt = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p, "run.json")), "UTF-8")
      if (txt.contains("\"status\": \"succeeded\"")) Nil else Seq("run.json does not read succeeded")
    }
    counts ++ status ++ (if (stores) storeProblems(d) else Nil)
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"

  /** One `Runner.run` call with Runner's defaults, timed, then checked;
    * the store invariants are checked after the last call into `d`. */
  private def runnerCall(b: Batch, d: Dirs, cycle: Int, traced: Boolean,
      last: Boolean): (Double, Double) = {
    val conn = new FixtureConnector(shape(b.provider), b.items)
    val trace = s"${b.name}#$cycle"
    val c0 = Clock.cpu()
    val t0 = Clock.nowMs
    val result =
      try {
        def call() = Runner.run(spark, conn, b.items.size, ctx.dataDir, d.warehouse, d.blobs, d.runs)
        Right(ctx.tracer.filter(_ => traced) match {
          case Some(tr) =>
            spark.sparkContext.setJobGroup(trace, b.name)
            try tr.span("Runner.run", trace)(call()) finally spark.sparkContext.clearJobGroup()
          case None => call()
        })
      } catch { case e: Throwable => Left(errorText(e)) }
    val t1 = Clock.nowMs
    val c1 = Clock.cpu()
    if (ctx.inject == "perturb" && b.name == "cold") Files.deleteTree(d.blobs)
    val problems = result match {
      case Left(err) => Seq(err)
      case Right(r) =>
        check(b, Map("attempts" -> r.attempts, "responses" -> r.responses,
          "artifacts" -> r.artifacts, "parse_errors" -> r.parseErrors), Some(r.runDir), d, last)
    }
    if (traced) ctx.tracer.foreach(_ => org.apache.spark.PerfbenchBus.drain(spark.sparkContext))
    spark.catalog.clearCache()
    lastRunnerWall(b.name) = t1 - t0
    calls += Map("batch" -> b.name, "cycle" -> cycle, "traced" -> (traced && ctx.tracer.isDefined),
      "wall_s" -> (t1 - t0) / 1000, "cpu_s" -> Clock.cpuS(c0, c1), "items" -> b.items.size,
      "ok" -> problems.isEmpty, "error" -> problems.headOption)
    (t1 - t0, Clock.cpuS(c0, c1))
  }

  /** `Runner.run`'s stages called one by one, each forced inside its span. */
  private def tracedCall(tr: Tracer, b: Batch, d: Dirs, cycle: Int,
      last: Boolean): (Double, Double) = {
    val conn = new FixtureConnector(shape(b.provider), b.items)
    val trace = s"${b.name}#$cycle"
    def forced[T](name: String)(ds: => Dataset[T]): Dataset[T] =
      tr.span(name) { val c = ds.cache(); c.count(); c }
    spark.sparkContext.setJobGroup(trace, b.name)
    val c0 = Clock.cpu()
    val t0 = Clock.nowMs
    val result = try {
      Right(tr.span("Runner", trace) {
        val runDir = Runner.buildRunDir(d.runs, java.time.Instant.now())
        val store = new ProvenanceStore(spark, d.warehouse)
        val requests = forced("Connector.plan")(
          conn.metadataRequests(spark, conn.plan(spark, b.items.size)))
        val metaFetched = forced("HttpSource.fetch")(
          HttpSource.fetch(spark, requests, null, Some(ctx.dataDir)))
        val metaWithIds = forced("ProvenanceStore.append_responses")(
          store.appendResponses(metaFetched.toDF().select(col("provider"), col("method"),
            col("url"), col("params_json"), col("status_code"), col("headers_json"),
            col("body"), col("item_index"), col("stage"))))
        val extracted = forced("Connector.extract")(conn.extract(metaWithIds))
        val targets = extracted.filter(col("artifact_url").isNotNull && col("error_message").isNull)
        val provider = conn.name
        val fixture = conn.artifactFixture
        val artRequests = targets.select(col("item_index"), col("artifact_url")).as[(Int, String)]
          .map { case (i, url) => FetchRequest(provider, i, "artifact", "GET", url, null, fixture) }
        val artFetched = forced("HttpSource.fetch")(
          HttpSource.fetch(spark, artRequests, null, Some(ctx.dataDir)).filter(_.status_code == 200))
        val artWithIds = forced("ProvenanceStore.append_responses")(
          store.appendResponses(artFetched.toDF().select(col("provider"), col("method"),
            col("url"), col("params_json"), col("status_code"), col("headers_json"),
            col("body"), col("item_index"), col("stage"))))
        val hashed = forced("BlobStore.put") {
          val h = artWithIds.select(col("provider"), col("url").as("source_url"),
              sha2(col("body"), 256).as("sha256"), length(col("body")).cast("long").as("bytes"),
              col("body"), col("id").as("response_id"))
            .withColumn("blob_path", concat(lit(d.blobs + "/"), substring(col("sha256"), 1, 2),
              lit("/"), col("sha256")))
            .cache()
          BlobStore.put(h, d.blobs)
          h
        }
        val inserted = forced("ProvenanceStore.append_artifacts")(store.appendArtifacts(
          hashed.select("provider", "source_url", "sha256", "bytes", "blob_path", "response_id")))
        val allFetched = metaFetched.union(artFetched)
        tr.span("CaptureSink.write")(CaptureSink.writeCaptures(allFetched, runDir))
        (runDir, allFetched, metaWithIds.count() + artWithIds.count(), inserted.count(),
          extracted.filter(col("error_message").isNotNull).count(), hashed.count())
      })
    } catch { case e: Throwable => Left(errorText(e)) }
    val t1 = Clock.nowMs
    val c1 = Clock.cpu()
    spark.sparkContext.clearJobGroup()
    val problems = result match {
      case Left(err) => Seq(err)
      case Right((runDir, allFetched, responses, inserted, errors, offered)) =>
        val attempts = allFetched.map(_.attempts.size.toLong).reduce(_ + _)
        val sps = tr.synchronized(tr.spans.toVector) // listeners still append
        val layerMs = sps.filter(s => s.trace == trace && s.parent >= 0 &&
          sps(s.parent).name == "Runner").map(_.dur).sum
        tr.count(trace, "Runner.residual_s", (lastRunnerWall(b.name) - layerMs) / 1000)
        tr.count(trace, "CaptureSink.files", (Files.treeFiles(s"$runDir/requests") +
          Files.treeFiles(s"$runDir/responses")).toDouble)
        tr.count(trace, "CaptureSink.mb", (Files.treeBytes(s"$runDir/requests") +
          Files.treeBytes(s"$runDir/responses")) / 1e6)
        tr.count(trace, "ProvenanceStore.files", Files.treeFiles(d.warehouse, parquetOnly = true).toDouble)
        tr.count(trace, "offered", offered.toDouble)
        tr.count(trace, "inserted", inserted.toDouble)
        check(b, Map("attempts" -> attempts, "responses" -> responses,
          "artifacts" -> inserted, "parse_errors" -> errors), None, d, last)
    }
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.catalog.clearCache()
    calls += Map("batch" -> b.name, "cycle" -> cycle, "traced" -> true,
      "wall_s" -> (t1 - t0) / 1000, "cpu_s" -> Clock.cpuS(c0, c1), "items" -> b.items.size,
      "ok" -> problems.isEmpty, "error" -> problems.headOption)
    (t1 - t0, Clock.cpuS(c0, c1))
  }

  def run(): Map[String, Any] = {
    val base = s"${ctx.workDir}/ingest"
    ctx.tracer.foreach(tr => Listeners.on(spark, tr))
    val firstTimedMs = Clock.nowMs
    runnerCall(batches("cold"), Dirs(s"$base/cold"), 0, traced = true, last = true)
    ctx.tracer.foreach(tr => Listeners.off(spark, tr))
    runnerCall(batches("warm"), Dirs(s"$base/warm"), 0, traced = false, last = true)
    calls.remove(calls.size - 1) // the warm-up call is untimed
    val order = Seq("bulk.sec_edgar", "bulk.nrc_adams_aps",
      "incremental.sec_edgar", "incremental.nrc_adams_aps").map(batches)
    val cyclesStart = Clock.nowMs
    var cycle = 1
    val minCycles = if (ctx.tracer.isDefined) 2 else 1
    while (cycle <= minCycles || Clock.nowMs - cyclesStart < ctx.seconds * 1000.0) {
      val d = Dirs(s"$base/c$cycle")
      val traced = ctx.tracer.isDefined && cycle % 2 == 0
      ctx.tracer.foreach(tr => if (traced) Listeners.on(spark, tr) else Listeners.off(spark, tr))
      val (walls, cpus) = order.map { b =>
        val last = b == order.last
        ctx.tracer.filter(_ => traced) match {
          case Some(tr) => tracedCall(tr, b, d, cycle, last)
          case None => runnerCall(b, d, cycle, traced = false, last)
        }
      }.unzip
      val stored = Files.treeBytes(d.warehouse) + Files.treeBytes(d.blobs) + Files.treeBytes(d.runs)
      cycles += Map("cycle" -> cycle, "traced" -> traced,
        "bulk_s" -> walls.take(2).sum / 1000, "incremental_s" -> walls.drop(2).sum / 1000,
        "cpu_s" -> cpus.sum,
        "bulk_items" -> order.take(2).map(_.items.size).sum,
        "stored_bytes" -> stored, "fetched_bytes" -> order.map(_.expect("fetched_bytes")).sum)
      Files.deleteTree(d.root)
      cycle += 1
    }
    ctx.tracer.foreach(tr => Listeners.off(spark, tr))
    Map("first_timed_ms" -> firstTimedMs, "calls" -> calls, "cycles" -> cycles)
  }
}

object IngestWorkload {
  private final case class Batch(name: String, provider: String, items: Seq[String],
      expect: Map[String, Long])

  private final case class Dirs(root: String) {
    val warehouse = s"$root/warehouse"
    val blobs = s"$root/blobs"
    val runs = s"$root/runs"
  }
}
