package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.pipeline._
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Ports of the reference's golden e2e + hardening tests
  * (tests/test_offline_e2e.py, tests/test_capture_hardening.py):
  * same counts, same graceful degradation, same redaction invariant,
  * plus the dedup-idempotence property (ingest twice ⇒ identical
  * artifacts table — storage/db.py:28,76).
  */
class PipelineSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val fixtures = "src/test/resources/fixtures"

  test("sec_edgar offline e2e: 2 responses, 1 artifact, succeeded") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val res = Runner.run(spark, SecEdgarConnector, limit = 1,
      fixtures, wh, blobs, runs)
    assert(res.status == "succeeded")
    assert(res.responses == 2, "metadata + artifact responses")
    assert(res.artifacts == 1)
    assert(res.parseErrors == 0)
    val store = new ProvenanceStore(spark, wh)
    assert(store.responses.count() == 2)
    assert(store.artifacts.count() == 1)
    // blob store layout root/<sha[:2]>/<sha>, content round-trips
    val a = store.artifacts.head()
    val sha = a.getAs[String]("sha256")
    val blob = Paths.get(BlobStore.blobPath(blobs, sha))
    assert(Files.exists(blob))
    assert(new String(Files.readAllBytes(blob), "UTF-8").contains("SEC fixture artifact"))
    // FK join J1: artifact.response_id resolves to an artifact-stage response
    val joined = store.artifacts.as("a")
      .join(store.responses.as("r"), col("a.response_id") === col("r.id"))
    assert(joined.count() == 1)
    assert(Files.exists(Paths.get(s"${res.runDir}/run.json")))
    // K9 manifest: streamed JSON lines (one file per run), never collected
    val manifest = spark.read.json(s"${res.runDir}/artifacts")
    assert(manifest.count() == 1)
    assert(manifest.columns.toSet == Set("source_url", "sha256", "blob_path"))
    assert(manifest.head().getAs[String]("sha256") == sha)
    // attempts manifest: one JSON line per attempt, written by the capture pass
    val attempts = spark.read.json(s"${res.runDir}/attempts")
    assert(attempts.count() == res.attempts)
    // offline attempts send no request headers: `{}`, which schema
    // inference drops, as it did for the map column Spark's writer wrote
    assert(attempts.columns.toSet == Set("provider", "item_index", "stage", "method",
      "url", "attempt_number", "status_code", "response_headers"))
    assert(attempts.select("stage").as[String].collect().sorted.toSeq ==
      Seq("artifact", "metadata"))
  }

  test("one offline Runner.run makes exactly 8 SQL executions") {
    // responses append (max-id probe, id pin, parquet write), artifacts
    // append with the blob writes (max-id probe, parquet write), the capture
    // pass with the attempts manifest, and the two JSON manifests
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val executions = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onOtherEvent(e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
        e match {
          case _: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
            executions.incrementAndGet()
          case _ =>
        }
    }
    org.apache.spark.ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
      assert(res.status == "succeeded")
      org.apache.spark.ListenerBusDrain(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(executions.get() == 8, s"SQL executions per run: ${executions.get()}")
  }

  test("nrc_adams_aps offline e2e: 2 responses, 1 artifact") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val res = Runner.run(spark, NrcAdamsApsConnector, limit = 1,
      fixtures, wh, blobs, runs)
    assert(res.status == "succeeded")
    assert(res.responses == 2)
    assert(res.artifacts == 1)
    assert(res.parseErrors == 0)
  }

  test("fault injection: corrupted {} fixture degrades gracefully (1/0 + parse_error)") {
    val fx = tmpDir("fx")
    Files.createDirectories(Paths.get(s"$fx/sec_edgar"))
    Files.write(Paths.get(s"$fx/sec_edgar/submissions.json"), "{}".getBytes)
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val res = Runner.run(spark, SecEdgarConnector, limit = 1, fx, wh, blobs, runs)
    assert(res.status == "succeeded", "parse errors must not fail the run")
    assert(res.responses == 1, "only the metadata response")
    assert(res.artifacts == 0)
    assert(res.parseErrors == 1)
    val errs = spark.read.json(s"${res.runDir}/parse_errors")
    assert(errs.filter(col("provider") === "sec_edgar").count() == 1)
    // every dead letter points at its metadata-stage response
    val responses = new ProvenanceStore(spark, wh).responses
    val joined = errs.join(responses, errs("response_id") === responses("id"))
      .select(responses("url")).as[String].collect().toSeq
    assert(joined == Seq("https://data.sec.gov/submissions/CIK0000320193.json"))
  }

  test("parse errors take the response id of their own item's metadata row") {
    // four items, each with its own submissions fixture; items 1 and 3 are
    // corrupted. Metadata and artifact responses share one append, so the
    // dead letters must find their item's metadata id among both stages.
    val fx = tmpDir("fx")
    Files.createDirectories(Paths.get(s"$fx/sec_edgar"))
    val good = Files.readAllBytes(Paths.get(s"$fixtures/sec_edgar/submissions.json"))
    Files.copy(Paths.get(s"$fixtures/sec_edgar/artifact.htm"),
      Paths.get(s"$fx/sec_edgar/artifact.htm"))
    (0 until 4).foreach { i =>
      Files.write(Paths.get(s"$fx/sec_edgar/sub$i.json"),
        if (i % 2 == 1) "{}".getBytes else good)
    }
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val res = Runner.run(spark, PerItemSecConnector, 4, fx, wh, blobs, runs)
    assert(res.status == "succeeded")
    assert(res.responses == 6, "4 metadata + 2 artifact responses")
    assert(res.parseErrors == 2)
    val errs = spark.read.json(s"${res.runDir}/parse_errors")
    val responses = new ProvenanceStore(spark, wh).responses
    val byItem = errs.join(responses, errs("response_id") === responses("id"))
      .select(errs("item_index").cast("int"), responses("url"))
      .as[(Int, String)].collect().toMap
    assert(byItem == Map(1 -> PerItemSecConnector.url(1), 3 -> PerItemSecConnector.url(3)))
  }

  test("fault injection: corrupted APS fixture degrades gracefully") {
    val fx = tmpDir("fx")
    Files.createDirectories(Paths.get(s"$fx/nrc_adams_aps"))
    Files.write(Paths.get(s"$fx/nrc_adams_aps/search.json"), "{}".getBytes)
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val res = Runner.run(spark, NrcAdamsApsConnector, limit = 1, fx, wh, blobs, runs)
    assert(res.status == "succeeded")
    assert(res.responses == 1)
    assert(res.artifacts == 0)
    assert(res.parseErrors == 1)
  }

  test("dedup idempotence: running the same ingest twice adds no artifacts") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val r1 = Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
    val r2 = Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
    assert(r1.artifacts == 1)
    assert(r2.artifacts == 0, "second run: anti-join drops the known (url, sha)")
    val store = new ProvenanceStore(spark, wh)
    assert(store.artifacts.count() == 1)
    assert(store.responses.count() == 4, "responses always append")
    // default (partitioned) id scheme: unique and positive across appends;
    // contiguity is the opt-in Contiguous mode's contract, tested below
    val ids = store.responses.select("id").as[Long].collect()
    assert(ids.distinct.length == 4, s"ids must be unique: ${ids.toSeq}")
    assert(ids.forall(_ > 0))
  }

  test("a blob dir deleted between two runs of the same ingest is restored") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
    Files.walk(Paths.get(blobs)).sorted(java.util.Comparator.reverseOrder())
      .forEach(p => Files.delete(p))
    val r2 = Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
    assert(r2.artifacts == 0, "the artifact row already exists")
    val shas = new ProvenanceStore(spark, wh).artifacts
      .select("sha256").distinct().as[String].collect().toSet
    val stream = Files.walk(Paths.get(blobs))
    val blobFiles =
      try stream.iterator().asScala.filter(Files.isRegularFile(_))
        .map(_.getFileName.toString).toSet
      finally stream.close()
    assert(shas.nonEmpty && blobFiles == shas,
      s"blob set $blobFiles must equal the distinct sha256 set $shas")
  }

  test("contiguous id mode (SQLite parity): ids 1..4 across two appends, FK join green") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    val mode = ProvenanceStore.IdMode.Contiguous
    Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs, idMode = mode)
    Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs, idMode = mode)
    val store = new ProvenanceStore(spark, wh, mode)
    val ids = store.responses.select("id").as[Long].collect().sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L, 4L), "AUTOINCREMENT-parity contiguity")
    // one append per run carries both stages; within an item the metadata
    // response comes first, as in the reference's per-item loop
    val urls = store.responses.orderBy("id").select("url").as[String].collect().toSeq
    assert(urls.map(_.contains("/submissions/")) == Seq(true, false, true, false), urls)
    // J1 under the contiguous scheme
    val joined = store.artifacts.as("a")
      .join(store.responses.as("r"), col("a.response_id") === col("r.id"))
    assert(joined.count() == 1)
  }

  test("partitioned id mode: no global sort in the append plan, FK join green") {
    val wh = tmpDir("wh"); val blobs = tmpDir("blobs"); val runs = tmpDir("runs")
    // default mode IS partitioned — the scale-out scheme carries the e2e suite
    val res = Runner.run(spark, SecEdgarConnector, 1, fixtures, wh, blobs, runs)
    assert(res.status == "succeeded")
    val store = new ProvenanceStore(spark, wh)
    // J1: every artifact's response_id resolves under composite ids
    val joined = store.artifacts.as("a")
      .join(store.responses.as("r"), col("a.response_id") === col("r.id"))
    assert(joined.count() == 1)
    // the id expression itself is shuffle-free: stamping a 4-partition frame
    // preserves partitioning and assigns unique ids with no Window/sort
    val probe = spark.range(0, 100, 1, 4).toDF("x")
      .withColumn("id", monotonically_increasing_id() + lit(1L))
    assert(probe.rdd.getNumPartitions == 4)
    assert(probe.select("id").as[Long].collect().distinct.length == 100)
  }

  test("partitioned ids materialize once: returned frame is lineage-truncated, matches parquet") {
    // monotonically_increasing_id is nondeterministic across re-evaluations,
    // and every append is consumed twice (write + FK propagation). The store
    // must pin the stamped rows so both consumers see the SAME ids — the
    // returned plan reads materialized blocks, not the stamping expression.
    val wh = tmpDir("wh")
    val store = new ProvenanceStore(spark, wh) // default = Partitioned
    val rows = spark.range(0, 50, 1, 8)
      .select(
        lit("p").as("provider"), lit("GET").as("method"),
        concat(lit("https://x.test/"), col("id")).as("url"),
        lit(null).cast("string").as("params_json"),
        lit(200).as("status_code"), lit("{}").as("headers_json"),
        lit("b".getBytes("UTF-8")).as("body"),
        col("id").cast("int").as("item_index"), lit("metadata").as("stage"))
    val returned = store.appendResponses(rows)
    val leaves = returned.queryExecution.logical.collectLeaves()
    assert(leaves.nonEmpty && leaves.forall(
      _.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]),
      s"returned frame must be checkpointed, got: ${leaves.map(_.nodeName)}")
    val ret = returned.select("id").as[Long].collect().sorted.toSeq
    val written = store.responses.select("id").as[Long].collect().sorted.toSeq
    assert(ret == written, "FK ids handed to the caller must equal written ids")
    assert(ret.distinct.size == 50)
  }

  test("compaction: append-fragmented table -> few id-sorted files, rows identical, probe intact") {
    val wh = tmpDir("wh")
    val store = new ProvenanceStore(spark, wh)
    def batch(tag: String, n: Int) = spark.range(0, n, 1, 4)
      .select(
        lit("p").as("provider"), lit("GET").as("method"),
        concat(lit(s"https://x.test/$tag/"), col("id")).as("url"),
        lit(null).cast("string").as("params_json"),
        lit(200).as("status_code"), lit("{}").as("headers_json"),
        lit("b".getBytes("UTF-8")).as("body"),
        col("id").cast("int").as("item_index"), lit("metadata").as("stage"))
    // 3 micro-batch appends x 4 partitions each = 12 small files
    Seq("a", "b", "c").foreach(t => store.appendResponses(batch(t, 20)))
    val beforeRows = store.responses
      .select("id", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    val stats = store.compact("responses", targetRowsPerFile = 30L)
    assert(stats.rows == 60L)
    assert(stats.filesBefore >= 12 && stats.filesAfter == 2,
      s"expected 12+ -> 2 files, got ${stats.filesBefore} -> ${stats.filesAfter}")
    val afterRows = store.responses
      .select("id", "url").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(afterRows == beforeRows, "compaction must not change a single row")
    // range-sorted layout: per-file id ranges are DISJOINT, so an id
    // predicate prunes to exactly one file from footer min/max alone
    val files = new java.io.File(s"$wh/responses").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getPath)
    val ranges = files.map { f =>
      val r = spark.read.parquet(f).agg(min(col("id")), max(col("id"))).head()
      (r.getLong(0), r.getLong(1))
    }.sortBy(_._1)
    ranges.sliding(2).foreach {
      case Array((_, hi1), (lo2, _)) => assert(hi1 < lo2,
        s"file id ranges overlap: ${ranges.toSeq}")
      case _ =>
    }
    // the footer-stats maxId probe and the append path survive the rewrite
    val next = store.appendResponses(batch("d", 5))
    val nextIds = next.select("id").as[Long].collect()
    assert(nextIds.forall(_ > beforeRows.map(_._1).max),
      "post-compaction append must continue past the compacted max id")
    assert(store.responses.count() == 65)
  }

  test("compaction crash recovery: a table stranded at .compact-old restores on read and compact") {
    val wh = tmpDir("wh")
    val store = new ProvenanceStore(spark, wh)
    store.appendResponses(spark.range(0, 10, 1, 2)
      .select(
        lit("p").as("provider"), lit("GET").as("method"),
        concat(lit("https://x.test/"), col("id")).as("url"),
        lit(null).cast("string").as("params_json"),
        lit(200).as("status_code"), lit("{}").as("headers_json"),
        lit("b".getBytes("UTF-8")).as("body"),
        col("id").cast("int").as("item_index"), lit("metadata").as("stage")))
    val rows = store.responses.select("id", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq
    // simulate a crash between the swap's two renames: dir moved aside,
    // replacement never arrived — without recovery this reads as empty
    val dir = new org.apache.hadoop.fs.Path(s"$wh/responses")
    val old = new org.apache.hadoop.fs.Path(s"$wh/responses.compact-old")
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.rename(dir, old), "test setup: strand the table")
    assert(store.responses.select("id", "url")
      .as[(Long, String)].collect().sortBy(_._1).toSeq == rows,
      "read must restore the stranded table, not return empty")
    assert(fs.exists(dir) && !fs.exists(old), "restore must move the data back")
    // strand again and prove compact() also restores instead of no-op'ing
    assert(fs.rename(dir, old), "test setup: strand the table again")
    val stats = store.compact("responses", targetRowsPerFile = 100L)
    assert(stats.rows == 10L, s"compact must restore then run: $stats")
    assert(store.responses.count() == 10)
  }

  test("compaction ordering parity: DSv2 scan reports id order until an append withdraws it") {
    val wh = tmpDir("wh")
    val store = new ProvenanceStore(spark, wh)
    def batch(tag: String, n: Int) = spark.range(0, n, 1, 4)
      .select(
        lit("p").as("provider"), lit("GET").as("method"),
        concat(lit(s"https://x.test/$tag/"), col("id")).as("url"),
        lit(null).cast("string").as("params_json"),
        lit(200).as("status_code"), lit("{}").as("headers_json"),
        lit("b".getBytes("UTF-8")).as("body"),
        col("id").cast("int").as("item_index"), lit("metadata").as("stage"))
    def dsv2 = spark.read.format("graft-provenance")
      .option("warehouse", wh).option("table", "responses").load()
    def sortsIn(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s
      }.size
    Seq("a", "b").foreach(t => store.appendResponses(batch(t, 20)))
    // pre-compaction: plain appends promise nothing — the sort is planned
    assert(sortsIn(dsv2.select("id", "url").sortWithinPartitions("id")) == 1,
      "uncompacted layout must not report ordering")
    store.compact("responses", targetRowsPerFile = 25L)
    // post-compaction: each partition reads one id-sorted file; the scan
    // reports ASC id and EnsureRequirements elides the per-partition sort
    assert(sortsIn(dsv2.select("id", "url").sortWithinPartitions("id")) == 0,
      "compacted layout must report per-partition id ordering")
    // and the reported order is REAL: ids ascend within every partition
    val ok = dsv2.select("id").rdd.mapPartitions { it =>
      val ids = it.map(_.getLong(0)).toSeq
      Iterator.single(ids == ids.sorted)
    }.collect()
    assert(ok.forall(identity), "a partition streamed out of id order")
    // an append changes the file set: the manifest goes stale and the
    // claim is withdrawn (conservative — no append-path cooperation)
    store.appendResponses(batch("c", 5))
    assert(sortsIn(dsv2.select("id", "url").sortWithinPartitions("id")) == 1,
      "append after compaction must invalidate the ordering claim")
    // re-compaction restores it
    store.compact("responses", targetRowsPerFile = 25L)
    assert(sortsIn(dsv2.select("id", "url").sortWithinPartitions("id")) == 0)
  }

  test("unexpected failure writes error.txt and failed run.json, then rethrows (K12)") {
    val runs = tmpDir("runs")
    val ex = intercept[Exception] {
      // unwritable warehouse path → the responses append throws
      Runner.run(spark, SecEdgarConnector, 1, fixtures,
        "/proc/graft-invalid/warehouse", tmpDir("blobs"), runs)
    }
    assert(ex != null)
    val runDir = new java.io.File(runs).listFiles().head
    assert(Files.exists(runDir.toPath.resolve("error.txt")))
    val runJson = new String(
      Files.readAllBytes(runDir.toPath.resolve("run.json")), "UTF-8")
    assert(runJson.contains("\"status\": \"failed\""))
    assert(runJson.contains("\"failed_stage\": \"responses\""))
    assert(runJson.contains("\"responses\": null"), "no sink finished")
  }

  test("a failure after the responses write keeps its partial counts in run.json (K12)") {
    val wh = tmpDir("wh"); val runs = tmpDir("runs")
    intercept[Exception] {
      // unwritable blob root → the artifacts append's blob writes throw
      Runner.run(spark, SecEdgarConnector, 1, fixtures, wh,
        "/proc/graft-invalid/blobs", runs)
    }
    val runDir = new java.io.File(runs).listFiles().head.toPath
    assert(Files.exists(runDir.resolve("error.txt")))
    val runJson = spark.read.option("multiLine", "true")
      .json(runDir.resolve("run.json").toString).head()
    assert(runJson.getAs[String]("status") == "failed")
    assert(runJson.getAs[String]("failed_stage") == "artifacts")
    val counts = runJson.getAs[org.apache.spark.sql.Row]("counts")
    assert(counts.getAs[Long]("responses") == 2L, "metadata + artifact responses were written")
    Seq("attempts", "artifacts", "parse_errors").foreach { k =>
      assert(counts.isNullAt(counts.fieldIndex(k)), s"$k never finished: $counts")
    }
    val store = new ProvenanceStore(spark, wh)
    assert(store.responses.count() == 2)
    assert(store.artifacts.count() == 0, "no artifact row without its blob")
  }

  test("attempts capture redacts sensitive headers") {
    val df = Seq(
      (Map("Authorization" -> "Bearer abc", "Content-Type" -> "application/json",
        "X-Api-Key" -> "k", "My-Token" -> "t"))
    ).toDF("headers")
    val out = df.select(Redaction.redactMap(col("headers")).as("h"))
      .select(explode(col("h"))).as[(String, String)].collect().toMap
    assert(out("Authorization") == Model.redactedValue)
    assert(out("X-Api-Key") == Model.redactedValue)
    assert(out("My-Token") == Model.redactedValue)
    assert(out("Content-Type") == "application/json")
  }

  test("recursive JSON redaction walks nested objects and arrays") {
    val json = """{"a":{"password":"x","keep":"y"},"list":[{"auth_token":"z"},{"ok":1}]}"""
    val out = Seq(json).toDF("j")
      .select(Redaction.redactJsonUdf(col("j"))).as[String].head()
    assert(!out.contains("\"x\"") && !out.contains("\"z\""))
    assert(out.contains("\"y\"") && out.contains("\"ok\":1"))
    assert(out.contains(Model.redactedValue))
    // invalid JSON passes through
    val bad = Seq("not json").toDF("j")
      .select(Redaction.redactJsonUdf(col("j"))).as[String].head()
    assert(bad == "not json")
  }

  test("retry state machine: 500 then 200 captures both attempts with backoff") {
    val limiter = new RateLimiter
    var calls = 0
    var sleeps = Vector.empty[Long]
    val transport: HttpSource.Transport = (_, _, _, _, _) => {
      calls += 1
      if (calls == 1) (500, Map("retry" -> "yes"), Array.emptyByteArray)
      else (200, Map.empty[String, String], "ok".getBytes)
    }
    val req = Model.FetchRequest("p", 0, "metadata", "GET", "https://x.test/a", null, "f")
    val out = HttpSource.liveFetch(limiter, transport, req, maxArtifactBytes = 1000,
      sleeper = ms => sleeps :+= ms)
    assert(out.status_code == 200)
    assert(new String(out.body) == "ok")
    assert(out.attempts.map(_.status_code) == Seq(500, 200))
    assert(sleeps.length == 1, "one backoff between the two attempts")
    assert(sleeps.head >= 500 && sleeps.head < 600, s"base 500ms + jitter: $sleeps")
  }

  test("Retry-After header is authoritative for the backoff delay") {
    val limiter = new RateLimiter
    var calls = 0
    var sleeps = Vector.empty[Long]
    val transport: HttpSource.Transport = (_, _, _, _, _) => {
      calls += 1
      if (calls == 1) (429, Map("Retry-After" -> "7"), Array.emptyByteArray)
      else (200, Map.empty[String, String], "ok".getBytes)
    }
    val req = Model.FetchRequest("p", 0, "metadata", "GET", "https://x.test/b", null, "f")
    val out = HttpSource.liveFetch(limiter, transport, req, 1000,
      sleeper = ms => sleeps :+= ms)
    assert(out.status_code == 200)
    assert(sleeps == Vector(7000L), s"Retry-After seconds win over exp backoff: $sleeps")
  }

  test("404 is terminal: no retry, no backoff") {
    val limiter = new RateLimiter
    var calls = 0
    val transport: HttpSource.Transport = (_, _, _, _, _) => {
      calls += 1
      (404, Map.empty[String, String], Array.emptyByteArray)
    }
    val req = Model.FetchRequest("p", 0, "metadata", "GET", "https://x.test/c", null, "f")
    val out = HttpSource.liveFetch(limiter, transport, req, 1000, sleeper = _ => fail("no sleep"))
    assert(calls == 1)
    assert(out.status_code == 404)
    assert(out.attempts.size == 1)
  }

  test("retry state machine: transport errors recorded as status 0 with error_type") {
    val limiter = new RateLimiter
    val transport: HttpSource.Transport = (_, _, _, _, _) =>
      throw new RuntimeException("boom")
    val req = Model.FetchRequest("p", 0, "metadata", "GET", "https://x.test/a", null, "f")
    val out = HttpSource.liveFetch(limiter, transport, req, 1000)
    assert(out.status_code == 0)
    assert(out.attempts.size == 3, "3 attempts (http_client.py:163)")
    assert(out.attempts.forall(_.error_type == "RuntimeException"))
  }

  test("size cap fails the row, not the job (F5)") {
    val limiter = new RateLimiter
    val transport: HttpSource.Transport = (_, _, _, _, _) =>
      (200, Map.empty[String, String], Array.fill[Byte](2000)(1))
    val req = Model.FetchRequest("p", 0, "artifact", "GET", "https://x.test/a", null, "f")
    val out = HttpSource.liveFetch(limiter, transport, req, maxArtifactBytes = 1000)
    assert(out.status_code == 0)
    assert(out.attempts.last.error_type == "SizeCapExceeded")
  }

  test("token bucket actually limits: draining the bucket forces a wait") {
    val limiter = new RateLimiter
    val t0 = System.nanoTime()
    limiter.acquire("host-x", rate = 2.0) // bucket starts full (2 tokens)
    limiter.acquire("host-x", rate = 2.0)
    val afterBurst = (System.nanoTime() - t0) / 1e9
    assert(afterBurst < 0.2, s"burst within capacity must not sleep: $afterBurst")
    limiter.acquire("host-x", rate = 2.0) // deficit → ~0.5s wait at 2 rps
    val total = (System.nanoTime() - t0) / 1e9
    assert(total >= 0.3, s"third acquire must wait for refill: $total")
  }

  test("backoff schedule: exponential base, 5s cap, Retry-After override") {
    val d1 = HttpSource.backoffMs("https://x.test/a", 1, None)
    val d2 = HttpSource.backoffMs("https://x.test/a", 2, None)
    val d9 = HttpSource.backoffMs("https://x.test/a", 9, None)
    assert(d1 >= 500 && d1 < 600)
    assert(d2 >= 1000 && d2 < 1100)
    assert(d9 >= 5000 && d9 < 5100, "capped at 5s + jitter")
    assert(HttpSource.backoffMs("u", 1, Some("11")) == 11000L)
    assert(HttpSource.backoffMs("u", 1, Some("garbage")) >= 500,
      "unparseable Retry-After falls back to exponential")
    assert(HttpSource.backoffMs("https://x.test/a", 1, None) == d1,
      "jitter is deterministic per (url, attempt)")
  }

  test("fetch partitions by host: each host's requests land in one partition (T5 budget)") {
    // Per-host budgets only hold if host → exactly one partition (one
    // RateLimiter bucket). Record (host, partitionId) inside the transport
    // and assert no host spans partitions at hostParallelism = 2.
    HostRecorder.seen.clear()
    val reqs = (0 until 6).map { i =>
      val host = if (i % 2 == 0) "a.test" else "b.test"
      Model.FetchRequest("p", i, "metadata", "GET", s"https://$host/r$i", null, s"f$i")
    }
    val transport: HttpSource.Transport = (_, url, _, _, _) => {
      HostRecorder.seen.add(
        (HttpSource.hostOf(url), org.apache.spark.TaskContext.getPartitionId()))
      (200, Map.empty[String, String], "ok".getBytes)
    }
    val out = HttpSource.fetch(spark, reqs.toDS(), transport,
      offlineFixtureRoot = None, hostParallelism = 2)
    assert(out.count() == 6)
    val byHost = HostRecorder.seen.toArray(Array.empty[(String, Int)])
      .groupBy(_._1).view.mapValues(_.map(_._2).distinct.toSeq).toMap
    assert(byHost.keySet == Set("a.test", "b.test"))
    assert(byHost.values.forall(_.size == 1),
      s"a host spanning >1 partition breaks its rate budget: $byHost")
  }

  test("buildHeaders: SEC UA + gzip, APS key acquires per-key budget, POST content-type") {
    val aps = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val limiter = new RateLimiter {
      override def acquireAps(key: String, host: String): Unit = aps.add((key, host))
    }
    val cfg = HttpSource.HttpConfig(live = true,
      secUserAgent = Some("Example Co admin@example.com"),
      nrcSubscriptionKey = Some("sekrit"))
    val sec = HttpSource.buildHeaders(cfg, limiter, "www.sec.gov", "GET")
    assert(sec("User-Agent") == "Example Co admin@example.com")
    assert(sec("Accept-Encoding") == "gzip, deflate")
    val nrc = HttpSource.buildHeaders(cfg, limiter, "adams-api.nrc.gov", "POST")
    assert(nrc("Ocp-Apim-Subscription-Key") == "sekrit")
    assert(nrc("Content-Type") == "application/json")
    assert(aps.toArray.toSeq == Seq(("sekrit", "adams-api.nrc.gov")),
      "APS header construction must draw from the per-(key, host) budget")
    // missing credentials are config errors: fail the job, not the row
    intercept[IllegalStateException] {
      HttpSource.buildHeaders(HttpSource.HttpConfig(), limiter, "www.sec.gov", "GET")
    }
    intercept[IllegalStateException] {
      HttpSource.buildHeaders(HttpSource.HttpConfig(), limiter, "adams-api.nrc.gov", "GET")
    }
  }

  test("PDF URLs get the long read timeout, passed through to the transport (F4)") {
    val cfg = HttpSource.HttpConfig(readTimeoutMs = 60000L, pdfReadTimeoutMs = 180000L)
    assert(HttpSource.readTimeoutFor(cfg, "https://x.test/doc.PDF") == 180000L)
    assert(HttpSource.readTimeoutFor(cfg, "https://www.nrc.gov/docs/ML1234/x") == 180000L)
    assert(HttpSource.readTimeoutFor(cfg, "https://x.test/doc.json") == 60000L)
    var seenTimeout = -1L
    val transport: HttpSource.Transport = (_, _, _, _, readTimeoutMs) => {
      seenTimeout = readTimeoutMs
      (200, Map.empty[String, String], "ok".getBytes)
    }
    val req = Model.FetchRequest("p", 0, "artifact", "GET", "https://x.test/a.pdf", null, "f")
    HttpSource.liveFetch(new RateLimiter, transport, req, 1000, config = cfg)
    assert(seenTimeout == 180000L)
  }

  test("run dir collision gets a numeric suffix") {
    val root = tmpDir("runs")
    val t = java.time.Instant.parse("2026-01-02T03:04:05Z")
    val d1 = Runner.buildRunDir(root, t)
    val d2 = Runner.buildRunDir(root, t)
    assert(d1.endsWith("20260102T030405Z"))
    assert(d2.endsWith("20260102T030405Z-1"))
  }
}

/** SEC shape with one submissions fixture and one CIK per planned item
  * (`sub<i>.json`, CIK 10<i>), so each metadata response has its own url. */
object PerItemSecConnector extends Connector {
  import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
  import Model._
  val name = SecEdgarConnector.name
  val artifactFixture = SecEdgarConnector.artifactFixture
  def url(i: Int): String = f"https://data.sec.gov/submissions/CIK${100 + i}%010d.json"
  def plan(spark: SparkSession, limit: Int): Dataset[PlanItem] = {
    import spark.implicits._
    (0 until limit).map(i => PlanItem(name, i, f"""{"cik10": "${100 + i}%010d"}""")).toDS()
  }
  def metadataRequests(spark: SparkSession, items: Dataset[PlanItem]): Dataset[FetchRequest] = {
    import spark.implicits._
    items.map(it => FetchRequest(name, it.item_index, "metadata", "GET",
      PerItemSecConnector.url(it.item_index), it.params_json, s"sub${it.item_index}.json"))
  }
  def extract(responses: DataFrame): DataFrame = SecEdgarConnector.extract(responses)
}

/** JVM-wide recorder the executor-side transport writes into (local mode
  * shares the JVM, so tests can observe per-partition behavior). */
object HostRecorder {
  val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, Int)]
}
