package graft

import java.nio.file.{Files, Paths}
import graft.pipeline.{CaptureSink, HttpSource, Model}
import org.scalatest.funsuite.AnyFunSuite

class CaptureSinkSpec extends AnyFunSuite with SparkSessionTestWrapper {
  import spark.implicits._

  private def fetch(
      idx: Int, stage: String, method: String, body: Array[Byte],
      headers: Map[String, String] = Map("Content-Type" -> "application/json"),
      attempts: Int = 1, status: Int = 200): Model.CapturedFetch = {
    val att = (1 to attempts).map { n =>
      Model.AttemptRecord("prov", idx, stage, method, s"https://x.test/$idx",
        n, if (n < attempts) 500 else status,
        Map("Authorization" -> "Bearer secret-token", "Accept" -> "*/*"),
        headers, null, null)
    }
    Model.CapturedFetch("prov", idx, stage, method, s"https://x.test/$idx",
      null, status, HttpSource.headersJson(headers), body, att)
  }

  test("capture writes the full K4-K8 file set with zero-padded stems") {
    val dir = Files.createTempDirectory("cap").toString
    val jsonBody = """{"a": 1, "b": [1, 2]}""".getBytes("UTF-8")
    CaptureSink.writeCaptures(
      Seq(fetch(0, "metadata", "GET", jsonBody)).toDS(), dir)
    assert(Files.exists(Paths.get(dir, "requests", "0001_get.json")))
    assert(Files.exists(Paths.get(dir, "responses", "0001_get.raw.bin")))
    assert(Files.exists(Paths.get(dir, "responses", "0001_get.meta.json")))
    assert(Files.exists(Paths.get(dir, "responses", "0001_get.json")),
      "json content-type under size cap → pretty capture")
    val raw = Files.readAllBytes(Paths.get(dir, "responses", "0001_get.raw.bin"))
    assert(raw.toSeq == jsonBody.toSeq, "raw capture is byte-exact")
    val pretty = new String(Files.readAllBytes(
      Paths.get(dir, "responses", "0001_get.json")), "UTF-8")
    assert(pretty.contains("\"a\" : 1") || pretty.contains("\"a\": 1"))
  }

  test("retry attempts each get their own numbered capture") {
    val dir = Files.createTempDirectory("cap").toString
    CaptureSink.writeCaptures(
      Seq(fetch(0, "metadata", "GET", "ok".getBytes, attempts = 3)).toDS(), dir)
    assert(Files.exists(Paths.get(dir, "responses", "0001_get.meta.json")))
    assert(Files.exists(Paths.get(dir, "responses", "0002_get.meta.json")))
    assert(Files.exists(Paths.get(dir, "responses", "0003_get.meta.json")))
    val m1 = new String(Files.readAllBytes(
      Paths.get(dir, "responses", "0001_get.meta.json")), "UTF-8")
    assert(m1.contains("\"status_code\": 500"), "failed attempt captured before the 200")
    val m3 = new String(Files.readAllBytes(
      Paths.get(dir, "responses", "0003_get.meta.json")), "UTF-8")
    assert(m3.contains("\"status_code\": 200"))
  }

  test("meta redacts Authorization and records sha256 + byte_count") {
    val dir = Files.createTempDirectory("cap").toString
    val body = "payload-bytes".getBytes("UTF-8")
    CaptureSink.writeCaptures(Seq(fetch(0, "artifact", "GET", body,
      headers = Map("Content-Type" -> "text/html"))).toDS(), dir)
    val meta = new String(Files.readAllBytes(
      Paths.get(dir, "responses", "0001_get.meta.json")), "UTF-8")
    assert(!meta.contains("secret-token"), "Authorization value must be redacted")
    assert(meta.contains(Model.redactedValue))
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(body)
      .map("%02x".format(_)).mkString
    assert(meta.contains(sha))
    assert(meta.contains(s""""byte_count": ${body.length}"""))
    assert(!Files.exists(Paths.get(dir, "responses", "0001_get.json")),
      "non-json content-type → no pretty capture")
  }

  test("gzip capture only beyond the threshold") {
    val dir = Files.createTempDirectory("cap").toString
    val small = "tiny".getBytes
    val big = Array.fill[Byte](2048)('x')
    CaptureSink.writeCaptures(
      Seq(fetch(0, "metadata", "GET", small,
          headers = Map("Content-Type" -> "text/plain")),
        fetch(1, "metadata", "POST", big,
          headers = Map("Content-Type" -> "text/plain"))).toDS(),
      dir, gzipMinBytes = 1024)
    assert(!Files.exists(Paths.get(dir, "responses", "0001_get.raw.bin.gz")))
    assert(Files.exists(Paths.get(dir, "responses", "0002_post.raw.bin.gz")))
    // gzip round-trips to the original bytes
    val gz = new java.util.zip.GZIPInputStream(
      Files.newInputStream(Paths.get(dir, "responses", "0002_post.raw.bin.gz")))
    assert(gz.readAllBytes().toSeq == big.toSeq)
  }

  test("malformed body with json content-type skips pretty capture gracefully") {
    val dir = Files.createTempDirectory("cap").toString
    CaptureSink.writeCaptures(
      Seq(fetch(0, "metadata", "GET", "not json {".getBytes)).toDS(), dir)
    assert(Files.exists(Paths.get(dir, "responses", "0001_get.raw.bin")))
    assert(!Files.exists(Paths.get(dir, "responses", "0001_get.json")))
  }

  test("the capture pass writes the redacted attempts manifest and counts its lines") {
    val dir = Files.createTempDirectory("cap").toString
    val n = CaptureSink.writeCaptures(Seq(
      fetch(0, "metadata", "GET", "ok".getBytes, attempts = 3),
      fetch(1, "artifact", "GET", "doc".getBytes,
        headers = Map("Set-Cookie" -> "sid=1", "Content-Type" -> "text/html"))).toDS(), dir)
    assert(n == 4, "one line per attempt, counted once")
    val lines = new String(Files.readAllBytes(
      Paths.get(dir, "attempts", "part-00000.json")), "UTF-8")
    assert(!lines.contains("secret-token") && !lines.contains("sid=1"))
    assert(!lines.contains("null"), "null fields are omitted")
    val df = spark.read.json(s"$dir/attempts")
    assert(df.count() == 4)
    assert(df.columns.toSet == Set("provider", "item_index", "stage", "method", "url",
      "attempt_number", "status_code", "request_headers", "response_headers"))
    val rows = df.orderBy("item_index", "attempt_number")
      .select("item_index", "attempt_number", "status_code",
        "request_headers.Authorization", "response_headers.Set-Cookie")
      .as[(Long, Long, Long, String, String)].collect().toSeq
    assert(rows.map(r => (r._1, r._2, r._3)) ==
      Seq((0L, 1L, 500L), (0L, 2L, 500L), (0L, 3L, 200L), (1L, 1L, 200L)))
    assert(rows.forall(_._4 == Model.redactedValue))
    assert(rows.last._5 == Model.redactedValue)
  }
}
