package graft.pipeline

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.expr
import Model._

/** The rate-limited, retrying fetch source (reference http_client.py:121–313)
  * as a `mapPartitions` stage over a Dataset of requests.
  *
  * Transport is pluggable so the full retry/rate/caps state machine is
  * testable without network (the reference's own tests inject fake
  * transports, tests/test_capture_hardening.py:60–96). The offline
  * transport resolves `fixtures/<provider>/<fixture_name>` — offline is the
  * default mode in the reference (cli.py:33, http_client.py:75–76). Live
  * mode (reference cli.py:29 `--live`) uses [[jdkTransport]], a
  * `java.net.http` client with redirect-following and per-URL timeouts.
  *
  * Scale design:
  * - requests are repartitioned BY HOST (`parse_url(url, 'HOST')`) so each
  *   host's rate budget is enforced inside a single partition: one host →
  *   one partition → one RateLimiter bucket, budgets hold cluster-wide no
  *   matter how many executors run (reference limiter is process-global;
  *   SURVEY.md §7 hard parts);
  * - retries live INSIDE the partition function — Spark task retries are
  *   too coarse (they would redo the whole partition);
  * - attempts are emitted as rows alongside the response (the observer
  *   pattern, http_client.py:47 → side-output), not callbacks;
  * - idempotency under task re-execution comes from the downstream sinks
  *   (K2 anti-join dedup, K3 write-if-absent), not from the source.
  */
object HttpSource {

  /** (method, url, paramsJson, requestHeaders, readTimeoutMs) →
    * (status, responseHeaders, body); throws for transport errors. */
  type Transport =
    (String, String, String, Map[String, String], Long) => (Int, Map[String, String], Array[Byte])

  /** Live-mode configuration (reference http_client.py:38–63: env-driven
    * credentials, size cap, PDF read timeout). Serializable — ships to
    * executors inside the mapPartitions closure. */
  case class HttpConfig(
      live: Boolean = false,
      secUserAgent: Option[String] = None,
      nrcSubscriptionKey: Option[String] = None,
      connectTimeoutMs: Long = 10000L,
      readTimeoutMs: Long = 60000L,
      pdfReadTimeoutMs: Long = 180000L,
      maxArtifactBytes: Long = 50L * 1024 * 1024)

  object HttpConfig {
    /** Reference env contract: SEC_USER_AGENT, NRC_SUBSCRIPTION_KEY (alias
      * NRC_APS_SUBSCRIPTION_KEY), APP_PDF_READ_TIMEOUT_SECONDS,
      * APP_MAX_ARTIFACT_BYTES (http_client.py:44–63, config.py). */
    def fromEnv(live: Boolean, env: Map[String, String] = sys.env): HttpConfig =
      HttpConfig(
        live = live,
        secUserAgent = env.get("SEC_USER_AGENT").filter(_.nonEmpty),
        nrcSubscriptionKey = env.get("NRC_SUBSCRIPTION_KEY")
          .orElse(env.get("NRC_APS_SUBSCRIPTION_KEY")).filter(_.nonEmpty),
        pdfReadTimeoutMs = env.get("APP_PDF_READ_TIMEOUT_SECONDS").filter(_.nonEmpty)
          .flatMap(s => scala.util.Try((s.toDouble * 1000).toLong).toOption)
          .getOrElse(180000L),
        maxArtifactBytes = env.get("APP_MAX_ARTIFACT_BYTES").filter(_.nonEmpty)
          .flatMap(s => scala.util.Try(s.trim.toLong).toOption)
          .getOrElse(50L * 1024 * 1024))
  }

  val retryAttempts = 3

  /** Retryable = 429, 403, or 5xx (reference http_client.py:111–112). */
  def isRetryableStatus(status: Int): Boolean =
    status == 429 || status == 403 || status >= 500

  /** PDF-URL predicate (F4, reference http_client.py:78–80): *.pdf or an
    * NRC docs URL gets the long read timeout. */
  def isPdfUrl(url: String): Boolean = {
    val lower = url.toLowerCase
    lower.endsWith(".pdf") || lower.contains("www.nrc.gov/docs/")
  }

  def readTimeoutFor(cfg: HttpConfig, url: String): Long =
    if (isPdfUrl(url)) cfg.pdfReadTimeoutMs else cfg.readTimeoutMs

  /** Per-request headers (reference http_client.py:85–107 _build_headers):
    * default UA; sec.gov hosts REQUIRE the operator-identifying UA and take
    * gzip; the APS host requires the subscription key header AND a
    * 3 rps per-(key, host) budget on top of the host budget. Missing
    * credentials fail the job (config error, not data error — reference
    * raises ValueError). */
  def buildHeaders(cfg: HttpConfig, limiter: RateLimiter, host: String,
                   method: String): Map[String, String] = {
    var h = Map("User-Agent" -> "graft/0.1")
    if (host.contains("sec.gov")) {
      val ua = cfg.secUserAgent.getOrElse(throw new IllegalStateException(
        "SEC_USER_AGENT must be set for SEC live requests"))
      h ++= Seq("User-Agent" -> ua, "Accept-Encoding" -> "gzip, deflate")
    }
    if (host == "adams-api.nrc.gov") {
      val key = cfg.nrcSubscriptionKey.getOrElse(throw new IllegalStateException(
        "NRC_SUBSCRIPTION_KEY or NRC_APS_SUBSCRIPTION_KEY must be set"))
      h += ("Ocp-Apim-Subscription-Key" -> key)
      limiter.acquireAps(key, host) // T5: 3 rps per (subscription_key, host)
    }
    if (method.equalsIgnoreCase("POST"))
      h ++= Seq("Accept" -> "application/json", "Content-Type" -> "application/json")
    h
  }

  /** Run the fetch state machine for every request; emits one CapturedFetch
    * per request (status 0 + error attempts if all retries failed). */
  def fetch(
      spark: SparkSession,
      requests: Dataset[FetchRequest],
      transport: Transport,
      offlineFixtureRoot: Option[String],
      maxArtifactBytes: Long = 50L * 1024 * 1024,
      hostParallelism: Int = 1,
      config: HttpConfig = HttpConfig()): Dataset[CapturedFetch] = {
    import spark.implicits._
    val root = offlineFixtureRoot
    // Partition by HOST (not full url): hashing the url scatters one host's
    // requests across partitions, and each partition owns its own
    // RateLimiter — per-host budgets only hold if a host maps to exactly
    // one partition.
    val byHost = requests.repartition(
      math.max(hostParallelism, 1), expr("parse_url(url, 'HOST')"))
    byHost.mapPartitions { it =>
      val limiter = new RateLimiter
      it.map { req =>
        root match {
          case Some(dir) => offlineFetch(dir, req)
          case None      => liveFetch(limiter, transport, req, maxArtifactBytes,
                                      config = config)
        }
      }
    }
  }

  /** Offline path: read fixture file, synthesize 200 + x-fixture header;
    * missing file → status 0 capture (the reference raises, but the
    * Spark-native form dead-letters the row instead of failing the job). */
  def offlineFetch(fixtureRoot: String, req: FetchRequest): CapturedFetch = {
    val path = Paths.get(fixtureRoot, req.provider, req.fixture_name)
    val headers = Map("x-fixture" -> req.fixture_name)
    if (Files.exists(path)) {
      val body = Files.readAllBytes(path)
      CapturedFetch(req.provider, req.item_index, req.stage, req.method, req.url,
        req.params_json, 200, headersJson(headers), body,
        Seq(AttemptRecord(req.provider, req.item_index, req.stage, req.method,
          req.url, 1, 200, Map.empty, headers, null, null)))
    } else {
      CapturedFetch(req.provider, req.item_index, req.stage, req.method, req.url,
        req.params_json, 0, headersJson(Map.empty), Array.emptyByteArray,
        Seq(AttemptRecord(req.provider, req.item_index, req.stage, req.method,
          req.url, 1, 0, Map.empty, Map.empty,
          "FixtureMissing", s"fixture not found: $path")))
    }
  }

  /** Exponential backoff with deterministic jitter (dossier :54–60:
    * exp backoff + jitter; Retry-After authoritative when the server sends
    * it; 404 terminal — 404 is not in the retryable set). Deterministic
    * jitter (hash of url+attempt) keeps re-executed partitions
    * reproducible. */
  def backoffMs(url: String, attempt: Int,
                retryAfterHeader: Option[String],
                nowMs: => Long = System.currentTimeMillis()): Long =
    retryAfterHeader.flatMap(parseRetryAfterMs(_, nowMs)) match {
      case Some(ms) => ms
      case None =>
        val base = math.min(500L << (attempt - 1), 5000L)
        val jitter = math.abs((url + "#" + attempt).hashCode % 100L)
        base + jitter
    }

  /** Retry-After per RFC 9110 §10.2.3, BOTH server forms (dossier SEC-V3:
    * "numeric or HTTP-date value usable as backoff signal"): delta-seconds,
    * or an IMF-fixdate whose delta against `nowMs` is the backoff (a date
    * already in the past clamps to 0 — retry immediately). Unparseable
    * values return None and the caller falls back to exponential backoff,
    * never crashes the fetch. */
  private[graft] def parseRetryAfterMs(v: String, nowMs: Long): Option[Long] = {
    val t = v.trim
    scala.util.Try(t.toLong).toOption.map(s => math.max(0L, s) * 1000L)
      .orElse(scala.util.Try {
        val when = java.time.ZonedDateTime.parse(
          t, java.time.format.DateTimeFormatter.RFC_1123_DATE_TIME)
        math.max(0L, when.toInstant.toEpochMilli - nowMs)
      }.toOption)
  }

  /** Live path: rate-limit per host (plus per-subscription-key for APS),
    * 3 attempts, retryable-status and transport-error retry with backoff,
    * size cap as a dead-letter condition (http_client.py:163–216).
    * `sleeper` is injectable so tests observe the schedule instead of
    * waiting it out. Request headers are recorded on every attempt (the
    * capture sinks redact sensitive keys, X1). */
  def liveFetch(
      limiter: RateLimiter,
      transport: Transport,
      req: FetchRequest,
      maxArtifactBytes: Long,
      sleeper: Long => Unit = Thread.sleep,
      config: HttpConfig = HttpConfig()): CapturedFetch = {
    val host = hostOf(req.url)
    val readTimeoutMs = readTimeoutFor(config, req.url)
    var attempts = Vector.empty[AttemptRecord]
    var result: Option[CapturedFetch] = None
    var n = 0
    while (n < retryAttempts && result.isEmpty) {
      n += 1
      limiter.acquireHost(host)
      // headers are (re)built per attempt: APS per-key budget applies to
      // every request sent, including retries (http_client.py:96–100)
      val reqHeaders = buildHeaders(config, limiter, host, req.method)
      try {
        val (status, respHeaders, body) =
          transport(req.method, req.url, req.params_json, reqHeaders, readTimeoutMs)
        attempts :+= AttemptRecord(req.provider, req.item_index, req.stage,
          req.method, req.url, n, status, reqHeaders, respHeaders, null, null)
        if (isRetryableStatus(status)) {
          if (n < retryAttempts) {
            val retryAfter = respHeaders.collectFirst {
              case (k, v) if k.equalsIgnoreCase("retry-after") => v
            }
            sleeper(backoffMs(req.url, n, retryAfter))
          }
          if (n == retryAttempts)
            result = Some(CapturedFetch(req.provider, req.item_index, req.stage,
              req.method, req.url, req.params_json, status,
              headersJson(respHeaders), body, attempts))
        } else if (body.length > maxArtifactBytes) {
          // F5: cap violation fails the ROW, not the job
          result = Some(CapturedFetch(req.provider, req.item_index, req.stage,
            req.method, req.url, req.params_json, 0, headersJson(respHeaders),
            Array.emptyByteArray,
            attempts.dropRight(1) :+ attempts.last.copy(
              error_type = "SizeCapExceeded",
              error_message = s"body ${body.length} > cap $maxArtifactBytes")))
        } else {
          result = Some(CapturedFetch(req.provider, req.item_index, req.stage,
            req.method, req.url, req.params_json, status,
            headersJson(respHeaders), body, attempts))
        }
      } catch {
        case e: IllegalStateException => throw e // config error: fail the job
        case e: Exception =>
          attempts :+= AttemptRecord(req.provider, req.item_index, req.stage,
            req.method, req.url, n, 0, reqHeaders, Map.empty,
            e.getClass.getSimpleName, String.valueOf(e.getMessage))
          if (n < retryAttempts) sleeper(backoffMs(req.url, n, None))
          if (n == retryAttempts)
            result = Some(CapturedFetch(req.provider, req.item_index, req.stage,
              req.method, req.url, req.params_json, 0, headersJson(Map.empty),
              Array.emptyByteArray, attempts))
      }
    }
    result.get
  }

  /** Default live transport on `java.net.http` (reference uses httpx with
    * follow_redirects=True, http_client.py:63): redirects followed, connect
    * timeout fixed, read timeout per request (PDF URLs get the long one),
    * GET params appended as a query string, POST body sent as JSON. One
    * client per JVM — java.net.http.HttpClient is thread-safe. */
  def jdkTransport(connectTimeoutMs: Long = 10000L): Transport = {
    (method, url, paramsJson, headers, readTimeoutMs) => {
      import java.net.http.{HttpClient => JHttpClient, HttpRequest, HttpResponse}
      val client = JdkClientHolder.client(connectTimeoutMs)
      val target =
        if (!method.equalsIgnoreCase("POST") && paramsJson != null && paramsJson.nonEmpty)
          appendQuery(url, paramsJson)
        else url
      var b = HttpRequest.newBuilder(java.net.URI.create(target))
        .timeout(java.time.Duration.ofMillis(readTimeoutMs))
      headers.foreach { case (k, v) => b = b.header(k, v) }
      b = if (method.equalsIgnoreCase("POST"))
        b.POST(HttpRequest.BodyPublishers.ofString(
          if (paramsJson == null) "{}" else paramsJson))
      else b.GET()
      val resp = client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      val rawHeaders = {
        import scala.jdk.CollectionConverters._
        resp.headers().map().asScala.map {
          case (k, vs) => k -> vs.asScala.mkString(", ")
        }.toMap
      }
      // buildHeaders advertises Accept-Encoding: gzip for sec.gov, and the
      // reference's httpx transparently decompresses (http_client.py:91) —
      // java.net.http does NOT, so decode here or every downstream consumer
      // (JSON extract, sha256, blob store) would see compressed bytes.
      val (respHeaders, body) = decodeBody(rawHeaders, resp.body())
      (resp.statusCode(), respHeaders, body)
    }
  }

  /** Decompress a gzip/deflate response body per Content-Encoding and drop
    * the now-inaccurate Content-Encoding/Content-Length headers, matching
    * httpx's transparent-decompression contract. Unknown encodings (and
    * bodies that fail to decode) pass through untouched.
    *
    * DELIBERATE DIVERGENCE from httpx: a corrupt gzip/deflate body raises
    * `DecodingError` there, failing the whole fetch; here it passes through
    * with Content-Encoding intact, so the attempt survives, the raw bytes
    * are preserved for the capture sinks, and the row fails later at parse
    * time (F6 dead-letter) instead of the fetch stage — fail-the-row beats
    * fail-the-fetch in a set-at-a-time engine. The retained header marks
    * the body as still-encoded for downstream inspection. */
  private[graft] def decodeBody(
      headers: Map[String, String],
      body: Array[Byte]): (Map[String, String], Array[Byte]) = {
    val encoding = headers.collectFirst {
      case (k, v) if k.equalsIgnoreCase("content-encoding") => v.trim.toLowerCase
    }
    def strip(h: Map[String, String]) = h.filterNot { case (k, _) =>
      k.equalsIgnoreCase("content-encoding") || k.equalsIgnoreCase("content-length")
    }
    encoding match {
      case Some("gzip") =>
        try (strip(headers), readAll(new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(body))))
        catch { case _: java.io.IOException => (headers, body) }
      case Some("deflate") =>
        // servers send both zlib-wrapped and raw deflate; try zlib first
        try (strip(headers), readAll(new java.util.zip.InflaterInputStream(
          new java.io.ByteArrayInputStream(body))))
        catch {
          case _: java.io.IOException =>
            try (strip(headers), readAll(new java.util.zip.InflaterInputStream(
              new java.io.ByteArrayInputStream(body),
              new java.util.zip.Inflater(true))))
            catch { case _: java.io.IOException => (headers, body) }
        }
      case _ => (headers, body)
    }
  }

  private def readAll(in: java.io.InputStream): Array[Byte] =
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      out.toByteArray
    } finally in.close()

  /** Flat JSON object → query string (reference relies on httpx params=;
    * the Spark-side FetchRequest carries them as params_json). */
  private[pipeline] def appendQuery(url: String, paramsJson: String): String = {
    val node = Json.mapper.readTree(paramsJson)
    if (node == null || !node.isObject) url
    else {
      import scala.jdk.CollectionConverters._
      val enc = (s: String) =>
        java.net.URLEncoder.encode(s, java.nio.charset.StandardCharsets.UTF_8)
      val qs = node.properties().asScala.map { e =>
        val v = if (e.getValue.isTextual) e.getValue.asText() else e.getValue.toString
        s"${enc(e.getKey)}=${enc(v)}"
      }.mkString("&")
      if (qs.isEmpty) url
      else if (url.contains("?")) s"$url&$qs"
      else s"$url?$qs"
    }
  }

  private object JdkClientHolder {
    // keyed by connect timeout: callers with different timeouts must not
    // silently share a client built for someone else's timeout
    private val cached =
      new java.util.concurrent.ConcurrentHashMap[Long, java.net.http.HttpClient]()
    def client(connectTimeoutMs: Long): java.net.http.HttpClient =
      cached.computeIfAbsent(connectTimeoutMs, ms =>
        java.net.http.HttpClient.newBuilder()
          .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
          .connectTimeout(java.time.Duration.ofMillis(ms))
          .build())
  }

  def hostOf(url: String): String =
    try new java.net.URI(url).getHost match { case null => ""; case h => h }
    catch { case _: Exception => "" }

  /** Deterministic sorted-key JSON encoding of headers (reference
    * json.dumps(sort_keys=True), http_client.py:152). */
  def headersJson(m: Map[String, String]): String =
    m.toSeq.sortBy(_._1)
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ", ", "}")
}
