package graft.engine

import graft.SparkTestBase
import graft.engine.Auth.ApiError
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** `RS_RATE_LIMIT_*` windowed limits (api/limits.rs + cfg/limits.rs,
  * PR-1255): config grammar, fixed-window counter semantics with a fake
  * clock, per-scope isolation + pruning, and end-to-end 429 enforcement
  * through the HTTP façade on the api / ingress / egress paths. */
class RateLimitsSpec extends AnyFunSuite with SparkTestBase {
  import RateLimits._

  // ------------------------------------------------- config grammar

  test("request limit grammar: req suffix, period shorthands, defaults") {
    // cfg/limits.rs tests: hourly default, /s /m /h shorthands
    assert(parseRequestLimit("123") == Some(WindowLimit(123, 3600)))
    assert(parseRequestLimit("100req/s") == Some(WindowLimit(100, 1)))
    assert(parseRequestLimit("120req/m") == Some(WindowLimit(120, 60)))
    assert(parseRequestLimit("100000req/h") == Some(WindowLimit(100000, 3600)))
    assert(parseRequestLimit(" 42req ") == Some(WindowLimit(42, 3600)))
    // full duration literal period
    assert(parseRequestLimit("10req/30s") == Some(WindowLimit(10, 30)))
    // sub-second windows clamp to the 1 s counter granularity
    assert(parseRequestLimit("10req/ms") == Some(WindowLimit(10, 1)))
    // invalid → unset, never a failure
    assert(parseRequestLimit("wrong-format").isEmpty)
    assert(parseRequestLimit("10req/").isEmpty)
    assert(parseRequestLimit("10req/0s").isEmpty)
    assert(parseRequestLimit("").isEmpty)
  }

  test("byte limit grammar: bytesize amounts with SI/binary units") {
    assert(parseByteLimit("4096") == Some(WindowLimit(4096, 3600)))
    assert(parseByteLimit("2KB") == Some(WindowLimit(2000, 3600)))
    assert(parseByteLimit("10GB/h") == Some(WindowLimit(10000000000L, 3600)))
    assert(parseByteLimit("10MB/m") == Some(WindowLimit(10000000, 60)))
    assert(parseByteLimit("512MiB") == Some(WindowLimit(512L * 1024 * 1024, 3600)))
    assert(parseByteLimit("oops").isEmpty)
  }

  test("fromEnv: missing or invalid values leave that limit unset") {
    val l = RateLimits.fromEnv(Map(
      "RS_RATE_LIMIT_API" -> "wrong-format",
      "RS_RATE_LIMIT_EGRESS" -> "512MB/h"))
    assert(l.config.api.isEmpty && l.config.ingress.isEmpty)
    assert(l.config.egress == Some(WindowLimit(512000000, 3600)))
  }

  // --------------------------------------------- counter semantics

  private def limitsAt(config: Config): (RateLimits, Long => Unit) = {
    var now = 100L
    (new RateLimits(config, () => now), (t: Long) => now = t)
  }

  test("window counter: blocks past the limit, rejection does not consume") {
    val (l, _) = limitsAt(Config(api = Some(WindowLimit(2, 3600))))
    l.checkApiRequest(None); l.checkApiRequest(None)
    val e = intercept[ApiError](l.checkApiRequest(None))
    assert(e.status == 429)
    assert(e.message.contains("rate limit for api requests (global) exceeded"))
    assert(e.message.contains("used=3") && e.message.contains("limit=2"))
    assert(e.message.contains("retry_after=3600s"))
    // rejected consumes don't count: used stays at 2, message repeats
    val e2 = intercept[ApiError](l.checkApiRequest(None))
    assert(e2.message.contains("used=3"))
  }

  test("window counter resets after the window turns over") {
    val (l, setNow) = limitsAt(Config(ingress = Some(WindowLimit(10, 10))))
    l.checkIngress(None, 10L)
    intercept[ApiError](l.checkIngress(None, 1L))
    setNow(111L) // past the 10 s window
    l.checkIngress(None, 10L) // fresh window admits again
  }

  test("retry_after counts down within the window") {
    val (l, setNow) = limitsAt(Config(api = Some(WindowLimit(1, 10))))
    l.checkApiRequest(None) // window starts at t=100
    setNow(107L)
    val e = intercept[ApiError](l.checkApiRequest(None))
    assert(e.message.contains("retry_after=3s"))
  }

  test("scopes are independent; byte amounts format human-readable") {
    val (l, _) = limitsAt(Config(egress = Some(WindowLimit(10000000, 3600))))
    l.checkEgress(Some("10.0.0.1"), 10000000L)
    l.checkEgress(Some("10.0.0.2"), 5L) // other client unaffected
    val e = intercept[ApiError](l.checkEgress(Some("10.0.0.1"), 5949L))
    assert(e.message.contains("egress bytes (client 10.0.0.1)"))
    assert(e.message.contains("(10005949)")) // raw count in parens
    assert(e.message.contains("10.0 MB (10000000)"))
    // blank/missing client IP falls back to the global scope
    val e2 = intercept[ApiError] {
      l.checkEgress(None, 10000001L)
    }
    assert(e2.message.contains("(global)"))
    // a blank IP trims to the global scope too — same counter as None
    val e3 = intercept[ApiError](l.checkEgress(Some("  "), 10000001L))
    assert(e3.message.contains("(global)"))
  }

  test("independent counters per kind; unlimited kinds never block") {
    val (l, _) = limitsAt(Config(
      api = Some(WindowLimit(1, 3600)),
      ingress = Some(WindowLimit(3, 3600)),
      egress = Some(WindowLimit(5, 3600))))
    l.checkApiRequest(None); l.checkIngress(None, 3); l.checkEgress(None, 5)
    intercept[ApiError](l.checkApiRequest(None))
    intercept[ApiError](l.checkIngress(None, 1))
    intercept[ApiError](l.checkEgress(None, 1))
    // and a config with no limits at all is a no-op at any volume
    RateLimits.unlimited.checkApiRequest(None)
    RateLimits.unlimited.checkIngress(None, Long.MaxValue)
    RateLimits.unlimited.checkEgress(None, Long.MaxValue)
  }

  test("stale scopes are pruned so the per-IP map stays bounded") {
    val (l, setNow) = limitsAt(Config(api = Some(WindowLimit(1, 10))))
    for (i <- 1 to 100) l.checkApiRequest(Some(s"10.0.0.$i"))
    setNow(200L) // all scopes idle past one window
    l.checkApiRequest(Some("10.1.0.1"))
    // the pruned map admits an old scope afresh (its counter is gone)
    l.checkApiRequest(Some("10.0.0.1"))
  }

  // -------------------------------------------- HTTP enforcement

  test("API limit: third request 429s with retry_after in x-reduct-error") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-rl").toString)
    val api = new HttpApi(store, apiToken = "root",
      env = Map("RS_RATE_LIMIT_API" -> "2req/h"))
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def alive(): HttpResponse[Array[Byte]] = client.send(
        HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1/alive")).GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(alive().statusCode() == 200)
      assert(alive().statusCode() == 200)
      val third = alive()
      assert(third.statusCode() == 429)
      val err = third.headers().firstValue("x-reduct-error").get()
      assert(err.contains("api requests") && err.contains("retry_after="))
    } finally api.stop()
  }

  test("ingress limit: oversized declared write 429s before the body lands") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-rl-in").toString)
    val api = new HttpApi(store, apiToken = "root",
      env = Map("RS_RATE_LIMIT_INGRESS" -> "10/h"))
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def write(path: String, body: Array[Byte]): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/api/v1$path"))
          .header("Authorization", "Bearer root")
          .POST(HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      assert(write("/b/rb", Array.empty).statusCode() == 200) // create bucket
      assert(write("/b/rb/e?ts=1", "tiny".getBytes).statusCode() == 200)
      val over = write("/b/rb/e?ts=2", ("x" * 100).getBytes)
      assert(over.statusCode() == 429)
      assert(over.headers().firstValue("x-reduct-error").get()
        .contains("ingress bytes"))
      // the refused record never landed
      assert(store.existingKeys("rb", Seq(("e", 1L), ("e", 2L))) == Set(("e", 1L)))
    } finally api.stop()
  }

  test("x-reduct-content-length drives ingress admission when " +
      "Content-Length is absent (PR-1411 Fetch-API streaming)") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-rl-alt").toString)
    val api = new HttpApi(store, apiToken = "root",
      env = Map("RS_RATE_LIMIT_INGRESS" -> "10/h"))
    val port = api.start()
    try {
      // a chunked request has no Content-Length; the declared size must
      // come from the alternative header — raw socket, since the JDK
      // client always sets Content-Length for fixed bodies
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write(("POST /api/v1/b/rb/e?ts=5 HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nAuthorization: Bearer root\r\n" +
          "x-reduct-content-length: 100\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n" +
          "0\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        val status = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream)).readLine()
        assert(status.contains("429"), s"expected 429, got: $status")
      } finally sock.close()
      // the bypass is CLOSED: a chunked upload declaring NO length at all
      // is a hard 422 (common.rs:12-19), never admitted at 0 ingress
      // bytes with its body streaming unbounded past the limiter
      val sock2 = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock2.getOutputStream
        out.write(("POST /api/v1/b/rb/e?ts=6 HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nAuthorization: Bearer root\r\n" +
          "Transfer-Encoding: chunked\r\n\r\n" +
          "0\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        val status = new java.io.BufferedReader(
          new java.io.InputStreamReader(sock2.getInputStream)).readLine()
        assert(status.contains("422"), s"expected 422, got: $status")
      } finally sock2.close()
    } finally api.stop()
  }

  test("egress limit: read past the byte budget 429s; HEAD stays free") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-rl-eg").toString)
    val api = new HttpApi(store, apiToken = "root",
      env = Map("RS_RATE_LIMIT_EGRESS" -> "12/h"))
    val port = api.start()
    try {
      val client = HttpClient.newHttpClient()
      def call(method: String, path: String,
          body: Array[Byte] = Array.empty): HttpResponse[Array[Byte]] =
        client.send(HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:$port/api/v1$path"))
          .header("Authorization", "Bearer root")
          .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
          HttpResponse.BodyHandlers.ofByteArray())
      assert(call("POST", "/b/eb").statusCode() == 200)
      assert(call("POST", "/b/eb/e?ts=1", "0123456789".getBytes).statusCode() == 200)
      // HEAD ships no body → no egress spend (read_single.rs empty_body)
      assert(call("HEAD", "/b/eb/e?ts=1").statusCode() == 200)
      assert(call("GET", "/b/eb/e?ts=1").statusCode() == 200) // 10 of 12
      val second = call("GET", "/b/eb/e?ts=1") // would be 20 > 12
      assert(second.statusCode() == 429)
      assert(second.headers().firstValue("x-reduct-error").get()
        .contains("egress bytes"))
    } finally api.stop()
  }
}
