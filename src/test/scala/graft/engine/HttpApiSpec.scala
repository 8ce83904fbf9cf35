package graft.engine

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** End-to-end REST façade drive: write/read/query/remove over real HTTP
  * against the Spark-backed store, with token auth enforced — the shape of
  * integration_tests/api/entry_api/query_test.py. */
class HttpApiSpec extends AnyFunSuite with SparkTestBase {

  private lazy val store =
    new BucketStore(spark, Files.createTempDirectory("graft-http").toString)
  private lazy val api = new HttpApi(store, apiToken = "root-token")
  private lazy val port = { api.start(); api.boundPort }
  private lazy val client = HttpClient.newHttpClient()

  private def req(method: String, path: String, body: Array[Byte] = Array.empty,
      token: String = "root-token",
      headers: Seq[(String, String)] = Seq.empty): HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1$path"))
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    if (token.nonEmpty) b = b.header("Authorization", s"Bearer $token")
    for ((k, v) <- headers) b = b.header(k, v)
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def jsonOf(r: HttpResponse[Array[Byte]]): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(new String(r.body(), "UTF-8"))

  test("alive, auth rejection, and token lifecycle") {
    assert(req("HEAD", "/alive", token = "").statusCode() == 200)
    // every response advertises the API generation (SDKs gate on it)
    val probe = req("GET", "/alive", token = "")
    assert(probe.headers().firstValue("x-reduct-api").get() == HttpApi.ApiVersion)
    assert(probe.headers().firstValue("Server").get().startsWith("graft "))
    assert(req("GET", "/info", token = "").statusCode() == 401)
    assert(req("GET", "/info", token = "wrong").statusCode() == 401)
    assert(req("GET", "/info").statusCode() == 200)
    // create a scoped token and verify its powers
    val resp = req("POST", "/tokens/reader",
      """{"permissions": {"read": ["b1"]}}""".getBytes)
    assert(resp.statusCode() == 200)
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val readerTok = (jsonOf(resp) \ "value").extract[String]
    assert(readerTok.startsWith("reader-"))
    assert(req("GET", "/tokens", token = readerTok).statusCode() == 403)
    val me = jsonOf(req("GET", "/me", token = readerTok))
    assert((me \ "name").extract[String] == "reader")
  }

  test("bucket + entry IO round trip over HTTP") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/b1").statusCode() == 200)
    assert(req("POST", "/b/b1").statusCode() == 409, "duplicate bucket")
    // write two records with labels
    assert(req("POST", "/b/b1/sensor%2Fa?ts=1000", "hello".getBytes,
      headers = Seq("Content-Type" -> "text/plain",
        "x-reduct-label-k" -> "v1")).statusCode() == 200)
    assert(req("POST", "/b/b1/sensor%2Fa?ts=2000", "world".getBytes,
      headers = Seq("Content-Type" -> "text/plain",
        "x-reduct-label-k" -> "v2")).statusCode() == 200)
    // duplicate ts → 409
    assert(req("POST", "/b/b1/sensor%2Fa?ts=1000", "dup".getBytes)
      .statusCode() == 409)
    // read back by ts and latest
    val r1 = req("GET", "/b/b1/sensor%2Fa?ts=1000")
    assert(r1.statusCode() == 200 && new String(r1.body()) == "hello")
    assert(r1.headers().firstValue("x-reduct-label-k").get() == "v1")
    assert(r1.headers().firstValue("x-reduct-time").get() == "1000")
    val latest = req("GET", "/b/b1/sensor%2Fa")
    assert(new String(latest.body()) == "world")
    // label PATCH: set one, remove via empty value
    assert(req("PATCH", "/b/b1/sensor%2Fa?ts=1000",
      headers = Seq("x-reduct-label-new" -> "x", "x-reduct-label-k" -> ""))
      .statusCode() == 200)
    val patched = req("GET", "/b/b1/sensor%2Fa?ts=1000")
    assert(patched.headers().firstValue("x-reduct-label-new").get() == "x")
    assert(patched.headers().firstValue("x-reduct-label-k").isEmpty)
    assert(new String(patched.body()) == "hello", "payload untouched by PATCH")
    // bucket info reflects the entry, with EntryInfo size/block_count
    // (entry_api.rs:9-23; parquet files stand in for blocks)
    val info = jsonOf(req("GET", "/b/b1"))
    assert((info \ "info" \ "record_count").extract[Long] == 2)
    assert((info \ "entries")(0) \ "name" == org.json4s.JString("sensor/a"))
    assert(((info \ "entries")(0) \ "size").extract[Long] > 0)
    assert(((info \ "entries")(0) \ "block_count").extract[Long] > 0)
    // server list sees the bucket
    val buckets = jsonOf(req("GET", "/list")) \ "buckets"
    assert(buckets.children.exists(b => (b \ "name").extract[String] == "b1"))
    // server info carries uptime + instance-default bucket settings
    // (server_api.rs:42-65)
    val sinfo = jsonOf(req("GET", "/info"))
    assert((sinfo \ "uptime").extract[Long] >= 0)
    assert((sinfo \ "defaults" \ "bucket" \ "quota_type").extract[String]
      .nonEmpty)
  }

  test("query cursor: open, batched read with v1 headers, delete query") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/b2").statusCode() == 200)
    for (i <- 0 until 10)
      assert(req("POST", s"/b/b2/e?ts=${i * 100}", s"p$i".getBytes,
        headers = Seq("x-reduct-label-i" -> i.toString)).statusCode() == 200)
    // conditional query: labels >= 5
    val open = req("POST", "/b/b2/e/q",
      """{"when": {"$gte": [{"$cast": ["&i", "int"]}, 5]}}""".getBytes)
    assert(open.statusCode() == 200)
    val qid = (jsonOf(open) \ "id").extract[Long]
    val batch = req("GET", s"/b/b2/e/batch?q=$qid")
    assert(batch.statusCode() == 200)
    val times = batch.headers().map().keySet().toArray.map(_.toString)
      .filter(_.toLowerCase.startsWith("x-reduct-time-"))
    assert(times.length == 5)
    val h500 = batch.headers().firstValue("x-reduct-time-500").get()
    val parsed = BatchWire.parseBatchedHeader(h500)
    assert(parsed.labels("i") == "5" && parsed.contentLength == 2)
    assert(new String(batch.body()) == "p5p6p7p8p9", "payloads in ts order")
    // cursor drained → 204
    assert(req("GET", s"/b/b2/e/batch?q=$qid").statusCode() == 204)
    assert(req("GET", "/b/b2/e/batch?q=99999").statusCode() == 404)
    // sequential single-record cursor reads (?q=) + #batch_records paging
    val open2 = req("POST", "/b/b2/e/q",
      """{"when": {"#batch_records": 3, "$gte": [{"$cast": ["&i", "int"]}, 5]}}""".getBytes)
    val qid2 = (jsonOf(open2) \ "id").extract[Long]
    val single = req("GET", s"/b/b2/e?q=$qid2")
    assert(single.statusCode() == 200 && new String(single.body()) == "p5")
    assert(single.headers().firstValue("x-reduct-time").get() == "500")
    // remaining 4 matches page by the directive's 3-record cap
    val page1 = req("GET", s"/b/b2/e/batch?q=$qid2")
    assert(page1.statusCode() == 200)
    assert(new String(page1.body()) == "p6p7p8")
    assert(page1.headers().firstValue("x-reduct-last").get() == "false")
    val page2 = req("GET", s"/b/b2/e/batch?q=$qid2")
    assert(new String(page2.body()) == "p9")
    // remove query deletes every other record
    val rm = req("DELETE", "/b/b2/e/q", """{"when": {"$each_n": 2}}""".getBytes)
    assert(rm.statusCode() == 200)
    assert((jsonOf(rm) \ "removed_records").extract[Long] == 5)
    // unauthorized writer cannot delete
    val ro = req("POST", "/tokens/ro2", """{"permissions": {"read": ["b2"]}}""".getBytes)
    val roTok = (jsonOf(ro) \ "value").extract[String]
    assert(req("DELETE", "/b/b2/e/q", "{}".getBytes, token = roTok).statusCode() == 403)
  }

  test("legacy param queries and POST query_type dispatch") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/lq").statusCode() == 200)
    for (i <- 0 until 6)
      assert(req("POST", s"/b/lq/e?ts=${i * 100}", s"p$i".getBytes)
        .statusCode() == 200)
    // GET /b/:bucket/:entry/q?start&stop (read_query.rs:16-42)
    val open = req("GET", "/b/lq/e/q?start=100&stop=400&ttl=60")
    assert(open.statusCode() == 200)
    val qid = (jsonOf(open) \ "id").extract[Long]
    val batch = req("GET", s"/b/lq/e/batch?q=$qid")
    assert(new String(batch.body()) == "p1p2p3", "start incl, stop excl")
    assert(req("GET", "/b/lq/e/q?start=abc").statusCode() == 422)
    assert(req("GET", "/b/lq/e/q?continuous=nope").statusCode() == 422)
    // POST query_type REMOVE requires write access + non-empty query
    // (entry.rs:131-137, remove_query_post.rs:40-49)
    val ro = req("POST", "/tokens/rolq",
      """{"permissions": {"read": ["lq"]}}""".getBytes)
    val roTok = (jsonOf(ro) \ "value").extract[String]
    assert(req("POST", "/b/lq/e/q",
      """{"query_type": "REMOVE", "start": 0}""".getBytes,
      token = roTok).statusCode() == 403, "REMOVE needs write access")
    assert(req("POST", "/b/lq/e/q",
      """{"query_type": "REMOVE"}""".getBytes).statusCode() == 422,
      "empty REMOVE query rejected")
    // a POST-body query with no "entries" field scopes to the URL entry
    // (json4s yields Some(Nil) for a missing Seq key — regression guard)
    assert(req("POST", "/b/lq/other?ts=50", "zz".getBytes).statusCode() == 200)
    val scoped = req("POST", "/b/lq/e/q", """{"start": 0}""".getBytes)
    assert(scoped.statusCode() == 200)
    val scopedBatch = req("GET",
      s"/b/lq/e/batch?q=${(jsonOf(scoped) \ "id").extract[Long]}")
    assert(new String(scopedBatch.body()) == "p0p1p2p3p4p5",
      "POST query must not leak records from sibling entries")
    assert(req("POST", "/b/lq/e/q",
      """{"query_type": "BOGUS"}""".getBytes).statusCode() == 422)
    val rm = req("POST", "/b/lq/e/q",
      """{"query_type": "REMOVE", "when": {"$lt": ["$timestamp", 200]}}""".getBytes)
    assert(rm.statusCode() == 200)
    assert((jsonOf(rm) \ "removed_records").extract[Long] == 2)
    // DELETE with params only (remove_query.rs:20-58); no params → 422
    assert(req("DELETE", "/b/lq/e/q").statusCode() == 422)
    val rm2 = req("DELETE", "/b/lq/e/q?start=200&stop=400")
    assert(rm2.statusCode() == 200)
    assert((jsonOf(rm2) \ "removed_records").extract[Long] == 2)
    // survivors: ts 400, 500
    val count = req("GET", "/b/lq/e/q?start=0")
    val qid2 = (jsonOf(count) \ "id").extract[Long]
    val left = req("GET", s"/b/lq/e/batch?q=$qid2")
    assert(new String(left.body()) == "p4p5")
  }

  test("renames and signed query links") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/ren1/e1?ts=100", "x".getBytes,
      headers = Seq("x-reduct-label-v" -> "1")).statusCode() == 200)
    // entry rename
    assert(req("PUT", "/b/ren1/e1/rename",
      """{"new_name": "e2"}""".getBytes).statusCode() == 200)
    assert(req("GET", "/b/ren1/e2?ts=100").statusCode() == 200)
    assert(req("GET", "/b/ren1/e1?ts=100").statusCode() == 404)
    // bucket rename
    assert(req("PUT", "/b/ren1/rename",
      """{"new_name": "ren2"}""".getBytes).statusCode() == 200)
    assert(req("GET", "/b/ren2/e2?ts=100").statusCode() == 200)
    assert(req("PUT", "/b/ren1/rename", """{"new_name": "x"}""".getBytes)
      .statusCode() == 404)
    // signed link: STRICT record identity is required (PR-1334) —
    // creation without record_entry/record_timestamp is a 422
    val noId = req("POST", "/links/share.json",
      """{"bucket": "ren2", "entry": "e2", "query": {}}""".getBytes)
    assert(noId.statusCode() == 422)
    assert(noId.headers().firstValue("x-reduct-error").get()
      .contains("record_entry"))
    // create with identity, resolve WITHOUT a bearer token, reject tamper
    val mk = req("POST", "/links/share.json",
      ("""{"bucket": "ren2", "entry": "e2", "record_entry": "e2",""" +
        """ "record_timestamp": 100, "query": {}}""").getBytes)
    assert(mk.statusCode() == 200)
    val link = (jsonOf(mk) \ "link").extract[String]
    val resolved = req("GET", link.stripPrefix("/api/v1"), token = "")
    assert(resolved.statusCode() == 200)
    assert(new String(resolved.body()) == "x")
    assert(resolved.headers().firstValue("x-reduct-time").get() == "100")
    assert(req("GET", link.stripPrefix("/api/v1") + "x", token = "")
      .statusCode() == 401)
    // Range request → 206 with RFC Content-Range (PR-1329); the payload
    // is "x" (1 byte), so bytes=0-0 is the whole record
    val ranged = req("GET", link.stripPrefix("/api/v1"), token = "",
      headers = Seq("Range" -> "bytes=0-0"))
    assert(ranged.statusCode() == 206)
    assert(ranged.headers().firstValue("Content-Range").get() == "bytes 0-0/1")
    assert(new String(ranged.body()) == "x")
    val unsat = req("GET", link.stripPrefix("/api/v1"), token = "",
      headers = Seq("Range" -> "bytes=5-9"))
    assert(unsat.statusCode() == 416)
    assert(unsat.headers().firstValue("Content-Range").get() == "bytes */1")
    // RFC 9110 §14.2: an invalid/unsupported Range MUST be ignored —
    // 200 with the full body, never 416/422. Reversed, multi-range, and
    // a value too long for a long all fall back.
    for (bad <- Seq("bytes=5-2", "bytes=0-0,2-3", "bytes=-",
        "bytes=99999999999999999999-", "chars=0-0")) {
      val ignored = req("GET", link.stripPrefix("/api/v1"), token = "",
        headers = Seq("Range" -> bad))
      assert(ignored.statusCode() == 200, s"Range '$bad' must be ignored")
      assert(new String(ignored.body()) == "x")
    }
    // a zero-length suffix is syntactically valid but unsatisfiable
    val sufZero = req("GET", link.stripPrefix("/api/v1"), token = "",
      headers = Seq("Range" -> "bytes=-0"))
    assert(sufZero.statusCode() == 416)
    // a link whose record does not match its query resolves to 404 —
    // identity is WITHIN the query results, not a bare point read
    val mkMiss = req("POST", "/links/share.json",
      ("""{"bucket": "ren2", "entry": "e2", "record_entry": "e2",""" +
        """ "record_timestamp": 100, "query": {"start": 101}}""").getBytes)
    val missLink = (jsonOf(mkMiss) \ "link").extract[String]
    assert(req("GET", missLink.stripPrefix("/api/v1"), token = "")
      .statusCode() == 404)
    // base_url prefixes the returned link (PR-1031); invalid → 422
    val mkBase = req("POST", "/links/share.json",
      ("""{"bucket": "ren2", "entry": "e2", "record_entry": "e2",""" +
        """ "record_timestamp": 100, "query": {},""" +
        """ "base_url": "https://example.com/store/"}""").getBytes)
    assert((jsonOf(mkBase) \ "link").extract[String]
      .startsWith("https://example.com/store/api/v1/links/"))
    assert(req("POST", "/links/share.json",
      ("""{"bucket": "ren2", "entry": "e2", "record_entry": "e2",""" +
        """ "record_timestamp": 100, "query": {}, "base_url": "::bad::"}""")
        .getBytes).statusCode() == 422)
  }

  test("batched remove by time headers and HEAD metadata reads") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    for (i <- 0 until 4)
      assert(req("POST", s"/b/rb/e?ts=${i * 10}", s"x$i".getBytes).statusCode() == 200)
    // HEAD single: headers only, no body
    val head = req("HEAD", "/b/rb/e?ts=10")
    assert(head.statusCode() == 200 && head.body().isEmpty)
    assert(head.headers().firstValue("x-reduct-time").get() == "10")
    // batched remove: two hits, one miss
    val rm = req("DELETE", "/b/rb/e/batch", headers = Seq(
      "x-reduct-time-0" -> "0", "x-reduct-time-20" -> "0",
      "x-reduct-time-999" -> "0"))
    assert(rm.statusCode() == 200)
    assert((jsonOf(rm) \ "removed_records").extract[Long] == 2)
    assert(rm.headers().firstValue("x-reduct-error-999").get().startsWith("404"))
    assert(req("GET", "/b/rb/e?ts=0").statusCode() == 404)
    assert(req("GET", "/b/rb/e?ts=10").statusCode() == 200)
  }

  test("replication and lifecycle management routes") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // seed a source bucket
    for (i <- 0 until 6)
      assert(req("POST", s"/b/src1/logs?ts=${i * 1000}", s"r$i".getBytes,
        headers = Seq("x-reduct-label-sev" -> (if (i % 2 == 0) "info" else "error")))
        .statusCode() == 200)
    // replication CRUD + run: copy only errors into bucket 'dst1'
    assert(req("POST", "/replications/errs",
      """{"src_bucket": "src1", "dst_bucket": "dst1", "dst_prefix": "rep/",
          "compression": "zstd",
          "when": {"$eq": ["&sev", "error"]}}""".getBytes).statusCode() == 200)
    assert(req("POST", "/replications/errs", "{}".getBytes).statusCode() == 409)
    // GET returns the reference's nested FullReplicationInfo shape
    // (replication_api.rs:98-105): info + settings + diagnostics
    val full = jsonOf(req("GET", "/replications/errs"))
    assert((full \ "info" \ "name").extract[String] == "errs")
    assert((full \ "info" \ "is_active").extract[Boolean])
    // nothing replicated yet → the whole source scope is pending
    assert((full \ "info" \ "pending_records").extract[Long] == 6)
    // transfer compression (replication_api.rs:28-36): echoed, validated,
    // defaulted to none
    assert((full \ "settings" \ "compression").extract[String] == "zstd")
    assert(req("POST", "/replications/lz4",
      """{"compression": "lz4"}""".getBytes).statusCode() == 422)
    // src_bucket is REQUIRED (replication_api.rs:42 non-optional; a
    // src-less same-store replication would re-ingest its own dst)
    assert(req("POST", "/replications/plain", "{}".getBytes).statusCode() == 422)
    assert(req("POST", "/replications/plain",
      """{"src_bucket": "src1"}""".getBytes).statusCode() == 200)
    assert((jsonOf(req("GET", "/replications/plain")) \ "settings" \
      "compression").extract[String] == "none")
    assert(req("DELETE", "/replications/plain").statusCode() == 200)
    val listed = jsonOf(req("GET", "/replications")) \ "replications"
    assert(listed.children.map(r => (r \ "name").extract[String]) == List("errs"))
    assert((listed.children.head \ "mode").extract[String] == "enabled")
    assert(req("POST", "/replications/errs/run").statusCode() == 200)
    val rep = req("GET", "/b/dst1/rep%2Flogs?ts=1000")
    assert(rep.statusCode() == 200 && new String(rep.body()) == "r1")
    // PR-1539: the never-POSTed destination bucket exists after the run —
    // info responds and /list includes it
    assert(req("GET", "/b/dst1").statusCode() == 200,
      "replication auto-creates its destination bucket")
    assert((jsonOf(req("GET", "/list")) \ "buckets").children
      .exists(b => (b \ "name").extract[String] == "dst1"))
    // the run tallied the replicated records into hourly diagnostics
    assert((jsonOf(req("GET", "/replications/errs")) \ "diagnostics" \
      "hourly" \ "ok").extract[Long] == 3)
    // the drain advanced the backlog high-water mark → pending drops to 0
    assert((jsonOf(req("GET", "/replications/errs")) \ "info" \
      "pending_records").extract[Long] == 0)
    // a new source write reappears as backlog, and the next run drains it
    assert(req("POST", "/b/src1/logs?ts=9000", "r9".getBytes,
      headers = Seq("x-reduct-label-sev" -> "error")).statusCode() == 200)
    assert((jsonOf(req("GET", "/replications/errs")) \ "info" \
      "pending_records").extract[Long] == 1)
    assert(req("POST", "/replications/errs/run").statusCode() == 200)
    assert((jsonOf(req("GET", "/replications/errs")) \ "info" \
      "pending_records").extract[Long] == 0)
    assert(new String(req("GET", "/b/dst1/rep%2Flogs?ts=9000").body()) == "r9")
    // paused mode: run is a no-op for new data
    assert(req("PATCH", "/replications/errs/mode",
      """{"mode": "paused"}""".getBytes).statusCode() == 200)
    assert((jsonOf(req("GET", "/replications/errs")) \ "info" \ "mode")
      .extract[String] == "paused")
    // lifecycle CRUD + dry-run + run (delete everything older than now)
    assert(req("POST", "/lifecycle/purge",
      """{"older_than_s": 0, "action": "delete", "dry_run": true}""".getBytes)
      .statusCode() == 200)
    val dry = jsonOf(req("POST", "/lifecycle/purge/run?now_us=100000000"))
    assert((dry \ "matched").extract[Long] > 0 && !(dry \ "applied").extract[Boolean])
    assert(req("PUT", "/lifecycle/purge",
      """{"older_than_s": 0, "action": "delete",
          "when": {"$eq": ["&sev", "info"]}}""".getBytes).statusCode() == 200)
    val run = jsonOf(req("POST", "/lifecycle/purge/run?now_us=100000000"))
    assert((run \ "applied").extract[Boolean])
    assert(req("GET", "/b/src1/logs?ts=0").statusCode() == 404, "info deleted")
    assert(req("GET", "/b/src1/logs?ts=1000").statusCode() == 200, "error kept")
    assert(req("DELETE", "/lifecycle/purge").statusCode() == 200)
    assert(req("GET", "/lifecycle/purge").statusCode() == 404)
    // lifecycle mode: disabled policies don't run; dry_run only counts
    assert(req("POST", "/lifecycle/lc2",
      """{"older_than_s": 0, "action": "delete", "mode": "disabled"}""".getBytes)
      .statusCode() == 200)
    assert((jsonOf(req("GET", "/lifecycle/lc2")) \ "info" \ "mode")
      .extract[String] == "disabled")
    // reference-schema create: type + older_than/interval duration strings
    // + bucket scope (lifecycle_api.rs:41-63), FullLifecycleInfo echo
    assert(req("POST", "/lifecycle/ref1",
      """{"type": "delete", "older_than": "30d", "interval": "1h",
          "bucket": "src1"}""".getBytes).statusCode() == 200)
    val refFull = jsonOf(req("GET", "/lifecycle/ref1"))
    assert((refFull \ "settings" \ "older_than").extract[String] == "2592000s")
    assert((refFull \ "settings" \ "interval").extract[String] == "3600s")
    assert((refFull \ "settings" \ "bucket").extract[String] == "src1")
    assert((refFull \ "info" \ "type").extract[String] == "delete")
    assert((refFull \ "info" \ "last_run") == org.json4s.JNull)
    assert(req("POST", "/lifecycle/ref2",
      """{"type": "delete", "older_than": "nonsense"}""".getBytes)
      .statusCode() == 422)
    val lcList = jsonOf(req("GET", "/lifecycle")) \ "lifecycles"
    assert(lcList.children.map(r => (r \ "name").extract[String])
      .contains("ref1"))
    assert(req("DELETE", "/lifecycle/ref1").statusCode() == 200)
    val off = jsonOf(req("POST", "/lifecycle/lc2/run?now_us=100000000"))
    assert((off \ "matched").extract[Long] == 0 &&
      !(off \ "applied").extract[Boolean], "disabled policy is a no-op")
    assert(req("PATCH", "/lifecycle/lc2/mode",
      """{"mode": "dry_run"}""".getBytes).statusCode() == 200)
    val preview = jsonOf(req("POST", "/lifecycle/lc2/run?now_us=100000000"))
    assert((preview \ "matched").extract[Long] > 0 &&
      !(preview \ "applied").extract[Boolean], "dry_run counts, applies nothing")
    assert(req("PATCH", "/lifecycle/lc2/mode",
      """{"mode": "bogus"}""".getBytes).statusCode() == 422)
    // runs left $system diagnostics events (payload/{replication,
    // lifecycle}.rs): success replication event with the written tally,
    // lifecycle event with the policy name and processed count
    import org.apache.spark.sql.functions.{col => c}
    val sysEvents = store.table()
      .filter(c("bucket") === "$system" &&
        (c("entry").startsWith("replications/") ||
          c("entry").startsWith("lifecycle/")))
      .collect()
      .map(r => (r.getAs[String]("entry"),
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
    assert(sysEvents.exists { case (e, p) =>
      e.endsWith("/errs") && p.contains("\"written_records\":3") &&
        p.contains("\"status\":200")
    }, s"replication event: ${sysEvents.toSeq}")
    assert(sysEvents.exists { case (e, p) =>
      e.endsWith("/purge") && p.contains("\"event_type\":\"lifecycle\"") &&
        p.contains("\"action_type\":\"delete\"")
    }, s"lifecycle event: ${sysEvents.toSeq}")
  }

  test("token rotate re-issues the secret and keeps the grants") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val created = jsonOf(req("POST", "/tokens/spin",
      """{"permissions": {"read": ["b1"]}}""".getBytes))
    val v1 = (created \ "value").extract[String]
    val rotated = jsonOf(req("POST", "/tokens/spin/rotate"))
    val v2 = (rotated \ "value").extract[String]
    assert(v2.startsWith("spin-") && v2 != v1, "fresh secret")
    assert(req("GET", "/me", token = v1).statusCode() == 401, "old secret dead")
    val me = jsonOf(req("GET", "/me", token = v2))
    assert((me \ "name").extract[String] == "spin", "new secret works")
    assert((me \ "permissions" \ "read").extract[Seq[String]] == Seq("b1"),
      "grants survive rotation")
    assert(req("POST", "/tokens/nosuch/rotate").statusCode() == 404)
  }

  test("only_metadata cursors answer record headers with an empty body on " +
      "v1 /batch and v2 /io, bounded and streaming; each header reports " +
      "content length 0") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import scala.jdk.CollectionConverters._
    assert(req("POST", "/b/meta").statusCode() == 200)
    for (i <- 1 to 4)
      assert(req("POST", s"/b/meta/small?ts=${i * 10}", s"p$i".getBytes,
        headers = Seq("x-reduct-label-i" -> i.toString)).statusCode() == 200)
    // 9 MB: over the 8 MiB driver-read cap, so its cursors stream
    val big = Array.fill[Byte](1000000)(7)
    for (i <- 1 to 9)
      assert(req("POST", s"/b/meta/big?ts=${i * 10}", big,
        headers = Seq("x-reduct-label-i" -> i.toString)).statusCode() == 200)
    def headersOf(r: HttpResponse[Array[Byte]]): Seq[(String, String)] =
      r.headers().map().asScala.toSeq.flatMap { case (k, vs) => vs.asScala.map(v => (k.toLowerCase, v)) }
    def isLast(r: HttpResponse[Array[Byte]]) =
      r.statusCode() == 204 || r.headers().firstValue("x-reduct-last").orElse("") == "true"
    /** Every page of a cursor: (ts → header) and the body bytes. */
    def drain(open: => HttpResponse[Array[Byte]])(page: Long => HttpResponse[Array[Byte]])(
        records: HttpResponse[Array[Byte]] => Seq[(Long, BatchWire.RecordHeader)])
        : (Map[Long, BatchWire.RecordHeader], Long) = {
      val o = open
      assert(o.statusCode() == 200, new String(o.body()))
      val qid = (jsonOf(o) \ "id").extract[Long]
      var out = Map.empty[Long, BatchWire.RecordHeader]
      var bytes = 0L
      var done = false
      while (!done) {
        val p = page(qid)
        assert(p.statusCode() == 200 || p.statusCode() == 204, new String(p.body()))
        if (p.statusCode() == 200) { out ++= records(p); bytes += p.body().length }
        done = isLast(p)
      }
      (out, bytes)
    }
    def v1(entry: String, meta: Boolean) =
      drain(req("POST", s"/b/meta/$entry/q", s"""{"only_metadata": $meta}""".getBytes))(
        qid => req("GET", s"/b/meta/$entry/batch?q=$qid")) { p =>
        headersOf(p).collect { case (k, v) if k.startsWith(BatchWire.TimeHeaderPrefix) =>
          k.stripPrefix(BatchWire.TimeHeaderPrefix).toLong -> BatchWire.parseBatchedHeader(v) }
      }
    def v2(entry: String, meta: Boolean) =
      drain(req("POST", "/io/meta/q",
        s"""{"entries": ["$entry"], "only_metadata": $meta}""".getBytes))(
        qid => req("GET", "/io/meta/read", headers = Seq(BatchWire.QueryIdHeader -> qid.toString))) { p =>
        BatchWire.decodeBatchV2(headersOf(p)).map(r => r.timestamp -> r.header)
      }
    for ((entry, n, size) <- Seq(("small", 4, 2L), ("big", 9, big.length.toLong));
        (wire, read) <- Seq[(String, (String, Boolean) => (Map[Long, BatchWire.RecordHeader], Long))](
          "v1" -> (v1 _), "v2" -> (v2 _))) {
      val (full, fullBytes) = read(entry, false)
      val (meta, metaBytes) = read(entry, true)
      assert(full.keySet == (1 to n).map(_ * 10L).toSet, s"$wire $entry full cursor: ${full.keySet}")
      assert(meta.keySet == full.keySet, s"$wire $entry: only_metadata timestamps ${meta.keySet}")
      assert(meta.map { case (ts, h) => ts -> h.labels } == full.map { case (ts, h) => ts -> h.labels })
      assert(full.values.forall(_.contentLength == size) && fullBytes == n * size)
      assert(meta.values.forall(_.contentLength == 0L),
        s"$wire $entry: only_metadata headers report content length 0: $meta")
      assert(metaBytes == 0L, s"$wire $entry: an only_metadata page carries no payload bytes")
    }
  }

  test("io API v2: batch write, multi-entry query/read, remove, update") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // encode a multi-entry batch with BatchWire and ship it over the wire
    val recs = Seq(
      ("ea", 1000L, BatchWire.RecordHeader(2, "text/plain", Map("k" -> "a"))),
      ("ea", 2000L, BatchWire.RecordHeader(2, "text/plain", Map("k" -> "b"))),
      ("eb", 1500L, BatchWire.RecordHeader(2, "application/json", Map("j" -> "x"))))
    val wireHeaders = BatchWire.encodeBatchV2(recs)
    val body = "r1r2r3".getBytes
    val w = req("POST", "/io/b3/write", body, headers = wireHeaders)
    assert(w.statusCode() == 200, new String(w.body()))
    // multi-entry conditional query over both entries
    val open = req("POST", "/io/b3/q", """{"entries": ["*"]}""".getBytes)
    assert(open.statusCode() == 200)
    val qid = (jsonOf(open) \ "id").extract[Long]
    val read = req("GET", "/io/b3/read",
      headers = Seq(BatchWire.QueryIdHeader -> qid.toString))
    assert(read.statusCode() == 200)
    import scala.jdk.CollectionConverters._
    val respHeaders = read.headers().map().asScala.toSeq.flatMap {
      case (k, vs) => vs.asScala.map(v => (k.toLowerCase, v)) }
    val decoded = BatchWire.decodeBatchV2(respHeaders)
    assert(decoded.map(r => (r.entry, r.timestamp)).toSet ==
      Set(("ea", 1000L), ("ea", 2000L), ("eb", 1500L)))
    assert(decoded.find(_.timestamp == 1500L).get.header.labels == Map("j" -> "x"))
    // records arrive ts-ordered within the concatenated body
    assert(new String(read.body()) == "r1r3r2")
    // HEAD drains a page too: same delta headers, empty body (io.rs:24)
    val open2 = req("POST", "/io/b3/q", """{"entries": ["*"]}""".getBytes)
    val qid2 = (jsonOf(open2) \ "id").extract[Long]
    val headRead = req("HEAD", "/io/b3/read",
      headers = Seq(BatchWire.QueryIdHeader -> qid2.toString))
    assert(headRead.statusCode() == 200)
    assert(headRead.headers().firstValue(BatchWire.EntriesHeader).isPresent)
    assert(headRead.body().isEmpty, "HEAD must not carry a body")
    // update labels per record (k= removes, new=v adds)
    val updHeaders = Seq(
      BatchWire.EntriesHeader -> BatchWire.makeEntriesHeader(Seq("ea")),
      BatchWire.StartTsHeader -> "1000",
      BatchWire.makeBatchedHeaderName(0, 0) -> "k=,mark=yes")
    val upd = req("PATCH", "/io/b3/update", headers = updHeaders)
    assert(upd.statusCode() == 200, new String(upd.body()))
    assert((jsonOf(upd) \ "updated_records").extract[Long] == 1)
    val after = req("GET", "/b/b3/ea?ts=1000")
    assert(after.headers().firstValue("x-reduct-label-mark").get() == "yes")
    assert(after.headers().firstValue("x-reduct-label-k").isEmpty)
    // remove one existing + one missing record
    val rmHeaders = Seq(
      BatchWire.EntriesHeader -> BatchWire.makeEntriesHeader(Seq("ea")),
      BatchWire.StartTsHeader -> "1000",
      BatchWire.makeBatchedHeaderName(0, 0) -> "0",
      BatchWire.makeBatchedHeaderName(0, 77) -> "0")
    val rm = req("DELETE", "/io/b3/remove", headers = rmHeaders)
    assert(rm.statusCode() == 200)
    assert((jsonOf(rm) \ "removed_records").extract[Long] == 1)
    assert(rm.headers().firstValue("x-reduct-error-0-77").get()
      .startsWith("404"))
    assert(req("GET", "/b/b3/ea?ts=1000").statusCode() == 404)
    assert(req("GET", "/b/b3/ea?ts=2000").statusCode() == 200)
  }

  test("write preflight: full data volume answers 507, not a raw IOException") {
    assert(req("POST", "/b/b507").statusCode() == 200)
    val saved = store.freeSpaceFn
    try {
      store.freeSpaceFn = () => 3L
      val r = req("POST", "/b/b507/e?ts=1000", "too big for the disk".getBytes)
      assert(r.statusCode() == 507, new String(r.body(), "UTF-8"))
      assert(new String(r.body(), "UTF-8").contains("free disk space"))
    } finally store.freeSpaceFn = saved
    // space restored → the same write is admitted
    assert(req("POST", "/b/b507/e?ts=1000",
      "too big for the disk".getBytes).statusCode() == 200)
  }

  test("IP allowlist sees the forwarded client, not the local proxy") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // TokenCreateRequest carries ip_allowlist (token_api.rs:50-59)
    val created = jsonOf(req("POST", "/tokens/proxy-client",
      """{"permissions": {"full_access": true},
          "ip_allowlist": ["203.0.113.77"]}""".getBytes))
    val tok = (created \ "value").extract[String]
    assert((jsonOf(req("GET", "/tokens/proxy-client")) \ "ip_allowlist")
      .extract[Seq[String]] == Seq("203.0.113.77"))
    // peer is 127.0.0.1 (a trusted proxy) but carries no forward header →
    // the allowlist sees the loopback peer and rejects
    assert(req("GET", "/info", token = tok).statusCode() == 401)
    // RFC 7239 Forwarded names the allowed client → admitted
    assert(req("GET", "/info", token = tok,
      headers = Seq("Forwarded" -> "for=203.0.113.77;proto=https"))
      .statusCode() == 200)
    // legacy X-Forwarded-For works too; first hop is the client
    assert(req("GET", "/info", token = tok,
      headers = Seq("X-Forwarded-For" -> "203.0.113.77, 198.51.100.1"))
      .statusCode() == 200)
    // a different forwarded client stays rejected
    assert(req("GET", "/info", token = tok,
      headers = Seq("Forwarded" -> "for=198.51.100.99"))
      .statusCode() == 401)
    assert(req("DELETE", "/tokens/proxy-client").statusCode() == 200)
  }

  test("GET single racing label-rewrite swaps never 5xxs (ADVICE r12)") {
    // recordAt must build its frame INSIDE readConsistent: a plan listed
    // pre-swap re-hits renamed-away files on retry with the epoch already
    // settled, surfacing the race as a 500 to the client
    val raceStore = new BucketStore(spark,
      Files.createTempDirectory("graft-http-race").toString)
    val raceApi = new HttpApi(raceStore, apiToken = "root-token")
    raceApi.start()
    try {
      val p = raceApi.boundPort
      def rreq(method: String, path: String,
          headers: Seq[(String, String)] = Seq.empty): HttpResponse[Array[Byte]] = {
        var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1$path"))
          .method(method, HttpRequest.BodyPublishers.ofByteArray("x".getBytes))
          .header("Authorization", "Bearer root-token")
        for ((k, v) <- headers) b = b.header(k, v)
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      assert(rreq("POST", "/b/rb").statusCode() == 200)
      assert(rreq("POST", "/b/rb/e?ts=1000").statusCode() == 200)
      import scala.concurrent.{Await, ExecutionContext, Future}
      import scala.concurrent.duration._
      implicit val ec: ExecutionContext = ExecutionContext.global
      @volatile var done = false
      val reader = Future {
        val codes = Seq.newBuilder[Int]
        while (!done) {
          codes += rreq("GET", "/b/rb/e?ts=1000").statusCode()
          codes += rreq("GET", "/b/rb/e").statusCode() // latest path too
        }
        codes.result()
      }
      try
        for (i <- 1 to 3) // each PATCH swaps the record's partition dir
          assert(rreq("PATCH", "/b/rb/e?ts=1000",
            headers = Seq(s"x-reduct-label-k" -> s"v$i")).statusCode() == 200)
      finally done = true
      val codes = Await.result(reader, 180.seconds)
      assert(codes.nonEmpty && codes.forall(_ == 200),
        s"reads racing a label rewrite must settle, got ${codes.distinct}")
    } finally raceApi.stop()
  }

  test("bucket/entry name conventions are 422'd like the reference (engine.rs:571-605)") {
    // bucket: [A-Za-z0-9_-] only, at create and rename
    assert(req("POST", "/b/bad%20name").statusCode() == 422)
    assert(req("POST", "/b/bad.dot").statusCode() == 422)
    assert(req("POST", "/b/ok_Name-1").statusCode() == 200)
    assert(req("PUT", "/b/ok_Name-1/rename",
      """{"new_name": "bad/slash"}""".getBytes).statusCode() == 422)
    // entry: [A-Za-z0-9_/-] segments, $meta attachment ok. (The router
    // normalizes away empty path segments before dispatch, so the
    // reference's empty-segment 422 is unreachable over this wire —
    // `a//b` arrives as `a/b`; the charset rule is the observable part.)
    assert(req("POST", "/b/ok_Name-1/bad.dot?ts=1", "x".getBytes)
      .statusCode() == 422)
    assert(req("POST", "/b/ok_Name-1/a%2Fb?ts=1", "x".getBytes)
      .statusCode() == 200)
    assert(req("POST", "/b/ok_Name-1/a%2Fb%2F%24meta?ts=1", "m".getBytes)
      .statusCode() == 200, "the $meta attachment form is legal")
    assert(req("DELETE", "/b/ok_Name-1").statusCode() == 200)
  }

  test("query opens past the cursor cap 429; live cursors keep draining (ADVICE r14)") {
    val capStore = new BucketStore(spark,
      Files.createTempDirectory("graft-http-cap").toString)
    val capApi = new HttpApi(capStore, apiToken = "root-token", maxCursors = 2)
    capApi.start()
    try {
      val p = capApi.boundPort
      def creq(method: String, path: String,
          body: Array[Byte] = Array.empty): HttpResponse[Array[Byte]] = {
        val b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1$path"))
          .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
          .header("Authorization", "Bearer root-token")
        client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      assert(creq("POST", "/b/cb").statusCode() == 200)
      assert(creq("POST", "/b/cb/e?ts=1000", "x".getBytes).statusCode() == 200)
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      // two long-TTL cursors fill the cap
      val id1 = (jsonOf(creq("POST", "/b/cb/e/q",
        """{"ttl": 3600}""".getBytes)) \ "id").extract[Long]
      val id2 = (jsonOf(creq("POST", "/b/cb/e/q",
        """{"ttl": 3600}""".getBytes)) \ "id").extract[Long]
      assert(id2 > id1)
      // the flood is rejected with 429 — NOT admitted by evicting a
      // victim's live cursor (the pre-r15 LRU eviction primitive)
      for (_ <- 1 to 5)
        assert(creq("POST", "/b/cb/e/q", """{"ttl": 3600}""".getBytes)
          .statusCode() == 429)
      // the earliest cursor still drains its query
      assert(creq("GET", s"/b/cb/e/batch?q=$id1").statusCode() == 200)
    } finally capApi.stop()
  }

  test("list stays bounded at 10k entries: counts computed distributed") {
    import org.apache.spark.sql.functions._
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val bigStore = new BucketStore(spark,
      Files.createTempDirectory("graft-http-big").toString)
    val bigApi = new HttpApi(bigStore, apiToken = "root-token")
    bigApi.start()
    try {
      // 10k visible entries + 50 meta entries (10 of whose parents are
      // already visible, 40 fresh) — entry_count must be 10k + 40
      val rows = spark.range(10000).select(
        lit("big").as("bucket"),
        concat(lit("e"), col("id")).as("entry"),
        col("id").as("ts"),
        map(lit("k"), lit("v")).as("labels"),
        typedLit(Map.empty[String, String]).as("computed_labels"),
        lit("text/plain").as("content_type"),
        lit(graft.core.Records.State.Finished).as("state"),
        lit("x".getBytes).as("payload"))
      val meta = spark.range(50).select(
        lit("big").as("bucket"),
        concat(lit("e"), col("id") * 1000, lit("/$meta")).as("entry"),
        (col("id") + 20000).as("ts"),
        map(lit("k"), lit("v")).as("labels"),
        typedLit(Map.empty[String, String]).as("computed_labels"),
        lit("text/plain").as("content_type"),
        lit(graft.core.Records.State.Finished).as("state"),
        lit("m".getBytes).as("payload"))
      // e0*1000 for id<10 → e0..e9000 exist as visible; id>=10 →
      // e10000.. don't → 40 fresh parents
      val tW0 = System.nanoTime()
      bigStore.write(rows.unionByName(meta))
      println(f"[probe] big write: ${(System.nanoTime()-tW0)/1e9}%.1f s")
      val tL0 = System.nanoTime()
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${bigApi.boundPort}/api/v1/list"))
          .header("Authorization", "Bearer root-token").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      println(f"[probe] first /list: ${(System.nanoTime()-tL0)/1e9}%.1f s")
      // its phases: the last catalog build's base-table listing (partition
      // discovery over the entry dirs) and footer fold; the rest of the
      // request is mostly the bucket size walk
      val fold = bigStore.lastCatalogBuild
      println(f"[probe] first /list catalog: listing ${fold.listNanos / 1e9}%.1f s, " +
        f"footer fold ${fold.foldNanos / 1e9}%.1f s (${fold.files} files, " +
        s"${fold.footersRead} footers read)")
      assert(r.statusCode() == 200)
      // the response must carry COUNTS, not 10k entry names
      assert(r.body().length < 4096,
        s"/list response must stay bounded: ${r.body().length} bytes")
      val buckets = (jsonOf(r) \ "buckets").children
      val big = buckets.find(x => (x \ "name").extract[String] == "big").get
      assert((big \ "entry_count").extract[Long] == 10040L)
      assert((big \ "oldest_record").extract[Long] == 0L)
      assert((big \ "latest_record").extract[Long] == 9999L)
      // repeat /list in a version-stable window must serve the cached
      // catalog — a fresh read pays partition discovery over all 10k
      // entry dirs (~30 s), so the cache is what makes /list serveable.
      // /info and bucket info read the same catalog: no extra build.
      def getReq(path: String) = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${bigApi.boundPort}/api/v1$path"))
          .header("Authorization", "Bearer root-token").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val stable = (1 to 3).exists { _ =>
        val (v0, a0) = (bigStore.dataVersion, bigStore.catalogBuilds.get())
        for (_ <- 1 to 3) assert(getReq("/list").statusCode() == 200)
        assert(getReq("/info").statusCode() == 200)
        assert(getReq("/b/big").statusCode() == 200)
        val (v1, a1) = (bigStore.dataVersion, bigStore.catalogBuilds.get())
        v0 == v1 && {
          // <= 1: the first call in the window may legitimately recompute
          // if a racing mutation voided the previous fill (same contract
          // as the /info pin below); a broken cache would show 5
          assert(a1 - a0 <= 1,
            s"/list x3, /info and GET /b/big in a version-stable window " +
              s"built the catalog ${a1 - a0}x")
          true
        }
      }
      assert(stable, "no version-stable window in 3 attempts (flush storm?)")
    } finally bigApi.stop()
  }

  test("info folds per-bucket rows at many buckets (distributive, like " +
      "/list)") {
    import org.apache.spark.sql.functions._
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val manyStore = new BucketStore(spark,
      Files.createTempDirectory("graft-http-many").toString)
    val manyApi = new HttpApi(manyStore, apiToken = "root-token")
    manyApi.start()
    try {
      // 300 buckets, one record each, plus one meta-only record that
      // must not count into history
      val rows = spark.range(300).select(
        concat(lit("b"), col("id")).as("bucket"),
        lit("e").as("entry"),
        (col("id") + 5).as("ts"),
        map(lit("k"), lit("v")).as("labels"),
        typedLit(Map.empty[String, String]).as("computed_labels"),
        lit("text/plain").as("content_type"),
        lit(graft.core.Records.State.Finished).as("state"),
        lit("x".getBytes).as("payload"))
      val meta = spark.range(1).select(
        lit("b0").as("bucket"), lit("e/$meta").as("entry"),
        lit(99999L).as("ts"),
        map(lit("k"), lit("v")).as("labels"),
        typedLit(Map.empty[String, String]).as("computed_labels"),
        lit("text/plain").as("content_type"),
        lit(graft.core.Records.State.Finished).as("state"),
        lit("m".getBytes).as("payload"))
      manyStore.write(rows.unionByName(meta))
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${manyApi.boundPort}/api/v1/info"))
          .header("Authorization", "Bearer root-token").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.statusCode() == 200)
      assert(r.body().length < 2048,
        s"/info response must stay bounded: ${r.body().length} bytes")
      val j = jsonOf(r)
      // 300 data buckets + the auto-provisioned $system bucket (PR-1557)
      assert((j \ "bucket_count").extract[Long] == 301L)
      assert((j \ "oldest_record").extract[Long] == 5L)
      assert((j \ "latest_record").extract[Long] == 304L,
        "meta-only records must not stretch the history")
      // /info's usage figure: at most ONE catalog build (a cache refill)
      // across repeated calls within a version-stable window — serving
      // cost independent of file count between mutations (verdict r12
      // #6). The 60 s usage-flush timer legitimately mutates the store,
      // so retry until a window isn't raced by it.
      def get(path: String) = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${manyApi.boundPort}/api/v1$path"))
          .header("Authorization", "Bearer root-token").GET().build(),
        HttpResponse.BodyHandlers.ofByteArray())
      val stable = (1 to 3).exists { _ =>
        val (v0, w0) = (manyStore.dataVersion, manyStore.catalogBuilds.get())
        for (_ <- 1 to 4) assert(get("/info").statusCode() == 200)
        val usage = (jsonOf(get("/info")) \ "usage").extract[Long]
        val sizes = (jsonOf(get("/list")) \ "buckets").children
          .map(b => (b \ "size").extract[Long]).sum
        val (v1, w1) = (manyStore.dataVersion, manyStore.catalogBuilds.get())
        v0 == v1 && {
          assert(w1 - w0 <= 1,
            s"4 /info calls in a version-stable window built the catalog " +
              s"${w1 - w0}x — the 300-bucket tree must be served from the version cache")
          assert(usage == sizes && usage > 0L,
            s"/info usage $usage must equal the sum of the /list sizes $sizes")
          true
        }
      }
      assert(stable, "no version-stable window in 3 attempts (flush storm?)")
    } finally manyApi.stop()
  }

  test("meta-only buckets normalize history to 0/0 (PR-1534); list fields") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/mnorm").statusCode() == 200)
    // only the system $meta entry holds a record → invisible in bucket
    // info; its parent surfaces as an EMPTY entry and history is 0/0
    // (bucket.rs test_bucket_info_normalizes_history_when_only_meta_
    // entries_have_records)
    assert(req("POST", "/b/mnorm/entry%2F%24meta?ts=777", "m".getBytes)
      .statusCode() == 200)
    val info = jsonOf(req("GET", "/b/mnorm"))
    assert((info \ "info" \ "oldest_record").extract[Long] == 0)
    assert((info \ "info" \ "latest_record").extract[Long] == 0)
    assert((info \ "info" \ "entry_count").extract[Long] == 1)
    assert((info \ "info" \ "record_count").extract[Long] == 0)
    val ents = (info \ "entries").children
    assert(ents.length == 1)
    assert((ents.head \ "name").extract[String] == "entry")
    assert((ents.head \ "record_count").extract[Long] == 0)
    // a real record on the parent un-normalizes the history
    assert(req("POST", "/b/mnorm/entry?ts=555", "x".getBytes)
      .statusCode() == 200)
    val info2 = jsonOf(req("GET", "/b/mnorm"))
    assert((info2 \ "info" \ "oldest_record").extract[Long] == 555)
    assert((info2 \ "info" \ "latest_record").extract[Long] == 555)
    assert((info2 \ "info" \ "entry_count").extract[Long] == 1)
    assert((info2 \ "info" \ "record_count").extract[Long] == 1)
    // /list wires the fields correctly (entry_count = entries, NOT the
    // record count), excludes meta rows from history, and includes
    // created-but-empty buckets with zeroed history
    assert(req("POST", "/b/mempty").statusCode() == 200)
    val buckets = (jsonOf(req("GET", "/list")) \ "buckets").children
    def b(name: String) =
      buckets.find(x => (x \ "name").extract[String] == name).get
    assert((b("mnorm") \ "entry_count").extract[Long] == 1)
    assert((b("mnorm") \ "oldest_record").extract[Long] == 555)
    assert((b("mnorm") \ "latest_record").extract[Long] == 555)
    assert((b("mempty") \ "entry_count").extract[Long] == 0)
    assert((b("mempty") \ "oldest_record").extract[Long] == 0)
    assert((b("mempty") \ "latest_record").extract[Long] == 0)
  }

  test("/list, bucket info, /info and the usage event agree: one entry " +
      "catalog") {
    import org.apache.spark.sql.functions.col
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val xStore = new BucketStore(spark,
      Files.createTempDirectory("graft-http-catalog").toString)
    val xApi = new HttpApi(xStore, apiToken = "root-token")
    val xPort = xApi.start()
    def xreq(method: String, path: String, body: Array[Byte] = Array.empty) =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$xPort/api/v1$path"))
        .header("Authorization", "Bearer root-token")
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    try {
      for (b <- Seq("mixed", "metaonly", "empty"))
        assert(xreq("POST", s"/b/$b").statusCode() == 200)
      // visible entries a, b; `$meta` entries older and newer than every
      // visible record; the meta-only parent p; the bare `$meta` root
      for ((bucket, entry, ts) <- Seq(("mixed", "a", 10L), ("mixed", "a", 20L),
          ("mixed", "b", 15L), ("mixed", "a%2F%24meta", 5L),
          ("mixed", "p%2F%24meta", 100L), ("mixed", "%24meta", 1L),
          ("metaonly", "q%2F%24meta", 7L)))
        assert(xreq("POST", s"/b/$bucket/$entry?ts=$ts", "x".getBytes)
          .statusCode() == 200)
      val listed = (jsonOf(xreq("GET", "/list")) \ "buckets").children
      def figures(j: org.json4s.JValue) = Seq("entry_count", "oldest_record",
        "latest_record").map(f => (j \ f).extract[Long])
      val fromList = Seq("mixed", "metaonly", "empty").map { b =>
        b -> figures(listed.find(x => (x \ "name").extract[String] == b).get)
      }.toMap
      for (b <- fromList.keys)
        assert(figures(jsonOf(xreq("GET", s"/b/$b")) \ "info") == fromList(b),
          s"/list and GET /b/$b disagree")
      assert(fromList("mixed") == Seq(3L, 10L, 20L)) // a, b + empty p
      assert(fromList("metaonly") == Seq(1L, 0L, 0L))
      assert(fromList("empty") == Seq(0L, 0L, 0L))
      // /info folds the per-bucket history of every bucket that has one
      val withHistory = listed.filter(x => (x \ "latest_record").extract[Long] > 0)
      val info = jsonOf(xreq("GET", "/info"))
      assert((info \ "oldest_record").extract[Long] ==
        withHistory.map(x => (x \ "oldest_record").extract[Long]).min)
      assert((info \ "latest_record").extract[Long] ==
        withHistory.map(x => (x \ "latest_record").extract[Long]).max)
      // the usage snapshot counts every stored entry and record of the
      // catalog, `$meta` ones included (the 60 s timer may add an event
      // of its own: the data did not change, so each carries the same)
      val mixed = xStore.entryCatalog()("mixed").all
      assert(mixed.size == 5 && mixed.values.map(_.records).sum == 6L)
      xApi.flushTelemetryNow()
      val payloads = xStore.table()
        .filter(col("bucket") === "$system" &&
          col("entry").startsWith("usage/") && col("entry").endsWith("/mixed"))
        .collect().map(r => new String(r.getAs[Array[Byte]]("payload"), "UTF-8"))
      assert(payloads.nonEmpty && payloads.forall(p =>
        p.contains("\"record_count\":6") && p.contains("\"entry_count\":5")),
        payloads.toSeq)
    } finally { xApi.stop(); xStore.close() }
  }

  test("replication delete emits final diagnostics; removed fields 422") {
    import org.apache.spark.sql.functions.col
    // removed deprecated fields are rejected loudly (PR-1555/1497/1414):
    // upstream deleted them from ReplicationSettings, so a stale client
    // must get 422, not a silently-ignored filter
    for (f <- Seq("each_n", "each_s", "include", "exclude"))
      assert(req("POST", "/replications/stale",
        s"""{"src_bucket": "src1", "$f": 2}""".getBytes).statusCode() == 422,
        s"removed field '$f' must be rejected")
    assert(req("GET", "/replications/stale").statusCode() == 404,
      "rejected create must not register the replication")
    // `limit` removed from QueryEntry (PR-1548): query opens reject it
    assert(req("POST", "/b/delsrc").statusCode() == 200)
    assert(req("POST", "/b/delsrc/e?ts=1", "x".getBytes).statusCode() == 200)
    assert(req("POST", "/b/delsrc/e/q",
      """{"query_type": "QUERY", "limit": 5}""".getBytes).statusCode() == 422)
    // deleting a replication emits the task's closing $system diagnostics
    // (PR-1572), carrying the hourly tallies at stop time
    assert(req("POST", "/replications/fin",
      """{"src_bucket": "delsrc", "dst_bucket": "dfin"}""".getBytes)
      .statusCode() == 200)
    assert(req("POST", "/replications/fin/run").statusCode() == 200)
    assert(req("DELETE", "/replications/fin").statusCode() == 200)
    val fin = store.table()
      .filter(col("bucket") === "$system" &&
        col("entry").startsWith("replications/") &&
        col("entry").endsWith("/fin"))
      .orderBy(col("ts").desc).collect()
    assert(fin.nonEmpty, "final diagnostics event must exist after deletion")
    val p = new String(fin.head.getAs[Array[Byte]]("payload"), "UTF-8")
    assert(p.contains("\"event_type\":\"replication_final\""), p)
    assert(p.contains("\"ok\":1"), p) // the single run replicated 1 record
    assert(req("GET", "/replications/fin").statusCode() == 404)
  }

  test("usage flush: $system events carry entry/record parity labels") {
    import org.apache.spark.sql.functions.col
    // traffic: 3 records into 2 entries written, 2 entries read back.
    // The api's 60 s usage timer can fire mid-traffic and split the
    // interval across two events (a real flake under a loaded box), so
    // each attempt drains first (shrinking the window to the traffic
    // itself) and a raced attempt retries with a fresh bucket.
    def perBucketEvents(bkt: String) = store.table()
      .filter(col("bucket") === "$system" &&
        col("entry").startsWith("usage/") && col("entry").endsWith(s"/$bkt"))
      .orderBy(col("ts").desc).collect()
    def attempt(bkt: String): Boolean = {
      assert(req("POST", s"/b/$bkt").statusCode() == 200)
      api.flushTelemetryNow() // fresh interval for the traffic below
      assert(req("POST", s"/b/$bkt/e1?ts=100", "aaaa".getBytes).statusCode() == 200)
      assert(req("POST", s"/b/$bkt/e1?ts=200", "bbbb".getBytes).statusCode() == 200)
      assert(req("POST", s"/b/$bkt/e2?ts=300", "cc".getBytes).statusCode() == 200)
      assert(req("GET", s"/b/$bkt/e1?ts=100").statusCode() == 200)
      assert(req("GET", s"/b/$bkt/e2?ts=300").statusCode() == 200)
      api.flushTelemetryNow()
      val ev = perBucketEvents(bkt)
      assert(ev.nonEmpty, "per-bucket usage event must exist")
      // PR-1474 parity: distinct entries written/read + stored record
      // count, pinned as queryable labels
      val labels = ev.head.getAs[collection.Map[String, String]]("labels")
      val payload = new String(ev.head.getAs[Array[Byte]]("payload"), "UTF-8")
      payload.contains("\"event_type\":\"usage_stats\"") &&
        labels("written_entries") == "2" && labels("read_entries") == "2" &&
        labels("record_count") == "3" &&
        payload.contains("\"records_written\":3") &&
        payload.contains("\"records_read\":2") &&
        payload.contains("\"write_bytes\":10") // 4 + 4 + 2
    }
    val bkt = (1 to 3).map(i => s"ub$i").find(attempt)
      .getOrElse(fail("usage interval raced by the flush timer 3x in a row"))
    val ev = perBucketEvents(bkt)
    // instance total exists, is emitted BEFORE the per-bucket events
    // (reference ordering: usage_snapshot emits the total first, so its
    // monotone $system ts is strictly smaller), and its storage side
    // includes $-prefixed system buckets (engine.rs:238 walks ALL
    // buckets for the total, filtering $ names only per-bucket) — the
    // $system bucket itself holds records by now, so the total's
    // record_count must exceed the sum over user buckets alone
    def latestTotal() = store.table()
      .filter(col("bucket") === "$system" &&
        col("entry").startsWith("usage/") && col("entry").endsWith("/total"))
      .orderBy(col("ts").desc).collect()
    val totalEv = latestTotal()
    assert(totalEv.nonEmpty, "instance-total usage event must exist")
    assert(totalEv.head.getAs[Long]("ts") < ev.head.getAs[Long]("ts"),
      "total event must precede per-bucket events")
    api.flushTelemetryNow()
    // the total's storage side includes $-prefixed system buckets
    // (engine.rs:238 walks ALL buckets for the total, filtering $ names
    // only per-bucket): by the second flush, $system itself holds the
    // first flush's event records, so the total record_count must
    // exceed the user-bucket records alone (the test bucket has 3)
    val totalPayload = new String(
      latestTotal().head.getAs[Array[Byte]]("payload"), "UTF-8")
    val sysRecords = store.table()
      .filter(col("bucket") === "$system").count()
    val totalCount = """"record_count":(\d+)""".r
      .findFirstMatchIn(totalPayload).get.group(1).toLong
    assert(sysRecords > 0L && totalCount > 3L,
      s"total must include $$system storage, got record_count=$totalCount")
    val again = perBucketEvents(bkt).head
    val l2 = again.getAs[collection.Map[String, String]]("labels")
    assert(l2("written_entries") == "0" && l2("read_entries") == "0",
      s"counters must drain: $l2")
    assert(l2("record_count") == "3", "storage snapshot persists")
  }

  test("usage read counters: batched, continuous re-arm and io-v2 drains count") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.apache.spark.sql.functions.col
    api.flushTelemetryNow() // clean interval: earlier tests' traffic drains now
    assert(req("POST", "/b/urc").statusCode() == 200)
    assert(req("POST", "/b/urc/e1?ts=100", "aaaa".getBytes).statusCode() == 200)
    assert(req("POST", "/b/urc/e1?ts=200", "bb".getBytes).statusCode() == 200)
    // continuous cursor: batched drain of 2, then a late write, then the
    // re-armed drain picks it up — every drained record must hit
    // UsageCounters.countRead at drain time
    val qid = (jsonOf(req("POST", "/b/urc/e1/q",
      """{"query_type": "QUERY", "continuous": true}""".getBytes))
      \ "id").extract[Long]
    assert(req("GET", s"/b/urc/e1/batch?q=$qid").statusCode() == 200)
    assert(req("POST", "/b/urc/e1?ts=300", "cccccc".getBytes).statusCode() == 200)
    assert(req("GET", s"/b/urc/e1/batch?q=$qid").statusCode() == 200,
      "continuous cursor must re-arm and serve the late write")
    // io-v2 batched read drains through the same choke point
    val qid2 = (jsonOf(req("POST", "/io/urc/q",
      """{"entries": ["*"]}""".getBytes)) \ "id").extract[Long]
    assert(req("GET", "/io/urc/read",
      headers = Seq(BatchWire.QueryIdHeader -> qid2.toString))
      .statusCode() == 200)
    api.flushTelemetryNow()
    val ev = store.table()
      .filter(col("bucket") === "$system" &&
        col("entry").startsWith("usage/") && col("entry").endsWith("/urc"))
      .orderBy(col("ts").desc).collect()
    assert(ev.nonEmpty)
    assert(ev.exists(_.getAs[collection.Map[String, String]]("labels")
      .get("read_entries").contains("1")), "some event must carry read_entries=1")
    // 2 (first drain) + 1 (re-armed drain) + 3 (io-v2 drain) records;
    // bytes 6 + 6 + 12. Summed over ALL of the bucket's usage events:
    // the 60 s periodic flush can fire mid-test on a loaded machine and
    // split the counts across two interval events.
    def summed(field: String): Long = ev.map { r =>
      val p = new String(r.getAs[Array[Byte]]("payload"), "UTF-8")
      s""""$field":(\\d+)""".r.findFirstMatchIn(p).map(_.group(1).toLong)
        .getOrElse(0L)
    }.sum
    assert(summed("records_read") == 6L,
      s"records_read summed over ${ev.length} events")
    assert(summed("read_bytes") == 24L,
      s"read_bytes summed over ${ev.length} events")
  }

  test("health probes: alive + ready on both verbs, unauthenticated") {
    for (verb <- Seq("HEAD", "GET"); route <- Seq("/alive", "/ready"))
      assert(req(verb, route, token = "").statusCode() == 200,
        s"$verb $route should be 200")
  }

  test("bucket settings: create → HEAD → PUT partial merge → quota enforcement") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // create with partial settings: missing fields fill from defaults
    assert(req("POST", "/b/bs",
      """{"quota_type": "FIFO", "quota_size": 9000000}""".getBytes)
      .statusCode() == 200)
    val got = jsonOf(req("GET", "/b/bs"))
    assert((got \ "settings" \ "quota_type").extract[String] == "FIFO")
    assert((got \ "settings" \ "quota_size").extract[Long] == 9000000L)
    assert((got \ "settings" \ "max_block_size").extract[Long] == 64000000L)
    assert((got \ "settings" \ "max_block_records").extract[Long] == 1024L)
    assert((got \ "info" \ "is_provisioned").extract[Boolean] == false)
    // HEAD: existence probe, no body
    assert(req("HEAD", "/b/bs").statusCode() == 200)
    assert(req("HEAD", "/b/nope").statusCode() == 404)
    assert(req("PUT", "/b/nope").statusCode() == 404)
    // PUT a partial update: only the named field changes
    assert(req("PUT", "/b/bs",
      """{"quota_type": "HARD", "quota_size": 2000}""".getBytes)
      .statusCode() == 200)
    val upd = jsonOf(req("GET", "/b/bs"))
    assert((upd \ "settings" \ "quota_type").extract[String] == "HARD")
    assert((upd \ "settings" \ "quota_size").extract[Long] == 2000L)
    assert((upd \ "settings" \ "max_block_records").extract[Long] == 1024L,
      "fields absent from the PUT body must keep their stored values")
    // invalid quota type → 422
    assert(req("PUT", "/b/bs", """{"quota_type": "BOGUS"}""".getBytes)
      .statusCode() == 422)
    // HARD quota: first write lands, then the bucket is over 2000 bytes
    // on disk (parquet + partition overhead) and further writes bounce
    assert(req("POST", "/b/bs/e?ts=1", Array.fill[Byte](10)('x'))
      .statusCode() == 200)
    val denied = req("POST", "/b/bs/e?ts=2", Array.fill[Byte](10)('y'))
    assert(denied.statusCode() == 422, new String(denied.body()))
    assert(new String(denied.body()).contains("Quota"))
    assert(req("GET", "/b/bs/e?ts=1").statusCode() == 200,
      "existing data still readable under a full HARD quota")
    // switch to NONE → write goes through again
    assert(req("PUT", "/b/bs", """{"quota_type": "NONE"}""".getBytes)
      .statusCode() == 200)
    assert(req("POST", "/b/bs/e?ts=2", "ok".getBytes).statusCode() == 200)
    // FIFO quota: evicts oldest day-partitions instead of rejecting.
    // Quota is sized from the measured two-day footprint so exactly the
    // oldest day must go when a third day arrives.
    assert(req("POST", "/b/bf",
      """{"quota_type": "FIFO", "quota_size": 100000000}""".getBytes)
      .statusCode() == 200)
    val day = 86400L * 1000000L
    assert(req("POST", "/b/bf/e?ts=1000000", "old".getBytes).statusCode() == 200)
    assert(req("POST", s"/b/bf/e?ts=$day", "mid".getBytes).statusCode() == 200)
    val twoDays = store.bucketSizeBytes("bf")
    assert(req("PUT", "/b/bf",
      s"""{"quota_size": ${twoDays + 500}}""".getBytes).statusCode() == 200)
    assert(req("POST", s"/b/bf/e?ts=${2 * day}", "new".getBytes)
      .statusCode() == 200)
    assert(req("GET", "/b/bf/e?ts=1000000").statusCode() == 404,
      "oldest day evicted by FIFO quota")
    assert(req("GET", s"/b/bf/e?ts=$day").statusCode() == 200,
      "second day survives FIFO eviction")
    assert(req("GET", s"/b/bf/e?ts=${2 * day}").statusCode() == 200,
      "newest record survives FIFO eviction")
  }

  test("large record bodies stream through the staging path, not memory") {
    assert(req("POST", "/b/big").statusCode() == 200)
    // 10 MB of deterministic bytes — an order of magnitude over the 1 MiB
    // spool threshold (write_single.rs streams bodies; the façade spools
    // to the store's filesystem in 64 KiB chunks)
    val big = Array.tabulate[Byte](10 * 1024 * 1024)(i => (i * 31 + 7).toByte)
    val before = api.spooledWrites.get()
    assert(req("POST", "/b/big/blob?ts=42", big,
      headers = Seq("Content-Type" -> "application/octet-stream",
        "x-reduct-label-sz" -> "10m")).statusCode() == 200)
    assert(api.spooledWrites.get() == before + 1,
      "10 MB body must take the spooled path")
    val back = req("GET", "/b/big/blob?ts=42")
    assert(back.statusCode() == 200)
    assert(back.body().length == big.length, "payload length round-trips")
    assert(java.util.Arrays.equals(back.body(), big), "payload bytes round-trip")
    assert(back.headers().firstValue("x-reduct-label-sz").get() == "10m")
    // staging dir left clean
    val staging = new org.apache.hadoop.fs.Path(
      s"${store.root}/${BucketStore.StagingDir}")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "staging file deleted after the write")
    // a small body still takes the buffered path
    assert(req("POST", "/b/big/blob?ts=43", "tiny".getBytes).statusCode() == 200)
    assert(api.spooledWrites.get() == before + 1)
    // re-sending the stored ts on the spooled path is the record's 409:
    // the stored payload stays and the spooled body is not left behind
    val again = req("POST", "/b/big/blob?ts=42",
      Array.fill[Byte](2 * 1024 * 1024)(1))
    assert(again.statusCode() == 409, new String(again.body()))
    assert(api.spooledWrites.get() == before + 2,
      "the re-sent body must take the spooled path")
    assert(java.util.Arrays.equals(req("GET", "/b/big/blob?ts=42").body(), big),
      "stored record untouched")
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty,
      "staging file deleted after the rejected write")
  }

  test("large io-v2 batch spools and slices executor-side") {
    assert(req("POST", "/b/bigb").statusCode() == 200)
    // 3 records totalling ~6 MB across two entries — over the 1 MiB
    // threshold, so the concatenated body must take the staged path
    val payloads = Seq.tabulate(3)(i =>
      Array.tabulate[Byte](2 * 1024 * 1024)(j => (j * 13 + i).toByte))
    val recs = Seq(
      ("e1", 1000L, BatchWire.RecordHeader(payloads(0).length.toLong,
        "application/octet-stream", Map("i" -> "0"))),
      ("e1", 2000L, BatchWire.RecordHeader(payloads(1).length.toLong,
        "application/octet-stream", Map("i" -> "1"))),
      ("e2", 1000L, BatchWire.RecordHeader(payloads(2).length.toLong,
        "application/octet-stream", Map("i" -> "2"))))
    val before = api.spooledWrites.get()
    val resp = req("POST", "/io/bigb/write",
      payloads.toArray.flatten,
      headers = BatchWire.encodeBatchV2(recs))
    assert(resp.statusCode() == 200)
    assert(api.spooledWrites.get() == before + 1,
      "large batch body must take the spooled path")
    for (((entry, ts, hdr), p) <- recs.zip(payloads)) {
      val back = req("GET", s"/b/bigb/$entry?ts=$ts")
      assert(back.statusCode() == 200)
      assert(java.util.Arrays.equals(back.body(), p),
        s"payload $entry@$ts round-trips")
      assert(back.headers().firstValue("x-reduct-label-i").get() ==
        hdr.labels("i"))
    }
    // staging cleaned up
    val staging = new org.apache.hadoop.fs.Path(
      s"${store.root}/${BucketStore.StagingDir}")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
    // a re-sent stored key in a spooled batch is its per-record
    // x-reduct-error-<idx>-<delta>; the batch's new record still lands
    val resend = Seq(
      ("e1", 1000L, BatchWire.RecordHeader(payloads(0).length.toLong,
        "application/octet-stream", Map("i" -> "x"))),
      ("e3", 3000L, BatchWire.RecordHeader(payloads(2).length.toLong,
        "application/octet-stream", Map("i" -> "3"))))
    val clash = req("POST", "/io/bigb/write",
      Array.fill[Byte](payloads(0).length)(9) ++ payloads(2),
      headers = BatchWire.encodeBatchV2(resend))
    assert(clash.statusCode() == 200, new String(clash.body()))
    assert(api.spooledWrites.get() == before + 2,
      "the re-sent batch must take the spooled path")
    assert(clash.headers().firstValue(s"${BatchWire.ErrorHeaderPrefix}0-0")
      .get().startsWith("409"))
    assert(clash.headers().firstValue(s"${BatchWire.ErrorHeaderPrefix}1-2000")
      .isEmpty)
    val kept = req("GET", "/b/bigb/e1?ts=1000")
    assert(java.util.Arrays.equals(kept.body(), payloads(0)),
      "stored record untouched")
    assert(kept.headers().firstValue("x-reduct-label-i").get() == "0")
    assert(java.util.Arrays.equals(
      req("GET", "/b/bigb/e3?ts=3000").body(), payloads(2)))
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
    // body shorter than the headers claim → 422, staging not leaked
    val bad = req("POST", "/io/bigb/write",
      Array.tabulate[Byte](3 * 1024 * 1024)(_.toByte),
      headers = BatchWire.encodeBatchV2(Seq(
        ("e3", 1L, BatchWire.RecordHeader(4 * 1024 * 1024L,
          "application/octet-stream", Map.empty)))))
    assert(bad.statusCode() == 422)
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
  }

  test("large v1 batch spools; a re-sent stored ts is its per-record 409") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/bigv1").statusCode() == 200)
    // 1 MiB records: every two-record body is over the spool threshold
    val mb = 1024 * 1024
    val p = Seq.tabulate(3)(i => Array.tabulate[Byte](mb)(j => (j * 7 + i).toByte))
    def time(ts: Long) = s"x-reduct-time-$ts" -> s"$mb,application/octet-stream"
    val before = api.spooledWrites.get()
    val w1 = req("POST", "/b/bigv1/e/batch", p(0) ++ p(1),
      headers = Seq(time(1000), time(2000)))
    assert(w1.statusCode() == 200, new String(w1.body()))
    assert((jsonOf(w1) \ "written_records").extract[Long] == 2L)
    // ts 2000 is stored: its slice is skipped, ts 3000 lands
    val w2 = req("POST", "/b/bigv1/e/batch", p(2) ++ p(2),
      headers = Seq(time(2000), time(3000)))
    assert(w2.statusCode() == 200, new String(w2.body()))
    assert(api.spooledWrites.get() == before + 2,
      "both batches must take the spooled path")
    assert(w2.headers().firstValue("x-reduct-error-2000").get().startsWith("409"))
    assert(w2.headers().firstValue("x-reduct-error-3000").isEmpty)
    assert((jsonOf(w2) \ "written_records").extract[Long] == 1L,
      "written_records counts only the new record")
    assert(java.util.Arrays.equals(req("GET", "/b/bigv1/e?ts=2000").body(), p(1)),
      "stored record untouched")
    assert(java.util.Arrays.equals(req("GET", "/b/bigv1/e?ts=3000").body(), p(2)))
    val staging = new org.apache.hadoop.fs.Path(
      s"${store.root}/${BucketStore.StagingDir}")
    val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(staging) || fs.listStatus(staging).isEmpty)
  }

  test("server errors are captured to $system logs with an ERROR level") {
    import org.apache.spark.sql.functions.{col, element_at}
    // one-shot failing disk probe: the request's preflight throws an
    // unexpected RuntimeException (the 500 path); the capture write that
    // follows sees the restored probe and succeeds
    val saved = store.freeSpaceFn
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    store.freeSpaceFn = () =>
      if (fired.compareAndSet(false, true))
        throw new RuntimeException("disk probe exploded")
      else saved()
    try assert(req("POST", "/b/b1/e?ts=777000", "x".getBytes)
      .statusCode() == 500)
    finally store.freeSpaceFn = saved
    val logs = store.table()
      .filter(col("bucket") === "$system" &&
        col("entry").startsWith("logs/") &&
        element_at(col("labels"), "level") === "ERROR")
      .collect()
    assert(logs.nonEmpty, "500 must leave an ERROR record in $system/logs")
    val payload = new String(logs.head.getAs[Array[Byte]]("payload"), "UTF-8")
    assert(payload.contains("/api/v1/b/b1/e") &&
      payload.contains("disk probe exploded"))
  }

  test("TLS: write/read round trip over HTTPS") {
    // self-signed PKCS12 keystore via the JDK's keytool (offline) — the
    // packaging of the reference's cert_path/cert_key_path PEM pair
    val dir = Files.createTempDirectory("graft-tls")
    val ksPath = dir.resolve("ks.p12").toString
    val keytool = System.getProperty("java.home") + "/bin/keytool"
    val rc = new ProcessBuilder(keytool, "-genkeypair", "-alias", "graft",
      "-keyalg", "RSA", "-keysize", "2048", "-dname", "CN=localhost",
      "-ext", "SAN=IP:127.0.0.1,DNS:localhost", "-validity", "1",
      "-storetype", "PKCS12", "-keystore", ksPath, "-storepass", "changeit")
      .redirectErrorStream(true).start()
    rc.getInputStream.readAllBytes()
    assert(rc.waitFor() == 0, "keytool keystore generation")

    val tlsStore = new BucketStore(spark,
      Files.createTempDirectory("graft-https").toString)
    val tlsApi = new HttpApi(tlsStore, apiToken = "root-token",
      ssl = Some(HttpApi.sslContext(ksPath, "changeit")))
    val tlsPort = { tlsApi.start(); tlsApi.boundPort }
    try {
      // client trusts the self-signed cert via a trust-all manager
      val trustAll = new javax.net.ssl.X509TrustManager {
        def checkClientTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        def checkServerTrusted(c: Array[java.security.cert.X509Certificate], a: String): Unit = ()
        def getAcceptedIssuers: Array[java.security.cert.X509Certificate] = Array.empty
      }
      val cctx = javax.net.ssl.SSLContext.getInstance("TLS")
      cctx.init(null, Array(trustAll), new java.security.SecureRandom)
      val tlsClient = HttpClient.newBuilder().sslContext(cctx).build()
      def treq(method: String, path: String, body: Array[Byte] = Array.empty,
          headers: Seq[(String, String)] = Seq.empty): HttpResponse[Array[Byte]] = {
        var b = HttpRequest.newBuilder(
          URI.create(s"https://localhost:$tlsPort/api/v1$path"))
          .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
          .header("Authorization", "Bearer root-token")
        for ((k, v) <- headers) b = b.header(k, v)
        tlsClient.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
      }
      assert(treq("GET", "/alive").statusCode() == 200)
      assert(treq("POST", "/b/sec").statusCode() == 200)
      assert(treq("POST", "/b/sec/e?ts=7", "encrypted-in-flight".getBytes,
        headers = Seq("x-reduct-label-k" -> "v")).statusCode() == 200)
      val back = treq("GET", "/b/sec/e?ts=7")
      assert(back.statusCode() == 200)
      assert(new String(back.body()) == "encrypted-in-flight")
      assert(back.headers().firstValue("x-reduct-label-k").get() == "v")
      // plain HTTP against the TLS port is refused
      val plain = try {
        client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$tlsPort/api/v1/alive")).GET().build(),
          HttpResponse.BodyHandlers.ofByteArray()).statusCode()
      } catch { case _: java.io.IOException => -1 }
      assert(plain != 200, "cleartext must not be served on the TLS port")
    } finally tlsApi.stop()
  }

  test("v1 batched write + update (write_batched.rs / update_batched.rs parity)") {
    assert(req("POST", "/b/bw").statusCode() == 200)
    // two records in one POST: v1 time headers, payloads concatenated
    val w1 = req("POST", "/b/bw/sens/batch", "helloworld".getBytes,
      headers = Seq(
        "x-reduct-time-1000" -> "5,text/plain,k=v1",
        "x-reduct-time-2000" -> "5,text/plain,k=v2"))
    assert(w1.statusCode() == 200, new String(w1.body()))
    val r1 = req("GET", "/b/bw/sens?ts=1000")
    assert(new String(r1.body()) == "hello")
    assert(r1.headers().firstValue("x-reduct-label-k").get() == "v1")
    assert(new String(req("GET", "/b/bw/sens?ts=2000").body()) == "world")
    // conflicting ts: per-record 409 in the error map, the REST written
    val w2 = req("POST", "/b/bw/sens/batch", "xxxxxYYYYY".getBytes,
      headers = Seq(
        "x-reduct-time-2000" -> "5,text/plain,k=clob",
        "x-reduct-time-3000" -> "5,text/plain,k=v3"))
    assert(w2.statusCode() == 200)
    assert(w2.headers().firstValue("x-reduct-error-2000").get().startsWith("409"))
    assert(w2.headers().firstValue("x-reduct-error-3000").isEmpty)
    assert(new String(req("GET", "/b/bw/sens?ts=2000").body()) == "world",
      "conflicting record must stay untouched")
    assert(new String(req("GET", "/b/bw/sens?ts=3000").body()) == "YYYYY")
    // malformed: negative content length is a 422, not a 500
    assert(req("POST", "/b/bw/sens/batch", Array.empty[Byte],
      headers = Seq("x-reduct-time-4000" -> "-5,text/plain")).statusCode() == 422)
    // batched label update: empty value removes, others merge; missing ts -> 404 map
    val u = req("PATCH", "/b/bw/sens/batch", Array.empty[Byte],
      headers = Seq(
        "x-reduct-time-1000" -> "0,,k=,k2=nv",
        "x-reduct-time-9999" -> "0,,k2=zz"))
    assert(u.statusCode() == 200, new String(u.body()))
    assert(u.headers().firstValue("x-reduct-error-9999").get().startsWith("404"))
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert((jsonOf(u) \ "updated_records").extract[Long] == 1L)
    val r1b = req("GET", "/b/bw/sens?ts=1000")
    assert(r1b.headers().firstValue("x-reduct-label-k").isEmpty, "k removed")
    assert(r1b.headers().firstValue("x-reduct-label-k2").get() == "nv")
  }

  test("in-batch duplicate ts degrades to its per-record 409, rest written " +
      "(write_batched.rs:322-330 begin_write-fails-into-error-map)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    // x-reduct-time-0100 and x-reduct-time-100 alias the SAME ts (as do
    // x-reduct-0-100 and x-reduct-0-0100 on v2) — the whole batch must
    // NOT fail: keep-first, per-record 409 on the alias, the unrelated
    // ts=200 record still lands. The aliased pair carries equal payloads:
    // the server sees the pair in no defined order. One row per wire,
    // with a body under the spool threshold and one over it.
    for ((bucket, v2, size) <- Seq(("dup", false, 5), ("dupv1s", false, 600 * 1024),
        ("dupv2", true, 5), ("dupv2s", true, 600 * 1024))) {
      assert(req("POST", s"/b/$bucket").statusCode() == 200)
      val (a, c) = (Array.fill[Byte](size)('a'), Array.fill[Byte](size - 1)('c'))
      val headers =
        if (v2) Seq(BatchWire.EntriesHeader -> "e", BatchWire.StartTsHeader -> "0",
          "x-reduct-0-0100" -> s"$size,text/plain", "x-reduct-0-100" -> s"$size,text/plain",
          "x-reduct-0-200" -> s"${size - 1},text/plain")
        else Seq("x-reduct-time-0100" -> s"$size,text/plain",
          "x-reduct-time-100" -> s"$size,text/plain",
          "x-reduct-time-200" -> s"${size - 1},text/plain")
      val spooled = api.spooledWrites.get()
      val w = req("POST", if (v2) s"/io/$bucket/write" else s"/b/$bucket/e/batch",
        a ++ a ++ c, headers = headers)
      assert(w.statusCode() == 200, new String(w.body()))
      val (dupKey, otherKey) = if (v2) ("x-reduct-error-0-100", "x-reduct-error-0-200")
        else ("x-reduct-error-100", "x-reduct-error-200")
      assert(w.headers().firstValue(dupKey).get().startsWith("409"), bucket)
      assert(w.headers().firstValue(otherKey).isEmpty, bucket)
      if (!v2) assert((jsonOf(w) \ "written_records").extract[Long] == 2L)
      assert(api.spooledWrites.get() == spooled + (if (size > 5) 1 else 0), bucket)
      assert(java.util.Arrays.equals(req("GET", s"/b/$bucket/e?ts=100").body(), a), bucket)
      assert(java.util.Arrays.equals(req("GET", s"/b/$bucket/e?ts=200").body(), c), bucket)
    }
  }

  test("cursor reads are scoped to the URL's bucket on every route; the " +
      "owner still drains in full under the v1 page cap") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    assert(req("POST", "/b/scopeA").statusCode() == 200)
    assert(req("POST", "/b/scopeB").statusCode() == 200)
    for (i <- 0 until 5)
      assert(req("POST", s"/b/scopeA/e?ts=${i * 10}", s"s$i".getBytes)
        .statusCode() == 200)
    val bOnly = (jsonOf(req("POST", "/tokens/scope-b-reader",
      """{"permissions": {"read": ["scopeB"]}}""".getBytes)) \ "value").extract[String]
    def open(): Long = (jsonOf(req("POST", "/b/scopeA/e/q",
      """{"when": {"#batch_records": 2}}""".getBytes)) \ "id").extract[Long]
    // each route: (its request for cursor `id` under `bucket`, the
    // records a page may carry)
    val routes = Seq[(String, (String, Long, String) => HttpResponse[Array[Byte]], Int)](
      ("v1", (b, id, tok) => req("GET", s"/b/$b/e/batch?q=$id", token = tok), 2),
      ("v2", (b, id, tok) => req("GET", s"/io/$b/read", token = tok,
        headers = Seq(BatchWire.QueryIdHeader -> id.toString)), 2),
      ("single", (b, id, tok) => req("GET", s"/b/$b/e?q=$id", token = tok), 1))
    for ((name, read, cap) <- routes) {
      val id = open()
      val foreign = read("scopeB", id, bOnly)
      assert(foreign.statusCode() == 404, s"$name: ${foreign.statusCode()}")
      assert(new String(foreign.body()).contains(s"Query $id doesn't exist or expired"))
      val pages = Iterator.continually(read("scopeA", id, "root-token"))
        .takeWhile(_.statusCode() == 200).map(p => new String(p.body())).toList
      assert(pages.mkString == "s0s1s2s3s4", s"$name drains in full: $pages")
      assert(pages.forall(_.length <= 2 * cap) && pages.head.length == 2 * cap,
        s"$name pages by ${cap}: $pages")
    }
  }

  test("every write wire checks entry names before storing (engine.rs:580-605)") {
    assert(req("POST", "/b/names").statusCode() == 200)
    val v1 = req("POST", "/b/names/bad!/batch", "x".getBytes,
      headers = Seq("x-reduct-time-1" -> "1,text/plain"))
    assert(v1.statusCode() == 422, new String(v1.body()))
    val v2 = req("POST", "/io/names/write", "y".getBytes,
      headers = BatchWire.encodeBatchV2(Seq(
        ("a b", 2L, BatchWire.RecordHeader(1, "text/plain", Map.empty)))))
    assert(v2.statusCode() == 422, new String(v2.body()))
    assert(store.existingKeys("names", Seq(("bad!", 1L), ("a b", 2L))).isEmpty)
  }

  test("io v2 write conflict degrades per record (io/write.rs error map): " +
      "200 + x-reduct-error-<idx>-<delta>, rest written") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val first = BatchWire.encodeBatchV2(Seq(
      ("ec", 100L, BatchWire.RecordHeader(2, "text/plain", Map.empty))))
    assert(req("POST", "/io/iw/write", "r0".getBytes, headers = first)
      .statusCode() == 200)
    // second batch re-sends ec@100 (conflict) plus two fresh records on
    // another entry — the batch must NOT 409 wholesale
    val again = BatchWire.encodeBatchV2(Seq(
      ("ec", 100L, BatchWire.RecordHeader(2, "text/plain", Map.empty)),
      ("ed", 100L, BatchWire.RecordHeader(2, "text/plain", Map.empty)),
      ("ed", 200L, BatchWire.RecordHeader(2, "text/plain", Map.empty))))
    val w = req("POST", "/io/iw/write", "xxr1r2".getBytes, headers = again)
    assert(w.statusCode() == 200, new String(w.body()))
    val errs = w.headers().map().keySet().toArray.map(_.toString.toLowerCase)
      .filter(_.startsWith("x-reduct-error-")).toSeq
    assert(errs.size == 1, s"exactly one per-record error, got $errs")
    assert(w.headers().firstValue(errs.head).get().startsWith("409"))
    // the conflicting record kept its original payload; the rest landed
    assert(new String(req("GET", "/b/iw/ec?ts=100").body()) == "r0")
    assert(new String(req("GET", "/b/iw/ed?ts=100").body()) == "r1")
    assert(new String(req("GET", "/b/iw/ed?ts=200").body()) == "r2")
  }

  test("writes without a declared content length hard-422 " +
      "(common.rs:12-19 'content-length header is required')") {
    assert(req("POST", "/b/ncl").statusCode() == 200)
    // the JDK client always sets Content-Length for fixed bodies, so the
    // chunked no-length case needs a raw socket — the 422 must come back
    // BEFORE any body chunk is read
    def raw(headers: String): String = {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write(("POST /api/v1/b/ncl/e?ts=7 HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nAuthorization: Bearer root-token\r\n" +
          headers +
          "Transfer-Encoding: chunked\r\n\r\n" +
          "0\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream)).readLine()
      } finally sock.close()
    }
    val none = raw("")
    assert(none.contains("422"), s"no declared length must 422, got: $none")
    // a present-but-non-numeric declared length is equally a 422
    // (common.rs:24-26 'header must be a number'), never coerced to 0
    val bad = raw("x-reduct-content-length: not-a-number\r\n")
    assert(bad.contains("422"), s"non-numeric length must 422, got: $bad")
    // with the alternative header declared, the same chunked write is
    // admitted (PR-1411) — proving the 422 keys on the declaration only
    val ok = raw("x-reduct-content-length: 0\r\n")
    assert(ok.contains("200"), s"declared length must admit, got: $ok")
    assert(store.existingKeys("ncl", Seq(("e", 7L))) == Set(("e", 7L)))
  }

  test("declared-vs-actual and declared-vs-sum content length parity " +
      "(check_and_get_content_length + record_writer bounds)") {
    assert(req("POST", "/b/cl").statusCode() == 200)
    def raw(target: String, headers: String, chunkedBody: String): String = {
      val sock = new java.net.Socket("127.0.0.1", port)
      try {
        val out = sock.getOutputStream
        out.write((s"POST $target HTTP/1.1\r\n" +
          "Host: 127.0.0.1\r\nAuthorization: Bearer root-token\r\n" +
          headers + "Transfer-Encoding: chunked\r\n\r\n" +
          chunkedBody + "0\r\n\r\n").getBytes("US-ASCII"))
        out.flush()
        new java.io.BufferedReader(
          new java.io.InputStreamReader(sock.getInputStream)).readLine()
      } finally sock.close()
    }
    // single write, alt-header chunked: a TRUNCATED body must 400, not
    // silently store a short record (write_batched.rs:162 message class)
    val short = raw("/api/v1/b/cl/e?ts=1",
      "x-reduct-content-length: 10\r\n", "2\r\nab\r\n")
    assert(short.contains("400"), s"short body must 400, got: $short")
    // ...and an OVERLONG body must 400 (record_writer.rs:133)
    val long = raw("/api/v1/b/cl/e?ts=2",
      "x-reduct-content-length: 1\r\n", "2\r\nab\r\n")
    assert(long.contains("400"), s"overlong body must 400, got: $long")
    assert(store.existingKeys("cl", Seq(("e", 1L), ("e", 2L))).isEmpty,
      "neither mismatched record may land")
    // v1 batched write WITHOUT any content-length header is ACCEPTED —
    // the record-length sum defines the size (the Content-Encoding
    // shape, write_batched.rs:288-291); my earlier 422 here would have
    // been a parity break
    val noHdr = raw("/api/v1/b/cl/e/batch",
      "x-reduct-time-50: 5,text/plain\r\n", "5\r\nhello\r\n")
    assert(noHdr.contains("200"), s"sum-defined batch must admit, got: $noHdr")
    assert(store.existingKeys("cl", Seq(("e", 50L))) == Set(("e", 50L)))
    // a PRESENT header that contradicts the sum is a 422
    // (write_batched.rs:293-297)
    val clash = raw("/api/v1/b/cl/e/batch",
      "x-reduct-time-60: 5,text/plain\r\nx-reduct-content-length: 3\r\n",
      "5\r\nhello\r\n")
    assert(clash.contains("422"), s"sum mismatch must 422, got: $clash")
    // io v2: header REQUIRED and must equal the sum (io/write.rs:154-173)
    // — the JDK client's Content-Length is the body length, so a body
    // sized differently from the record sum trips the check pre-body
    val wire = BatchWire.encodeBatchV2(Seq(
      ("e", 70L, BatchWire.RecordHeader(2, "text/plain", Map.empty))))
    val w = req("POST", "/io/cl/write", "abcd".getBytes, headers = wire)
    assert(w.statusCode() == 422, new String(w.body()))
    assert(new String(w.body()).contains("does not match the sum"))
  }

  test("unauthenticated errors drain at most 64 KiB and close the " +
      "connection — no 64 MiB read amplification per rejected request") {
    val sock = new java.net.Socket("127.0.0.1", port)
    try {
      sock.setSoTimeout(30000)
      val out = sock.getOutputStream
      // declare 1 MB, send only ~160 KB with a BAD bearer: the old
      // full-drain would block forever waiting for the remaining body;
      // the capped drain answers 401 after ≤ ~128 KB of reads
      out.write(("POST /api/v1/b/dr/e?ts=1 HTTP/1.1\r\n" +
        "Host: 127.0.0.1\r\nAuthorization: Bearer wrong-token\r\n" +
        "Content-Length: 1000000\r\n\r\n").getBytes("US-ASCII"))
      out.write(new Array[Byte](160 * 1024))
      out.flush()
      val in = new java.io.BufferedReader(
        new java.io.InputStreamReader(sock.getInputStream))
      val status = in.readLine()
      assert(status != null && status.contains("401"),
        s"401 must come back without the full body, got: $status")
      val headers = Iterator.continually(in.readLine())
        .takeWhile(l => l != null && l.nonEmpty).toSeq
      assert(headers.exists(h =>
          h.toLowerCase.startsWith("connection:") &&
            h.toLowerCase.contains("close")),
        s"an undrained connection must not keep-alive, headers: $headers")
    } finally sock.close()
  }

  test("RS_PUBLIC_URL is the default query-link base (links/create.rs:54)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val pStore = new BucketStore(spark,
      Files.createTempDirectory("graft-puburl").toString)
    val pApi = new HttpApi(pStore, apiToken = "root",
      env = Map("RS_PUBLIC_URL" -> "https://store.example.com/"))
    val p = pApi.start()
    val c = HttpClient.newHttpClient()
    def preq(method: String, path: String, body: Array[Byte] = Array.empty) =
      c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1$path"))
        .header("Authorization", "Bearer root")
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    try {
      assert(preq("POST", "/b/pb/e?ts=5", "x".getBytes).statusCode() == 200)
      val mk = preq("POST", "/links/f.bin",
        ("""{"bucket": "pb", "entry": "e", "record_entry": "e",""" +
          """ "record_timestamp": 5, "query": {}}""").getBytes)
      val link = (jsonOf(mk) \ "link").extract[String]
      assert(link.startsWith("https://store.example.com/api/v1/links/"), link)
      // an explicit base_url still overrides the instance default
      val mk2 = preq("POST", "/links/f.bin",
        ("""{"bucket": "pb", "entry": "e", "record_entry": "e",""" +
          """ "record_timestamp": 5, "query": {},""" +
          """ "base_url": "https://other.example"}""").getBytes)
      assert((jsonOf(mk2) \ "link").extract[String]
        .startsWith("https://other.example/api/v1/links/"))
    } finally pApi.stop()
  }

  test("RS_IO_BATCH_MAX_RECORDS / MAX_METADATA_SIZE cap batched-read " +
      "pages (cfg/io.rs:50-61)") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val bStore = new BucketStore(spark,
      Files.createTempDirectory("graft-iobatch").toString)
    val bApi = new HttpApi(bStore, apiToken = "root",
      env = Map("RS_IO_BATCH_MAX_RECORDS" -> "3"))
    val p = bApi.start()
    val c = HttpClient.newHttpClient()
    def breq(method: String, path: String, body: Array[Byte] = Array.empty) =
      c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1$path"))
        .header("Authorization", "Bearer root")
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    try {
      for (i <- 0 until 7)
        assert(breq("POST", s"/b/bb/e?ts=${i * 100}",
          s"p$i".getBytes).statusCode() == 200)
      val q = breq("POST", "/b/bb/e/q", "{}".getBytes)
      val qid = (jsonOf(q) \ "id").extract[Long]
      val page = breq("GET", s"/b/bb/e/batch?q=$qid")
      val recs = page.headers().map().keySet().toArray.map(_.toString.toLowerCase)
        .count(_.startsWith("x-reduct-time-"))
      assert(recs == 3, s"instance default must cap the page at 3, got $recs")
      assert(page.headers().firstValue("x-reduct-last").get() == "false")
    } finally bApi.stop()
    // a tiny metadata budget degrades gracefully to one record per page
    val mApi = new HttpApi(bStore, apiToken = "root",
      env = Map("RS_IO_BATCH_MAX_METADATA_SIZE" -> "10"))
    val p2 = mApi.start()
    def mreq(method: String, path: String, body: Array[Byte] = Array.empty) =
      c.send(HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p2/api/v1$path"))
        .header("Authorization", "Bearer root")
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    try {
      val q2 = mreq("POST", "/b/bb/e/q", "{}".getBytes)
      val qid2 = (jsonOf(q2) \ "id").extract[Long]
      val page2 = mreq("GET", s"/b/bb/e/batch?q=$qid2")
      val recs2 = page2.headers().map().keySet().toArray.map(_.toString.toLowerCase)
        .count(_.startsWith("x-reduct-time-"))
      assert(recs2 == 1, "at least one record always serves, never more " +
        s"than the metadata budget admits, got $recs2")
    } finally mApi.stop()
  }

  test("CORS (RS_CORS_ALLOW_ORIGIN, http.rs:281-296): preflight + echo " +
      "for allowed origins, silence for others, star mode") {
    val corsStore = new BucketStore(spark,
      Files.createTempDirectory("graft-cors").toString)
    val corsApi = new HttpApi(corsStore, apiToken = "root-token",
      env = Map("RS_CORS_ALLOW_ORIGIN" -> "https://a.example, https://b.example"))
    val p = corsApi.start()
    def creq(method: String, headers: Seq[(String, String)]): HttpResponse[Array[Byte]] = {
      var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$p/api/v1/alive"))
        .method(method, HttpRequest.BodyPublishers.noBody())
      for ((k, v) <- headers) b = b.header(k, v)
      client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    }
    try {
      // preflight: 200 BEFORE auth/rate limiting/routing (the CorsLayer
      // is the outermost layer), allowed origin echoed, Any methods/headers
      val pre = creq("OPTIONS", Seq("Origin" -> "https://a.example",
        "Access-Control-Request-Method" -> "POST"))
      assert(pre.statusCode() == 200)
      assert(pre.headers().firstValue("Access-Control-Allow-Origin").get()
        == "https://a.example")
      assert(pre.headers().firstValue("Access-Control-Allow-Methods").get() == "*")
      assert(pre.headers().firstValue("Access-Control-Allow-Headers").get() == "*")
      // simple request: origin echoed + expose-headers; Vary: Origin set
      val ok = creq("GET", Seq("Origin" -> "https://b.example"))
      assert(ok.statusCode() == 200)
      assert(ok.headers().firstValue("Access-Control-Allow-Origin").get()
        == "https://b.example")
      assert(ok.headers().firstValue("Access-Control-Expose-Headers").get() == "*")
      assert(ok.headers().allValues("Vary").toArray.mkString(",").contains("Origin"))
      // disallowed origin: request still serves, NO CORS headers (the
      // browser enforces); preflight answers 200 without allow-origin
      val no = creq("GET", Seq("Origin" -> "https://evil.example"))
      assert(no.statusCode() == 200)
      assert(no.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
      val noPre = creq("OPTIONS", Seq("Origin" -> "https://evil.example",
        "Access-Control-Request-Method" -> "POST"))
      assert(noPre.statusCode() == 200)
      assert(noPre.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
    } finally corsApi.stop()
    // star mode allows any origin as literal *
    val anyApi = new HttpApi(corsStore, apiToken = "root-token",
      env = Map("RS_CORS_ALLOW_ORIGIN" -> "*"))
    val p2 = anyApi.start()
    try {
      val r = client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$p2/api/v1/alive"))
        .header("Origin", "https://anything.example")
        .method("GET", HttpRequest.BodyPublishers.noBody()).build(),
        HttpResponse.BodyHandlers.ofByteArray())
      assert(r.headers().firstValue("Access-Control-Allow-Origin").get() == "*")
    } finally anyApi.stop()
    // default (unset): no CORS headers ever
    val plain = req("GET", "/alive", token = "",
      headers = Seq("Origin" -> "https://a.example"))
    assert(plain.headers().firstValue("Access-Control-Allow-Origin").isEmpty)
  }

  test("Content-Encoding request decompression (RequestDecompressionLayer " +
      "analog, http.rs:262-266): gzip/zstd bodies decode, others 415") {
    assert(req("POST", "/b/enc").statusCode() == 200)
    def gzip(raw: Array[Byte]): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(bos)
      gz.write(raw); gz.close(); bos.toByteArray
    }
    // batched write, gzip body, NO x-reduct-content-length: the client's
    // Content-Length is the COMPRESSED size and must be ignored — the
    // record-length sum defines the raw size (write_batched.rs:287-291)
    val raw = "hello" + "world"
    val wb = req("POST", "/b/enc/e/batch", gzip(raw.getBytes("UTF-8")),
      headers = Seq("Content-Encoding" -> "gzip",
        "x-reduct-time-100" -> "5,text/plain",
        "x-reduct-time-200" -> "5,text/plain"))
    assert(wb.statusCode() == 200, new String(wb.body()))
    assert(new String(req("GET", "/b/enc/e?ts=100").body()) == "hello")
    assert(new String(req("GET", "/b/enc/e?ts=200").body()) == "world")
    // single write: raw size declared via the alternative header
    // (the decompression consumed content-length, PR-1411 shape)
    val ws = req("POST", "/b/enc/e?ts=300", gzip("payload".getBytes("UTF-8")),
      headers = Seq("Content-Encoding" -> "gzip",
        "x-reduct-content-length" -> "7"))
    assert(ws.statusCode() == 200, new String(ws.body()))
    assert(new String(req("GET", "/b/enc/e?ts=300").body()) == "payload")
    // zstd too (compressed replication batches, Issue-1348)
    val zstd = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new com.github.luben.zstd.ZstdOutputStream(bos)
      z.write("zz".getBytes("UTF-8")); z.close(); bos.toByteArray
    }
    val wz = req("POST", "/b/enc/e?ts=400", zstd,
      headers = Seq("Content-Encoding" -> "zstd",
        "x-reduct-content-length" -> "2"))
    assert(wz.statusCode() == 200, new String(wz.body()))
    // unsupported coding → 415 before any handler work
    val bad = req("POST", "/b/enc/e?ts=500", "x".getBytes,
      headers = Seq("Content-Encoding" -> "br"))
    assert(bad.statusCode() == 415)
    assert(bad.headers().firstValue("Accept-Encoding").get()
      .contains("gzip"))
  }
}
