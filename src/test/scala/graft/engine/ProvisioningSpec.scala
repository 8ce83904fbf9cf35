package graft.engine

import graft.SparkTestBase
import graft.stream.Streaming
import org.scalatest.funsuite.AnyFunSuite
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files

/** Env-driven provisioning (cfg/provision): RS_* variables declare
  * buckets/tokens/replications/lifecycles at construction; provisioned
  * resources reject API mutation with 409 but still allow mode PATCHes. */
class ProvisioningSpec extends AnyFunSuite with SparkTestBase {

  // ------------------------------------------------------ pure parsing

  test("byte sizes parse with decimal and binary suffixes") {
    assert(Provisioning.parseByteSize("1000").contains(1000L))
    assert(Provisioning.parseByteSize("1kB").contains(1000L))
    assert(Provisioning.parseByteSize("1KiB").contains(1024L))
    assert(Provisioning.parseByteSize("1.5GB").contains(1500000000L))
    assert(Provisioning.parseByteSize("2MiB").contains(2L * 1024 * 1024))
    assert(Provisioning.parseByteSize("50TB").contains(50000000000000L))
    assert(Provisioning.parseByteSize("nope").isEmpty)
  }

  test("incomplete declarations drop with a warning, never fail") {
    val r = Provisioning.parse(Map(
      "RS_TOKEN_1_NAME" -> "no-value", // token.rs: empty VALUE → drop
      "RS_REPLICATION_1_NAME" -> "no-src", // replication.rs: no SRC → drop
      "RS_REPLICATION_1_DST_BUCKET" -> "d",
      "RS_LIFECYCLE_1_NAME" -> "no-type", // lifecycle.rs: no TYPE → drop
      "RS_LIFECYCLE_1_BUCKET" -> "b",
      "RS_LIFECYCLE_1_OLDER_THAN" -> "1d"))
    assert(r.tokens.isEmpty && r.replications.isEmpty && r.lifecycles.isEmpty)
    assert(r.warnings.length == 3)
  }

  test("INCLUDE/EXCLUDE sub-keys don't fabricate phantom replications") {
    val r = Provisioning.parse(Map(
      "RS_REPLICATION_1_NAME" -> "real",
      "RS_REPLICATION_1_SRC_BUCKET" -> "s",
      "RS_REPLICATION_1_DST_BUCKET" -> "d",
      // include-filter on a label literally called "NAME" — the greedy id
      // capture would otherwise read this as replication "1_INCLUDE"
      "RS_REPLICATION_1_INCLUDE_NAME" -> "x",
      "RS_REPLICATION_1_EXCLUDE_NAME" -> "y",
      // one level deeper: a filter on a label whose own name ends in
      // _NAME (phantom id would be "1_INCLUDE_FOO")
      "RS_REPLICATION_1_INCLUDE_FOO_NAME" -> "z"))
    assert(r.replications.keySet == Set("real"))
    assert(r.warnings.isEmpty, s"no phantom warnings: ${r.warnings}")
  }

  test("a legitimate id containing _EXCLUDE_ is NOT dropped as a phantom") {
    // the marker substring alone is not proof: no replication "DATA"
    // exists, so DATA_EXCLUDE_TEST is a real id, not DATA's filter
    val r = Provisioning.parse(Map(
      "RS_REPLICATION_DATA_EXCLUDE_TEST_NAME" -> "data-excl",
      "RS_REPLICATION_DATA_EXCLUDE_TEST_SRC_BUCKET" -> "s",
      "RS_REPLICATION_DATA_EXCLUDE_TEST_DST_BUCKET" -> "d",
      // and _INCLUDED_ is not even a marker (word-boundary check)
      "RS_REPLICATION_A_INCLUDED_B_NAME" -> "included-b",
      "RS_REPLICATION_A_INCLUDED_B_SRC_BUCKET" -> "s2",
      "RS_REPLICATION_A_INCLUDED_B_DST_BUCKET" -> "d2",
      // owner A exists but its filter var uses the real marker form —
      // only THAT one is suppressed
      "RS_REPLICATION_A_NAME" -> "owner-a",
      "RS_REPLICATION_A_SRC_BUCKET" -> "s3",
      "RS_REPLICATION_A_DST_BUCKET" -> "d3",
      "RS_REPLICATION_A_EXCLUDE_NAME" -> "x"))
    assert(r.replications.keySet == Set("data-excl", "included-b", "owner-a"))
  }

  test("non-object WHEN drops the replication instead of silently losing the filter") {
    // '[...]' parses as JSON but is not a legal condition root; EACH_S
    // injection would have silently REPLACED it (replicate-everything)
    val r = Provisioning.parse(Map(
      "RS_REPLICATION_1_NAME" -> "arr",
      "RS_REPLICATION_1_SRC_BUCKET" -> "s",
      "RS_REPLICATION_1_DST_BUCKET" -> "d",
      "RS_REPLICATION_1_WHEN" -> """[{"&l": {"$eq": "x"}}]""",
      "RS_REPLICATION_1_EACH_S" -> "5"))
    assert(r.replications.isEmpty)
    assert(r.warnings.exists(_.contains("must be a JSON object")), r.warnings)
  }

  test("negative lifecycle older_than drops the policy (future cutoff would delete everything)") {
    val r = Provisioning.parse(Map(
      "RS_LIFECYCLE_1_NAME" -> "oops",
      "RS_LIFECYCLE_1_BUCKET" -> "b",
      "RS_LIFECYCLE_1_TYPE" -> "delete",
      "RS_LIFECYCLE_1_OLDER_THAN" -> "-1d"))
    assert(r.lifecycles.isEmpty)
    assert(r.warnings.exists(_.contains("negative older_than")), r.warnings)
  }

  test("deprecated EACH_N/EACH_S and INCLUDE merge into the when tree") {
    val r = Provisioning.parse(Map(
      "RS_REPLICATION_7_NAME" -> "legacy",
      "RS_REPLICATION_7_SRC_BUCKET" -> "src",
      "RS_REPLICATION_7_DST_BUCKET" -> "dst",
      "RS_REPLICATION_7_WHEN" -> """{"&score":{"$gt":5}}""",
      "RS_REPLICATION_7_EACH_N" -> "10",
      "RS_REPLICATION_7_INCLUDE_KIND" -> "good"))
    val when = org.json4s.jackson.JsonMethods.parse(r.replications("legacy").when.get)
    // replication.rs:163-177: $each_n injected as a key of the when object;
    // prepend_when_conditions: include guard prepended under $and
    val rendered = org.json4s.jackson.JsonMethods.compact(
      org.json4s.jackson.JsonMethods.render(when))
    assert(rendered.contains("\"$each_n\":10"))
    assert(rendered.contains("\"$has\":\"KIND\""))
    assert(rendered.startsWith("""{"$and""""))
  }

  // ------------------------------------------------- end-to-end façade

  private lazy val store =
    new BucketStore(spark, Files.createTempDirectory("graft-prov").toString)
  private lazy val api = new HttpApi(store, apiToken = "root-token",
    env = Map(
      "RS_DEFAULTS_BUCKET_MAX_BLOCK_RECORDS" -> "2048",
      "RS_BUCKET_1_NAME" -> "prov-bucket",
      "RS_BUCKET_1_QUOTA_TYPE" -> "FIFO",
      "RS_BUCKET_1_QUOTA_SIZE" -> "1GB",
      "RS_TOKEN_1_NAME" -> "prov-token",
      "RS_TOKEN_1_VALUE" -> "prov-token-secret",
      "RS_TOKEN_1_READ" -> "prov-bucket,other",
      "RS_TOKEN_1_WRITE" -> "prov-bucket",
      "RS_REPLICATION_1_NAME" -> "prov-repl",
      "RS_REPLICATION_1_SRC_BUCKET" -> "prov-bucket",
      "RS_REPLICATION_1_DST_BUCKET" -> "mirror",
      "RS_REPLICATION_1_MODE" -> "paused",
      "RS_LIFECYCLE_1_NAME" -> "prov-lc",
      "RS_LIFECYCLE_1_TYPE" -> "delete",
      "RS_LIFECYCLE_1_BUCKET" -> "prov-bucket",
      "RS_LIFECYCLE_1_OLDER_THAN" -> "30d",
      "RS_LIFECYCLE_1_MODE" -> "dry_run",
      "RS_INSTANCE_NAME" -> "node1",
      "RS_SYSTEM_EVENTS_LOG_LEVEL" -> "INFO",
      "RS_SYSTEM_EVENTS_QUOTA_SIZE" -> "50MB"))
  private lazy val port = { api.start(); api.boundPort }
  private lazy val client = HttpClient.newHttpClient()

  private def req(method: String, path: String, body: Array[Byte] = Array.empty,
      token: String = "root-token"): HttpResponse[Array[Byte]] = {
    var b = HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port/api/v1$path"))
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    if (token.nonEmpty) b = b.header("Authorization", s"Bearer $token")
    client.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
  }

  private def jsonOf(r: HttpResponse[Array[Byte]]): org.json4s.JValue =
    org.json4s.jackson.JsonMethods.parse(new String(r.body(), "UTF-8"))

  test("provisioned bucket: settings applied over env defaults, mutations 409") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val info = jsonOf(req("GET", "/b/prov-bucket"))
    assert((info \ "info" \ "is_provisioned").extract[Boolean])
    assert((info \ "settings" \ "quota_type").extract[String] == "FIFO")
    assert((info \ "settings" \ "quota_size").extract[Long] == 1000000000L)
    // instance default flowed in where the bucket didn't override
    assert((info \ "settings" \ "max_block_records").extract[Long] == 2048L)
    assert(req("PUT", "/b/prov-bucket", """{"quota_type":"NONE"}""".getBytes)
      .statusCode() == 409)
    assert(req("DELETE", "/b/prov-bucket").statusCode() == 409)
    assert(req("PUT", "/b/prov-bucket/rename",
      """{"new_name":"x"}""".getBytes).statusCode() == 409)
    // a normal bucket picks up the env instance defaults too
    assert(req("POST", "/b/plain").statusCode() == 200)
    val plain = jsonOf(req("GET", "/b/plain"))
    assert((plain \ "settings" \ "max_block_records").extract[Long] == 2048L)
    assert(!(plain \ "info" \ "is_provisioned").extract[Boolean])
    assert(req("DELETE", "/b/plain").statusCode() == 200)
  }

  test("provisioned token: fixed secret authenticates, remove/rotate 409") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val me = jsonOf(req("GET", "/me", token = "prov-token-secret"))
    assert((me \ "name").extract[String] == "prov-token")
    assert((me \ "is_provisioned").extract[Boolean])
    assert((me \ "permissions" \ "read").extract[Seq[String]] ==
      Seq("prov-bucket", "other"))
    assert(req("DELETE", "/tokens/prov-token").statusCode() == 409)
    assert(req("POST", "/tokens/prov-token/rotate").statusCode() == 409)
  }

  test("provisioned replication: update/remove 409, mode PATCH allowed") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val r = jsonOf(req("GET", "/replications/prov-repl"))
    assert((r \ "info" \ "is_provisioned").extract[Boolean])
    assert((r \ "info" \ "mode").extract[String] == "paused")
    assert((r \ "settings" \ "dst_bucket").extract[String] == "mirror")
    assert(req("PUT", "/replications/prov-repl",
      """{"src_bucket":"prov-bucket","dst_bucket":"m2"}""".getBytes)
      .statusCode() == 409)
    assert(req("DELETE", "/replications/prov-repl").statusCode() == 409)
    // set_mode (repo.rs:385-394) does NOT check the provisioned flag
    assert(req("PATCH", "/replications/prov-repl/mode",
      """{"mode":"enabled"}""".getBytes).statusCode() == 200)
    assert((jsonOf(req("GET", "/replications/prov-repl"))
      \ "info" \ "mode").extract[String] == "enabled")
  }

  test("provisioned lifecycle: update/remove 409, mode PATCH allowed") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val l = jsonOf(req("GET", "/lifecycle/prov-lc"))
    assert((l \ "info" \ "is_provisioned").extract[Boolean])
    assert((l \ "info" \ "mode").extract[String] == "dry_run")
    assert(req("PUT", "/lifecycle/prov-lc",
      """{"type":"delete","older_than":"1d","bucket":"prov-bucket"}""".getBytes)
      .statusCode() == 409)
    assert(req("DELETE", "/lifecycle/prov-lc").statusCode() == 409)
    assert(req("PATCH", "/lifecycle/prov-lc/mode",
      """{"mode":"enabled"}""".getBytes).statusCode() == 200)
  }

  test("system events config parses: level gate, OFF, enabled flag") {
    val d = Provisioning.parse(Map.empty).systemEvents
    assert(d.enabled && d.logLevel.contains("WARN") &&
      d.quotaSize == 10000000000L)
    assert(Provisioning.parse(Map("RS_SYSTEM_EVENTS_LOG_LEVEL" -> "OFF"))
      .systemEvents.logLevel.isEmpty)
    assert(Provisioning.parse(Map("RS_SYSTEM_EVENTS_LOG_LEVEL" -> "bogus"))
      .systemEvents.logLevel.isEmpty)
    assert(Provisioning.parse(Map("RS_SYSTEM_EVENTS_LOG_LEVEL" -> "debug"))
      .systemEvents.logLevel.contains("DEBUG"))
    assert(!Provisioning.parse(Map("RS_SYSTEM_EVENTS_ENABLED" -> "false"))
      .systemEvents.enabled)
    assert(Provisioning.parse(Map("RS_INSTANCE_NAME" -> " n7 "))
      .systemEvents.instance == "n7")
  }

  test("an instance name outside [A-Za-z0-9_-] maps to one entry segment, " +
      "with a warning") {
    val r = Provisioning.parse(Map("RS_INSTANCE_NAME" -> "node.a"))
    assert(r.systemEvents.instance == "node_a")
    assert(r.warnings.exists(w => w.contains("'node.a'") && w.contains("'node_a'")),
      r.warnings.toString)
    val plain = Provisioning.parse(Map("RS_INSTANCE_NAME" -> "node-1_b"))
    assert(plain.systemEvents.instance == "node-1_b" && plain.warnings.isEmpty)
    assert(Provisioning.parse(Map("RS_INSTANCE_NAME" -> "a/b c\u00e9"))
      .systemEvents.instance == "a_b_c_")
  }

  test("$system is provisioned: un-removable, settings-protected, env quota") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    port // force server construction (provisioning applies $system settings)
    assert(req("DELETE", "/b/$system").statusCode() == 409)
    assert(req("PUT", "/b/$system", """{"quota_type":"NONE"}""".getBytes)
      .statusCode() == 409)
    val info = jsonOf(req("GET", "/b/$system"))
    assert((info \ "info" \ "is_provisioned").extract[Boolean])
    assert((info \ "settings" \ "quota_type").extract[String] == "FIFO")
    assert((info \ "settings" \ "quota_size").extract[Long] == 50000000L)
  }

  test("engine log capture lands in $system/logs/<instance>, level-gated") {
    port // server up → capture configured at INFO from the env
    assert(api.systemLog.log("ERROR", "graft::test", "boom", nowUs = 1000L))
    assert(api.systemLog.log("INFO", "graft::test", "fyi", nowUs = 2000L))
    assert(!api.systemLog.log("DEBUG", "graft::test", "chatty", nowUs = 3000L),
      "below the INFO persist level → dropped before any write")
    // planted events are queryable by the &level label (path.rs
    // record_labels exposes severity as a queryable label)
    val errors = QueryEngine.query(store.table(), QuerySpec(
      bucket = Some("$system"), entries = Some(Seq("logs/**")),
      when = Some("""{"&level": {"$eq": "ERROR"}}"""))).collect()
    assert(errors.length == 1)
    assert(errors(0).getAs[String]("entry") == "logs/node1/messages")
    assert(new String(errors(0).getAs[Array[Byte]]("payload"), "UTF-8")
      .contains("\"message\":\"boom\""))
    val all = QueryEngine.query(store.table(), QuerySpec(
      bucket = Some("$system"), entries = Some(Seq("logs/**")))).count()
    assert(all == 2, "DEBUG record must not exist")
    // a same-millisecond burst persists BOTH records (ts is the record
    // id; the writer bumps to strictly increasing timestamps)
    assert(api.systemLog.log("ERROR", "graft::test", "burst1", nowUs = 5000L))
    assert(api.systemLog.log("ERROR", "graft::test", "burst2", nowUs = 5000L))
    val bursts = QueryEngine.query(store.table(), QuerySpec(
      bucket = Some("$system"), entries = Some(Seq("logs/**")),
      when = Some("""{"&level": {"$eq": "ERROR"}}"""))).count()
    assert(bursts == 3, s"boom + both burst records, got $bursts")
    // OFF disables capture entirely
    val off = new SystemLog(store, "node1", persistLevel = None)
    assert(!off.log("ERROR", "graft::test", "never"))
  }

  test("api audit trail: calls aggregate per token/path, 401s tracked") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    port // server up
    // two identical calls + one unauthorized; health probes never audit
    assert(req("GET", "/info").statusCode() == 200)
    assert(req("GET", "/info").statusCode() == 200)
    assert(req("GET", "/info", token = "wrong").statusCode() == 401)
    assert(req("GET", "/alive", token = "").statusCode() == 200)
    api.auditLog.flush(nowUs = 77000L)
    val audits = QueryEngine.query(store.table(), QuerySpec(
      bucket = Some("$system"), entries = Some(Seq("audit/**")))).collect()
      .map { r =>
        val p = new String(r.getAs[Array[Byte]]("payload"), "UTF-8")
        (r.getAs[String]("entry"), p)
      }
    val root = audits.filter(_._1 == "audit/node1/init-token")
    assert(root.nonEmpty, s"audited entries: ${audits.map(_._1).toSeq}")
    assert(root.exists(a => a._2.contains("\"path\":\"/api/v1/info\"") &&
      a._2.contains("\"call_count\":2")), s"aggregated count: $root")
    assert(audits.exists(_._1 == "audit/node1/unauthorized"),
      "401s audit under the unauthorized pseudo-token")
    assert(!audits.exists(_._2.contains("/alive")), "probes never audit")
  }

  test("$system-source replication excludes its own diagnostics (no loop)") {
    import org.apache.spark.sql.functions.col
    assert(req("POST", "/replications/sysrep",
      """{"src_bucket": "$system", "dst_bucket": "sysmirror"}""".getBytes)
      .statusCode() == 200)
    // run 1 drains the current $system family and writes its own event;
    // run 2 sees run 1's event and must skip it (the feedback guard)
    assert(req("POST", "/replications/sysrep/run").statusCode() == 200)
    assert(req("POST", "/replications/sysrep/run").statusCode() == 200)
    val mirrored = store.table().filter(col("bucket") === "sysmirror")
      .select("entry").collect().map(_.getString(0))
    assert(mirrored.exists(_.startsWith("logs/")),
      s"the $$system log family replicated: ${mirrored.toSeq.distinct}")
    assert(!mirrored.exists(_.startsWith("replications/node1/sysrep")),
      s"own diagnostics must not replicate: ${mirrored.toSeq.distinct}")
  }

  test("replication settings survive with correct shape") {
    val r = Provisioning.parse(Map(
      "RS_REPLICATION_A_NAME" -> "full",
      "RS_REPLICATION_A_SRC_BUCKET" -> "s",
      "RS_REPLICATION_A_DST_BUCKET" -> "d",
      "RS_REPLICATION_A_DST_PREFIX" -> "copy-",
      "RS_REPLICATION_A_ENTRIES" -> "a/*, b",
      "RS_REPLICATION_A_COMPRESSION" -> "zstd"))
    val s = r.replications("full")
    assert(s.srcBucket.contains("s") && s.dstBucket == "d")
    assert(s.dstPrefix == "copy-" && s.compression == "zstd")
    assert(s.entries.contains(Seq("a/*", "b")))
    assert(s.mode == Streaming.ReplicationMode.Enabled)
  }
}
