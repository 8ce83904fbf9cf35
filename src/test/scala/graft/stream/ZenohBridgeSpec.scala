package graft.stream

import graft.engine.{BucketStore, SparkJobs}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files

/** Zenoh-shaped ingest/query seam over an in-memory transport
  * (api/zenoh/subscriber.rs, api/zenoh/queryable.rs, cfg/zenoh.rs). The
  * transport trait is the only unimplementable piece in this build; every
  * mapping rule it feeds is exercised here.
  */
class ZenohBridgeSpec extends AnyFunSuite with SparkJobs {

  import Zenoh._

  /** Drives handlers directly: publish() fans a sample to subscribers,
    * get() routes a selector to the queryable. */
  private final class InMemoryTransport extends Transport {
    private var subs = List.empty[(String, Sample => Unit)]
    private var queryables = List.empty[(String, Query => Iterator[Reply])]
    def subscribe(kx: String)(h: Sample => Unit): AutoCloseable = {
      subs ::= (kx, h); () => subs = subs.filterNot(_._2 eq h)
    }
    def queryable(kx: String)(h: Query => Iterator[Reply]): AutoCloseable = {
      queryables ::= (kx, h); () => queryables = queryables.filterNot(_._2 eq h)
    }
    def publish(s: Sample): Unit = subs.foreach(_._2(s))
    def get(q: Query): Seq[Reply] = queryables.flatMap(_._2(q).toSeq)
    def subscriberCount: Int = subs.size
  }

  private def newStore() =
    new BucketStore(spark, Files.createTempDirectory("graft-zenoh").toString)

  private def bridge(store: BucketStore, t: Transport,
      config: Config = Config(enabled = true, subKeyexprs = Some("**"),
        queryKeyexprs = Some("**")),
      warns: StringBuilder = new StringBuilder,
      limits: graft.engine.RateLimits = graft.engine.RateLimits.unlimited) =
    new ZenohBridge(store, config, t, flushEvery = 1024,
      nowUs = () => 7777000L, onWarn = m => { warns.append(m).append('\n'); () },
      limits = limits)

  test("disabled config starts nothing (api/zenoh.rs spawn_runtime)") {
    val t = new InMemoryTransport
    val b = new ZenohBridge(newStore(), Config(enabled = false), t)
    assert(b.start().isEmpty)
    assert(t.subscriberCount == 0)
  }

  test("samples land in the fixed bucket with keyexpr as entry name") {
    val store = newStore()
    val t = new InMemoryTransport
    val b = bridge(store, t, Config(enabled = true, bucket = "robots",
      subKeyexprs = Some("**")))
    assert(b.start().isDefined)
    t.publish(Sample("/factory/line1/cam", "frame-1".getBytes,
      timestampUs = Some(1000L), contentType = "image/jpeg"))
    t.publish(Sample("sensor/imu", "a".getBytes)) // no ts → injected clock
    b.flush()
    val rows = store.table().orderBy("ts")
      .select("bucket", "entry", "ts", "content_type").collect()
    assert(rows.map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq ==
      Seq(("robots", "factory/line1/cam", 1000L), ("robots", "sensor/imu", 7777000L)))
    assert(rows(0).getString(3) == "image/jpeg")
  }

  test("attachment labels: decode, source-label override, invalid degrade") {
    val store = newStore()
    val t = new InMemoryTransport
    val warns = new StringBuilder
    val b = bridge(store, t, warns = warns)
    b.start()
    t.publish(Sample("e", "p1".getBytes, timestampUs = Some(1L),
      attachment = Some("""{"sensor": "imu", "unit": "m/s^2", "n": 3}""".getBytes),
      sourceLabels = Map("sensor" -> "override")))
    t.publish(Sample("e", "p2".getBytes, timestampUs = Some(2L),
      attachment = Some("not-json".getBytes))) // invalid → warn, still lands
    b.flush()
    val rows = store.table().orderBy("ts").collect()
    val l1 = rows(0).getAs[Map[String, String]]("labels")
    assert(l1 == Map("sensor" -> "override", "unit" -> "m/s^2", "n" -> "3"))
    val l2 = rows(1).getAs[Map[String, String]]("labels")
    assert(l2.isEmpty)
    assert(warns.toString.contains("failed to decode labels"))
  }

  test("keys outside the subscribed pattern are dropped (pattern.rs grammar)") {
    val store = newStore()
    val t = new InMemoryTransport
    val warns = new StringBuilder
    val b = bridge(store, t, Config(enabled = true,
      subKeyexprs = Some("factory/**")), warns)
    b.start()
    t.publish(Sample("factory/line1/cam", "in".getBytes, timestampUs = Some(1L)))
    t.publish(Sample("office/desk", "out".getBytes, timestampUs = Some(2L)))
    b.flush()
    assert(store.table().select("entry").collect().map(_.getString(0)).toSeq ==
      Seq("factory/line1/cam"))
    assert(warns.toString.contains("outside subscribed"))
  }

  test("duplicate (entry, ts) replays skip instead of failing the batch") {
    val store = newStore()
    val t = new InMemoryTransport
    val b = bridge(store, t)
    b.start()
    t.publish(Sample("e", "v1".getBytes, timestampUs = Some(5L)))
    b.flush()
    t.publish(Sample("e", "v2".getBytes, timestampUs = Some(5L))) // replay
    t.publish(Sample("e", "v3".getBytes, timestampUs = Some(6L)))
    b.flush()
    val rows = store.table().orderBy("ts").collect()
      .map(r => (r.getLong(r.fieldIndex("ts")), new String(r.getAs[Array[Byte]]("payload"))))
    assert(rows.toSeq == Seq((5L, "v1"), (6L, "v3")))
  }

  /** Data files under the store's `bucket=<bucket>` tree. */
  private def dataFiles(store: BucketStore, bucket: String): Int = {
    import scala.jdk.CollectionConverters._
    val it = Files.walk(java.nio.file.Paths.get(store.root, s"bucket=$bucket"))
    try it.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
    finally it.close()
  }

  test("a flush takes the bucket's max_block_records rotation, with no Spark job") {
    val store = newStore()
    store.putBucketSettings("zenoh", BucketStore.BucketSettings(maxBlockRecords = Some(2L)))
    val t = new InMemoryTransport
    val b = bridge(store, t)
    b.start()
    for (i <- 1 to 5) t.publish(Sample("cam", s"f$i".getBytes, timestampUs = Some(i.toLong)))
    val jobs = jobsOf(b.flush())
    assert(jobs == 0, s"a Zenoh flush ran $jobs Spark jobs")
    assert(dataFiles(store, "zenoh") == 3, "5 samples at 2 per file")
    assert(store.table().select("ts").collect().map(_.getLong(0)).sorted.toSeq == (1L to 5L))
  }

  test("a HARD-quota refusal throws and keeps the buffer; a later flush lands it") {
    val store = newStore()
    store.putBucketSettings("zenoh", BucketStore.BucketSettings(
      quotaType = Some("HARD"), quotaSize = Some(4L)))
    val t = new InMemoryTransport
    val b = bridge(store, t)
    b.start()
    t.publish(Sample("e", "12345".getBytes, timestampUs = Some(1L)))
    val e = intercept[IllegalArgumentException](b.flush())
    assert(e.getMessage == "Quota of 'zenoh' exceeded")
    assert(store.tableOrEmpty().count() == 0)
    store.putBucketSettings("zenoh", BucketStore.BucketSettings(
      quotaType = Some("HARD"), quotaSize = Some(64L)))
    t.publish(Sample("e", "67".getBytes, timestampUs = Some(2L)))
    b.flush()
    assert(store.table().orderBy("ts").select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).toSeq == Seq("12345", "67"))
  }

  test("queryable: ts param, last param, and when-attachment query") {
    val store = newStore()
    val t = new InMemoryTransport
    val b = bridge(store, t)
    b.start()
    for (i <- 1 to 5)
      t.publish(Sample("sensor/imu", s"r$i".getBytes, timestampUs = Some(i.toLong),
        attachment = Some(s"""{"score": "$i"}""".getBytes)))
    b.flush()
    // ts → exactly that record (queryable.rs parse_timestamp)
    val byTs = t.get(Query("sensor/imu", params = Map("ts" -> "3")))
    assert(byTs.map(r => new String(r.payload)) == Seq("r3"))
    assert(byTs.head.labels == Map("score" -> "3"))
    // last → latest record (queryable.rs parse_last)
    val last = t.get(Query("/sensor/imu/", params = Map("last" -> "true")))
    assert(last.map(_.timestampUs) == Seq(5L))
    // range + when from the attachment ({"when": ...}, attachments.rs)
    val q = t.get(Query("sensor/imu",
      params = Map("start" -> "1", "stop" -> "5", "strict" -> "true"),
      attachment = Some("""{"when": {"&score": {"$gte": 2}}}""".getBytes)))
    assert(q.map(_.timestampUs).sorted == Seq(2L, 3L, 4L))
    // bad params are invalid-parameter errors
    intercept[IllegalArgumentException] {
      t.get(Query("sensor/imu", params = Map("ts" -> "abc")))
    }
  }

  test("queryable: an empty store answers no rows, a failing footer read " +
      "is an error, not an empty answer") {
    val store = newStore()
    val t = new InMemoryTransport
    val b = bridge(store, t)
    b.start()
    assert(t.get(Query("sensor/imu", params = Map("start" -> "0"))).isEmpty)
    for (i <- 1 to 3)
      t.publish(Sample("sensor/imu", s"r$i".getBytes, timestampUs = Some(i.toLong)))
    b.flush()
    assert(t.get(Query("sensor/imu", params = Map("start" -> "0"))).size == 3)
    // a base file whose footer cannot be read, beside the entry's data
    import scala.jdk.CollectionConverters._
    val beside = Files.walk(java.nio.file.Paths.get(store.root)).iterator().asScala
      .find(f => f.toString.endsWith(".parquet") && !f.toString.contains("/_"))
      .getOrElse(fail("no base file written")).getParent
    Files.write(beside.resolve("part-99999-broken.parquet"), "not parquet".getBytes)
    store.invalidateBaseTable()
    intercept[Exception] {
      t.get(Query("sensor/imu", params = Map("start" -> "0")))
    }
    store.close()
  }

  test("config env parsing + inline credential materialization (cfg/zenoh.rs)") {
    val cfg = Config.fromEnv(Map(
      "RS_ZENOH_ENABLED" -> "true",
      "RS_ZENOH_BUCKET" -> "b1",
      "RS_ZENOH_SUB_KEYEXPRS" -> "factory/**",
      "RS_ZENOH_AUTH_DICTIONARY" -> "user:pass"))
    assert(cfg == Config(enabled = true, bucket = "b1",
      subKeyexprs = Some("factory/**"), authDictionary = Some("user:pass")))
    assert(Config.fromEnv(Map.empty) == Config()) // disabled, bucket "zenoh"
    val files = Zenoh.materializeCredentials(cfg)
    assert(files.keySet == Set("usrpwd_dictionary"))
    assert(Files.readString(files("usrpwd_dictionary")) == "user:pass")
  }

  test("query replies STREAM: lazy iterator, per-reply egress accounting") {
    import graft.engine.{RateLimits, Auth}
    val store = newStore()
    val t = new InMemoryTransport
    // 10-byte records, 35-byte egress budget: exactly 3 replies fit
    val limits = new RateLimits(RateLimits.Config(
      egress = Some(RateLimits.WindowLimit(35, 3600))))
    val b = bridge(store, t, limits = limits)
    b.start()
    for (i <- 1 to 50)
      t.publish(Sample("s", f"payload-$i%02d".getBytes, timestampUs = Some(i.toLong)))
    b.flush()
    // handleQuery RETURNS without draining — the old collect() path
    // would have thrown 429 here before yielding anything (the result
    // was materialized eagerly, queryable weak-spot r16); the stream
    // pays egress per pulled reply (session.rs:672) so the first three
    // arrive and the fourth pull raises the limit
    val it = b.handleQuery(Query("s"))
    assert(new String(it.next().payload) == "payload-01")
    assert(new String(it.next().payload) == "payload-02")
    assert(new String(it.next().payload) == "payload-03")
    val e = intercept[Auth.ApiError] { it.next() }
    assert(e.status == 429 && e.message.contains("egress bytes"))
  }

  test("rate limits: api-limited queries error, ingress-limited samples drop") {
    import graft.engine.RateLimits
    val store = newStore()
    val t = new InMemoryTransport
    val warns = new StringBuilder
    val limits = new RateLimits(RateLimits.Config(
      api = Some(RateLimits.WindowLimit(3, 3600)),
      ingress = Some(RateLimits.WindowLimit(10, 3600))))
    val b = bridge(store, t, warns = warns, limits = limits)
    b.start()
    // each sample spends one api slot + its ingress bytes
    // (subscriber.rs:69-76). Sample 1: admitted (api 1/3, ingress
    // 6/10); sample 2: api 2/3 passes but 6 more ingress bytes would
    // exceed 10 → dropped with a warning, subscriber stays alive
    t.publish(Sample("e", "abcdef".getBytes, timestampUs = Some(1L)))
    t.publish(Sample("e", "ghijkl".getBytes, timestampUs = Some(2L)))
    b.flush()
    assert(store.table().count() == 1)
    assert(warns.toString.contains("ingress bytes"))
    // the query path consumes the last api slot; the next one 429s
    // with an error the transport ships as an error reply (session.rs:499)
    assert(t.get(Query("e", params = Map("ts" -> "1"))).nonEmpty)
    val err = intercept[graft.engine.Auth.ApiError] { b.handleQuery(Query("e")) }
    assert(err.status == 429 && err.message.contains("api requests"))
  }
}
