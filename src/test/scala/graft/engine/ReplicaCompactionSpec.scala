package graft.engine

import graft.SparkTestBase
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Read-only replica role (RS_INSTANCE_ROLE=REPLICA, engine.rs
  * check_mode + reload_replica) and the periodic small-file compaction
  * tick (RS_ENGINE_COMPACTION_INTERVAL — entry.rs:340's maintenance,
  * re-expressed as parquet partition coalescing). */
class ReplicaCompactionSpec extends AnyFunSuite with SparkTestBase {

  private def fileCount(store: BucketStore, b: String, e: String): Int = {
    val p = new org.apache.hadoop.fs.Path(
      s"${store.root}/bucket=$b/entry=$e")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0
    else fs.listStatus(p).filter(_.isDirectory).map(d =>
      fs.listStatus(d.getPath).count(st => st.isFile &&
        !st.getPath.getName.startsWith("_") &&
        !st.getPath.getName.startsWith("."))).sum
  }

  test("compact coalesces an overcrowded partition; data + labels exact; " +
      "idle tick is a no-op that keeps caches valid") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-compact").toString)
    // 24 single-record mutations = 24 files in one (bucket, entry, day)
    for (i <- 0 until 24)
      store.writeBatch("b", "e", Seq((i.toLong, Map("i" -> i.toString),
        s"p$i".getBytes("UTF-8"))))
    // an outstanding label patch must fold into the rewrite
    store.updateLabelsMatched("b", Seq(("e", 3L, Map("patched" -> "yes"), Set.empty))).size.toLong
    assert(fileCount(store, "b", "e") >= 24)
    val before = store.table().orderBy("ts")
      .collect().map(r => (r.getAs[Long]("ts"),
        r.getAs[Map[String, String]]("labels"),
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
    assert(store.compact(maxFilesPerPartition = 16) == 1)
    assert(fileCount(store, "b", "e") < 24, "files must coalesce")
    val after = store.table().orderBy("ts")
      .collect().map(r => (r.getAs[Long]("ts"),
        r.getAs[Map[String, String]]("labels"),
        new String(r.getAs[Array[Byte]]("payload"), "UTF-8")))
    assert(after.toSeq == before.toSeq, "every record byte-identical")
    assert(after.find(_._1 == 3L).get._2("patched") == "yes",
      "overlay patch folded into the rewrite")
    // nothing overcrowded anymore: the tick is lock-free and does not
    // bump the data version (cached sizes stay valid between mutations)
    val v = store.dataVersion
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.dataVersion == v, "idle compact must not invalidate caches")
  }

  test("oracle-gated compaction invisibility (VERDICT r18 #3 / r19 #7): " +
      "a fragmented sf0.01 corpus compacts mid-ingest with query results " +
      "byte-identical to the never-compacted staging") {
    import org.apache.spark.sql.functions.col
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-compact-oracle").toString)
    // the REAL sf0.01 corpus the driver oracles against, in record layout
    val corpus = graft.core.Records.fromEvents(
      spark.read.parquet("/root/testdata/sf0.01/events.parquet"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = corpus.count()
    val half = corpus.agg(org.apache.spark.sql.functions
      .percentile_approx(col("ts"), org.apache.spark.sql.functions.lit(0.5),
        org.apache.spark.sql.functions.lit(10000))).collect()(0).getLong(0)
    // fragment: tiny files per (bucket, entry, dt) partition
    store.write(corpus.filter(col("ts") <= half), maxRecordsPerFile = 8L)
    // MID-CORPUS compact: the second half lands AFTER the rewrite swap
    assert(store.compact(maxFilesPerPartition = 4) > 0,
      "the fragmented first half must actually compact")
    store.write(corpus.filter(col("ts") > half), maxRecordsPerFile = 8L)
    assert(store.compact(maxFilesPerPartition = 4) > 0,
      "the fragmented second half must actually compact")
    // byte-exactness of the whole served corpus ⇒ every deterministic
    // query over it (the driver's 116-hash gate) is unchanged; plus two
    // representative QueryEngine paths compared end to end
    assert(store.table().count() == n)
    // set ops reject MAP columns — compare labels as sorted entry arrays
    def canon(df: org.apache.spark.sql.DataFrame) = df.select(
      col("bucket"), col("entry"), col("ts"),
      org.apache.spark.sql.functions.array_sort(
        org.apache.spark.sql.functions.map_entries(col("labels"))).as("lbl"),
      col("payload"))
    val diff = canon(store.table()).exceptAll(canon(corpus)).count()
    assert(diff == 0, "served rows must be byte-identical after compaction")
    val specs = Seq(
      QuerySpec(when = Some("""{"&value": {"$gt": 100}, "$in": ["&type", "click", "view"]}""")),
      QuerySpec(when = Some("""{"$each_n": 7}""")))
    for (spec <- specs) {
      val viaStore = QueryEngine.query(store.table(), spec)
        .select("entry", "ts").collect().map(r => (r.getString(0), r.getLong(1)))
      val direct = QueryEngine.query(corpus, spec)
        .select("entry", "ts").collect().map(r => (r.getString(0), r.getLong(1)))
      assert(viaStore.toSeq == direct.toSeq,
        s"query through the compacted store must match the staging: $spec")
    }
    corpus.unpersist()
    store.close()
  }

  test("replica: reads shared tree, mutators 403-shaped, refresh sees " +
      "primary progress, writer lock untouched") {
    val root = Files.createTempDirectory("graft-replica").toString
    val primary = new BucketStore(spark, root)
    primary.writeBatch("b", "e", Seq((1L, Map.empty[String, String],
      "one".getBytes("UTF-8"))))
    // the replica never claims the writer lock (the primary holds it) —
    // constructing one alongside a live primary must not throw
    val replica = new BucketStore(spark, root, readOnly = true)
    assert(replica.table().count() == 1)
    val e = intercept[BucketStore.ReadOnlyStoreException] {
      replica.writeBatch("b", "e", Seq((2L, Map.empty[String, String],
        "two".getBytes("UTF-8"))))
    }
    assert(e.getMessage.contains("read-only mode"))
    intercept[BucketStore.ReadOnlyStoreException](
      replica.putBucketSettings("b", BucketStore.BucketSettings()))
    intercept[BucketStore.ReadOnlyStoreException](
      replica.removeRecords("b", Seq(("e", 1L))))
    // cached size figures refresh on the reload cadence
    val sizeBefore = replica.storeSizeBytes
    primary.writeBatch("b", "e", Seq((2L, Map.empty[String, String],
      ("x" * 4096).getBytes("UTF-8"))))
    replica.refreshReplica()
    assert(replica.storeSizeBytes > sizeBefore, "refresh re-walks the tree")
    assert(replica.table().count() == 2, "new primary writes visible")
    replica.close() // no lock release to perform; must not throw
    primary.close()
  }

  test("HTTP facade on a replica: reads serve, writes 403 with the " +
      "check_mode message; role env must agree with the store") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val root = Files.createTempDirectory("graft-replica-http").toString
    val primary = new BucketStore(spark, root)
    primary.writeBatch("b", "e", Seq((1L, Map.empty[String, String],
      "r".getBytes("UTF-8"))))
    val replica = new BucketStore(spark, root, readOnly = true)
    val api = new HttpApi(replica, apiToken = "root",
      env = Map("RS_INSTANCE_ROLE" -> "REPLICA"))
    val port = api.start()
    val client = HttpClient.newHttpClient()
    def req(method: String, path: String, body: Array[Byte] = Array.empty) =
      client.send(HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:$port/api/v1$path"))
        .header("Authorization", "Bearer root")
        .method(method, HttpRequest.BodyPublishers.ofByteArray(body)).build(),
        HttpResponse.BodyHandlers.ofByteArray())
    try {
      val r = req("GET", "/b/b/e?ts=1")
      assert(r.statusCode() == 200 && new String(r.body()) == "r")
      val w = req("POST", "/b/b/e?ts=9", "nope".getBytes)
      assert(w.statusCode() == 403, new String(w.body()))
      assert(new String(w.body(), "UTF-8").contains("read-only mode"))
      val rm = req("DELETE", "/b/b/e/batch",
        body = Array.empty)
      assert(rm.statusCode() == 403 || rm.statusCode() == 422)
    } finally { api.stop(); primary.close() }
    // role/store disagreement fails construction (the reference panics
    // on an invalid role; a replica role on a writable store would
    // silently bypass check_mode)
    intercept[IllegalArgumentException] {
      new HttpApi(primary, apiToken = "root",
        env = Map("RS_INSTANCE_ROLE" -> "REPLICA"))
    }
    intercept[IllegalArgumentException] {
      new HttpApi(primary, apiToken = "root",
        env = Map("RS_INSTANCE_ROLE" -> "bogus"))
    }
  }

  test("replica forwards $system events to the primary over HTTP " +
      "(RS_PRIMARY_URL, syslog/forward_writer.rs), with failover") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-fwd").toString
    val primary = new BucketStore(spark, root)
    val primaryApi = new HttpApi(primary, apiToken = "shared")
    val pPort = primaryApi.start()
    val replica = new BucketStore(spark, root, readOnly = true)
    // primary URL is a DEAD port — the live primary is the SECONDARY:
    // proves both the failover policy and the forward wire shape
    val api = new HttpApi(replica, apiToken = "shared",
      env = Map("RS_INSTANCE_ROLE" -> "REPLICA",
        "RS_PRIMARY_URL" -> "http://127.0.0.1:9",
        "RS_SECONDARY_URL" -> s"http://127.0.0.1:$pPort",
        "RS_SYSTEM_EVENTS_REMOTE_TIMEOUT" -> "2"))
    api.start()
    try {
      // generate replica-side telemetry, then flush — the usage events
      // must LAND IN THE PRIMARY'S TREE, shipped over its write API
      replica.usage.countRead("b", "e", 3L, 42L)
      api.flushTelemetryNow()
      val landed = primary.readConsistent {
        primary.table()
          .filter(col("bucket") === "$system" &&
            col("entry").startsWith("usage/"))
          .select("entry", "labels").collect()
      }
      assert(landed.nonEmpty, "forwarded usage events must land on the primary")
      assert(landed.forall(r =>
        r.getAs[Map[String, String]]("labels").contains("status")),
        "the status label travels on the batch wire")
      // ordering semantics of the r20 batched flush: ts are assigned
      // serially before encoding, so usage/total (emitted first) sorts
      // strictly before the per-bucket events it summarizes
      val byTs = primary.readConsistent {
        primary.table()
          .filter(col("bucket") === "$system" &&
            col("entry").startsWith("usage/"))
          .select("entry", "ts").collect()
      }.map(r => (r.getAs[String]("entry"), r.getAs[Long]("ts"))).sortBy(_._2)
      assert(byTs.map(_._2).distinct.length == byTs.length,
        "batched events keep strictly-increasing unique timestamps")
      assert(byTs.head._1.matches("usage/[^/]+/total"),
        s"usage/total must keep the earliest ts in the flush: ${byTs.toSeq}")
      // the replica kept NO local $system of its own beyond the shared
      // tree (it cannot write; the rows above came through the primary)
      // and log capture is node-local: skipped on a replica
      assert(!api.systemLog.log("ERROR", "t", "m"),
        "replica log capture must be skipped (syslog.rs:332)")
    } finally { api.stop(); primaryApi.stop(); primary.close() }
  }

  test("a replica named by a dotted host name forwards its usage flush " +
      "under the mapped entry segment") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-fwd-name").toString
    val primary = new BucketStore(spark, root)
    val primaryApi = new HttpApi(primary, apiToken = "shared")
    val pPort = primaryApi.start()
    val replica = new BucketStore(spark, root, readOnly = true)
    val api = new HttpApi(replica, apiToken = "shared",
      env = Map("RS_INSTANCE_ROLE" -> "REPLICA",
        "RS_INSTANCE_NAME" -> "node.a",
        "RS_PRIMARY_URL" -> s"http://127.0.0.1:$pPort",
        "RS_SYSTEM_EVENTS_REMOTE_TIMEOUT" -> "10"))
    api.start()
    try {
      replica.usage.countRead("b", "e", 3L, 42L)
      api.flushTelemetryNow()
      // "node.a" fails the primary's entry-name check (422): only the
      // mapped segment lands
      val landed = primary.readConsistent {
        primary.table()
          .filter(col("bucket") === "$system" && col("entry").startsWith("usage/"))
          .select("entry").collect().map(_.getString(0)).toSet
      }
      assert(landed == Set("usage/node_a/total", "usage/node_a/b"),
        s"forwarded usage entries: $landed")
    } finally { api.stop(); primaryApi.stop(); primary.close() }
  }

  test("a replica flush past the primary's 200-header cap forwards every " +
      "usage event (chunked io-v2 batches)") {
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("graft-fwd-cap").toString
    val primary = new BucketStore(spark, root)
    val primaryApi = new HttpApi(primary, apiToken = "shared")
    val pPort = primaryApi.start()
    val replica = new BucketStore(spark, root, readOnly = true)
    val api = new HttpApi(replica, apiToken = "shared",
      env = Map("RS_INSTANCE_ROLE" -> "REPLICA",
        "RS_PRIMARY_URL" -> s"http://127.0.0.1:$pPort",
        "RS_SYSTEM_EVENTS_REMOTE_TIMEOUT" -> "10"))
    api.start()
    try {
      // usage/total + one event per bucket = 251 records; the io-v2 wire
      // spends one header per record, and the JDK HttpServer refuses a
      // request with more than 200 headers
      val nBuckets = 250
      for (b <- 0 until nBuckets)
        replica.usage.countRead(f"cap$b%03d", "e", 3L, 1024L)
      api.flushTelemetryNow()
      val landed = primary.readConsistent {
        primary.table()
          .filter(col("bucket") === "$system" &&
            col("entry").startsWith("usage/"))
          .select("entry").collect().map(_.getString(0))
      }
      assert(landed.length == nBuckets + 1,
        s"expected ${nBuckets + 1} forwarded usage events, found ${landed.length}")
      assert(landed.count(_.endsWith("/total")) == 1)
    } finally { api.stop(); primaryApi.stop(); primary.close() }
  }

  test("the compaction probe reads the cached file index: an idle tick " +
      "lists nothing, and after a write the tick and the next read share one listing") {
    val root = Files.createTempDirectory("graft-compact-inc").toString
    val store = new BucketStore(spark, root)
    // 8 quiet entries, one record each — the standing tree an idle tick
    // must not re-list
    for (i <- 0 until 8)
      store.writeBatch("b", s"quiet$i", Seq((1L, Map.empty[String, String],
        "q".getBytes("UTF-8"))))
    // first tick builds the base file index; nothing overcrowded
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    // idle tick: the cached index serves the probe — ZERO listings
    val idle = store.baseTableBuilds.get
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.baseTableBuilds.get == idle,
      "idle tick must build no base file index")
    // fragment ONE entry: the tick finds its overcrowded partition
    for (i <- 0 until 20)
      store.writeBatch("b", "hot", Seq((i.toLong, Map.empty[String, String],
        s"h$i".getBytes("UTF-8"))))
    assert(store.compact(maxFilesPerPartition = 16) == 1, "hot compacts")
    // the rewrite is invisible to readers: every record byte-identical
    val rows = store.table().orderBy("entry", "ts").collect()
    assert(rows.length == 28)
    // after a write — a generic write(records) included — the tick and
    // the next read share ONE listing of the tree
    store.write(graft.core.Records.fromEvents(spark.range(1).selectExpr(
      "id as event_id", "timestamp_micros(1000000) as ts", "id as user_id",
      "'t' as event_type", "cast(1.0 as double) as value", "'{}' as props")))
    val afterWrite = store.baseTableBuilds.get
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.table().count() == 29)
    assert(store.baseTableBuilds.get - afterWrite <= 1,
      s"a tick plus the next read built ${store.baseTableBuilds.get - afterWrite} indexes")
    val again = store.baseTableBuilds.get
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.baseTableBuilds.get == again, "then idle again")
    store.close()
  }

  test("replica readConsistent retries missing-file errors (the primary's " +
      "swap race); owning stores still rethrow them") {
    val root = Files.createTempDirectory("graft-replica-retry").toString
    val primary = new BucketStore(spark, root)
    val replica = new BucketStore(spark, root, readOnly = true)
    try {
      // the replica's epoch counter cannot see the primary's swaps, so a
      // vanished-file error IS the race: first attempts fail, the read
      // settles on retry — across the error shapes Spark actually throws
      // (typed FNF at execution, wrapped SparkException from a task,
      // message-only path-not-found from listing/planning)
      for (mk <- Seq[() => Throwable](
          () => new java.io.FileNotFoundException(s"$root/bucket=b/gone.parquet"),
          () => new RuntimeException("job aborted",
            new java.io.FileNotFoundException("part-0000.parquet")),
          () => new RuntimeException(
            "[PATH_NOT_FOUND] Path does not exist: bucket=b/entry=e"))) {
        var calls = 0
        val out = replica.readConsistent {
          calls += 1
          if (calls <= 2) throw mk()
          42
        }
        assert(out == 42 && calls == 3, "retry until the swap settles")
      }
      // an owning store's epoch DOES see its own swaps — an FNF with no
      // epoch movement is a real error and must surface, not retry
      var ownerCalls = 0
      val ex = intercept[java.io.FileNotFoundException] {
        primary.readConsistent {
          ownerCalls += 1
          throw new java.io.FileNotFoundException("really-missing.parquet")
        }
      }
      assert(ownerCalls == 1 && ex.getMessage.contains("really-missing"))
      // unrelated replica errors are not retried either
      var otherCalls = 0
      intercept[IllegalArgumentException] {
        replica.readConsistent {
          otherCalls += 1
          throw new IllegalArgumentException("bad spec")
        }
      }
      assert(otherCalls == 1, "non-race errors must not retry on a replica")
    } finally { primary.close() }
  }

  test("replica reads race the primary's compact+fold+remove loop: " +
      "zero failures, zero dropped rows across >= 100 reads") {
    val root = Files.createTempDirectory("graft-replica-race").toString
    val primary = new BucketStore(spark, root)
    // a stable floor the mutation loop never touches, plus a churn entry
    primary.writeBatch("b", "stable", (0 until 50).map(i =>
      (i.toLong, Map.empty[String, String], s"s$i".getBytes("UTF-8"))))
    val replica = new BucketStore(spark, root, readOnly = true)
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val primaryFailure = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    // primary churn: fragment the churn entry with single-record writes,
    // fold a label patch, compact (partition swap), remove (another
    // swap) — every iteration crosses at least two rename windows
    val churn = new Thread(() => {
      try {
        var i = 0
        while (!stop.get()) {
          val ts = (1000 + i).toLong
          primary.writeBatch("b", "churn",
            Seq((ts, Map("i" -> i.toString), s"c$i".getBytes("UTF-8"))))
          primary.writeBatch("b", "churn",
            Seq((ts + 100000, Map.empty[String, String], "x".getBytes("UTF-8"))))
          primary.updateLabelsMatched("b",
            Seq(("churn", ts, Map("patched" -> "y"), Set.empty[String]))).size.toLong
          primary.compact(maxFilesPerPartition = 1): Unit
          primary.removeRecords("b", Seq(("churn", ts + 100000))): Unit
          i += 1
        }
      } catch { case t: Throwable => primaryFailure.set(t) }
    })
    churn.start()
    try {
      var reads = 0
      while (reads < 100 && primaryFailure.get() == null) {
        // the count must never lose the stable floor: a silently-dropped
        // partition (the ignoreMissingFiles failure mode) or a 5xx-shaped
        // throw both fail the spec
        val n = replica.readConsistent {
          replica.table().filter(org.apache.spark.sql.functions.col("entry") === "stable").count()
        }
        assert(n == 50, s"stable rows must survive every swap (got $n)")
        reads += 1
      }
      assert(reads >= 100)
      assert(primaryFailure.get() == null,
        s"primary churn failed: ${primaryFailure.get()}")
    } finally {
      stop.set(true)
      churn.join(60000)
      primary.close()
    }
  }

  test("scoped compaction probe resolves slash-containing entry names " +
      "(escapePartition matches the partition writer's %2F dirs)") {
    val root = Files.createTempDirectory("graft-compact-slash").toString
    val store = new BucketStore(spark, root)
    // the dir on disk is entry=events%2Fpurchase — the probe must count
    // it under the decoded entry name the rewrite scans (ADVICE r19)
    for (i <- 0 until 20)
      store.writeBatch("b", "events/purchase",
        Seq((i.toLong, Map.empty[String, String], s"p$i".getBytes("UTF-8"))))
    assert(store.compact(maxFilesPerPartition = 16) == 1,
      "slash-entry partitions must be visible to the probe")
    val rows = store.table().orderBy("ts").collect()
    assert(rows.length == 20 &&
      rows.forall(_.getAs[String]("entry") == "events/purchase"),
      "compaction must preserve every slash-entry record")
    // the compacted partition is no longer a candidate, and the tick
    // after that is idle: it builds no index
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    val idle = store.baseTableBuilds.get
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.baseTableBuilds.get == idle)
    store.close()
  }

  test("a $system flush's tick and next read share one listing") {
    val root = Files.createTempDirectory("graft-sys-dirty").toString
    val store = new BucketStore(spark, root)
    // 8 quiet entries beside the $system tree
    for (i <- 0 until 8)
      store.writeBatch("b", s"quiet$i",
        Seq((1L, Map.empty[String, String], "q".getBytes("UTF-8"))))
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    val syslog = new SystemLog(store, "srv", Some("INFO"))
    assert(syslog.log("ERROR", "t", "boom"))
    assert(syslog.events(Seq(
      SystemLog.Event("usage", "total", 200, "{}"),
      SystemLog.Event("usage", "b", 200, "{}"))))
    // the tick after the flush and the next read share one listing
    val builds = store.baseTableBuilds.get
    assert(store.compact(maxFilesPerPartition = 16) == 0)
    assert(store.entryCatalog()("$system").all.size == 3)
    assert(store.baseTableBuilds.get - builds <= 1,
      s"a $$system flush's tick and read built ${store.baseTableBuilds.get - builds} indexes")
    store.close()
  }

  test("/list, /info and bucket info stay 200 while compaction swaps " +
      "overcrowded partitions under them") {
    import java.net.URI
    import java.net.http.{HttpClient, HttpRequest, HttpResponse}
    val root = Files.createTempDirectory("graft-list-race").toString
    val store = new BucketStore(spark, root)
    val api = new HttpApi(store, apiToken = "root")
    val port = api.start()
    val client = HttpClient.newHttpClient()
    def get(path: String) = client.send(HttpRequest.newBuilder(
        URI.create(s"http://127.0.0.1:$port/api/v1$path"))
      .header("Authorization", "Bearer root").GET().build(),
      HttpResponse.BodyHandlers.ofString())
    // 8 entries x 3 days, one file per record: every partition is
    // overcrowded for maxFilesPerPartition = 2. A writer keeps adding
    // such files (each write bumps the data version, so the cached
    // figures are recomputed) while compaction swaps partition dirs.
    val day = 86400000000L
    val next = new java.util.concurrent.atomic.AtomicLong(0L)
    def fragment(): Unit = {
      import scala.jdk.CollectionConverters._
      val base = next.getAndAdd(3L)
      val rows = for (e <- 0 until 8; d <- 0 until 3; i <- 0 until 3) yield
        org.apache.spark.sql.Row("b", s"e$e", d * day + base + i,
          Map.empty[String, String], Map.empty[String, String], "",
          graft.core.Records.State.Finished, s"p$i".getBytes("UTF-8"))
      store.write(spark.createDataFrame(rows.asJava, graft.core.Records.schema),
        maxRecordsPerFile = 1L)
    }
    fragment()
    @volatile var done = false
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val replies = new java.util.concurrent.atomic.AtomicInteger(0)
    def loop(body: => Unit) = {
      val t = new Thread(() => while (!done) body)
      t.start(); t
    }
    val threads = loop(fragment()) +: Seq("/list", "/list", "/info", "/b/b").map { path =>
      loop {
        val r = get(path)
        replies.incrementAndGet()
        if (r.statusCode() != 200) failures.add(s"$path ${r.statusCode()}: ${r.body()}")
      }
    }
    var rounds = 0
    val deadline = System.nanoTime() + 120L * 1000000000L
    try while (rounds < 10 && System.nanoTime() < deadline)
      if (store.compact(maxFilesPerPartition = 2) > 0) rounds += 1
    finally {
      done = true
      threads.foreach(_.join())
      api.stop(); store.close()
    }
    import scala.jdk.CollectionConverters._
    assert(failures.isEmpty, failures.asScala.take(3).mkString("\n"))
    assert(rounds == 10 && replies.get > 0, s"$rounds compactions, ${replies.get} replies")
  }
}
