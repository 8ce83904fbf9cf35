package graft.engine

import graft.core.Records
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Storage round-trips replaying the reference's entry/bucket semantics
  * (write conflict on duplicate ts, belated writes, label PATCH, query
  * remove, FIFO quota, rename). */
class BucketStoreSpec extends AnyFunSuite with SparkJobs {

  private def newStore(): BucketStore =
    new BucketStore(spark, Files.createTempDirectory("graft-store").toString)

  private def recordsDf(rows: Seq[(String, Long, Map[String, String])],
      bucket: String = "b"): DataFrame = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (entry, ts, labels) =>
      Row(bucket, entry, ts, labels, Map.empty[String, String],
        "", Records.State.Finished, s"payload-$ts".getBytes)
    }.asJava
    spark.createDataFrame(data, Records.schema)
  }

  private val day = 86400000000L

  test("write/read round trip with partition pruning layout") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("sensor/a", 1L, Map("k" -> "1")), ("sensor/a", day + 5L, Map("k" -> "2")),
      ("sensor/b", 7L, Map("k" -> "3")))))
    val back = store.table()
    assert(back.count() == 3)
    assert(back.filter(col("entry") === "sensor/a").count() == 2)
    // payload round-trips
    val r = back.filter(col("ts") === 7L).collect()(0)
    assert(new String(r.getAs[Array[Byte]]("payload")) == "payload-7")
  }

  test("base-table file index caches per data version: repeated reads " +
      "reuse one listing, a mutation invalidates (read-your-write)") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("k" -> "1")))))
    val b0 = store.baseTableBuilds.get
    assert(store.table().count() == 1)
    assert(store.table().count() == 1)
    assert(store.entries("b") == Seq("e"))
    assert(store.baseTableBuilds.get == b0 + 1,
      "reads between mutations must share ONE tree listing")
    // a mutation bumps the data version: the next read re-lists and sees
    // the new files — never the cached pre-mutation index
    store.write(recordsDf(Seq(("e", 2L, Map("k" -> "2")))))
    assert(store.table().count() == 2, "read-your-write after a mutation")
    assert(store.baseTableBuilds.get > b0 + 1)
    // a partition swap (remove rewrites files mid-mutation) also
    // invalidates — via the rewrite epoch, not just the exit-time bump
    assert(store.removeQuery(QuerySpec(stop = Some(2L))) == 1L)
    assert(store.table().collect().map(_.getAs[Long]("ts")).toSeq == Seq(2L))
  }

  test("duplicate ts conflicts: in-batch and vs existing; Skip mode") {
    val store = newStore()
    intercept[IllegalArgumentException] {
      store.write(recordsDf(Seq(("e", 1L, Map()), ("e", 1L, Map()))))
    }
    // rejected before any byte is written: the fresh store stays empty
    assert(store.tableOrEmpty().count() == 0)
    val root = new org.apache.hadoop.fs.Path(store.root)
    assert(!root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .listStatus(root).exists(_.getPath.getName.startsWith("bucket=")),
      "a rejected batch must not create a bucket= directory")
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "1")))))
    intercept[IllegalArgumentException] {
      store.write(recordsDf(Seq(("e", 1L, Map("v" -> "2")))))
    }
    // belated write (older ts) is fine
    store.write(recordsDf(Seq(("e", 0L, Map("v" -> "0")))))
    // Skip drops the clash, keeps the new row
    store.write(recordsDf(Seq(("e", 1L, Map()), ("e", 2L, Map()))),
      BucketStore.Conflict.Skip)
    assert(store.table().count() == 3)
  }

  test("updateLabels merges and removes keys, payload untouched") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("keep" -> "x", "old" -> "1")),
      ("e", 2L, Map("old" -> "2")))))
    val n = store.updateLabels(
      QuerySpec(when = Some("""{"$exists": ["old"]}""")),
      set = Map("new" -> "v"), remove = Set("old"))
    assert(n == 2)
    val rows = store.table().orderBy("ts").collect()
    val l1 = rows(0).getMap[String, String](rows(0).fieldIndex("labels"))
    assert(l1 == Map("keep" -> "x", "new" -> "v"))
    assert(new String(rows(0).getAs[Array[Byte]]("payload")) == "payload-1")
  }

  test("updateLabels across multiple day partitions keeps row counts exact") {
    val store = newStore()
    // 3 entries × 4 days — the shape that exposed the prefix-join
    // multiplication bug in removeQuery
    store.write(recordsDf(for {
      e <- Seq("a", "b", "c"); d <- 0 until 4
    } yield (e, d * day + e.hashCode.abs % 1000, Map("m" -> (d % 2).toString))))
    assert(store.table().count() == 12)
    val n = store.updateLabels(
      QuerySpec(when = Some("""{"&m": {"$eq": 1}}""")), set = Map("u" -> "1"))
    assert(n == 6)
    assert(store.table().count() == 12, "row count unchanged by label update")
    assert(store.table()
      .filter(map_contains_key(col("labels"), "u")).count() == 6)
    // the staged-rewrite swap leaves no _rewrite residue behind
    val fs = new org.apache.hadoop.fs.Path(store.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"${store.root}/${BucketStore.RewriteDir}")) ||
      fs.listStatus(new org.apache.hadoop.fs.Path(
        s"${store.root}/${BucketStore.RewriteDir}")).isEmpty,
      "rewrite staging dir must be cleaned up")
  }

  test("removeQuery deletes matching records only (benchmark $each_n shape)") {
    val store = newStore()
    store.write(recordsDf((0 until 10).map(i => ("e", i.toLong, Map.empty[String, String]))))
    val n = store.removeQuery(QuerySpec(when = Some("""{"$each_n": 2}""")))
    assert(n == 5)
    assert(store.table().select("ts").collect().map(_.getLong(0)).sorted.toSeq ==
      Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("removeQuery: emptied vs surviving partitions with escape-worthy entry names") {
    // guards the dropMissingFrom derivation: surviving partitions are
    // recognized by comparing escapePartition output against the dirs
    // SPARK'S WRITER produced — an escaping drift would misclassify a
    // SURVIVING special-char partition as emptied and delete live data.
    // Entry names cover '/' (escaped), tab (control), '%' (the escape
    // char itself), '=' and ':' (Hive-escaped), and a plain name.
    val store = newStore()
    val entries = Seq("a/b", "t\tb", "p%20q", "k=v", "c:d", "plain")
    store.write(recordsDf(entries.flatMap(e =>
      Seq((e, 1L, Map("side" -> "del")), (e, 2L, Map("side" -> "keep"))))))
    // doomed entry: every record matches → partition fully emptied
    store.write(recordsDf(Seq(("gone/e", 5L, Map("side" -> "del")))))
    val n = store.removeQuery(QuerySpec(when = Some("""{"&side": {"$eq": "del"}}""")))
    assert(n == entries.size + 1)
    val left = store.table().select("entry", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).toSet
    assert(left == entries.map(e => (e, 2L)).toSet,
      s"surviving special-char partitions must keep their records, got $left")
    // the fully-emptied partition's dir is gone (not just empty)
    val fs = new org.apache.hadoop.fs.Path(store.root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"${store.root}/bucket=b/entry=${BucketStore.escapePartition("gone/e")}")),
      "fully-emptied entry dir must be dropped in the swap")
  }

  test("writeBatch convenience (wire batch-protocol analog)") {
    val store = newStore()
    val jobs = jobsOf(assert(store.writeBatch("b", "sensor/x", Seq(
      (1L, Map("k" -> "v", "index" -> "0"), "p0".getBytes),
      (2L, Map("k" -> "v", "index" -> "1"), "p1".getBytes))).isEmpty))
    assert(jobs == 0, s"a writeBatch ran $jobs Spark jobs")
    val rows = store.table().orderBy("ts").collect()
    assert(rows.length == 2)
    assert(rows(0).getString(rows(0).fieldIndex("content_type")) ==
      "application/octet-stream")
    assert(new String(rows(1).getAs[Array[Byte]]("payload")) == "p1")
    // a stored key is reported as a clash, like the wire batch's 409
    // entry, and the rest lands; the stored record is untouched
    assert(store.writeBatch("b", "sensor/x", Seq((2L, Map(), "dup".getBytes),
      (3L, Map(), "p3".getBytes))) == Set(("sensor/x", 2L)))
    val after = store.table().orderBy("ts").collect()
    assert(after.map(_.getAs[Long]("ts")).toSeq == Seq(1L, 2L, 3L))
    assert(new String(after(1).getAs[Array[Byte]]("payload")) == "p1")
    assert(after(1).getAs[scala.collection.Map[String, String]]("labels")("index") == "1")
  }

  test("rename and remove entry") {
    val store = newStore()
    store.write(recordsDf(Seq(("a", 1L, Map()), ("b", 1L, Map()))))
    store.renameEntry("b", "a", "c")
    assert(store.entries("b") == Seq("b", "c"))
    intercept[IllegalArgumentException] { store.renameEntry("b", "c", "b") }
    store.removeEntry("b", "c")
    assert(store.entries("b") == Seq("b"))
  }

  test("FIFO quota evicts oldest day partitions; HARD quota rejects") {
    val store = newStore()
    store.write(recordsDf((0 until 6).map(i =>
      ("e", i * day, Map("i" -> i.toString)))))
    val size = store.bucketSizeBytes("b")
    assert(size > 0)
    val evicted = store.enforceFifoQuota("b", size / 2)
    assert(evicted > 0)
    val minTs = store.table().agg(min("ts")).collect()(0).getLong(0)
    assert(minTs > 0L, "oldest day evicted first")
    store.putBucketSettings("b", BucketStore.BucketSettings(
      quotaType = Some("HARD"), quotaSize = Some(1L)))
    val e = intercept[IllegalArgumentException] {
      store.writeBatch("b", "e", Seq((100L, Map(), "payload-100".getBytes)))
    }
    assert(e.getMessage == "Quota of 'b' exceeded")
    assert(store.table().filter(col("ts") === 100L).count() == 0)
  }

  test("RS_ENGINE_MAX_STORAGE_SIZE analog: global cap rejects across buckets") {
    // PR-1263: the cap is STORE-wide — a second bucket can't write past
    // it even when its own bucket quota would admit
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1000L, Map("k" -> "v")))))
    val used = store.storeSizeBytes
    assert(used > 0)
    store.maxStorageSize = Some(used + 5) // room for ~nothing
    val e = intercept[IllegalStateException] {
      store.writeBatch("other", "e2", Seq((2000L, Map(), new Array[Byte](100))))
    }
    assert(e.getMessage.contains("storage limit exceeded"))
    assert(store.table().count() == 1, "nothing written on rejection")
    // raising the cap admits again; unset = unlimited
    store.maxStorageSize = None
    store.writeBatch("other", "e2", Seq((2000L, Map(), new Array[Byte](100))))
    assert(store.table().count() == 2)
  }

  test("global cap guards the COMMON write path too (begin_write analog): " +
      "zenoh/streaming ingest can't grow past it") {
    // engine.rs:226 enforces ensure_storage_limit in begin_write, which
    // the zenoh subscriber and streaming ingest pass through — graft's
    // analog is BucketStore.write, the mutator both flush paths call
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1000L, Map()))))
    store.maxStorageSize = Some(store.storeSizeBytes + 5)
    // unknown incoming size (the streaming-ingest shape): the cap still
    // rejects, computing the batch's payload bytes itself
    val e = intercept[IllegalStateException] {
      store.write(recordsDf(Seq(("e", 2000L, Map()))))
    }
    assert(e.getMessage.contains("storage limit exceeded"))
    // known incoming size (the zenoh-flush shape)
    val e2 = intercept[IllegalStateException] {
      store.write(recordsDf(Seq(("e", 3000L, Map()))), incomingBytes = 100L)
    }
    assert(e2.getMessage.contains("storage limit exceeded"))
    store.maxStorageSize = None
    store.write(recordsDf(Seq(("e", 2000L, Map()))))
    assert(store.table().count() == 2)
  }

  test("global cap across a coalesced fold: a bucket's landed rows count " +
      "against the next bucket's admission") {
    // writeFolded admits bucket by bucket; the second bucket's size check
    // must see the rows the first one just landed, as a serial run would
    val store = newStore()
    store.writeFolded(Seq(BucketStore.FoldReq("seed",
      Seq(BucketStore.FoldRec("e", 1L, Map.empty, "x", Array[Byte](1))))))
    store.maxStorageSize = Some(store.storeSizeBytes + 1000L)
    val rnd = new scala.util.Random(7)
    def req(bucket: String) = BucketStore.FoldReq(bucket,
      Seq(BucketStore.FoldRec("e", 2L, Map.empty, "x", Array.fill[Byte](600)(rnd.nextInt().toByte))))
    val out = store.writeFolded(Seq(req("a"), req("b")))
    // buckets fold in no fixed order: exactly one fits
    assert(out.count(_ == Right(Set.empty)) == 1, out)
    assert(out.collect { case Left(e) => e.getMessage } == Seq("storage limit exceeded"), out)
  }

  test("concurrent writers serialize on the store lock; no lost records") {
    // Without the writeLock this races: Spark jobs appending one root
    // share _temporary/0, so a finishing job can delete a concurrent
    // job's in-flight task files (lost records / committer errors)
    val store = newStore()
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val futs = (0 until 4).map { w =>
      Future {
        store.write(recordsDf((0 until 25).map(i =>
          (s"e$w", (w * 100 + i) * day, Map("w" -> w.toString)))))
      }
    }
    Await.result(Future.sequence(futs), 180.seconds)
    assert(store.table().count() == 100, "all four writers' records landed")
    // concurrent duplicate admission also serialized: exactly one wins
    val dupFuts = (0 until 3).map { _ =>
      Future(
        try { store.write(recordsDf(Seq(("dup", 7L, Map())))); 1 }
        catch { case _: IllegalArgumentException => 0 })
    }
    val oks = Await.result(Future.sequence(dupFuts), 180.seconds).sum
    assert(oks == 1, s"exactly one duplicate writer must win, got $oks")
    assert(store.table().filter(col("entry") === "dup").count() == 1)
  }

  test("readConsistent: a read overlapped by a swap re-runs against the " +
      "settled tree (deterministic interleaving)") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("v" -> "old")), ("e", day + 1L, Map("v" -> "old")))))
    // first read invocation: pause, let a mutation's swap window pass,
    // resume — readConsistent must detect the epoch change, discard the
    // stale result, and re-run f exactly once more
    val firstReadEntered = new java.util.concurrent.CountDownLatch(1)
    val mutationDone = new java.util.concurrent.CountDownLatch(1)
    val runs = new java.util.concurrent.atomic.AtomicInteger(0)
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    val mutator = Future {
      firstReadEntered.await()
      store.updateLabels(QuerySpec(), set = Map("v" -> "new")): Unit
      mutationDone.countDown()
    }
    val got = store.readConsistent {
      val attempt = runs.incrementAndGet()
      if (attempt == 1) {
        firstReadEntered.countDown()
        mutationDone.await()
      }
      store.table().select(element_at(col("labels"), "v")).collect()
        .map(_.getString(0)).toSeq
    }
    Await.result(mutator, 180.seconds)
    assert(runs.get() == 2, s"stale read must re-run once, ran ${runs.get()}")
    assert(got == Seq("new", "new"),
      s"the settled read must see the whole mutation: $got")
  }

  test("reader racing label-rewrite swaps never sees a mixed snapshot") {
    val store = newStore()
    // two day-partitions — the mutation rewrites BOTH dirs per flip, so
    // a non-atomic reader could catch one flipped and one not
    store.write(recordsDf(Seq(
      ("e", 1L, Map("v" -> "0")), ("e", day + 1L, Map("v" -> "0")))))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    @volatile var done = false
    val reader = Future {
      val seen = Seq.newBuilder[Seq[String]]
      while (!done) {
        val vals = store.readConsistent(
          store.table().select(element_at(col("labels"), "v")).collect()
            .map(_.getString(0)).toSeq)
        seen += vals
      }
      seen.result()
    }
    for (i <- 1 to 4)
      store.updateLabels(QuerySpec(), set = Map("v" -> i.toString))
    done = true
    val snapshots = Await.result(reader, 180.seconds)
    assert(snapshots.nonEmpty)
    for (s <- snapshots) {
      assert(s.length == 2, s"reads must never lose rows mid-swap: $s")
      assert(s.distinct.length == 1,
        s"both partitions must show the same mutation state, got $s")
    }
  }

  test("wedged-swap cap is wall-time, not sleep-iteration count (ADVICE r12)") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    // Thread.sleep(1) commonly lasts several ms — an iteration-counting
    // cap of 100 "ms" could stretch to seconds. The nanoTime cap must
    // fire near the requested wall time.
    val t0 = System.nanoTime()
    val ex = intercept[IllegalStateException] {
      store.holdSwapWindowForTest {
        store.readConsistent(store.table().count(), maxWaitMs = 100L)
      }
    }
    val elapsedMs = (System.nanoTime() - t0) / 1000000L
    assert(ex.getMessage.contains("wedged"))
    assert(elapsedMs < 2000L,
      s"100 ms wall-time cap took ${elapsedMs} ms to fire")
    // and the seam still works after the window settles
    assert(store.readConsistent(store.table().count()) == 1L)
  }

  test("free-disk preflight rejects writes the volume can't hold (507 path)") {
    val store = newStore()
    store.freeSpaceFn = () => 10L // injected: volume "has" 10 bytes
    val err = intercept[BucketStore.InsufficientStorageException] {
      store.writeBatch("b", "e", Seq((100L, Map(), new Array[Byte](11))))
    }
    assert(err.getMessage.contains("11 bytes") &&
      err.getMessage.contains("10 bytes available"))
    assert(store.tableOrEmpty().count() == 0, "nothing written on rejection")
    // exactly-fits is admitted; and the real provider reports a sane value
    store.writeBatch("b", "e", Seq((100L, Map(), new Array[Byte](10))))
    assert(store.tableOrEmpty().count() == 1)
    store.freeSpaceFn = () => {
      val p = new org.apache.hadoop.fs.Path(store.root)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .getStatus(p).getRemaining
    }
    assert(store.freeSpaceFn() > 0L)
  }

  test("size figures are version-cached: no tree walk between mutations " +
      "(verdict r12 #6)") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map()), ("e", day + 1L, Map()))))
    val w0 = store.catalogBuilds.get()
    val s1 = store.storeSizeBytes
    val b1 = store.bucketSizeBytes("b")
    assert(s1 > 0L && b1 > 0L)
    val afterFirst = store.catalogBuilds.get()
    assert(afterFirst == w0 + 1, "one catalog build serves every figure of a version")
    // idle store: repeat /info- and /list-shaped calls never rebuild
    for (_ <- 1 to 5) {
      assert(store.storeSizeBytes == s1)
      assert(store.bucketSizeBytes("b") == b1)
    }
    assert(store.catalogBuilds.get() == afterFirst,
      "serving cost must be independent of file count between mutations")
    // a mutation invalidates: exactly one fresh build, new value
    store.write(recordsDf(Seq(("e", 5L, Map()))))
    assert(store.storeSizeBytes > s1)
    assert(store.catalogBuilds.get() == afterFirst + 1)
  }

  test("FIFO quota never evicts system $meta entries (ADVICE r1)") {
    val store = newStore()
    // $meta data on the OLDEST day — the first eviction candidate if
    // unprotected (test_fifo_quota_ignores_meta_entries_for_eviction)
    store.write(recordsDf(Seq(
      ("$meta", 0L, Map("sys" -> "1")),
      ("app/$meta", 0L, Map("sys" -> "2")))))
    store.write(recordsDf((0 until 6).map(i =>
      ("e", i * day, Map("i" -> i.toString)))))
    val evicted = store.enforceFifoQuota("b", store.bucketSizeBytes("b") / 2)
    assert(evicted > 0)
    val metas = store.table()
      .filter(col("entry") === "$meta" || col("entry") === "app/$meta")
    assert(metas.count() == 2, "system $meta records survive FIFO eviction")
    // non-meta day-0 partition was evicted
    assert(store.table().filter(col("entry") === "e" && col("ts") === 0L).count() == 0)
  }
}
