package graft.stream

import graft.SparkTestBase
import graft.core.Records
import graft.engine.{BucketStore, QuerySpec}
import graft.lifecycle.Lifecycle
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def recordsDf(rows: Seq[(String, Long, Map[String, String])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (entry, ts, labels) =>
      Row("b", entry, ts, labels, Map.empty[String, String],
        "", Records.State.Finished, s"p$ts".getBytes)
    }.asJava
    spark.createDataFrame(data, Records.schema)
  }

  test("streaming ingest appends to the store (idempotent on replayed ts)") {
    val src = tmp("ingest-src")
    val store = new BucketStore(spark, tmp("ingest-store"))
    recordsDf(Seq(("e", 1L, Map("v" -> "1")), ("e", 2L, Map("v" -> "2"))))
      .write.mode("append").parquet(src)
    Streaming.ingest(spark, src, store, tmp("ingest-ck")).awaitTermination()
    assert(store.table().count() == 2)
    // second batch includes a replayed ts → skipped, new row lands
    recordsDf(Seq(("e", 2L, Map("v" -> "dup")), ("e", 3L, Map("v" -> "3"))))
      .write.mode("append").parquet(src)
    Streaming.ingest(spark, src, store, tmp("ingest-ck2")).awaitTermination()
    assert(store.table().count() == 3)
  }

  test("continuous query tails the store with the compiled condition") {
    val store = new BucketStore(spark, tmp("cq-store"))
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "5")), ("e", 2L, Map("v" -> "50")))))
    val ck = tmp("cq-ck")
    val outDir = tmp("cq-out")
    def runOnce(): Unit = {
      val q = Streaming.continuousQuery(store,
          QuerySpec(when = Some("""{"&v": {"$gt": 10}}""")))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", ck)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    runOnce()
    def outTs(): Seq[Long] = spark.read.parquet(outDir)
      .select("ts").collect().map(_.getLong(0)).toSeq.sorted
    assert(outTs() == Seq(2L))
    // late arrivals are picked up on the next trigger (re-arm semantics);
    // the shared checkpoint means only new files are processed
    store.write(recordsDf(Seq(("e", 3L, Map("v" -> "99")), ("e", 4L, Map("v" -> "1")))))
    runOnce()
    assert(outTs() == Seq(2L, 3L))
  }

  test("replication applies globs, strict when, dst_prefix; paused is a no-op") {
    val src = new BucketStore(spark, tmp("repl-src"))
    val dst = new BucketStore(spark, tmp("repl-dst"))
    src.write(recordsDf(Seq(
      ("acc/x", 1L, Map("v" -> "5")), ("acc/y", 2L, Map("v" -> "50")),
      ("other", 3L, Map("v" -> "50")))))
    val settings = Streaming.ReplicationSettings(
      entries = Some(Seq("acc/*")), when = Some("""{"&v": {"$gt": 10}}"""),
      dstBucket = "replica", dstPrefix = "mirror/")
    Streaming.replicate(src, dst, settings, tmp("repl-ck")).get.awaitTermination()
    val got = dst.table().select("bucket", "entry", "ts").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq(("replica", "mirror/acc/y", 2L)))
    // paused: the checkpoint must NOT advance (reference
    // replication_task.rs:236-245 skips the sync pass; the backlog
    // accumulates) — a run while paused is a no-op, and records written
    // during the pause replicate after resume FROM THE SAME CHECKPOINT
    val ck2 = tmp("repl-ck2")
    val paused = settings.copy(mode = Streaming.ReplicationMode.Paused)
    assert(Streaming.replicate(src, dst, paused, ck2).isEmpty,
      "paused must not open the checkpoint")
    assert(dst.table().count() == 1)
    src.write(recordsDf(Seq(("acc/z", 9L, Map("v" -> "99")))))
    assert(Streaming.replicate(src, dst, paused, ck2).isEmpty)
    // resume: the pause-period record arrives (nothing was lost)
    Streaming.replicate(src, dst, settings, ck2).get.awaitTermination()
    val resumed = dst.table().select("entry").collect().map(_.getString(0)).toSet
    assert(resumed == Set("mirror/acc/y", "mirror/acc/z"),
      s"records written while paused must replicate on resume, got $resumed")
    assert(Streaming.replicate(src, dst,
      settings.copy(mode = Streaming.ReplicationMode.Disabled), tmp("x")).isEmpty)
  }

  test("label PATCHes replicate: update log streams to the destination (UpdateRecord parity)") {
    val src = new BucketStore(spark, tmp("replu-src"))
    val dst = new BucketStore(spark, tmp("replu-dst"))
    val ck = tmp("replu-ck")
    val settings = Streaming.ReplicationSettings(
      entries = Some(Seq("acc/*")), dstBucket = "replica", dstPrefix = "mirror/")
    // a replication task exists → patches log for replication (the
    // façade flips this at task creation, like the reference creating
    // the transaction log with the task)
    src.updateLogEnabled = true
    // seed both sides: records replicate first (the normal flow)
    src.write(recordsDf(Seq(
      ("acc/x", 1L, Map("v" -> "old")), ("acc/y", 2L, Map("v" -> "old")),
      ("other", 3L, Map("v" -> "old")))))
    Streaming.replicate(src, dst, settings, tmp("replu-rck")).get.awaitTermination()
    assert(dst.table().count() == 2)

    // PATCH at src: in scope (acc/*) and out of scope (other)
    src.updateLabels(QuerySpec(), set = Map("q" -> "gold")): Unit
    Streaming.replicateLabelUpdates(src, dst, settings, ck).get.awaitTermination()
    def dstLabels(): Map[String, Map[String, String]] = dst.table()
      .select("entry", "labels").collect()
      .map(r => r.getString(0) -> r.getMap[String, String](1).toMap).toMap
    assert(dstLabels() == Map(
      "mirror/acc/x" -> Map("v" -> "old", "q" -> "gold"),
      "mirror/acc/y" -> Map("v" -> "old", "q" -> "gold")),
      s"in-scope patches must propagate with the dst rename: ${dstLabels()}")

    // stacked patches drain as one batch: the LATEST wins at dst; the
    // checkpoint means already-propagated updates don't reapply
    src.updateLabels(QuerySpec(entries = Some(Seq("acc/x"))),
      set = Map("q" -> "silver")): Unit
    src.updateLabels(QuerySpec(entries = Some(Seq("acc/x"))),
      set = Map("q" -> "bronze")): Unit
    Streaming.replicateLabelUpdates(src, dst, settings, ck).get.awaitTermination()
    assert(dstLabels()("mirror/acc/x")("q") == "bronze")
    assert(dstLabels()("mirror/acc/y")("q") == "gold")

    // a BULK patch (past the fold threshold, direct-rewrite path at src)
    // still logs and propagates — the log is written by BOTH paths
    src.overlayFoldThreshold = 0L
    src.updateLabels(QuerySpec(entries = Some(Seq("acc/*"))),
      set = Map("bulk" -> "1")): Unit
    Streaming.replicateLabelUpdates(src, dst, settings, ck).get.awaitTermination()
    assert(dstLabels()("mirror/acc/y") ==
      Map("v" -> "old", "q" -> "gold", "bulk" -> "1"))

    // pure `when` scopes updates by the PATCHED labels; dst-missing
    // records are skipped (the reference's per-record error map)
    val whenSettings = settings.copy(when = Some("""{"&q": {"$eq": "bronze"}}"""))
    src.updateLabels(QuerySpec(), set = Map("w" -> "2")): Unit
    Streaming.replicateLabelUpdates(src, dst, whenSettings, tmp("replu-ck2"))
      .get.awaitTermination()
    val after = dstLabels()
    assert(after("mirror/acc/x").get("w").contains("2"),
      s"bronze-labeled update passes the when: $after")
    assert(!after("mirror/acc/y").contains("w"),
      s"gold-labeled update must be filtered by the when: $after")
  }

  test("self-referential update replication converges via the no-op guard") {
    val store = new BucketStore(spark, tmp("echo-store"))
    store.updateLogEnabled = true
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "1")): Unit
    assert(store.updatesLogRowCount() == 1L)
    // identity config: same store, same bucket, no prefix — each applied
    // update would re-log and echo forever without the no-op guard
    val settings = Streaming.ReplicationSettings(dstBucket = "b")
    val ck = tmp("echo-ck")
    var applied = 0L
    for (_ <- 1 to 3)
      Streaming.replicateLabelUpdates(store, store, settings, ck,
        onReplicated = (n, _) => applied += math.max(0, n))
        .get.awaitTermination()
    assert(applied == 0L,
      "the patch was already locally applied — every echo pass is a no-op")
    assert(store.updatesLogRowCount() == 1L,
      s"no-op applies must not re-log: ${store.updatesLogRowCount()}")
    val r = store.table().collect()(0)
    assert(r.getMap[String, String](r.fieldIndex("labels")).toMap == Map("v" -> "1"))
  }

  test("replication with stateful when keeps $each_n state across micro-batches") {
    val src = new BucketStore(spark, tmp("replst-src"))
    val dst = new BucketStore(spark, tmp("replst-dst"))
    val ck = tmp("replst-ck")
    val settings = Streaming.ReplicationSettings(
      when = Some("""{"$each_n": 2}"""), dstBucket = "replica")
    // micro-batch 1: 3 records → every-2nd overall = ts 200
    src.write(recordsDf(Seq(
      ("e", 100L, Map()), ("e", 200L, Map()), ("e", 300L, Map()))))
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    def replicated(): Seq[Long] = dst.table()
      .select("ts").collect().map(_.getLong(0)).toSeq.sorted
    assert(replicated() == Seq(200L))
    // micro-batch 2 (same checkpoint → same state store): the counter
    // continues at 3, so ts 400 (4th overall) and 600 (6th) replicate.
    // A per-batch evaluation would instead pick 500 (2nd of this batch).
    src.write(recordsDf(Seq(
      ("e", 400L, Map()), ("e", 500L, Map()), ("e", 600L, Map()))))
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    assert(replicated() == Seq(200L, 400L, 600L),
      "$each_n counter must survive the micro-batch boundary")
    // state is per entry: a different entry starts its own counter
    src.write(recordsDf(Seq(("f", 50L, Map()), ("f", 60L, Map()))))
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    assert(replicated() == Seq(60L, 200L, 400L, 600L))
  }

  test("belated write is replicated exactly once") {
    val src = new BucketStore(spark, tmp("replbel-src"))
    val dst = new BucketStore(spark, tmp("replbel-dst"))
    val ck = tmp("replbel-ck")
    val settings = Streaming.ReplicationSettings(dstBucket = "replica")
    src.write(recordsDf(Seq(
      ("e", 1000L, Map()), ("e", 2000L, Map()), ("e", 3000L, Map()))))
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    def replicated(): Seq[Long] = dst.table()
      .select("ts").collect().map(_.getLong(0)).toSeq.sorted
    assert(replicated() == Seq(1000L, 2000L, 3000L))
    // replication dst writes count toward the destination's usage
    // traffic, like the reference's storage choke point (usage.rs:
    // "external, replication and Zenoh traffic count uniformly")
    val wrote = dst.usage.drain().buckets("replica")
    assert(wrote.recordsWritten == 3L && wrote.writtenEntries == 1L,
      s"dst usage must count replicated writes: $wrote")
    // a belated write: ts between already-replicated records, landing in
    // a NEW file of an old partition. The file-source tracking must pick
    // it up on the next trigger (the reference skips only TooEarly blocks,
    // historical.rs:138-176 — belated records still replicate) and must
    // not re-emit the records around it.
    src.write(recordsDf(Seq(("e", 1500L, Map("late" -> "1")))))
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    assert(replicated() == Seq(1000L, 1500L, 2000L, 3000L),
      "belated record replicated; neighbors not re-emitted")
    // replaying the same trigger with nothing new is a no-op
    Streaming.replicate(src, dst, settings, ck).get.awaitTermination()
    assert(replicated() == Seq(1000L, 1500L, 2000L, 3000L),
      "no duplicates on an idle re-trigger")
    assert(dst.table().filter(col("ts") === 1500L).count() == 1,
      "belated record lands exactly once")
  }

  test("pipelined replication overlaps prepare with send (PR-1527)") {
    val src = new BucketStore(spark, tmp("replpipe-src"))
    val entries = (0 until 6).map(i => s"e$i")
    src.write(recordsDf(entries.zipWithIndex.map { case (e, i) =>
      (e, 100L + i, Map("v" -> i.toString)) }))
    val settings = Streaming.ReplicationSettings(dstBucket = "replica")
    val sendLatencyMs = 500L
    // injected remote wire: every per-entry send costs sendLatencyMs.
    // Overlap is asserted STRUCTURALLY — a prepare (localCheckpoint)
    // completing while a send is in flight — not by racing wall clocks
    // (a pipedMs < serialMs assertion both flakes on loaded CI and can
    // mask a real regression behind a warm-JVM second run).
    def run(pipelined: Boolean)
        : (Seq[String], Seq[(Long, Long)], Seq[Long], BucketStore) = {
      val dst = new BucketStore(spark, tmp(s"replpipe-dst-$pipelined"))
      val order = new java.util.concurrent.ConcurrentLinkedQueue[String]
      val sends = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]
      val prepares = new java.util.concurrent.ConcurrentLinkedQueue[Long]
      val send: org.apache.spark.sql.DataFrame => Unit = df => {
        val t0 = System.nanoTime()
        df.select("entry").distinct()
          .collect().map(_.getString(0)).sorted.foreach(order.add)
        Thread.sleep(sendLatencyMs)
        dst.write(df, BucketStore.Conflict.Skip)
        sends.add((t0, System.nanoTime()))
      }
      Streaming.replicate(src, dst, settings, tmp(s"replpipe-ck-$pipelined"),
        sendBatch = Some(send), pipelined = pipelined,
        onPrepared = _ => prepares.add(System.nanoTime())).get.awaitTermination()
      import scala.jdk.CollectionConverters._
      (order.asScala.toSeq, sends.asScala.toSeq, prepares.asScala.toSeq, dst)
    }
    def overlaps(sends: Seq[(Long, Long)], prepares: Seq[Long]): Boolean =
      prepares.exists(p => sends.exists { case (s, e) => p > s && p < e })
    val (serialOrder, serialSends, serialPrep, dstS) = run(pipelined = false)
    val (pipedOrder, pipedSends, pipedPrep, dstP) = run(pipelined = true)
    // ordering preserved: per-entry slices sent in sorted entry order
    assert(pipedOrder == entries, s"send order: $pipedOrder")
    assert(serialOrder == entries)
    // nothing lost or duplicated in either mode
    for (dst <- Seq(dstS, dstP)) {
      val got = dst.table().select("entry", "ts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSeq.sorted
      assert(got == entries.zipWithIndex
        .map { case (e, i) => (e, 100L + i) }.sorted, s"dst content: $got")
    }
    // serial mode runs prepare and send on one thread: a prepare can
    // NEVER complete inside a send interval — this leg is deterministic
    assert(!overlaps(serialSends, serialPrep),
      "serial baseline must not overlap prepare with send")
    // pipelined: with 6 slices and 500 ms sends, at least one of the 5
    // pipelined prepares (each a tiny single-partition checkpoint, far
    // under 500 ms) must finish while the previous send is in flight
    assert(overlaps(pipedSends, pipedPrep),
      s"a prepare must complete while a send is in flight; " +
        s"sends=$pipedSends prepares=$pipedPrep")
  }

  test("windowed per-entry stats with watermark over a record stream") {
    val store = new BucketStore(spark, tmp("ws-store"))
    val h = 3600000000L
    store.write(recordsDf(Seq(
      ("e", 0L, Map()), ("e", h / 2, Map()), ("e", h + 1L, Map()),
      ("f", h / 4, Map()))))
    val stream = spark.readStream.schema(BucketStore.storedSchema)
      .option("basePath", store.root).parquet(store.root).drop("dt")
    val q = Streaming.windowedStats(stream)
      .writeStream.format("memory").queryName("ws_out")
      .outputMode("complete")
      .option("checkpointLocation", tmp("ws-ck"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.sql("select entry, n_records from ws_out order by entry, n_records")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // entry e: 2 records in hour 0, 1 in hour 1; entry f: 1 in hour 0
    assert(got == Seq(("e", 1L), ("e", 2L), ("f", 1L)))
  }

  test("lifecycle delete/compress with older_than + when + dry run") {
    val store = new BucketStore(spark, tmp("lc-store"))
    val day = 86400000000L
    store.write(recordsDf((0 until 6).map(i =>
      ("e", i * day, Map("keep" -> (if (i % 2 == 0) "1" else "0"))))))
    val dry = Lifecycle.apply(store,
      Lifecycle.Policy(olderThanUs = 3 * day, action = Lifecycle.Action.Delete,
        when = Some("""{"&keep": {"$eq": 0}}"""), dryRun = true),
      nowUs = 6 * day)
    assert(dry == Lifecycle.Result(1, applied = false)) // ts=day only (< 3*day cutoff, keep=0)
    val real = Lifecycle.apply(store,
      Lifecycle.Policy(olderThanUs = 3 * day, action = Lifecycle.Action.Delete,
        when = Some("""{"&keep": {"$eq": 0}}""")),
      nowUs = 6 * day)
    assert(real == Lifecycle.Result(1, applied = true))
    assert(store.table().count() == 5)
    val comp = Lifecycle.apply(store,
      Lifecycle.Policy(olderThanUs = 3 * day, action = Lifecycle.Action.Compress()),
      nowUs = 6 * day)
    assert(comp.matched == 2 && comp.applied)
    assert(store.table().count() == 5) // rewrite preserves rows
  }
}
