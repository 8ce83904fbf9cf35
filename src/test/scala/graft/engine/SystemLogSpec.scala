package graft.engine

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** `$system` diagnostics writer: the batched `events()` path must stay
  * ONE store write regardless of batch size — the usage family emits one
  * event per bucket, so a per-event write makes the 60-second flusher
  * O(buckets) store mutations (measured ~1.5 s each while every write
  * was a Spark job: a 300-bucket instance took 7.5 min to flush and a
  * 10k-bucket one could never drain). A flush is a driver-side append
  * with no Spark job, and the events a refused flush loses are counted. */
class SystemLogSpec extends AnyFunSuite with SparkJobs {

  /** Spark jobs started while `f` runs (listener-bus flushed before
    * counting). */
  private def countJobs(f: => Unit): Int = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try { f; Thread.sleep(500) } // jobs start synchronously; let the bus drain
    finally spark.sparkContext.removeSparkListener(listener)
    jobs.get()
  }

  test("events(batch) lands every event in ONE write, ts in sequence order") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-syslog").toString)
    val syslog = new SystemLog(store, "srv", None)
    val base = 1_700_000_000_000_000L
    val batch = (0 until 50).map { i =>
      // same nowUs on purpose: the shared clock must fan them out into
      // strictly-increasing microseconds in sequence order
      SystemLog.Event("usage", if (i == 0) "total" else s"b$i", 200,
        s"""{"event_type":"usage_stats","i":$i}""", base)
    }
    val jobs = jobsOf(assert(syslog.events(batch)))
    val rows = store.table()
      .filter(col("bucket") === "$system" && col("entry").startsWith("usage/"))
      .select("entry", "ts").collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._2)
    assert(rows.length == 50)
    // sequence order: the leading total takes the smallest ts, b1..b49
    // follow each on the next strictly-increasing microsecond
    assert(rows.head._1 == "usage/srv/total" && rows.head._2 == base)
    assert(rows.map(_._2).toSeq == (base until base + 50))
    assert(rows.map(_._1).drop(1).toSeq ==
      (1 until 50).map(i => s"usage/srv/b$i"))
    // one driver-side append: no Spark job at all
    assert(jobs == 0, s"batched events() started $jobs jobs")
  }

  test("a refused $system flush counts its dropped events") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-syslog-drop").toString)
    try {
      val syslog = new SystemLog(store, "srv", None)
      def burst(tag: String, n: Int) =
        (0 until n).map(i => SystemLog.Event("usage", s"$tag$i", 200, "{}"))
      val provider = store.freeSpaceFn
      store.freeSpaceFn = () => 0L // the free-disk preflight refuses
      assert(!syslog.events(burst("lost", 3)))
      assert(syslog.dropped.get == 3L)
      store.freeSpaceFn = provider
      assert(syslog.events(burst("kept", 2)))
      assert(syslog.dropped.get == 3L, "a landed flush drops nothing")
      assert(store.table().filter(col("bucket") === "$system")
        .select("entry").collect().map(_.getString(0)).sorted.toSeq ==
        Seq("usage/srv/kept0", "usage/srv/kept1"))
    } finally store.close()
  }

  test("flushUsage job count is bounded, not O(buckets)") {
    import scala.jdk.CollectionConverters._
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-usage-flush").toString)
    val n = 20
    val rows = (0 until n).map(i => org.apache.spark.sql.Row(
      s"b$i", "e", 1_700_000_000_000_000L + i,
      Map.empty[String, String], Map.empty[String, String],
      "text/plain", graft.core.Records.State.Finished,
      Array[Byte](120)))
    store.write(spark.createDataFrame(rows.asJava, graft.core.Records.schema))
    val syslog = new SystemLog(store, "srv", None)
    val jobs = countJobs {
      graft.lifecycle.Lifecycle.flushUsage(store, syslog, 60.0)
    }
    val events = store.table()
      .filter(col("bucket") === "$system" && col("entry").startsWith("usage/"))
      .count()
    assert(events == n + 1) // total + one per user bucket
    assert(jobs < n, s"flushUsage started $jobs jobs for $n buckets " +
      "(per-bucket writes would need >= one job each)")
  }

  test("a usage snapshot that throws leaves the buffered audit rows for " +
      "the next tick") {
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("graft-snapshot-fail")
    val store = new BucketStore(spark, root.toString)
    store.writeBatch("b", "e", Seq((1L, Map.empty[String, String],
      "x".getBytes("UTF-8"))))
    // an API token turns the audit trail on
    val api = new HttpApi(store, apiToken = "root")
    try {
      api.auditLog.record(Some("root"), "GET", "/api/v1/info", 200, None,
        0.01)
      store.usage.countRead("b", "e", records = 7L, bytes = 7L)
      // zero the user bucket's data file: the snapshot's scan fails
      val file = Files.walk(root).iterator().asScala.find { p =>
        p.toString.contains("bucket=b") &&
          p.getFileName.toString.endsWith(".parquet")
      }.get
      val good = Files.readAllBytes(file)
      Files.write(file, new Array[Byte](good.length))
      api.flushTelemetryNow() // swallowed: telemetry never breaks serving
      Files.write(file, good)
      api.flushTelemetryNow()
      val audits = store.table()
        .filter(col("bucket") === "$system" && col("entry").startsWith("audit/"))
        .select("payload").collect()
        .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
      assert(audits.length == 1 &&
        audits.head.contains("\"path\":\"/api/v1/info\""),
        s"the failed tick must not drop the audit buffer: ${audits.toSeq}")
      // the failed tick wrote no usage event and drained no counter: the
      // one event for `b` is the second tick's, carrying the reads
      val usage = store.table()
        .filter(col("bucket") === "$system" && col("entry").startsWith("usage/") &&
          col("entry").endsWith("/b"))
        .select("payload").collect()
        .map(r => new String(r.getAs[Array[Byte]](0), "UTF-8"))
      assert(usage.length == 1 && usage.head.contains("\"records_read\":7"),
        s"the failed tick must not drop the traffic counters: ${usage.toSeq}")
    } finally { api.stop(); store.close() }
  }
}
