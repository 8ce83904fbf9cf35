package graft

import graft.core.Records
import graft.engine.{BucketStore, QueryEngine, QuerySpec}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Headline benchmark: every SparkEntry query at the target SF, plus the
  * reference benchmark's workload shape (python-benchmark.py: write /
  * read-with-payload / update-labels / conditional-remove over a bucket
  * store). Prints ONE JSON line — ALWAYS, even when individual queries or
  * the workload staging fail: failures land in an `errors` map instead of
  * contributing bogus near-zero timings to `queries` (a round-9 lesson:
  * one staging exception must not erase the whole round's numbers).
  *
  * NOISE DISCIPLINE (SCALE.md): identical-config runs on this box vary
  * ±10% (r14 idle A/B: 53.4 vs 58.6 s) — more than most effects the bench
  * is asked to detect, so a single-run total keeps producing phantom
  * "drifts". The bench therefore runs GRAFT_BENCH_PASSES (default 3)
  * independent passes and reports the per-query CROSS-PASS MEDIAN in the
  * headline; within a pass each query keeps the min-of-2 convention (the
  * work is deterministic, so the faster of two adjacent runs is the
  * less-perturbed one). bench_results.json carries the per-pass values so
  * the spread is auditable.
  */
object Bench {

  /** One concurrent-clients pass through the real HTTP façade: 4
    * clients, each batching 128 records in (one v1 batched write,
    * 64 KiB body) and opening + fully draining a cursor, then half the
    * clients patching labels on a batch and half batch-removing a
    * slice — the reference benchmark's write/read mix
    * (python-benchmark.py:43-127) under REAL dispatch, auth, admission,
    * and the store mutation lock. Sized to ~8 store mutations: each
    * mutation is a Spark job serialized on the store lock (~0.8 s), so
    * client count scales the entry's cost near-linearly — 4 keeps the
    * contention signal (4-way concurrent dispatch, interleaved
    * reads-during-writes) without doubling the bench total. Any client
    * failure fails the entry (timed() records an error, not a timing). */
  private[graft] def httpConcurrentWorkload(spark: SparkSession): Unit = {
    val storeDir = java.nio.file.Files.createTempDirectory("graft-bench-http").toString
    val store = new BucketStore(spark, storeDir)
    // admission paths exercised END-TO-END (SCALE.md r18): rate limits
    // set far above the workload so every request pays the check but
    // nothing is rejected, and the in-flight writer gate set to 2 so the
    // 4 clients' writes actually queue at the admission bound — the
    // bench pins the real cost + queuing behavior of the middleware, not
    // the unlimited fast path.
    val api = new graft.engine.HttpApi(store, apiToken = "bench",
      env = Map(
        "RS_RATE_LIMIT_API" -> "1000000000req/h",
        "RS_RATE_LIMIT_INGRESS" -> "100GB/h",
        "RS_RATE_LIMIT_EGRESS" -> "100GB/h",
        "RS_IO_MAX_WRITERS_IN_FLIGHT" -> "2"))
    val port = api.start()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val payload = Array.fill[Byte](512)('x')
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      def client(tid: Int): Runnable = () => try {
        val http = java.net.http.HttpClient.newHttpClient()
        def req(method: String, path: String, body: Array[Byte],
            headers: Seq[(String, String)] = Nil) = {
          var b = java.net.http.HttpRequest.newBuilder(
              java.net.URI.create(s"http://127.0.0.1:$port/api/v1$path"))
            .header("Authorization", "Bearer bench")
            .method(method,
              java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
          headers.foreach { case (k, v) => b = b.header(k, v) }
          http.send(b.build(),
            java.net.http.HttpResponse.BodyHandlers.ofByteArray())
        }
        // one batched write: 128 records, 512 B each
        val writeHdrs = (0 until 128).map(i =>
          (s"x-reduct-time-${i * 1000}",
            s"${payload.length},application/octet-stream,k=v$i"))
        val body = Array.fill[Byte](128 * payload.length)('x')
        val w = req("POST", s"/b/bench/t$tid/batch", body, writeHdrs)
        require(w.statusCode() == 200, s"write -> ${w.statusCode()}")
        // cursor open + full drain
        val q = req("POST", s"/b/bench/t$tid/q", "{}".getBytes("UTF-8"))
        require(q.statusCode() == 200, s"query -> ${q.statusCode()}")
        val id = "\\d+".r.findFirstIn(new String(q.body(), "UTF-8"))
          .getOrElse(sys.error("no cursor id")).toLong
        var last = false
        while (!last) {
          val r = req("GET", s"/b/bench/t$tid/batch?q=$id", Array.empty)
          if (r.statusCode() == 204) last = true
          else {
            require(r.statusCode() == 200, s"read -> ${r.statusCode()}")
            last = r.headers().firstValue("x-reduct-last")
              .orElse("true").toBoolean
          }
        }
        if (tid % 2 == 0) {
          // batched label update on 8 records
          val updHdrs = (0 until 8).map(i =>
            (s"x-reduct-time-${i * 1000}", "0,,k2=updated"))
          val u = req("PATCH", s"/b/bench/t$tid/batch", Array.empty, updHdrs)
          require(u.statusCode() == 200, s"update -> ${u.statusCode()}")
        } else {
          // batched remove of 8
          val rmHdrs = (8 until 16).map(i =>
            (s"x-reduct-time-${i * 1000}", "0"))
          val d = req("DELETE", s"/b/bench/t$tid/batch", Array.empty, rmHdrs)
          require(d.statusCode() == 200, s"remove -> ${d.statusCode()}")
        }
      } catch { case t: Throwable => failures.add(t): Unit }
      val tasks = (0 until 4).map(tid => pool.submit(client(tid)))
      tasks.foreach(_.get())
      if (!failures.isEmpty) throw failures.peek()
    } finally {
      pool.shutdownNow(); api.stop(); store.close()
      // 3 passes per bench run — leaked temp stores would otherwise
      // accumulate one orphaned parquet tree per pass in /tmp
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(storeDir)): Unit
    }
  }

  /** Per-query medians of the PREVIOUS committed run, read from
    * bench_results.json before this run overwrites it. Used only to
    * SELECT the compact headline's entries (never to alter a timing):
    * ranking the top-20 by current slowness alone selects improvement
    * OUT of the round-over-round window — a query that halves leaves
    * the top-20 and shows up as "dropped_from_bench" while regression
    * is selected IN (the r19 comparison read 0 improved with the
    * round's two biggest verified wins both "dropped"). Ranking by
    * max(current, previous) keeps an improved query comparable. */
  private def previousCommittedQueries(): Map[String, Double] = {
    val p = java.nio.file.Paths.get("bench_results.json")
    if (!java.nio.file.Files.exists(p)) Map.empty
    else try committedQueries(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    catch { case scala.util.control.NonFatal(_) => Map.empty }
  }

  /** The numeric `queries` members of a bench_results.json document;
    * empty when the document has none or does not parse. */
  private[graft] def committedQueries(json: String): Map[String, Double] = {
    import org.json4s._
    org.json4s.jackson.JsonMethods.parseOpt(json).map(_ \ "queries") match {
      case Some(JObject(fields)) => fields.collect {
        case (k, JDouble(v)) => k -> v
        case (k, JDecimal(v)) => k -> v.toDouble
        case (k, JInt(v)) => k -> v.toDouble
        case (k, JLong(v)) => k -> v.toDouble
      }.toMap
      case _ => Map.empty
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val passes = math.max(1, sys.env.getOrElse("GRAFT_BENCH_PASSES", "3").toInt)
    val prevCommitted = previousCommittedQueries()
    // GraftSession carries the shared recommended config (raw-fs, UTC,
    // nanosAsLong, verify-checksum ON, 1024-entry codegen cache — each
    // with its rationale there)
    val spark = GraftSession.builder(s"local[$cpus]", "graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      // A/B seam for the read-side verification cost (SCALE.md r14):
      // default ON, set GRAFT_BENCH_VERIFY_CHECKSUM=false to measure off.
      // Normalized strictly: Hadoop's getBoolean treats anything that is
      // not literally true/false as the default, so "1"/"ON" would
      // SILENTLY flip the A/B arm — reject instead.
      .config("spark.hadoop.parquet.page.verify-checksum.enabled",
        sys.env.getOrElse("GRAFT_BENCH_VERIFY_CHECKSUM", "true")
          .toLowerCase match {
            case b @ ("true" | "false") => b
            case other => throw new IllegalArgumentException(
              s"GRAFT_BENCH_VERIFY_CHECKSUM must be true|false, got '$other'")
          })
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // per-pass per-query min-of-2 timings; median across passes reported
    val passResults =
      Vector.fill(passes)(scala.collection.mutable.LinkedHashMap.empty[String, Double])
    val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]

    // A failed query records its error and NO timing — a near-zero
    // failure duration must never masquerade as a fast min-of-2 latency.
    def timed(pass: Int, name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      try {
        f
        val t = (System.nanoTime() - t0) / 1e9
        val r = passResults(pass)
        r(name) = math.min(r.getOrElse(name, Double.MaxValue), t)
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        errors(name) = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }

    // untimed warm-up pass over every query (JMH-style): absorbs session
    // init, the one-time events->records staging, and per-operator-shape
    // codegen/JIT (~1-3 s each for the first explode/join/window/broadcast
    // in a JVM — measured; the first query otherwise pays for all of them).
    // The timed passes below then measure steady-state latency, which is
    // what amortizes at scale and what the reference bench measures (a
    // warmed server process).
    for ((name, fn) <- SparkEntry.queries)
      try fn(spark, sfDir).count()
      catch { case e: Throwable => System.err.println(s"[bench] warmup $name: $e") }

    for (pass <- 0 until passes) {
      // declared queries: two timed runs per pass, per-pass MIN — a
      // single background-load spike on the machine can't fake a
      // regression (the r7/r8 driver runs were both load-contaminated)
      for (_ <- 1 to 2; (name, fn) <- SparkEntry.queries)
        timed(pass, name) { fn(spark, sfDir).count(): Unit }

      // evict the operator staging caches (tf/bigram/overlap tables) before
      // the store workload — they've served their passes; the w_* family
      // should not compete with them for storage memory
      graft.pipeline.Staging.unstageAll()

      // reference workload shape (python-benchmark.py:43-127) on a store;
      // the sequence mutates the store, so min-of-2 runs the whole
      // sequence twice on two fresh stores. Staging is inside the guard:
      // a bad events schema degrades the w_* family, not the whole bench.
      try {
        // NOTE: this plan is IDENTICAL to SparkEntry's staged events table,
        // so Spark's CacheManager dedups them into one entry — and an
        // unpersist() here would evict that shared entry, silently
        // de-staging every events query in later passes (measured: q_logic
        // 0.45 → 2.2 s/run, SCALE.md round 15). Leave it cached: the entry
        // IS the staging later passes want warm.
        val records = Records.fromEvents(
          spark.read.parquet(s"$sfDir/events.parquet")).cache()
        records.count()
        for (_ <- 1 to 2) {
          val storeDir = java.nio.file.Files.createTempDirectory("graft-bench").toString
          val store = new BucketStore(spark, storeDir)
          timed(pass, "w_write") { store.write(records) }
          timed(pass, "w_read_payload") {
            // full scan via query cursor incl. payload bytes (read B/s analog)
            val n = QueryEngine.query(store.table(), QuerySpec())
              .agg(sum(length(col("payload")))).collect()(0).getLong(0)
            require(n > 0)
          }
          timed(pass, "w_update_labels") {
            store.updateLabels(QuerySpec(), set = Map("key" -> "value2")): Unit
          }
          locally {
            // bulk shard export — the executor-side full read; contrast
            // with w_read_payload's driver-side cursor-drain shape. The
            // export tree is a full corpus copy: delete it after the
            // timed block or a multi-pass run stacks N copies in /tmp.
            val dir = java.nio.file.Files.createTempDirectory("graft-bench-exp")
            try timed(pass, "w_export") {
              val m = store.exportShards(QuerySpec(), dir.toString + "/run",
                nShards = 32)
              require(m.map(_.rows).sum > 0)
            } finally {
              import scala.jdk.CollectionConverters._
              java.nio.file.Files.walk(dir).sorted(
                  java.util.Comparator.reverseOrder[java.nio.file.Path]())
                .iterator().asScala.foreach(p =>
                  try java.nio.file.Files.deleteIfExists(p)
                  catch { case _: java.io.IOException => () })
            }
          }
          timed(pass, "w_remove_each_n") {
            store.removeQuery(QuerySpec(when = Some("""{"$each_n": 2}"""))): Unit
          }
        }
        // concurrent HTTP serving (python-benchmark.py's shape: N
        // concurrent batched clients through the REAL server) — the w_*
        // entries above time engine calls; this one catches serving-layer
        // contention (dispatch pool, store mutation lock, per-request
        // admission). Once per pass on its own store: the mix mutates.
        timed(pass, "w_http_concurrent") { httpConcurrentWorkload(spark) }
      } catch { case e: Throwable =>
        System.err.println(s"[bench] workload staging failed: ${e.getMessage}")
        errors("w_staging") = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
      }
    }

    // cross-pass median per query, in first-pass declaration order; a
    // query missing from some pass (transient failure) medians over the
    // passes that have it
    def median(xs: Seq[Double]): Double = {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
    val names = passResults.flatMap(_.keys).distinct
    val results = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val spreads = scala.collection.mutable.LinkedHashMap.empty[String, Seq[Double]]
    for (n <- names) {
      val xs = passResults.flatMap(_.get(n))
      if (xs.nonEmpty) { results(n) = median(xs); spreads(n) = xs }
    }

    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v) => jstr(k) + ":" + v }
      .mkString("{", ",", "}")
    val ps = spreads.map { case (k, xs) =>
      jstr(k) + ":" + xs.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val es = errors.map { case (k, v) => jstr(k) + ":" + jstr(v) }
      .mkString("{", ",", "}")
    val total = results.values.sum
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","convention":"median-of-$passes-passes, min-of-2 within a pass","queries":$qs,"passes":$ps,"errors":$es,"sf":"$sfDir"}"""
    // The driver's artifact keeps only a ~2000-char TAIL of captured
    // output; the full 100+-entry query map is ~5 KB, so no placement of
    // the full line survives the window (r11's artifact had parsed:null
    // with the line's head cut off). Contract, in order: (1) the full
    // JSON persists to bench_results.json — every timed entry, full
    // precision, with per-pass spreads; (2) the full line prints for a
    // human scrollback; (3) the LAST stdout line is a COMPACT headline
    // JSON — the workload family plus the slowest queries, ms precision —
    // sized well under the tail window even with sbt's epilogue after it,
    // so the driver's parse always finds a complete object.
    try {
      java.nio.file.Files.write(
        java.nio.file.Paths.get("bench_results.json"),
        (line + "\n").getBytes("UTF-8")): Unit
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bench_results.json write failed: $e")
    }
    println(line)
    val headline = results.filter(_._1.startsWith("w_")) ++
      results.filterNot(_._1.startsWith("w_")).toSeq
        .sortBy { case (k, v) => -math.max(v, prevCommitted.getOrElse(k, 0.0)) }
        .take(20)
    val hq = headline.map { case (k, v) =>
      jstr(k) + ":" + (math.rint(v * 1000) / 1000)
    }.mkString("{", ",", "}")
    val compact =
      s"""{"metric":"total","value":${math.rint(total * 1000) / 1000},"unit":"sec","queries":$hq,"n_queries":${results.size},"n_errors":${errors.size},"n_passes":$passes,"queries_full":"bench_results.json","sf":"$sfDir"}"""
    spark.stop()
    println(compact)
  }
}
