package graftbench

import graft.cond.{CondCompiler, Node, Parser}
import graft.engine.{BucketStore, HttpApi, QueryRegistry, QuerySpec}
import graftbench.OpGen._
import graftbench.Serving.Clients
import java.nio.file.Path
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** One store served by the real `graft.engine.HttpApi` on loopback. */
final class Server(run: Run, name: String, env: Map[String, String]) {
  val dir: Path = run.freshDir(name)
  val store = new BucketStore(run.spark, dir.toString)
  private val api = new HttpApi(store, apiToken = Server.Token, env = env)
  val port: Int = api.start()
  def client(): Client = new Client(port, Server.Token)
  def stop(): Unit = { try api.stop() finally store.close(); Bench.deleteTree(dir) }
}

object Server {
  val Token = "graftbench"

  /** Load records through the engine's serving write (`writeFolded`, the
    * call the batch-write handler makes), one Spark job. */
  def preload(store: BucketStore, bucket: String, data: Map[String, Vector[Rec]]): Unit = {
    val recs = data.toSeq.sortBy(_._1).flatMap { case (e, rs) =>
      rs.map(r => BucketStore.FoldRec(e, r.ts, r.labels, "application/octet-stream", r.payload))
    }
    val res = store.writeFolded(Seq(BucketStore.FoldReq(bucket, recs)))
    require(res.forall(_ == Right(Set.empty)), s"preload failed: $res")
  }
}

/** The `mixed` serving workload (a closed-loop client over HTTP) and, for the traced run, its replay by one client over HTTP and
  * straight through the engine calls the handlers make. */
final class Serving(run: Run, result: Result) {
  private val trace = run.trace
  private val ops = new Ops(result)
  private val replayOps = new Ops(result) // the traced run's one-client HTTP replay
  private val reqIds = new java.util.concurrent.atomic.AtomicLong(0)
  private var requests0 = 0L // requests sent before the measured phase

  /** An HTTP request, timed as `op` into `o` and traced as `http.<op>`. */
  private def http[T](o: Ops, op: String)(f: => T)(status: T => Int): Option[T] =
    trace.span(s"http.$op")(o.timed(op)(f)(status))

  // ------------------------------------------------------------ requests

  private def write(o: Ops, c: Client, bucket: String, w: Write): Boolean =
    http(o, "write")(c.writeBatch(bucket, w.entry, w.recs))(_.status).exists { r =>
      val ok = r.recordErrors.isEmpty && r.text.contains(s""""written_records":${w.recs.size}""")
      result.check(ok, s"write ${w.entry}: ${r.text} ${r.recordErrors}")
      ok
    }

  /** Open a cursor and drain it; checks the returned timestamps and
    * payload bytes. Records `query_ttfb` (open to first page) and `query`
    * (open to last page). */
  private def read(o: Ops, c: Client, bucket: String, q: Corpus.Query, expect: Seq[Long],
      expectBytes: Long): Long = {
    val t0 = System.nanoTime()
    val opened = http(o, "query_open")(c.openQuery(bucket, q.entries.head, q.json))(_._1.status)
    opened.map(_._2).filter(_ > 0).map { id =>
      val got = mutable.ArrayBuffer.empty[Long]
      var bytes = 0L
      var last = false
      var first = true
      var ok = true
      while (!last && ok) {
        http(o, "batch_fetch")(c.fetch(bucket, "x", id))(_.status) match {
          case Some(p) =>
            if (first) { o.record("query_ttfb", (System.nanoTime() - t0) / 1e6); first = false }
            got ++= p.recs.map(_.ts); bytes += p.body.length; last = p.last
          case None => ok = false
        }
      }
      if (ok) {
        o.record("query", (System.nanoTime() - t0) / 1e6)
        result.check(got.sorted == expect.sorted && bytes == expectBytes,
          s"query ${q.json}: ${got.size} records / $bytes B, expected ${expect.size} / $expectBytes B")
      }
      bytes
    }.getOrElse(0L)
  }

  private def statusOk(r: Client#Reply, what: String): Boolean = {
    val ok = r.recordErrors.isEmpty
    result.check(ok, s"$what: ${r.recordErrors}")
    ok
  }

  // ----------------------------------------------------------- workloads

  /** `mixed`: the reference benchmark's write / read / update / remove
    * shape, on a store preloaded with 32 entries, with the compaction tick
    * every 2 s beside the requests. Every mutation bumps the data version,
    * so reads re-list the store. Checks every read against the client's
    * model and, at the end, the whole bucket against that model. */
  def mixed(): Unit = {
    val Entries = 32
    val corpus = OpGen.mixedCorpus(run.seed, Entries, 32)
    val env = Map("RS_ENGINE_COMPACTION_INTERVAL" -> "2")
    val (server, setupS) = run.setupRepeated(7) { _ =>
      val s = new Server(run, "mixed", env)
      Server.preload(s.store, "mix", corpus)
      s
    }(_.stop())
    // untimed warm-up on a bucket of its own: one whole op cycle, so the
    // measured phase pays no first compilation of any op kind
    locally {
      val warmCorpus = OpGen.mixedCorpus(run.seed + 7, 2 * Clients, 32)
      Server.preload(server.store, "warm", warmCorpus)
      Serving.parallel(Clients) { c =>
        val warm = new Mixed(run.seed + 7, c, Clients, warmCorpus)
        val client = server.client()
        for (_ <- MixedCycle.indices) perform(ops, client, "warm", warm.next())
      }
      run.log("warmed up")
    }
    val gens = Vector.tabulate(Clients)(c => new Mixed(run.seed, c, Clients, corpus))
    val clients = Vector.fill(Clients)(server.client())
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Op]()
    val records = new java.util.concurrent.atomic.LongAdder
    val rewrite0 = server.store.rewriteEpoch
    val v0 = server.store.dataVersion
    val counts0 = run.sparkCounts.map(Snap(_))
    ops.clearSamples()
    requests0 = result.attempted.sum
    val elapsed = run.closedLoop(Clients) { (c, _) =>
      val op = gens(c).next()
      trace.request(reqIds.incrementAndGet())
      records.add(perform(ops, clients(c), "mix", op)); done.add(op)
    }
    val v1 = server.store.dataVersion
    val counts1 = run.sparkCounts.map(Snap(_))
    // final state: every client's model, record for record, labels included
    val want = gens.flatMap(_.model.iterator.flatMap { case (e, m) => m.iterator.map { case (ts, l) => (e, ts) -> l } }).toMap
    val got = server.store.table().filter(col("bucket") === "mix").select("entry", "ts", "labels")
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getMap[String, String](2).toMap).toMap
    run.log("final state read")
    val diff = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    result.check(diff == 0, s"mixed: $diff records differ from the clients' models (${got.size} stored, ${want.size} expected)")
    val (storeBytes, files, dirs) = Bench.treeSize(server.dir.resolve("bucket=mix"))
    common(setupS, elapsed, records.sum)
    latencies("write", "write"); latencies("query_ttfb", "query_ttfb")
    for (op <- Seq("update", "remove", "list")) latencies(op, op)
    val userBytes = corpus.valuesIterator.map(_.size * 1024L).sum +
      ops.samples("write").size * 16 * 1024L
    detail("stored_bytes_per_user_byte", Stats.ratio(storeBytes, userBytes), "ratio")
    val mutations = Seq("write", "update", "remove").map(ops.samples(_).size).sum.toLong
    storeLayer(server, files, dirs, mutations, v0, v1, ops.samples("write").size * 16 * 1024L, counts0, counts1)
    layer("store.rewrite_epochs", (server.store.rewriteEpoch - rewrite0) / 2.0, "count")
    server.stop()
    run.log("server stopped")
    if (trace.enabled) {
      import scala.jdk.CollectionConverters._
      val sent = replayHttp(done.asScala.toVector, corpus, env)
      run.log(s"replayed ${sent.size} of ${done.size} ops over HTTP")
      replayDirect(sent, corpus)
      run.log("replayed them through the engine")
      overheads()
    }
  }

  /** Send one `mixed` op, timed into `o`; returns the records it moved
    * (written or read). */
  private def perform(o: Ops, c: Client, bucket: String, op: Op): Long = op match {
    case w: Write => if (write(o, c, bucket, w)) w.recs.size.toLong else 0L
    case Read(_, q, expect) =>
      read(o, c, bucket, q, expect, expect.size * 1024L)
      expect.size.toLong
    case Update(e, ts, l) =>
      http(o, "update")(c.updateBatch(bucket, e, ts, l))(_.status).foreach { r =>
        if (statusOk(r, s"update $e")) result.check(r.text.contains(s""""updated_records":${ts.size}"""), s"update $e: ${r.text}")
      }
      0L
    case Remove(e, ts) =>
      http(o, "remove")(c.removeBatch(bucket, e, ts))(_.status).foreach { r =>
        if (statusOk(r, s"remove $e")) result.check(r.text.contains(s""""removed_records":${ts.size}"""), s"remove $e: ${r.text}")
      }
      0L
    case RemoveWhere(e, q, expect) =>
      http(o, "remove")(c.removeWhere(bucket, e, q.json))(_.status).foreach { r =>
        result.check(r.text.contains(s""""removed_records":${expect.size}"""), s"remove-where $e: ${r.text} expected ${expect.size}")
      }
      0L
    case ListBuckets => http(o, "list")(c.list())(_.status); 0L
    case Info => http(o, "list")(c.info())(_.status); 0L
  }

  // ------------------------------------------------------------- metrics

  private def e2e(name: String, v: Double, unit: String): Unit = result.e2e(name) = (v, unit)
  private def detail(name: String, v: Double, unit: String): Unit = result.detail(name) = (v, unit)
  private def layer(name: String, v: Double, unit: String): Unit = result.layer(name) = (v, unit)

  /** The request kinds `op_p50_ms` combines. */
  private val Kinds = Seq("write", "query", "update", "remove", "list")

  /** `op_p50_ms` is the geometric mean of the per-kind median latencies,
    * as on `analytics`: every kind weighs the same, and where the op cycle
    * stops at the deadline does not move it (the median over all requests
    * fell between the write and the query latencies, so one write more or
    * less moved it by a tenth). */
  private def common(setupS: Double, elapsed: Double, records: Long): Unit = {
    val nOps = Kinds.map(ops.samples(_).size).sum
    e2e("setup_s", setupS, "s")
    e2e("op_p50_ms", Stats.geomean(Kinds.map(k => Stats.median(ops.samples(k)))), "ms")
    e2e("ops_per_s", nOps / elapsed, "1/s")
    detail("records_per_s", records / elapsed, "1/s")
    detail("ops", nOps, "count")
  }

  /** `<name>_p50_ms` and, where at least ten samples lie beyond it, the
    * highest supported tail percentile. */
  private def latencies(op: String, name: String): Unit = {
    val xs = ops.samples(op)
    if (xs.nonEmpty) detail(s"${name}_p50_ms", Stats.median(xs), "ms")
    for (q <- Stats.highestSupported(xs.size))
      detail(f"${name}_p${(q * 100).round}%d_ms", Stats.percentile(xs, q), "ms")
    detail(s"${name}_samples", xs.size, "count")
  }

  /** Store, coalescer, HTTP and Spark figures of the measured phase. */
  private def storeLayer(server: Server, files: Long, dirs: Long, ackedMutations: Long,
      v0: Long, v1: Long, userBytes: Long, c0: Option[Snap], c1: Option[Snap]): Unit =
    if (trace.enabled) {
      layer("coalescer.fan_in", Stats.fanIn(ackedMutations, v0, v1), "ratio")
      layer("store.mutations", (v1 - v0).toDouble, "count")
      layer("store.files", files.toDouble, "count")
      layer("store.dirs", dirs.toDouble, "count")
      for (a <- c0; b <- c1) {
        a.layerDelta(b, result)
        layer("store.bytes_written_per_user_byte",
          Stats.ratio((b.v("output_bytes") - a.v("output_bytes")).toDouble, userBytes), "ratio")
      }
      layer("http.requests", (result.attempted.sum - requests0).toDouble, "count")
      layer("http.refused", ops.refused.sum.toDouble, "count")
    }

  // -------------------------------------------------------------- replay
  //
  // The traced run sends the ops its clients completed again, in
  // completion order, twice: once from one HTTP client to a fresh server,
  // once straight through the engine calls the handlers make on a fresh
  // store. Both start from the same preload and run one op at a time, so
  // per op they differ only by the HTTP layer. Completion order keeps each
  // entry's history (a client owns its entries and runs its ops in turn),
  // so every check of the measured phase holds in the HTTP replay too.

  /** Replay `done` over HTTP for at most the measuring time; returns the
    * ops sent. */
  private def replayHttp(done: Vector[Op], corpus: Map[String, Vector[Rec]],
      env: Map[String, String]): Vector[Op] = {
    val server = new Server(run, "replay-http", env)
    try {
      Server.preload(server.store, "mix", corpus)
      val c = server.client()
      val deadline = System.nanoTime() + run.seconds * 1000000000L
      val sent = Vector.newBuilder[Op]
      val it = done.iterator
      while (it.hasNext && System.nanoTime() < deadline) {
        val op = it.next()
        perform(replayOps, c, "mix", op); sent += op
      }
      sent.result()
    } finally server.stop()
  }

  /** Replay `sent` through the engine calls, with the server's 2 s
    * compaction tick; gives each layer's self time and Spark jobs per op. */
  private def replayDirect(sent: Vector[Op], corpus: Map[String, Vector[Rec]]): Unit = {
    val dir = run.freshDir("replay-direct")
    val store = new BucketStore(run.spark, dir.toString)
    try {
      Server.preload(store, "mix", corpus)
      val registry = new QueryRegistry()
      var compactions = 0L
      var lastCompact = System.nanoTime()
      for (op <- sent) {
        op match {
          case w: Write => direct("write")(trace.span("store.write")(store.writeFolded(Seq(BucketStore.FoldReq("mix",
            w.recs.map(r => BucketStore.FoldRec(w.entry, r.ts, r.labels, "application/octet-stream", r.payload)))))))
          case Read(_, q, expect) =>
            val n = directRead(store, registry, "mix", q)
            result.check(n == expect.size, s"engine-direct query ${q.json}: $n records, expected ${expect.size}")
          case Update(e, ts, l) => direct("update")(trace.span("store.update")(
            store.updateLabelsFolded(Seq(("mix", ts.map(t => (e, t, l, Set.empty[String])))))))
          case Remove(e, ts) => direct("remove")(trace.span("store.remove")(
            store.removeFolded(Seq(("mix", ts.map(t => (e, t)))))))
          case RemoveWhere(e, q, _) => direct("remove")(trace.span("store.remove")(
            store.removeQuery(QuerySpec(Some(q.start), Some(q.stop), Some(Seq(e)), q.when, bucket = Some("mix")))))
          case ListBuckets | Info => direct("list")(trace.span("store.list") {
            store.entryStats("mix")
            store.tableOrEmpty().groupBy("bucket", "entry").agg(min("ts"), max("ts")).collect()
          })
        }
        // the compaction tick the server runs every 2 s
        if (System.nanoTime() - lastCompact > 2000000000L) {
          compactions += trace.span("store.compact")(store.compact())
          lastCompact = System.nanoTime()
        }
      }
      layer("store.compactions", compactions.toDouble, "count")
    } finally { store.close(); Bench.deleteTree(dir) }
  }

  private val directMs = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  private val jobsPerOp = mutable.Map.empty[String, mutable.ArrayBuffer[Long]]
  private val rowsRead = new java.util.concurrent.atomic.LongAdder
  private val rowsReturned = new java.util.concurrent.atomic.LongAdder

  /** Time one engine-direct op and count the Spark jobs it ran. */
  private def direct[T](op: String)(f: => T): T = {
    val j0 = run.sparkCounts.map(_.jobs.sum).getOrElse(0L)
    val t0 = System.nanoTime()
    val r = trace.span(s"direct.$op")(f)
    directMs.getOrElseUpdate(op, mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e6
    jobsPerOp.getOrElseUpdate(op, mutable.ArrayBuffer.empty) +=
      (run.sparkCounts.map(_.jobs.sum).getOrElse(0L) - j0)
    r
  }

  /** A cursor through the registry the query handlers use: parse and
    * compile the condition (the steps `QueryEngine` runs inside planning),
    * open, first page, drain. */
  private def directRead(store: BucketStore, registry: QueryRegistry, bucket: String, q: Corpus.Query): Int = {
    val in0 = run.sparkCounts.map(_.inputRecords.sum).getOrElse(0L)
    val spec = QuerySpec(Some(q.start), Some(q.stop), Some(q.entries), q.when, bucket = Some(bucket))
    for (w <- q.when) {
      val parsed = trace.span("cond.parse")(Parser.parse(w))
      if (!Node.isStateful(parsed.root)) trace.span("cond.compile")(
        CondCompiler.compilePredicate(parsed.root,
          CondCompiler.Cols(col("ts"), col("labels"), col("computed_labels"))))
    }
    var n = 0
    direct("query") {
      val id = direct("query_open")(trace.span("query.plan")(
        registry.open(() => trace.span("store.table")(store.table()), spec)))
      n += direct("batch_fetch")(trace.span(s"query.first_row.${q.cls}")(
        registry.fetch(id, 85)).map(_.size).getOrElse(0))
      var more = true
      trace.span(s"query.drain.${q.cls}") {
        while (more) direct("batch_fetch") {
          val page = registry.fetch(id, 85).getOrElse(Nil)
          n += page.size; more = page.nonEmpty
        }
      }
      registry.close(id)
    }
    rowsReturned.add(n)
    rowsRead.add(run.sparkCounts.map(_.inputRecords.sum).getOrElse(0L) - in0)
    n
  }

  /** The per-layer figures of the replay. */
  private def overheads(): Unit = {
    val self = trace.selfMs
    def med(name: String): Double = self.get(name).map(Stats.median).getOrElse(0.0)
    for (op <- Seq("write", "query_open", "batch_fetch", "update", "remove", "list")) {
      val h = replayOps.samples(op); val d = directMs.getOrElse(op, Nil).toSeq
      layer(s"http.$op.overhead_ms",
        if (h.isEmpty || d.isEmpty) 0.0 else Stats.median(h) - Stats.median(d), "ms")
    }
    for (op <- Seq("write", "query", "update", "remove", "list"))
      layer(s"spark.jobs_per_$op", jobsPerOp.get(op).map(js => Stats.median(js.toSeq.map(_.toDouble))).getOrElse(0.0), "count")
    for (n <- Seq("write", "update", "remove", "table", "list"))
      layer(s"store.${n}_ms", med(s"store.$n"), "ms")
    layer("cond.parse_us", med("cond.parse") * 1000, "us")
    layer("cond.compile_us", med("cond.compile") * 1000, "us")
    layer("query.plan_ms", med("query.plan"), "ms")
    for (c <- Corpus.Classes) {
      layer(s"query.first_row_ms.$c", trace.durationsMs(s"query.first_row.$c") match {
        case xs if xs.nonEmpty => Stats.median(xs); case _ => 0.0 }, "ms")
      layer(s"query.drain_ms.$c", trace.durationsMs(s"query.drain.$c") match {
        case xs if xs.nonEmpty => Stats.median(xs); case _ => 0.0 }, "ms")
    }
    layer("query.rows_read_per_row_returned", Stats.ratio(rowsRead.sum.toDouble, rowsReturned.sum.toDouble), "ratio")
  }
}

object Serving {
  /** Closed-loop clients of `mixed`. One: with four, a request's latency
    * was mostly queueing behind the others' mutations on the store lock
    * and moved by a third between sets of runs of the same code. */
  val Clients = 1

  /** Run `f(0 until n)` on `n` threads and wait for all of them. */
  def parallel(n: Int)(f: Int => Unit): Unit = {
    val ts = (0 until n).map(i => new Thread(() => f(i)))
    ts.foreach(_.start()); ts.foreach(_.join())
  }
}
