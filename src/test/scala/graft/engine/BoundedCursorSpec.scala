package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bounded cursors: a cursor whose scan estimate is under
  * [[QueryRegistry.MaxBoundedBytes]] reads its answer on the driver
  * ([[BucketStore.readSmall]]). Pinned here: the driver reader and the
  * streaming plan return identical row sequences, (ts, entry) tie order
  * and overlapping files of one entry included; a bounded drain runs no
  * Spark job; `#ext` and over-cap queries stream; the registry's byte
  * budget holds and is returned; continuous cursors re-arm only when the
  * data moved; a read racing a compaction or fold retries; a broken file
  * is an error; and both paths answer a failing query with one status
  * and message over HTTP. */
class BoundedCursorSpec extends AnyFunSuite with SparkJobs
    with AdaptiveSparkPlanHelper {

  private val T0 = 1704067200000000L
  private val Step = 10000000L
  private val Entries = Seq("e000", "e001", "e002", "e003")
  private val Kinds = IndexedSeq("a", "b", "c", "d")
  private val MiB = 1 << 20

  /** Four entries of 40 records at the SAME timestamps (ties across
    * entries), seeded labels of the four value kinds, and patched labels
    * on e001 so its reads plan the overlay join. */
  private lazy val store: BucketStore = {
    val s = new BucketStore(spark, Files.createTempDirectory("graft-bounded").toString)
    val rng = new scala.util.Random(811)
    def rec(e: String, i: Int) = {
      val ts = T0 + i * Step
      BucketStore.FoldRec(e, ts, Map(
        "n" -> rng.nextInt(100).toString,
        "f" -> f"${rng.nextDouble()}%.3f",
        "ok" -> rng.nextBoolean().toString,
        "kind" -> Kinds(rng.nextInt(Kinds.size))),
        "application/octet-stream", s"$e@$ts".getBytes("UTF-8"))
    }
    s.writeFolded(Seq(BucketStore.FoldReq("b", for (e <- Entries; i <- 0 until 40) yield rec(e, i))))
    s.updateLabelsMatched("b", (0 until 40 by 3).map(i =>
      ("e001", T0 + i * Step, Map("n" -> "5", "kind" -> "z"), Set("ok"))))
    // "late": a belated write lands a second file whose ts range
    // overlaps the first's
    for (parity <- Seq(0, 1))
      s.writeFolded(Seq(BucketStore.FoldReq("b", (parity until 40 by 2).map(rec("late", _)))))
    s
  }

  override def afterAll(): Unit = {
    store.close()
    super.afterAll()
  }

  private def spec(entries: Seq[String], when: Option[String] = None,
      from: Int = 5, until: Int = 29, strict: Boolean = false,
      onlyMetadata: Boolean = false): QuerySpec =
    QuerySpec(start = Some(T0 + from * Step), stop = Some(T0 + until * Step),
      entries = Some(entries), when = when, strict = strict,
      onlyMetadata = onlyMetadata, bucket = Some("b"))

  /** The five `mixed` query classes (both forms of the trailing and
    * stateful classes) on one entry. */
  private def classes(entry: String): Seq[(String, QuerySpec)] = Seq(
    "plain" -> spec(Seq(entry)),
    "compare" -> spec(Seq(entry), Some("""{"&n":{"$lt":50},"&kind":{"$ne":"a"}}""")),
    "trailing each_n" -> spec(Seq(entry), Some("""{"&ok":{"$eq":true},"$each_n":2}""")),
    "trailing limit" -> spec(Seq(entry), Some("""{"&f":{"$gt":0.3},"$limit":6}""")),
    "stateful each_t" -> spec(Seq(entry), Some("""{"$each_t":"30s"}""")),
    "stateful gate" -> spec(Seq(entry), Some("""{"$gate":["20s",{"&n":{"$gt":60}}]}""")),
    "context" -> spec(Seq(entry),
      Some("""{"&n":{"$lt":20},"#ctx_before":1,"#ctx_after":2}""")))

  private def boundedOpen(reg: QueryRegistry, s: QuerySpec, continuous: Boolean = false,
      ttlMs: Long = 60000L, st: BucketStore = store): Long =
    reg.open(s, st.querySource(), continuous, ttlMs)

  private def drain(reg: QueryRegistry, id: Long): Seq[Row] =
    Iterator.continually(reg.fetch(id, 7).getOrElse(fail(s"cursor $id vanished")))
      .takeWhile(_.nonEmpty).flatten.toSeq

  /** (ts, entry, labels, payload) of a drained row; payload is absent
    * under `only_metadata`. */
  private def key(r: Row): (Long, String, Map[String, String], Option[String]) =
    (r.getAs[Long]("ts"), r.getAs[String]("entry"),
      r.getAs[collection.Map[String, String]]("labels").toMap,
      if (r.schema.fieldNames.contains("payload"))
        Some(new String(r.getAs[Array[Byte]]("payload"), "UTF-8"))
      else None)

  /** Drains `s` bounded and streaming; the bounded open must reserve
    * (it took the driver reader) and both must return the same
    * sequence, in (ts, entry) order. */
  private def sameAnswer(name: String, s: QuerySpec,
      st: BucketStore = store): Seq[(Long, String)] = {
    val reg = new QueryRegistry()
    val bounded = boundedOpen(reg, s, st = st)
    assert(reg.reserved > 0, s"$name: the bounded open took no reservation")
    val local = drain(reg, bounded).map(key)
    val streaming = reg.open(() => st.table(s), s)
    assert(reg.reserved == 0L, s"$name: a source without an estimate must stream")
    val streamed = drain(reg, streaming).map(key)
    assert(local == streamed, s"$name: driver-read and streaming answers differ")
    val order = local.map(k => (k._1, k._2))
    assert(order == order.sorted, s"$name: not in (ts, entry) order")
    order
  }

  test("driver-read and streaming cursors return identical sequences") {
    val (_, lateFiles) = store.entryStats("b")("late")
    assert(lateFiles == 2L, "the belated write must land a second file")
    val answers = (Seq("e000", "e001", "late")
      .flatMap(e => classes(e).map { case (n, s) => s"$n on $e" -> s }) ++ Seq(
      "strict" -> spec(Seq("e000", "e002"), Some("""{"&n":{"$gt":40}}"""), strict = true),
      "only_metadata" -> spec(Seq("e000"), onlyMetadata = true),
      "#select_labels" -> spec(Seq("e001"),
        Some("""{"&n":{"$gte":0},"#select_labels":["kind","n"]}""")),
      // a leading $limit runs the kernel, whose interrupt ends each entry
      "$limit interrupt" -> spec(Seq("e000", "e001"), Some("""{"$limit":7,"&n":{"$gte":10}}""")),
      "patched labels" -> spec(Seq("e001"), Some("""{"&kind":{"$eq":"z"}}"""), from = 0, until = 40),
      "belated overlap" -> spec(Seq("late"), from = 0, until = 40)))
      .map { case (n, s) => n -> sameAnswer(n, s) }
    for ((n, a) <- answers if !n.startsWith("stateful gate"))
      assert(a.nonEmpty, s"$n: empty answer pins nothing")
    assert(answers.toMap.apply("patched labels").size == 14)
    assert(answers.toMap.apply("belated overlap").map(_._1) == (0 until 40).map(T0 + _ * Step))
  }

  test("a multi-entry glob with equal ts across entries keeps (ts, entry) " +
      "tie order on both plans") {
    for ((n, s) <- Seq(
        "plain" -> spec(Seq("e*")),
        "trailing" -> spec(Seq("e*"), Some("""{"&ok":{"$eq":true},"$each_n":2}""")),
        "context" -> spec(Seq("e*", "!e002"),
          Some("""{"&n":{"$lt":20},"#ctx_before":1,"#ctx_after":2}""")),
        "stateful" -> spec(Seq("e*"), Some("""{"$each_t":"30s"}""")))) {
      val order = sameAnswer(s"glob $n", s)
      val ties = order.groupBy(_._1).values.filter(_.size > 1)
      assert(ties.nonEmpty, s"glob $n: no equal-ts rows across entries")
      if (n == "plain") assert(order.size == 24 * Entries.size)
    }
  }

  test("a bounded cursor drains in 0 Spark jobs, patched entries included") {
    for ((n, s) <- classes("e000") ++ classes("e001").map { case (n, s) => s"$n, patched" -> s }) {
      val reg = new QueryRegistry()
      store.scanBound(s) // the listing and footers: not the cursor's work
      var rows = Seq.empty[Row]
      val jobs = jobsOf { rows = drain(reg, boundedOpen(reg, s)) }
      assert(jobs == 0, s"$n: the bounded cursor ran $jobs jobs")
      assert(n.startsWith("stateful gate") || rows.nonEmpty)
    }
  }

  /** One entry of `records` records of 1 MiB each, in a store of its own. */
  private def withBigEntry(records: Int)(f: (BucketStore, QuerySpec) => Unit): Unit = {
    val big = new BucketStore(spark, Files.createTempDirectory("graft-bounded-big").toString)
    try {
      big.writeFolded(Seq(BucketStore.FoldReq("b", (0 until records).map(i =>
        BucketStore.FoldRec("big", T0 + i * Step, Map("i" -> i.toString), "x",
          Array.fill[Byte](MiB)(i.toByte))))))
      f(big, QuerySpec(entries = Some(Seq("big")), bucket = Some("b")))
    } finally big.close()
  }

  /** Drains `s` through a registry opened with the store's bound: the
    * streaming plan must be taken (no reservation, an exchange, more
    * than one job), and the rows are returned. */
  private def streams(name: String, st: BucketStore, s: QuerySpec): Seq[Row] = {
    val reg = new QueryRegistry()
    var rows = Seq.empty[Row]
    var jobs = 0
    val plans = plansOf("toLocalIterator") {
      jobs = jobsOf {
        val id = reg.open(s, st.querySource(), continuous = false, ttlMs = 60000L)
        assert(reg.reserved == 0L, s"$name: a streaming cursor reserved ${reg.reserved}")
        rows = drain(reg, id)
      }
    }
    assert(jobs > 1, s"$name: the streaming plan ran $jobs jobs")
    assert(plans.exists(p => collect(p) { case e: Exchange => e }.nonEmpty),
      s"$name: the streaming plan sorts through an exchange")
    rows
  }

  test("#ext and over-cap queries keep the streaming plan") {
    val ext = spec(Seq("e000"), Some("""{"#ext": {"split_lines": {}}}"""))
    assert(store.scanBound(ext) <= QueryRegistry.MaxBoundedBytes)
    assert(streams("#ext", store, ext).nonEmpty)
    withBigEntry(9) { (big, s) =>
      assert(big.scanBound(s) > QueryRegistry.MaxBoundedBytes)
      assert(streams("over cap", big, s).map(_.getAs[Long]("ts")) ==
        (0 until 9).map(T0 + _ * Step))
    }
  }

  test("the bound counts only files of the spec's bucket, entries and range") {
    val all = store.scanBound(spec(Seq("e*"), from = 0, until = 40))
    val one = store.scanBound(spec(Seq("e000"), from = 0, until = 40))
    assert(one > 0 && one < all)
    assert(store.scanBound(spec(Seq("e000"), from = 40, until = 80)) == 0L)
    // literal names prune the listing; a leading `/` and an exclude
    // resolve as the query resolves them
    assert(graft.core.EntryPattern.literalNames(Some(Seq("/e000", "!e001"))) == Some(Set("/e000", "e000")))
    assert(graft.core.EntryPattern.literalNames(Some(Seq("e*"))).isEmpty)
    assert(store.scanBound(spec(Seq("/e000"), from = 0, until = 40)) == one)
    assert(store.scanBound(spec(Seq("e000", "e001", "!e001"), from = 0, until = 40)) == one)
    assert(store.scanBound(spec(Seq("e*", "!e000"), from = 0, until = 40)) == all - one)
    assert(store.scanBound(spec(Seq("nope"))) == 0L)
    assert(store.scanBound(spec(Seq("e000")).copy(bucket = Some("other"))) == 0L)
  }

  test("bounded cursors stay within the registry budget and return it") {
    withBigEntry(6) { (big, s) =>
      val bound = big.scanBound(s)
      assert(bound <= QueryRegistry.MaxBoundedBytes)
      val fits = (QueryRegistry.BoundedBudgetBytes / bound).toInt
      val reg = new QueryRegistry()
      def open(ttlMs: Long = 60000L) =
        reg.open(s, big.querySource(), continuous = false, ttlMs = ttlMs)
      val held = (0 until fits).map(_ => open())
      assert(reg.reserved == fits * bound && reg.reserved <= QueryRegistry.BoundedBudgetBytes)
      // past the budget the next cursor streams, with the same answer
      val over = open()
      assert(reg.reserved == fits * bound)
      val streamed = drain(reg, over).map(key)
      reg.close(held.head)
      assert(reg.reserved == (fits - 1) * bound, "close must return the reservation")
      val first = open()
      assert(reg.reserved == fits * bound)
      assert(drain(reg, first).map(key) == streamed)
      assert(reg.reserved == (fits - 1) * bound, "a drain to the end must return it")
      assert(reg.drained(first), "an exhausted cursor must drop its rows")
      held.tail.foreach(reg.close)
      assert(reg.reserved == 0L)
      // TTL expiry returns it too
      open(ttlMs = 1L)
      assert(reg.reserved == bound)
      Thread.sleep(20)
      assert(reg.fetch(-1L, 1).isEmpty)
      assert(reg.reserved == 0L, "expiry must return the reservation")
    }
  }

  test("a continuous bounded cursor bounds again at each re-arm") {
    val s = spec(Seq("e002"), from = 35, until = 1000)
    val reg = new QueryRegistry()
    val id = boundedOpen(reg, s, continuous = true)
    assert(reg.reserved > 0)
    assert(drain(reg, id).map(_.getAs[Long]("ts")) == (35 until 40).map(T0 + _ * Step))
    assert(reg.reserved == 0L, "an exhausted re-arm must not hold a reservation")
    val late = T0 + 41 * Step
    store.writeFolded(Seq(BucketStore.FoldReq("b", Seq(
      BucketStore.FoldRec("e002", late, Map("n" -> "1"), "x", Array[Byte](1))))))
    assert(drain(reg, id).map(_.getAs[Long]("ts")) == Seq(late))
    assert(reg.reserved == 0L)
    reg.close(id)
    store.removeRecords("b", Seq(("e002", late)))
  }

  /** `src` counting the calls that plan or read a query. */
  private final class Counting(src: QueryRegistry.Source) extends QueryRegistry.Source {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    def bound(s: QuerySpec): Long = { calls.incrementAndGet(); src.bound(s) }
    def table(s: QuerySpec): org.apache.spark.sql.DataFrame = { calls.incrementAndGet(); src.table(s) }
    def read(s: QuerySpec): Seq[Row] = { calls.incrementAndGet(); src.read(s) }
    def version: Option[Long] = src.version
  }

  test("a continuous cursor re-arms only when the data moved; a replica " +
      "re-arms on every poll") {
    val s = spec(Seq("e003"), from = 35, until = 1000)
    val reg = new QueryRegistry()
    val source = new Counting(store.querySource())
    val id = reg.open(s, source, continuous = true, ttlMs = 60000L)
    assert(drain(reg, id).map(_.getAs[Long]("ts")) == (35 until 40).map(T0 + _ * Step))
    val armed = source.calls.get
    for (_ <- 0 until 20) assert(reg.fetch(id, 7).contains(Nil))
    assert(source.calls.get == armed, "empty polls over an unchanged store planned a query")
    val late = T0 + 42 * Step
    store.writeFolded(Seq(BucketStore.FoldReq("b", Seq(
      BucketStore.FoldRec("e003", late, Map("n" -> "1"), "x", Array[Byte](1))))))
    assert(reg.fetch(id, 7).map(_.map(_.getAs[Long]("ts"))).contains(Seq(late)),
      "the first poll after a write returns it")
    reg.close(id)
    // a replica's version cannot see the primary's writes: it re-arms
    val replica = new BucketStore(spark, store.root, readOnly = true)
    try {
      val rsource = new Counting(replica.querySource())
      val rid = reg.open(s, rsource, continuous = true, ttlMs = 60000L)
      assert(drain(reg, rid).map(_.getAs[Long]("ts")).last == late)
      val before = rsource.calls.get
      assert(reg.fetch(rid, 7).contains(Nil))
      assert(rsource.calls.get > before, "a replica cursor must re-arm on each poll")
      val later = T0 + 43 * Step
      store.writeFolded(Seq(BucketStore.FoldReq("b", Seq(
        BucketStore.FoldRec("e003", later, Map("n" -> "1"), "x", Array[Byte](1))))))
      replica.refreshReplica()
      assert(reg.fetch(rid, 7).map(_.map(_.getAs[Long]("ts"))).contains(Seq(later)))
      reg.close(rid)
    } finally replica.close()
    store.removeRecords("b", Seq(("e003", late), ("e003", T0 + 43 * Step)))
  }

  /** A store of its own with entry "frag" written one record per write:
    * 20 files in one partition, so a compaction tick rewrites it. */
  private def withFragmented(f: BucketStore => Unit): Unit = {
    val st = new BucketStore(spark, Files.createTempDirectory("graft-bounded-race").toString)
    try {
      for (i <- 0 until 20)
        st.writeFolded(Seq(BucketStore.FoldReq("b", Seq(BucketStore.FoldRec("frag", T0 + i * Step,
          Map("n" -> i.toString), "x", s"frag@$i".getBytes("UTF-8"))))))
      f(st)
    } finally st.close()
  }

  test("a compaction swap or an overlay fold between open and the first " +
      "fetch: the read retries and equals a fresh streaming answer") {
    val s = QuerySpec(entries = Some(Seq("frag")), when = Some("""{"&n":{"$gte":3}}"""),
      bucket = Some("b"))
    withFragmented { st =>
      val reg = new QueryRegistry()
      val id = boundedOpen(reg, s, st = st)
      assert(st.compact(maxFilesPerPartition = 16) == 1, "the partition compacts")
      val local = drain(reg, id).map(key)
      assert(local == drain(reg, reg.open(() => st.table(s), s)).map(key))
      assert(local.size == 17)
      // patched labels, folded into the base between open and fetch
      st.updateLabelsMatched("b", (0 until 20 by 2).map(i =>
        ("frag", T0 + i * Step, Map("n" -> "0"), Set.empty[String])))
      val folded = boundedOpen(reg, s, st = st)
      assert(st.foldLabelOverlay() > 0, "the overlay folds")
      val afterFold = drain(reg, folded).map(key)
      assert(afterFold == drain(reg, reg.open(() => st.table(s), s)).map(key))
      assert(afterFold.map(_._1) == (3 until 20 by 2).map(T0 + _ * Step))
    }
  }

  test("a broken part file in a queried entry is an error, not an empty answer") {
    withFragmented { st =>
      val s = QuerySpec(entries = Some(Seq("frag")), bucket = Some("b"))
      val reg = new QueryRegistry()
      val id = boundedOpen(reg, s, st = st)
      import scala.jdk.CollectionConverters._
      val dir = Files.walk(java.nio.file.Paths.get(st.root)).iterator().asScala
        .find(f => f.toString.endsWith(".parquet") && f.toString.contains("entry=frag"))
        .getOrElse(fail("no base file written")).getParent
      Files.write(dir.resolve("part-99999-broken.parquet"), "not parquet".getBytes)
      st.invalidateBaseTable()
      intercept[Exception](reg.fetch(id, 7))
      intercept[Exception](drain(reg, boundedOpen(reg, s, st = st)))
    }
  }

  test("over HTTP, a failing query answers one status and message on a " +
      "bounded and on a streaming open") {
    val st = new BucketStore(spark, Files.createTempDirectory("graft-bounded-http").toString)
    val api = new HttpApi(st, apiToken = "t")
    api.start()
    val client = java.net.http.HttpClient.newHttpClient()
    def req(method: String, path: String, body: String = "") = {
      val r = client.send(java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"http://127.0.0.1:${api.boundPort}/api/v1$path"))
        .method(method, java.net.http.HttpRequest.BodyPublishers.ofString(body))
        .header("Authorization", "Bearer t").build(),
        java.net.http.HttpResponse.BodyHandlers.ofString())
      (r.statusCode(), r.headers().firstValue("x-reduct-error").orElse(""), r.body())
    }
    try {
      assert(req("POST", "/b/p")._1 == 200)
      st.writeFolded(Seq(BucketStore.FoldReq("p",
        (0 until 4).map(i => BucketStore.FoldRec("small", T0 + i * Step, Map("x" -> "1"), "x",
          Array[Byte](1))) ++
        (0 until 9).map(i => BucketStore.FoldRec("big", T0 + i * Step, Map("x" -> "1"), "x",
          Array.fill[Byte](MiB)(1))))))
      def bytes(e: String) = st.scanBound(QuerySpec(entries = Some(Seq(e)), bucket = Some("p")))
      assert(bytes("small") <= QueryRegistry.MaxBoundedBytes)
      assert(bytes("big") > QueryRegistry.MaxBoundedBytes)
      for (body <- Seq("""{"when": {"&x": {"$eq": 1}""",
          """{"when": {"$bogus": [1, 2]}}""",
          """{"when": {"&x": {"$eq": 1}, "$each_n": 0}}""",
          """{"when": {"&x": {"$eq": 1}, "#ctx_before": -1}}""")) {
        val (small, big) = (req("POST", "/b/p/small/q", body), req("POST", "/b/p/big/q", body))
        assert(small._1 == 422 && small._2.nonEmpty, s"$body: $small")
        assert(small == big, s"$body: bounded $small, streaming $big")
      }
      implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
      val strict = """{"strict": true, "when": {"&missing": {"$eq": 1}}}"""
      val fetched = Seq("small", "big").map { e =>
        val (status, _, body) = req("POST", s"/b/p/$e/q", strict)
        assert(status == 200, s"$e: a strict query opens")
        val id = (org.json4s.jackson.JsonMethods.parse(body) \ "id").extract[Long]
        val r = req("GET", s"/b/p/$e/batch?q=$id")
        (r._1, r._2)
      }
      assert(fetched.head == ((422, "Reference 'missing' not found")), fetched.head.toString)
      assert(fetched.head == fetched(1), s"bounded ${fetched.head}, streaming ${fetched(1)}")
    } finally { api.stop(); st.close() }
  }
}
