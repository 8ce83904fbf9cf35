package graft.engine

import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Bounded cursors: a cursor whose scan estimate is under
  * [[QueryRegistry.MaxBoundedBytes]] plans on one partition. Pinned
  * here: the one-partition and streaming plans return identical row
  * sequences, (ts, entry) tie order included; a bounded drain is one
  * Spark job with no exchange; `#ext` and over-cap queries stream; and
  * the registry's byte budget holds and is returned. */
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
    s.writeFolded(Seq(BucketStore.FoldReq("b", for (e <- Entries; i <- 0 until 40) yield {
      val ts = T0 + i * Step
      BucketStore.FoldRec(e, ts, Map(
        "n" -> rng.nextInt(100).toString,
        "f" -> f"${rng.nextDouble()}%.3f",
        "ok" -> rng.nextBoolean().toString,
        "kind" -> Kinds(rng.nextInt(Kinds.size))),
        "application/octet-stream", s"$e@$ts".getBytes("UTF-8"))
    })))
    s.updateLabelsMatched("b", (0 until 40 by 3).map(i =>
      ("e001", T0 + i * Step, Map("n" -> "5", "kind" -> "z"), Set("ok"))))
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
      ttlMs: Long = 60000L): Long =
    reg.open(s, store.scanBound _, continuous, ttlMs)

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
    * (it took the one-partition plan) and both must return the same
    * sequence, in (ts, entry) order. */
  private def sameAnswer(name: String, s: QuerySpec): Seq[(Long, String)] = {
    val reg = new QueryRegistry()
    val bounded = boundedOpen(reg, s)
    assert(reg.reserved > 0, s"$name: the bounded open took no reservation")
    val one = drain(reg, bounded).map(key)
    val streaming = reg.open(() => store.table(s), s)
    assert(reg.reserved == 0L, s"$name: a source without an estimate must stream")
    val streamed = drain(reg, streaming).map(key)
    assert(one == streamed, s"$name: one-partition and streaming answers differ")
    val order = one.map(k => (k._1, k._2))
    assert(order == order.sorted, s"$name: not in (ts, entry) order")
    order
  }

  test("one-partition and streaming cursors return identical sequences") {
    val answers = (Seq("e000", "e001")
      .flatMap(e => classes(e).map { case (n, s) => s"$n on $e" -> s }) ++ Seq(
      "strict" -> spec(Seq("e000", "e002"), Some("""{"&n":{"$gt":40}}"""), strict = true),
      "only_metadata" -> spec(Seq("e000"), onlyMetadata = true),
      "#select_labels" -> spec(Seq("e001"),
        Some("""{"&n":{"$gte":0},"#select_labels":["kind","n"]}""")),
      // a leading $limit runs the kernel, whose interrupt ends each entry
      "$limit interrupt" -> spec(Seq("e000", "e001"), Some("""{"$limit":7,"&n":{"$gte":10}}""")),
      "patched labels" -> spec(Seq("e001"), Some("""{"&kind":{"$eq":"z"}}"""), from = 0, until = 40)))
      .map { case (n, s) => n -> sameAnswer(n, s) }
    for ((n, a) <- answers if !n.startsWith("stateful gate"))
      assert(a.nonEmpty, s"$n: empty answer pins nothing")
    assert(answers.toMap.apply("patched labels").size == 14)
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

  test("a bounded cursor on an un-patched entry drains in 1 Spark job, " +
      "with no exchange") {
    for ((n, s) <- classes("e000")) {
      val reg = new QueryRegistry()
      store.scanBound(s) // the listing and footers: not the cursor's work
      var rows = Seq.empty[Row]
      val plans = plansOf("toLocalIterator") {
        val jobs = jobsOf { rows = drain(reg, boundedOpen(reg, s)) }
        assert(jobs == 1, s"$n: the bounded cursor ran $jobs jobs")
      }
      assert(plans.size == 1, s"$n: ${plans.size} drains")
      assert(collect(plans.head) { case e: Exchange => e }.isEmpty,
        s"$n: a bounded cursor must plan no exchange:\n${plans.head}")
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
        val id = reg.open(s, st.scanBound _, continuous = false, ttlMs = 60000L)
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
    assert(store.scanBound(ext)._2 <= QueryRegistry.MaxBoundedBytes)
    assert(streams("#ext", store, ext).nonEmpty)
    withBigEntry(9) { (big, s) =>
      assert(big.scanBound(s)._2 > QueryRegistry.MaxBoundedBytes)
      assert(streams("over cap", big, s).map(_.getAs[Long]("ts")) ==
        (0 until 9).map(T0 + _ * Step))
    }
  }

  test("the bound counts only files of the spec's bucket, entries and range") {
    val all = store.scanBound(spec(Seq("e*"), from = 0, until = 40))._2
    val one = store.scanBound(spec(Seq("e000"), from = 0, until = 40))._2
    assert(one > 0 && one < all)
    assert(store.scanBound(spec(Seq("e000"), from = 40, until = 80))._2 == 0L)
    // literal names prune the listing; a leading `/` and an exclude
    // resolve as the query resolves them
    assert(graft.core.EntryPattern.literalNames(Some(Seq("/e000", "!e001"))) == Some(Set("/e000", "e000")))
    assert(graft.core.EntryPattern.literalNames(Some(Seq("e*"))).isEmpty)
    assert(store.scanBound(spec(Seq("/e000"), from = 0, until = 40))._2 == one)
    assert(store.scanBound(spec(Seq("e000", "e001", "!e001"), from = 0, until = 40))._2 == one)
    assert(store.scanBound(spec(Seq("e*", "!e000"), from = 0, until = 40))._2 == all - one)
    assert(store.scanBound(spec(Seq("nope")))._2 == 0L)
    assert(store.scanBound(spec(Seq("e000")).copy(bucket = Some("other")))._2 == 0L)
  }

  test("bounded cursors stay within the registry budget and return it") {
    withBigEntry(6) { (big, s) =>
      val bound = big.scanBound(s)._2
      assert(bound <= QueryRegistry.MaxBoundedBytes)
      val fits = (QueryRegistry.BoundedBudgetBytes / bound).toInt
      val reg = new QueryRegistry()
      def open(ttlMs: Long = 60000L) =
        reg.open(s, big.scanBound _, continuous = false, ttlMs = ttlMs)
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
}
