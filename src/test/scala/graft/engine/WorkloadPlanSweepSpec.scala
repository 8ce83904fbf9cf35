package graft.engine

import graft.core.Records
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener
import org.scalatest.funsuite.AnyFunSuite

/** Plan sweep over the STORE WORKLOAD family (the w_* bench shape:
  * write / read-payload / update-labels / conditional-remove). The
  * query sweep (PlanSweepSpec) audits SparkEntry.queries; the mutation
  * paths build their plans INSIDE BucketStore and execute them as side
  * effects, so the only way to audit them is to record every plan the
  * session actually runs during a workload and assert the same
  * invariant: no CartesianProduct, no BroadcastNestedLoopJoin — the
  * nodes that melt first at 100 TB if a refactor drops an equi-join key
  * from the conflict check / label merge / remove rewrite.
  */
class WorkloadPlanSweepSpec extends AnyFunSuite with SparkJobs
    with AdaptiveSparkPlanHelper {

  test("store workload executes no cartesian / nested-loop plan") {
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-plansweep").toString
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    // write jobs into THIS store only — the session is shared, and other
    // suites' background writers ($system flushes) post to the same bus
    val writeJobs = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = {
        plans.add((funcName, qe.executedPlan.toString))
        if (find(qe.executedPlan) {
              case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
                cmd.outputPath.toUri.getPath == storeDir
              case _ => false
            }.isDefined)
          writeJobs.add(qe)
      }
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // materialized: fromEvents plans its own Window + Exchange (ts
      // uniquing), so a checkpointed input leaves the write jobs' plans
      // showing only what the store adds
      val records = Records.fromEvents(
        spark.read.parquet("/root/testdata/sf0.001/events.parquet"))
        .localCheckpoint()
      val store = new BucketStore(spark, storeDir)
      // the full w_* sequence from Bench, including the conflict-checked
      // write path (Error mode joins the batch against the store bounds)
      store.write(records)
      store.write(records, onConflict = BucketStore.Conflict.Skip)
      val n = QueryEngine.query(store.table(), QuerySpec())
        .agg(sum(length(col("payload")))).collect()(0).getLong(0)
      assert(n > 0)
      store.updateLabels(QuerySpec(), set = Map("key" -> "value2")): Unit
      store.removeQuery(QuerySpec(when = Some("""{"$each_n": 2}"""))): Unit
      // listener delivery is async on the shared bus: poll until the
      // captured set covers every action above AND stops growing for a
      // full second — a bare stability check could exit on a stalled bus
      // with a partial set and false-green the sweep. The workload runs
      // ≥ 6 distinct SQL executions (2 writes, conflict-check aggregates,
      // the payload sum, update, remove), so a floor of 6 plans is a
      // hard prerequisite, bounded by a 60 s bail-out.
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      var last = -1
      var same = 0
      while ((plans.size() < 6 || same < 5) && System.nanoTime() < deadline) {
        Thread.sleep(200)
        val now = plans.size()
        if (now == last) same += 1 else { same = 0; last = now }
      }
    } finally spark.listenerManager.unregister(listener)

    assert(plans.size() >= 6,
      s"listener captured only ${plans.size()} plans — bus did not drain")
    val failures = plans.toArray(Array.empty[(String, String)]).toSeq
      .flatMap { case (fn, plan) =>
        val cartesian = plan.contains("CartesianProduct")
        val nlj = plan.contains("BroadcastNestedLoopJoin")
        if (cartesian || nlj)
          Some(s"$fn: ${if (cartesian) "CartesianProduct" else "BroadcastNestedLoopJoin"}")
        else None
      }
    assert(failures.isEmpty,
      s"workload plans must stay equi-keyed:\n${failures.mkString("\n")}")

    // the fresh-store write job shuffles its payload bytes once: the
    // pinned (bucket, entry, dt) exchange, no window — admission is a
    // separate key-only pass, never a second trip through the payload
    val fresh = writeJobs.peek()
    assert(fresh != null, "listener captured no write job into the store")
    val plan = fresh.executedPlan
    assert(collect(plan) { case w: WindowExec => w }.isEmpty,
      s"fresh-store write must not plan a Window:\n$plan")
    val exchanges = collect(plan) { case e: ShuffleExchangeExec => e }
    assert(exchanges.size == 1, s"fresh-store write must plan ONE Exchange:\n$plan")
    val keys = exchanges.head.outputPartitioning match {
      case h: HashPartitioning => h.expressions.collect { case a: Attribute => a.name }
      case other => fail(s"write exchange is not hash-partitioned: $other")
    }
    assert(keys == Seq("bucket", "entry", "dt"), s"write exchange keys: $keys")
  }

  test("one-entry, one-day serving mutations stage their writes without an exchange") {
    val storeDir =
      java.nio.file.Files.createTempDirectory("graft-onepart").toString
    val writes = new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        if (find(qe.executedPlan) {
              case DataWritingCommandExec(cmd: InsertIntoHadoopFsRelationCommand, _) =>
                cmd.outputPath.toUri.getPath.startsWith(storeDir)
              case _ => false
            }.isDefined)
          writes.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val store = new BucketStore(spark, storeDir)
    try {
      def recs(e: String, ts: Long*) =
        ts.map(t => BucketStore.FoldRec(e, t, Map("k" -> "v"), "x", Array[Byte](1)))
      def drained(n: Int): Unit = {
        val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
        while (writes.size() < n && System.nanoTime() < deadline) Thread.sleep(200)
      }
      // the serving mutations stage on the driver: no Spark write at all
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("a", 1L, 2L) ++ recs("c", 1L))))
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("a", 3L, 4L))))
      store.updateLabelsMatched("b", Seq(("a", 3L, Map("k" -> "w"), Set.empty[String])))
      store.removeRecords("b", Seq(("a", 1L)))
      store.writeBatch("b", "d", Seq((1L, Map("k" -> "v"), Array[Byte](1))))
      drainBus()
      assert(writes.isEmpty, s"serving mutations ran ${writes.size} Spark writes")
      // the Spark-staged writes: a spooled upload of one entry on one day
      // and a rewrite of one partition take no exchange (a many-entry
      // write's one exchange is pinned above)
      val staged = store.stageUploadPath()
      val out = staged.getFileSystem(spark.sparkContext.hadoopConfiguration).create(staged, true)
      try out.write(Array[Byte](1, 1)) finally out.close()
      assert(store.writeStagedSlices("b", staged, Seq(5L, 6L).zipWithIndex.map { case (ts, i) =>
        BucketStore.StagedSlice("a", ts, Map("k" -> "v"), "x", i.toLong, 1L)
      }).isEmpty)
      store.removeQuery(QuerySpec(entries = Some(Seq("d")), bucket = Some("b"))): Unit
      drained(2)
    } finally spark.listenerManager.unregister(listener)
    import scala.jdk.CollectionConverters._
    val exchanges = writes.asScala.toSeq.map(qe =>
      collect(qe.executedPlan) { case e: ShuffleExchangeExec => e }.size)
    assert(exchanges == Seq(0, 0), s"exchanges per staged write: $exchanges")
    val rows = store.table().select("entry", "ts", "labels").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getMap[String, String](2).toMap)).toSet
    assert(rows == Set(("a", 2L, Map("k" -> "v")), ("c", 1L, Map("k" -> "v")),
      ("a", 3L, Map("k" -> "w")), ("a", 4L, Map("k" -> "v")),
      ("a", 5L, Map("k" -> "v")), ("a", 6L, Map("k" -> "v"))))
    store.close()
  }

  test("bounded cursors of the five query classes plan no cartesian / nested loop") {
    val store = new BucketStore(spark,
      java.nio.file.Files.createTempDirectory("graft-bounded-sweep").toString)
    try {
      val t0 = 1704067200000000L
      val rng = new scala.util.Random(5)
      store.writeFolded(Seq(BucketStore.FoldReq("b", for (e <- Seq("a", "c"); i <- 0 until 24)
        yield BucketStore.FoldRec(e, t0 + i * 10000000L, Map(
          "n" -> rng.nextInt(100).toString, "f" -> f"${rng.nextDouble()}%.3f",
          "ok" -> rng.nextBoolean().toString, "kind" -> "abcd".charAt(rng.nextInt(4)).toString),
          "x", Array[Byte](1)))))
      // a patched entry: its cursors plan the overlay join too
      store.updateLabelsMatched("b", Seq(("c", t0, Map("n" -> "1"), Set.empty[String])))
      val whens = Seq(None,
        Some("""{"&n":{"$lt":50},"&kind":{"$ne":"a"}}"""),
        Some("""{"&ok":{"$eq":true},"$each_n":3}"""),
        Some("""{"&f":{"$gt":0.2},"$limit":12}"""),
        Some("""{"$each_t":"40s"}"""),
        Some("""{"$gate":["30s",{"&n":{"$gt":70}}]}"""),
        Some("""{"&n":{"$lt":10},"#ctx_before":2,"#ctx_after":1}"""))
      val specs = for (e <- Seq("a", "c"); w <- whens)
        yield QuerySpec(entries = Some(Seq(e)), when = w, bucket = Some("b"))
      val registry = new QueryRegistry()
      def drainAll(open: QuerySpec => Long): Unit =
        for (spec <- specs) {
          val id = open(spec)
          while (registry.fetch(id, 85).exists(_.nonEmpty)) ()
        }
      // bounded: read on the driver, no plan runs
      val bounded = plansOf("toLocalIterator") {
        drainAll { spec =>
          val id = registry.open(spec, store.querySource(), continuous = false, ttlMs = 60000L)
          assert(registry.reserved > 0, s"$spec did not open bounded")
          id
        }
      }
      assert(bounded.isEmpty, s"bounded cursors planned ${bounded.size} drains")
      // the same specs streaming through Spark
      val plans = plansOf("toLocalIterator") {
        drainAll(spec => registry.open(() => store.table(spec), spec))
      }
      assert(plans.size == specs.size, s"captured ${plans.size} cursor drains")
      val offending = plans.flatMap(p => collect(p) {
        case j: CartesianProductExec => j.nodeName
        case j: BroadcastNestedLoopJoinExec => j.nodeName
      })
      assert(offending.isEmpty, s"cursor plans must stay equi-keyed: $offending")
    } finally store.close()
  }
}
