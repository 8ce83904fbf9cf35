package graft.engine

import graft.SparkTestBase
import graft.core.Records
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Join
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The label overlay's scope — the (bucket, entry, dt) partitions that
  * hold overlay rows: reads plan the overlay join only where the scope
  * meets them, purges touch only partitions in it, and key-addressed
  * removes/updates plan from the keys on the driver. */
class OverlayScopeSpec extends AnyFunSuite with SparkTestBase {

  private def newStore(): BucketStore =
    new BucketStore(spark, Files.createTempDirectory("graft-scope").toString)

  private def recordsDf(rows: Seq[(String, Long, Map[String, String])],
      bucket: String = "b"): DataFrame = {
    import scala.jdk.CollectionConverters._
    spark.createDataFrame(rows.map { case (entry, ts, labels) =>
      Row(bucket, entry, ts, labels, Map.empty[String, String],
        "", Records.State.Finished, s"payload-$ts".getBytes)
    }.asJava, Records.schema)
  }

  private val day = 86400000000L

  private def labelsOf(df: DataFrame): Map[(String, Long), Map[String, String]] =
    df.select("entry", "ts", "labels").collect().map { r =>
      (r.getString(0), r.getLong(1)) -> Option(r.getMap[String, String](2))
        .map(_.toMap).getOrElse(Map.empty[String, String])
    }.toMap

  private def joins(df: DataFrame): Int =
    df.queryExecution.optimizedPlan.collect { case j: Join => j }.size

  test("driver-derived dt names the written dt= dir at both edges of a UTC day") {
    val store = newStore()
    val lastMicro = 20000L * day - 1L // 23:59:59.999999
    val midnight = 20000L * day        // 00:00:00
    store.write(recordsDf(Seq(("e", lastMicro, Map.empty), ("e", midnight, Map.empty))))
    val entryDir = new org.apache.hadoop.fs.Path(s"${store.root}/bucket=b/entry=e")
    val fs = entryDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(entryDir).map(_.getPath.getName).filter(_.startsWith("dt=")).toSet
    assert(dirs == Set(s"dt=${store.dtOf(lastMicro)}", s"dt=${store.dtOf(midnight)}"),
      s"written dirs $dirs")
    assert(store.dtOf(lastMicro) == "2024-10-03" && store.dtOf(midnight) == "2024-10-04")
  }

  test("a query on an unpatched entry plans no join while another entry is patched") {
    val store = newStore()
    store.write(recordsDf(Seq(("a", 1L, Map("v" -> "0")), ("b", 2L, Map("v" -> "0")))))
    store.updateLabelsMatched("b", Seq(("a", 1L, Map("v" -> "1"), Set.empty[String]))).size.toLong
    assert(store.overlayScope().map(s => (s._1, s._2)) == Set(("b", "a")))
    val onB = QuerySpec(entries = Some(Seq("b")), bucket = Some("b"))
    val plainB = QueryEngine.query(store.table(onB), onB)
    assert(joins(plainB) == 0, plainB.queryExecution.optimizedPlan.toString)
    assert(labelsOf(plainB) == Map(("b", 2L) -> Map("v" -> "0")))
    // the patched entry, a glob over it, another bucket and the unscoped
    // table: join exactly where overlay rows can be read
    for (spec <- Seq(QuerySpec(entries = Some(Seq("a")), bucket = Some("b")),
        QuerySpec(entries = Some(Seq("*")), bucket = Some("b")))) {
      val q = QueryEngine.query(store.table(spec), spec)
      assert(joins(q) == 1, spec)
      assert(labelsOf(q)(("a", 1L)) == Map("v" -> "1"), spec)
    }
    val otherBucket = QuerySpec(entries = Some(Seq("a")), bucket = Some("other"))
    assert(joins(QueryEngine.query(store.table(otherBucket), otherBucket)) == 0)
    assert(joins(store.table()) == 1)
  }

  test("a key remove on an unpatched entry keeps the overlay agg and row count") {
    val store = newStore()
    store.write(recordsDf(Seq(("a", 1L, Map("v" -> "0")),
      ("b", 1L, Map("v" -> "0")), ("b", 2L, Map("v" -> "0")))))
    store.updateLabelsMatched("b", Seq(("a", 1L, Map("v" -> "1"), Set.empty[String]))).size.toLong
    store.table().count(): Unit // builds the agg for this overlay state
    val builds = store.overlayAggBuilds.get()
    assert(store.overlayRowsKnown)
    assert(store.removeRecords("b", Seq(("b", 1L), ("b", 9L))) ==
      Map(("b", 1L) -> true, ("b", 9L) -> false))
    assert(labelsOf(store.table()) ==
      Map(("a", 1L) -> Map("v" -> "1"), ("b", 2L) -> Map("v" -> "0")))
    assert(store.overlayAggBuilds.get() == builds,
      "nothing was purged: the next read must reuse the agg")
    assert(store.overlayRowsKnown, "nothing was purged: no recount owed")
    // removing the patched record does purge; the remove read the
    // overlay rows it purged on the driver, so the count stays known
    assert(store.removeRecords("b", Seq(("a", 1L))) == Map(("a", 1L) -> true))
    assert(store.overlayRowsKnown && store.overlayScope().isEmpty)
    assert(store.overlayRowCount() == 0L)
  }

  test("the scope kept across appends and purges equals a fresh listing") {
    val store = newStore()
    store.write(recordsDf(Seq(("a", 1L, Map.empty), ("a", day + 1L, Map.empty),
      ("c", 5L, Map.empty))))
    def fresh() = new BucketStore(spark, store.root).overlayScope()
    store.updateLabelsMatched("b", Seq(("a", 1L, Map("x" -> "1"), Set.empty[String]),
      ("a", day + 1L, Map("x" -> "1"), Set.empty[String]))).size.toLong
    store.updateLabels(QuerySpec(entries = Some(Seq("c"))), Map("y" -> "2")): Unit
    assert(store.overlayScope() == fresh() && store.overlayScope().size == 3)
    assert(store.removeQuery(QuerySpec(stop = Some(2L), entries = Some(Seq("a")))) == 1L)
    assert(store.overlayScope() == fresh() && store.overlayScope().size == 2)
    assert(labelsOf(store.table()) ==
      Map(("a", day + 1L) -> Map("x" -> "1"), ("c", 5L) -> Map("y" -> "2")))
  }

  test("key-addressed updates merge over earlier patches and folded labels") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("a" -> "0", "x" -> "0")),
      ("e", day + 1L, Map("a" -> "0")))))
    def patch(ts: Long, set: Map[String, String], remove: Set[String]) =
      store.updateLabelsMatched("b", Seq(("e", ts, set, remove)))
    assert(patch(1L, Map("b" -> "1"), Set("x")) == Set(("e", 1L)))
    assert(patch(1L, Map("c" -> "2"), Set("a")) == Set(("e", 1L)),
      "the second patch reads the first from the overlay")
    assert(patch(7L, Map("c" -> "2"), Set.empty) == Set.empty, "no such record")
    store.foldLabelOverlay(): Unit
    assert(patch(1L, Map("b" -> "3"), Set.empty) == Set(("e", 1L)))
    assert(patch(day + 1L, Map.empty, Set("a")) == Set(("e", day + 1L)))
    assert(labelsOf(store.table()) == Map(
      ("e", 1L) -> Map("b" -> "3", "c" -> "2"), ("e", day + 1L) -> Map.empty))
  }

  test("a read-only replica serves the primary's newest patch, not the first it read") {
    val root = Files.createTempDirectory("graft-scope-replica").toString
    val primary = new BucketStore(spark, root)
    primary.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    val replica = new BucketStore(spark, root, readOnly = true)
    for (v <- Seq("1", "2")) {
      primary.updateLabelsMatched("b", Seq(("e", 1L, Map("v" -> v), Set.empty[String]))).size.toLong
      replica.refreshReplica()
      assert(labelsOf(replica.table()) == Map(("e", 1L) -> Map("v" -> v)))
    }
    primary.close()
  }
}
