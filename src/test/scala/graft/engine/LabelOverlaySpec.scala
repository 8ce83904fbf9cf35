package graft.engine

import graft.SparkTestBase
import graft.core.Records
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The metadata/payload separation invariant (VERDICT r14 #1): a label
  * PATCH must never rewrite payload bytes — the reference rewrites only a
  * block descriptor (storage/entry/update_labels.rs:14-36, "payload
  * untouched"). Here that property is the label overlay: PATCHes append
  * tiny label rows under `_labels/`, base parquet files stay byte-frozen,
  * and the overlay folds into the base past a bounded threshold. */
class LabelOverlaySpec extends AnyFunSuite with SparkTestBase {

  private def newStore(): BucketStore =
    new BucketStore(spark, Files.createTempDirectory("graft-overlay").toString)

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

  /** Every data file under the BASE tree (excludes `_`-prefixed dirs):
    * path -> (length, mtime, md5-of-bytes). */
  private def baseFileFingerprints(store: BucketStore): Map[String, (Long, Long, String)] = {
    val root = new org.apache.hadoop.fs.Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap { st =>
        val name = st.getPath.getName
        if (name.startsWith("_") || name.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath)
        else Iterator.single(st)
      }
    walk(root).map { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      val md5 = java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map("%02x".format(_)).mkString
      st.getPath.toString -> ((st.getLen, st.getModificationTime, md5))
    }.toMap
  }

  private def labelsOf(store: BucketStore): Map[Long, Map[String, String]] =
    store.table().select("ts", "labels").collect().map { r =>
      r.getLong(0) -> Option(r.getMap[String, String](1))
        .map(_.toMap).getOrElse(Map.empty[String, String])
    }.toMap

  test("PATCH leaves every base file byte-identical (reference parity: payload untouched)") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("q" -> "low")), ("e", 2L, Map("q" -> "low")),
      ("e", day + 3L, Map("q" -> "high")))))
    val before = baseFileFingerprints(store)
    assert(before.nonEmpty)

    val n = store.updateLabels(
      QuerySpec(when = Some("""{"&q": {"$eq": "low"}}""")),
      set = Map("q" -> "relabeled", "pass" -> "2"), remove = Set.empty)
    assert(n == 2)

    val after = baseFileFingerprints(store)
    assert(after == before,
      "a label PATCH must not touch base parquet files (paths, sizes, mtimes, bytes)")
    // ...and the patch is visible through the read seam
    val ls = labelsOf(store)
    assert(ls(1L) == Map("q" -> "relabeled", "pass" -> "2"))
    assert(ls(2L) == Map("q" -> "relabeled", "pass" -> "2"))
    assert(ls(day + 3L) == Map("q" -> "high"))
  }

  test("stacked PATCHes: the latest patch wins per record, merges accumulate") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("a" -> "0", "drop" -> "x")))))
    store.updateLabels(QuerySpec(), set = Map("a" -> "1")): Unit
    store.updateLabels(QuerySpec(), set = Map("b" -> "2"), remove = Set("drop")): Unit
    store.updateLabels(QuerySpec(), set = Map("a" -> "3")): Unit
    assert(labelsOf(store)(1L) == Map("a" -> "3", "b" -> "2"))
    assert(store.overlayRowCount() == 3L)
  }

  test("fold threshold: overlay compacts into base and purges; labels survive") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("v" -> "0")), ("e", day + 2L, Map("v" -> "0")))))
    store.overlayFoldThreshold = 1L
    store.updateLabels(QuerySpec(), set = Map("v" -> "1")): Unit // 2 rows > 1 → folds
    assert(store.overlayRowCount() == 0L,
      "past the threshold the overlay must fold into the base files")
    assert(labelsOf(store) ==
      Map(1L -> Map("v" -> "1"), (day + 2L) -> Map("v" -> "1")))
    // explicit fold on an empty overlay is a no-op
    assert(store.foldLabelOverlay() == 0L)
  }

  test("explicit foldLabelOverlay compacts below the threshold too") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "1")): Unit
    assert(store.overlayRowCount() == 1L)
    assert(store.foldLabelOverlay() == 1L)
    assert(store.overlayRowCount() == 0L)
    assert(labelsOf(store)(1L) == Map("v" -> "1"))
    // base now carries the folded labels: a fresh store on the same root
    // (no overlay state) reads them from the files alone
    val reopened = new BucketStore(spark, store.root)
    assert(labelsOf(reopened)(1L) == Map("v" -> "1"))
  }

  test("remove-then-rewrite a patched ts never resurrects stale overlay labels") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "old")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "patched")): Unit
    assert(store.removeQuery(QuerySpec()) == 1L)
    assert(store.overlayRowCount() == 0L,
      "removing a record must purge its overlay rows in the same swap")
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "fresh")))))
    assert(labelsOf(store)(1L) == Map("v" -> "fresh"))
  }

  test("label-free remove with outstanding patches folds labels; label-referencing remove sees them") {
    // the removeQuery match-phase fast path (round 16): a when that
    // can't observe labels matches on the BASE table — must still fold
    // outstanding patches into the rewritten partitions, and a when
    // that DOES reference labels must match against PATCHED labels
    val store = newStore()
    store.write(recordsDf((1L to 6L).map(ts => ("e", ts, Map("v" -> "old")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "patched")): Unit
    assert(store.overlayRowCount() == 6L)
    // label-free when: $each_n 2 matches every 2nd tick — removes 2,4,6
    assert(store.removeQuery(QuerySpec(when = Some("""{"$each_n": 2}"""))) == 3L)
    assert(store.overlayRowCount() == 0L,
      "rewritten partitions fold + purge their overlay rows")
    val after = labelsOf(store)
    assert(after.keySet == Set(1L, 3L, 5L))
    assert(after.values.forall(_ == Map("v" -> "patched")),
      s"survivors must carry folded patched labels, got $after")
    // label-referencing when over a fresh overlay: must see the patch
    store.updateLabels(QuerySpec(start = Some(1L), stop = Some(2L)),
      set = Map("kill" -> "yes")): Unit
    assert(store.removeQuery(
      QuerySpec(when = Some("""{"$exists": ["kill"]}"""))) == 1L)
    assert(labelsOf(store).keySet == Set(3L, 5L))
  }

  test("updateLabelsBatch (io-v2 per-record deltas) goes through the overlay") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("a" -> "1", "x" -> "1")), ("e", 2L, Map("a" -> "2")))))
    val before = baseFileFingerprints(store)
    val n = store.updateLabelsMatched("b", Seq(
      ("e", 1L, Map("b" -> "10"), Set("x")),
      ("e", 2L, Map("b" -> "20"), Set.empty[String]))).size.toLong
    assert(n == 2)
    assert(baseFileFingerprints(store) == before)
    val ls = labelsOf(store)
    assert(ls(1L) == Map("a" -> "1", "b" -> "10"))
    assert(ls(2L) == Map("a" -> "2", "b" -> "20"))
  }

  test("updateLabelsBatch composes duplicate (entry, ts) deltas in order") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("a" -> "0", "x" -> "1")))))
    // three deltas to the SAME record: later sets win, a later remove
    // drops an earlier set, a later set resurrects an earlier remove
    val n = store.updateLabelsMatched("b", Seq(
      ("e", 1L, Map("k" -> "first", "gone" -> "soon"), Set("x")),
      ("e", 1L, Map("k" -> "second"), Set("gone")),
      ("e", 1L, Map("x" -> "back"), Set.empty[String]))).size.toLong
    assert(n == 1, s"one record patched, not one per delta: $n")
    assert(labelsOf(store)(1L) ==
      Map("a" -> "0", "k" -> "second", "x" -> "back"))
  }

  test("entries with path-escaped characters purge their overlay dirs on remove") {
    val store = newStore()
    // ':' and a control char both need Spark's %XX path escaping — the
    // purge path must compute the SAME escaping or it misses the dir
    val entry = "weird:name\tx"
    store.write(recordsDf(Seq((entry, 1L, Map("v" -> "old")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "patched")): Unit
    assert(labelsOf(store)(1L) == Map("v" -> "patched"))
    assert(store.removeQuery(QuerySpec()) == 1L)
    assert(store.overlayRowCount() == 0L,
      "overlay dir for an escaped entry name must be purged")
    store.write(recordsDf(Seq((entry, 1L, Map("v" -> "fresh")))))
    assert(labelsOf(store)(1L) == Map("v" -> "fresh"))
  }

  test("rename entry and rename bucket carry outstanding overlay labels") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "patched")): Unit
    store.renameEntry("b", "e", "e2")
    assert(labelsOf(store)(1L) == Map("v" -> "patched"))
    store.renameBucket("b", "b2")
    val r = store.table().collect()(0)
    assert(r.getAs[String]("bucket") == "b2")
    assert(r.getMap[String, String](r.fieldIndex("labels")).toMap ==
      Map("v" -> "patched"))
  }

  test("lifecycle seq survives a store reopen (patches never regress the winner)") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "first")): Unit
    // a new store instance on the same root must mint HIGHER seqs
    val reopened = new BucketStore(spark, store.root)
    reopened.updateLabels(QuerySpec(), set = Map("v" -> "second")): Unit
    assert(labelsOf(reopened)(1L) == Map("v" -> "second"))
  }

  test("bulk PATCH past the threshold rewrites directly — no pointless append+fold") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("v" -> "0")), ("e", 2L, Map("v" -> "0")),
      ("e", day + 3L, Map("v" -> "0")))))
    // an outstanding small patch first — the bulk rewrite must fold it
    store.updateLabels(QuerySpec(when = Some("""{"$eq": ["$timestamp", 1]}""")),
      set = Map("old" -> "patch")): Unit
    assert(store.overlayRowCount() == 1L)
    store.overlayFoldThreshold = 2L
    val n = store.updateLabels(QuerySpec(), set = Map("v" -> "bulk")) // 3 > 2
    assert(n == 3)
    assert(store.overlayRowCount() == 0L,
      "bulk path must leave no overlay (direct rewrite + purge)")
    val ls = labelsOf(store)
    assert(ls(1L) == Map("v" -> "bulk", "old" -> "patch"),
      "bulk rewrite folds the outstanding small patch and applies the new one")
    assert(ls(2L) == Map("v" -> "bulk") && ls(day + 3L) == Map("v" -> "bulk"))
    // and it actually wrote base files: a reopened store (no overlay)
    // reads the bulk labels from the files alone
    assert(labelsOf(new BucketStore(spark, store.root))(2L) == Map("v" -> "bulk"))
  }

  test("overlay aggregation builds once per mutation, not per query") {
    val store = newStore()
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")), ("e", 2L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "1")): Unit
    val b0 = store.overlayAggBuilds.get()
    (1 to 5).foreach(_ => store.table().count(): Unit)
    assert(store.overlayAggBuilds.get() == b0 + 1,
      "five reads over one overlay state must build the agg exactly once")
    // a new PATCH invalidates: the next read rebuilds exactly once more
    store.updateLabels(QuerySpec(), set = Map("v" -> "2")): Unit
    (1 to 3).foreach(_ => store.table().count(): Unit)
    assert(store.overlayAggBuilds.get() <= b0 + 3, // patch itself may build once
      s"reads after one more patch rebuilt too often: ${store.overlayAggBuilds.get() - b0}")
    assert(labelsOf(store).values.toSet == Set(Map("v" -> "2")))
  }

  test("seq re-seeds from the updates LOG across fold+reopen — replication winner stays the newest patch") {
    val store = newStore()
    store.updateLogEnabled = true
    store.write(recordsDf(Seq(("e", 1L, Map("v" -> "0")))))
    store.updateLabels(QuerySpec(), set = Map("v" -> "first")): Unit
    store.foldLabelOverlay(): Unit // overlay purged; the LOG keeps seq 1
    assert(store.overlayRowCount() == 0L && store.updatesLogRowCount() == 1L)
    // a reopened store seeding from the overlay alone would re-mint seq 1
    // and the log's latest-per-key would prefer the STALE row
    val reopened = new BucketStore(spark, store.root)
    reopened.updateLogEnabled = true
    reopened.updateLabels(QuerySpec(), set = Map("v" -> "second")): Unit
    val winner = reopened.updatesLogRaw()
      .groupBy("bucket", "entry", "ts")
      .agg(max_by(col("labels"), col("seq")).as("labels"))
      .collect()(0).getMap[String, String](3)
    assert(winner.get("v").contains("second"),
      s"the newest patch must carry the highest seq, got $winner")
  }

  test("racing readers across PATCH + fold see whole snapshots, never a mix") {
    val store = newStore()
    store.write(recordsDf(Seq(
      ("e", 1L, Map("v" -> "0")), ("e", day + 1L, Map("v" -> "0")))))
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    implicit val ec: ExecutionContext = ExecutionContext.global
    @volatile var done = false
    val reader = Future {
      val seen = Seq.newBuilder[Seq[String]]
      while (!done) {
        seen += store.readConsistent(
          store.table().select(element_at(col("labels"), "v")).collect()
            .map(_.getString(0)).toSeq)
      }
      seen.result()
    }
    for (i <- 1 to 3) {
      store.updateLabels(QuerySpec(), set = Map("v" -> s"p$i")): Unit
      if (i == 2) store.foldLabelOverlay(): Unit // overlay purge races reads too
    }
    done = true
    val snapshots = Await.result(reader, 180.seconds)
    assert(snapshots.nonEmpty)
    for (s <- snapshots) {
      assert(s.length == 2, s"reads must never lose rows mid-append/fold: $s")
      assert(s.distinct.length == 1,
        s"both partitions must show the same patch state, got $s")
    }
    assert(labelsOf(store).values.toSet == Set(Map("v" -> "p3")))
  }
}
