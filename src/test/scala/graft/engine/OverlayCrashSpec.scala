package graft.engine

import graft.SparkTestBase
import graft.core.Records
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** Crash-durability of the label overlay across PROCESS DEATH (VERDICT
  * r15 #4): kill the mutation at a named boundary, then open a FRESH
  * BucketStore on the same root — cold seq counter, cold overlay count,
  * settled epoch, exactly a restarted process — and assert the recovery
  * contract: no dropped patch, no doubled patch, seq re-seeds past every
  * landed row (BucketStore.overlaySeqCounter), reads stay correct at
  * every crash point. In-process interleavings are LabelOverlaySpec's
  * job; this spec's axis is the re-open. */
class OverlayCrashSpec extends AnyFunSuite with SparkTestBase {

  private class Boom extends RuntimeException("injected crash")

  private def recordsDf(rows: Seq[(String, Long, Map[String, String])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (entry, ts, labels) =>
      Row("b", entry, ts, labels, Map.empty[String, String],
        "", Records.State.Finished, s"payload-$ts".getBytes)
    }.asJava
    spark.createDataFrame(data, Records.schema)
  }

  private def labelsOf(store: BucketStore): Map[Long, Map[String, String]] =
    store.table().select("ts", "labels").collect().map { r =>
      r.getLong(0) -> Option(r.getMap[String, String](1))
        .map(_.toMap).getOrElse(Map.empty[String, String])
    }.toMap

  /** (path → md5) of every non-hidden data file under the base tree. */
  private def baseMd5(store: BucketStore): Map[String, String] = {
    val root = new org.apache.hadoop.fs.Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: org.apache.hadoop.fs.Path): Iterator[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(p).iterator.flatMap { st =>
        val n = st.getPath.getName
        if (n.startsWith("_") || n.startsWith(".")) Iterator.empty
        else if (st.isDirectory) walk(st.getPath) else Iterator.single(st)
      }
    walk(root).map { st =>
      val in = fs.open(st.getPath)
      val bytes = try in.readAllBytes() finally in.close()
      st.getPath.toString -> java.security.MessageDigest.getInstance("MD5")
        .digest(bytes).map("%02x".format(_)).mkString
    }.toMap
  }

  private def crashAt(store: BucketStore, seam: String)(f: => Unit): Unit = {
    store.crashSeamForTest = s => if (s == seam) throw new Boom
    try { intercept[Boom](f); () } finally store.crashSeamForTest = _ => ()
  }

  test("crash between PATCH staged write and overlay rename-in: patch fully absent, retry lands it") {
    // the staged-write seams rely on committer v1 (task output hidden
    // under _temporary until job commit); GraftSession pins it
    assert(spark.sparkContext.hadoopConfiguration
      .get("mapreduce.fileoutputcommitter.algorithm.version") == "1")
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    s1.write(recordsDf((1L to 4L).map(ts => ("e", ts, Map("v" -> "old")))))
    val md5Before = baseMd5(s1)
    crashAt(s1, "append:_labels:staged") {
      s1.updateLabels(QuerySpec(), set = Map("v" -> "new")): Unit
    }
    // fresh store = restarted process
    val s2 = new BucketStore(spark, root)
    assert(s2.overlayRowCount() == 0L, "no overlay file may land before the rename-in")
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "old")),
      "the crashed PATCH must be fully absent — never partially visible")
    assert(baseMd5(s2) == md5Before, "base files stay byte-identical through the crash")
    // the client's retry (the reference's 500-then-retry contract)
    assert(s2.updateLabels(QuerySpec(), set = Map("v" -> "new")) == 4L)
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "new")))
    assert(s2.overlayRowCount() == 4L)
  }

  test("crash between fold staged write and base swap: overlay intact, reads unchanged, re-fold succeeds") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    s1.write(recordsDf((1L to 4L).map(ts => ("e", ts, Map("v" -> "old")))))
    assert(s1.updateLabels(QuerySpec(), set = Map("v" -> "patched")) == 4L)
    val md5Patched = baseMd5(s1)
    crashAt(s1, "overwrite:staged") { s1.foldLabelOverlay(): Unit }
    val s2 = new BucketStore(spark, root)
    assert(baseMd5(s2) == md5Patched, "base untouched: crash hit before any rename")
    assert(s2.overlayRowCount() == 4L, "overlay rows survive the crashed fold")
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "patched")),
      "patched labels stay visible via the intact overlay")
    assert(s2.foldLabelOverlay() == 4L)
    assert(s2.overlayRowCount() == 0L)
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "patched")))
  }

  test("crash after fold swap but before overlay purge: reads stay correct, seq re-seeds ABOVE survivors") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    s1.write(recordsDf((1L to 4L).map(ts => ("e", ts, Map("v" -> "old")))))
    assert(s1.updateLabels(QuerySpec(), set = Map("v" -> "patched")) == 4L)
    crashAt(s1, "overwrite:swapped") { s1.foldLabelOverlay(): Unit }
    // base now carries folded labels AND the overlay rows still exist —
    // the one state where a dropped re-seed would double-apply history
    val s2 = new BucketStore(spark, root)
    assert(s2.overlayRowCount() == 4L, "purge never ran: overlay rows outstanding")
    val l2 = labelsOf(s2)
    assert(l2.size == 4, s"overlay re-apply must not duplicate rows, got ${l2.size}")
    assert(l2.values.forall(_ == Map("v" -> "patched")),
      "folded base + identical overlay rows read as ONE patch, never doubled")
    // a post-restart PATCH must mint seq ABOVE the surviving rows — a
    // cold counter starting at 1 would lose to the stale history in the
    // latest-per-key max_by
    assert(s2.updateLabels(QuerySpec(), set = Map("v" -> "second")) == 4L)
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "second")),
      "the restart patch must WIN over pre-crash overlay rows (seq re-seed)")
    assert(s2.foldLabelOverlay() > 0L)
    assert(s2.overlayRowCount() == 0L)
    assert(labelsOf(s2).values.forall(_ == Map("v" -> "second")))
  }

  test("crash mid-removeQuery staged write: nothing removed, retry removes") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    s1.write(recordsDf((1L to 6L).map(ts => ("e", ts, Map("v" -> "x")))))
    crashAt(s1, "overwrite:staged") {
      s1.removeQuery(QuerySpec(start = Some(1L), stop = Some(4L))): Unit
    }
    val s2 = new BucketStore(spark, root)
    assert(labelsOf(s2).keySet == (1L to 6L).toSet,
      "a remove crashed before its swap must remove NOTHING")
    assert(s2.removeQuery(QuerySpec(start = Some(1L), stop = Some(4L))) == 3L)
    assert(labelsOf(s2).keySet == Set(4L, 5L, 6L))
  }

  private def foldRecs(entry: String, tss: Seq[Long]): Seq[BucketStore.FoldRec] =
    tss.map(ts => BucketStore.FoldRec(entry, ts, Map("v" -> "x"), "",
      s"payload-$ts".getBytes))

  /** Files left under a hidden staging root (`_rewrite` by default):
    * none once a mutation ended. */
  private def stagingFiles(store: BucketStore, dir: String = BucketStore.RewriteDir): Long = {
    val p = new org.apache.hadoop.fs.Path(s"${store.root}/$dir")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getFileCount
  }

  test("crash between a driver-staged append and its landing: nothing visible, retry lands it") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    assert(s1.writeFolded(Seq(BucketStore.FoldReq("b", foldRecs("e", 1L to 4L)))) ==
      Seq(Right(Set.empty)))
    val md5Before = baseMd5(s1)
    crashAt(s1, "append:base:staged") {
      s1.writeFolded(Seq(BucketStore.FoldReq("b", foldRecs("e", 5L to 8L)))) match {
        case Seq(Left(e)) => throw e
        case other => fail(s"the crashed append answered $other")
      }
    }
    assert(stagingFiles(s1) == 0L, "the staged files are dropped with their stage")
    val s2 = new BucketStore(spark, root)
    assert(baseMd5(s2) == md5Before, "no staged file may land before the landing window")
    assert(labelsOf(s2).keySet == (1L to 4L).toSet, "the crashed append must be fully absent")
    assert(s2.entryCatalog()("b").all("e") == BucketStore.EntryRecords(4L, 1L, 4L))
    // the client's retry: every key is new, so all of them land
    assert(s2.writeFolded(Seq(BucketStore.FoldReq("b", foldRecs("e", 5L to 8L)))) ==
      Seq(Right(Set.empty)))
    assert(labelsOf(s2).keySet == (1L to 8L).toSet)
  }

  /** A spooled upload of `tss` into b/e: the payloads concatenated in one
    * staging file, written by [[BucketStore.writeStagedSlices]]. */
  private def spooled(store: BucketStore, tss: Seq[Long]): Set[(String, Long)] = {
    val payloads = tss.map(ts => s"payload-$ts".getBytes)
    val staged = store.stageUploadPath()
    val out = staged.getFileSystem(spark.sparkContext.hadoopConfiguration).create(staged, true)
    try payloads.foreach(out.write(_)) finally out.close()
    val offsets = payloads.scanLeft(0L)(_ + _.length)
    store.writeStagedSlices("b", staged, tss.indices.map(i =>
      BucketStore.StagedSlice("e", tss(i), Map("v" -> "x"), "", offsets(i), payloads(i).length.toLong)))
  }

  test("crash between a spooled upload's staged write and its landing: nothing visible, retry lands it") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    assert(s1.writeFolded(Seq(BucketStore.FoldReq("b", foldRecs("e", 1L to 4L)))) ==
      Seq(Right(Set.empty)))
    val md5Before = baseMd5(s1)
    crashAt(s1, "append:base:staged")(spooled(s1, 5L to 8L): Unit)
    assert(stagingFiles(s1) == 0L, "the Spark-staged files are dropped with their stage")
    assert(stagingFiles(s1, BucketStore.StagingDir) == 0L, "the spooled body is deleted")
    val s2 = new BucketStore(spark, root)
    assert(baseMd5(s2) == md5Before, "no staged file may land before the landing window")
    assert(labelsOf(s2).keySet == (1L to 4L).toSet, "the crashed upload must be fully absent")
    assert(s2.entryCatalog()("b").all("e") == BucketStore.EntryRecords(4L, 1L, 4L))
    // the client's retry: every key is new, so all of them land
    assert(spooled(s2, 5L to 8L).isEmpty)
    assert(labelsOf(s2).keySet == (1L to 8L).toSet)
    assert(s2.table().filter("ts = 6").select("payload").collect()
      .map(r => new String(r.getAs[Array[Byte]](0))).toSeq == Seq("payload-6"))
  }

  test("crash between a driver-staged key-remove rewrite and its swap: nothing removed, retry removes") {
    val root = Files.createTempDirectory("graft-crash").toString
    val s1 = new BucketStore(spark, root)
    s1.writeFolded(Seq(BucketStore.FoldReq("b", foldRecs("e", 1L to 6L))))
    assert(s1.updateLabelsMatched("b", Seq(("e", 2L, Map("v" -> "patched"), Set.empty[String]))) ==
      Set(("e", 2L)))
    val md5Before = baseMd5(s1)
    crashAt(s1, "overwrite:staged") {
      s1.removeRecords("b", Seq(("e", 1L), ("e", 3L))): Unit
    }
    val s2 = new BucketStore(spark, root)
    assert(baseMd5(s2) == md5Before, "base untouched: the crash hit before any rename")
    assert(labelsOf(s2).keySet == (1L to 6L).toSet,
      "a key remove crashed before its swap must remove NOTHING")
    assert(labelsOf(s2)(2L) == Map("v" -> "patched"), "the overlay survives the crashed rewrite")
    assert(s2.removeRecords("b", Seq(("e", 1L), ("e", 3L))) ==
      Map(("e", 1L) -> true, ("e", 3L) -> true))
    assert(labelsOf(s2).keySet == Set(2L, 4L, 5L, 6L))
    assert(labelsOf(s2)(2L) == Map("v" -> "patched"), "the retry folds the patch into the rewrite")
    assert(s2.overlayRowCount() == 0L)
  }
}
