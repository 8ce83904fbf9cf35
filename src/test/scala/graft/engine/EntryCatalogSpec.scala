package graft.engine

import graft.lifecycle.Lifecycle
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The entry catalog folded from Parquet footers, checked against the
  * Spark aggregate it replaced (kept here as the oracle) after every step
  * of seeded random mutation sequences — its size figures against the
  * tree walk they replaced, and the stored records against an in-memory
  * content model — plus the Spark job counts of the serving mutations
  * (none under the driver cap). */
class EntryCatalogSpec extends AnyFunSuite with SparkJobs {

  private val Day = 86400000000L
  private type Catalog = Map[(String, String), BucketStore.EntryRecords]

  /** `groupBy(bucket, entry).agg(count, min(ts), max(ts))` over the base
    * table: the catalog's definition. */
  private def oracle(store: BucketStore): Catalog =
    store.readConsistent(store.baseTableOrEmpty().groupBy("bucket", "entry")
      .agg(count(lit(1)), min("ts"), max("ts")).collect())
      .map(r => (r.getString(0), r.getString(1)) ->
        BucketStore.EntryRecords(r.getLong(2), r.getLong(3), r.getLong(4)))
      .toMap

  /** (bytes, files) per entry of every bucket, walked over each entry's
    * `dt=` data files: the per-entry walk the catalog's size figures
    * replaced, kept as their oracle. */
  private def walkedSizes(store: BucketStore): Map[String, Map[String, (Long, Long)]] = {
    import org.apache.hadoop.fs.{FileStatus, Path}
    val root = new Path(store.root)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dirs(p: Path, prefix: String): Seq[FileStatus] =
      if (!fs.exists(p)) Nil
      else fs.listStatus(p).toSeq.filter(st =>
        st.isDirectory && st.getPath.getName.startsWith(prefix))
    def name(st: FileStatus, prefix: String) =
      BucketStore.unescapePartition(st.getPath.getName.stripPrefix(prefix))
    dirs(root, "bucket=").map { b =>
      name(b, "bucket=") -> dirs(b.getPath, "entry=").map { e =>
        val files = dirs(e.getPath, "dt=").flatMap(d => fs.listStatus(d.getPath).toSeq)
          .filter(st => st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith("."))
        name(e, "entry=") -> ((files.map(_.getLen).sum, files.size.toLong))
      }.filter(_._2._2 > 0).toMap
    }.toMap
  }

  private def folded(store: BucketStore): Catalog =
    store.entryCatalog().toSeq.flatMap { case (b, es) =>
      es.all.map { case (e, r) => (b, e) -> r }
    }.toMap

  private def recs(entry: String, tss: Long*): Seq[BucketStore.FoldRec] =
    tss.map(ts => BucketStore.FoldRec(entry, ts, Map("k" -> s"v$ts"), "x",
      s"p$ts".getBytes("UTF-8")))

  private def keysOf(store: BucketStore, b: String, e: String): Seq[Long] =
    store.baseTableOrEmpty()
      .filter(col("bucket") === b && col("entry") === e)
      .select("ts").collect().map(_.getLong(0)).sorted.toSeq

  /** A stored record as the content model holds it: labels, a hash of
    * the payload, state. */
  private type Content = (Map[String, String], Int, Int)
  private type Key = (String, String, Long)

  private def contentOf(r: org.apache.spark.sql.Row): Content =
    (Option(r.getAs[scala.collection.Map[String, String]]("labels")).fold(Map.empty[String, String])(_.toMap),
      java.util.Arrays.hashCode(r.getAs[Array[Byte]]("payload")), r.getAs[Int]("state"))

  /** The records of `store` through the Spark table. */
  private def tableContent(store: BucketStore): Map[Key, Content] =
    store.readConsistent(store.tableOrEmpty().collect()).map { r =>
      (r.getAs[String]("bucket"), r.getAs[String]("entry"), r.getAs[Long]("ts")) -> contentOf(r)
    }.toMap

  /** One seeded sequence: every step kind once, in a seeded order, then
    * seeded extra steps; after each, the catalog must equal the oracle,
    * and the records read through the Spark table and through a driver
    * read of every entry must equal the content model — (bucket, entry,
    * ts) → (labels, payload hash, state), updated by each step from its
    * own arguments, never from the store. */
  private def runSequence(seed: Long): Unit = {
    val rng = new scala.util.Random(seed)
    val root = Files.createTempDirectory("graft-catalog").toString
    var store = new BucketStore(spark, root)
    val buckets = Seq("a", "b", "c")
    val entries = Seq("e0", "e1", "e2/$meta")
    var log = Vector.empty[String]
    val model = scala.collection.mutable.Map.empty[Key, Content]
    def modelled(rs: Seq[BucketStore.FoldRec], b: String): Unit =
      for (r <- rs) model((b, r.entry, r.ts)) =
        (r.labels, java.util.Arrays.hashCode(r.payload), graft.core.Records.State.Finished)
    def checkContent(s: BucketStore, at: String): Unit = {
      val want = model.toMap
      val table = tableContent(s)
      assert(table == want, s"seed $seed after $at: table content differs from the model\n" +
        s"only in table ${table.toSeq.filterNot(want.toSeq.contains).sortBy(_._1)}\n" +
        s"only in model ${want.toSeq.filterNot(table.toSeq.contains).sortBy(_._1)}")
      val pairs = (want.keySet.map(k => (k._1, k._2)) ++
        s.entryCatalog().toSeq.flatMap { case (b, es) => es.all.keys.map((b, _)) }).toSeq.sorted
      for ((b, e) <- pairs) {
        val read = s.readSmall(QuerySpec(entries = Some(Seq(e)), bucket = Some(b)))
          .map(r => r.getAs[Long]("ts") -> contentOf(r))
        val expect = want.toSeq.collect { case ((`b`, `e`, ts), c) => ts -> c }.sortBy(_._1)
        assert(read == expect, s"seed $seed after $at: driver read of $b/$e\n" +
          s"read  $read\nmodel $expect")
      }
    }
    def check(s: BucketStore, step: String): Unit = {
      log :+= step
      checkContent(s, log.mkString(" > "))
      val want = oracle(s)
      val got = folded(s)
      assert(got == want, s"seed $seed after ${log.mkString(" > ")}:\n" +
        s"catalog $got\noracle  $want")
      val walked = walkedSizes(s)
      for (b <- (walked.keySet ++ s.entryCatalog().keySet ++ buckets).toSeq.sorted) {
        val sizes = walked.getOrElse(b, Map.empty)
        assert(s.entryStats(b) == sizes, s"seed $seed after ${log.mkString(" > ")}: " +
          s"entryStats($b) ${s.entryStats(b)}, walk $sizes")
        assert(s.bucketSizeBytes(b) == sizes.valuesIterator.map(_._1).sum,
          s"seed $seed after ${log.mkString(" > ")}: bucketSizeBytes($b)")
      }
      assert(s.storeSizeBytes == walked.valuesIterator.flatMap(_.valuesIterator).map(_._1).sum,
        s"seed $seed after ${log.mkString(" > ")}: storeSizeBytes")
    }
    /** An entry that holds records, if any. */
    def stored(): Option[(String, String)] = {
      val live = oracle(store).keys.toSeq.sorted
      if (live.isEmpty) None else Some(live(rng.nextInt(live.size)))
    }
    def latestOf(b: String, e: String): Long =
      oracle(store).get((b, e)).map(_.latest).getOrElse(-1L)
    def append(b: String, e: String): Unit = {
      val from = math.max(latestOf(b, e) + 1, 0L)
      // 1–4 records, sometimes spilling into the next day
      val tss = (0 until 1 + rng.nextInt(4)).map(i =>
        from + i * (if (rng.nextInt(4) == 0) Day / 2 else 1L))
      val res = store.writeFolded(Seq(BucketStore.FoldReq(b, recs(e, tss: _*))))
      assert(res == Seq(Right(Set.empty)), s"append $b/$e $tss: $res")
      modelled(recs(e, tss: _*), b)
    }
    def moveModel(to: Key => Key): Unit = {
      val moved = model.toSeq.map { case (k, c) => to(k) -> c }
      model.clear()
      model ++= moved
    }
    def anyEntry(): (String, String) =
      (buckets(rng.nextInt(buckets.size)), entries(rng.nextInt(entries.size)))
    val steps: Seq[(String, () => Unit)] = Seq(
      "append" -> (() => { val (b, e) = anyEntry(); append(b, e) }),
      "belated" -> (() => stored() match {
        case Some((b, e)) if latestOf(b, e) > 0 =>
          // a free ts below the entry's latest record
          val have = keysOf(store, b, e).toSet
          Iterator.continually(rng.nextLong(latestOf(b, e))).take(64)
            .find(t => !have(t)) match {
            case Some(ts) =>
              assert(store.writeFolded(Seq(BucketStore.FoldReq(b, recs(e, ts)))) ==
                Seq(Right(Set.empty)), s"belated $b/$e $ts")
              modelled(recs(e, ts), b)
            case None => append(b, e)
          }
        case _ => append("a", "e0")
      }),
      "resend" -> (() => stored() match {
        case Some((b, e)) =>
          // the entry's latest (ts == latest takes the admission scan)
          // and one more stored key, beside a fresh append
          val have = keysOf(store, b, e)
          val again = Seq(have.last, have(rng.nextInt(have.size))).distinct
          val fresh = have.last + 1
          val res = store.writeFolded(Seq(
            BucketStore.FoldReq(b, recs(e, (again :+ fresh): _*))))
          assert(res == Seq(Right(again.map(t => (e, t)).toSet)),
            s"re-sent $b/$e $again must be rejected: $res")
          modelled(recs(e, fresh), b)
        case None => append("b", "e1")
      }),
      "remove-ends" -> (() => stored() match {
        case Some((b, e)) =>
          val have = keysOf(store, b, e)
          val ends = Seq(have.head, have.last).distinct.map(t => (e, t))
          val res = store.removeFolded(Seq((b, ends)))
          assert(res == Seq(Right(ends.map(_ -> true).toMap)), s"remove $b $ends")
          model --= ends.map { case (en, t) => (b, en, t) }
        case None => append("c", "e0")
      }),
      "remove-each-n" -> (() => stored() match {
        case Some((b, e)) =>
          store.removeQuery(QuerySpec(entries = Some(Seq(e)),
            when = Some("""{"$each_n": 2}"""), bucket = Some(b))): Unit
          // every second record of the entry in ts order matches
          model --= model.keys.collect { case k @ (`b`, `e`, _) => k }.toSeq.sortBy(_._3)
            .zipWithIndex.collect { case (k, i) if i % 2 == 1 => k }
        case None => append("a", "e1")
      }),
      "patch+fold" -> (() => stored() match {
        case Some((b, e)) =>
          val have = keysOf(store, b, e)
          val ts = have(rng.nextInt(have.size))
          store.updateLabelsMatched(b, Seq((e, ts,
            Map("patched" -> seed.toString), Set("k")))).size.toLong: Unit
          model.updateWith((b, e, ts))(_.map { case (l, p, st) =>
            ((l - "k") + ("patched" -> seed.toString), p, st) })
          check(store, "patch")
          // half the patches stay in the overlay, so later removes and
          // rewrites meet patched partitions
          if (rng.nextBoolean()) store.foldLabelOverlay(): Unit
        case None => append("a", "e0")
      }),
      "compact" -> (() => store.compact(maxFilesPerPartition = 1): Unit),
      "compress" -> (() => stored() match {
        case Some((b, _)) =>
          Lifecycle.apply(store, Lifecycle.Policy(olderThanUs = 0L,
            action = Lifecycle.Action.Compress("zstd", 3), bucket = Some(b)),
            nowUs = 1000 * Day): Unit
        case None => append("b", "e0")
      }),
      "fifo" -> (() => stored() match {
        case Some((b, _)) =>
          store.enforceFifoQuota(b, store.bucketSizeBytes(b) / 2): Unit
          // whole days go, oldest first, $meta entries never: the model
          // drops the days the store no longer holds, which must be the
          // oldest of the bucket's days
          def evictable(k: Key) = k._1 == b && !graft.core.EntryPattern.isSystemMetaEntry(k._2)
          val days = model.keys.filter(evictable).map(k => store.dtOf(k._3)).toSeq.distinct.sorted
          val kept = tableContent(store).keys.filter(evictable).map(k => store.dtOf(k._3)).toSet
          val gone = days.takeWhile(d => !kept(d))
          assert(days.drop(gone.size).forall(kept), s"seed $seed: FIFO evicted ${days.filterNot(kept)}, " +
            s"not a prefix of $days")
          model --= model.keys.filter(k => evictable(k) && gone.contains(store.dtOf(k._3))).toSeq
        case None => append("c", "e1")
      }),
      "delete-entry" -> (() => stored() match {
        case Some((b, e)) if !graft.core.EntryPattern.isSystemMetaEntry(e) =>
          store.removeEntry(b, e)
          model --= model.keys.filter(k => k._1 == b && k._2 == e).toSeq
        case _ => append("a", "e1")
      }),
      "delete-bucket" -> (() => stored() match {
        case Some((b, _)) =>
          store.removeBucket(b)
          model --= model.keys.filter(_._1 == b).toSeq
        case None => append("b", "e0")
      }),
      "rename-entry" -> (() => stored() match {
        case Some((b, e)) if !graft.core.EntryPattern.isSystemMetaEntry(e) =>
          val to = Iterator.from(0).map(i => s"r$i")
            .find(n => !store.entries(b).contains(n)).get
          store.renameEntry(b, e, to)
          moveModel { case (kb, ke, ts) => if (kb == b && ke == e) (kb, to, ts) else (kb, ke, ts) }
        case _ => append("c", "e0")
      }),
      "rename-bucket" -> (() => {
        val live = store.entryCatalog().keySet
        val names = buckets ++ Seq("d", "e")
        (live.toSeq.sorted.headOption, names.find(n => !live(n))) match {
          case (Some(from), Some(to)) =>
            store.renameBucket(from, to)
            moveModel { case (kb, ke, ts) => (if (kb == from) to else kb, ke, ts) }
          case _ => append("a", "e2/$meta")
        }
      }),
      "reopen" -> (() => {
        store.close()
        store = new BucketStore(spark, root)
      }),
      "replica" -> (() => {
        val replica = new BucketStore(spark, root, readOnly = true)
        check(replica, "replica open")
        val (b, e) = anyEntry()
        append(b, e)
        replica.refreshReplica()
        check(replica, s"replica after refreshReplica (primary wrote $b/$e)")
      }))
    // a few entries before the first step, so removes hit real records
    for (b <- buckets.take(2); e <- entries) append(b, e)
    check(store, "preload")
    val order = rng.shuffle(steps) ++ Seq.fill(8)(steps(rng.nextInt(steps.size)))
    try for ((name, run) <- order) { run(); check(store, name) }
    finally store.close()
  }

  test("footer catalog equals the Spark aggregate after every mutator " +
      "(seeded sequences)") {
    for (seed <- Seq(11L, 12L)) runSequence(seed)
  }

  /** A store holding b/e at ts 100, 200 and b/f at ts 100. */
  private def withJobStore(f: BucketStore => Unit): Unit = {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-catalog-jobs").toString)
    try {
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("e", 100L, 200L))))
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("f", 100L))))
      f(store)
    } finally store.close()
  }

  test("an append past the entry's latest record runs 0 jobs: it is " +
      "written on the driver") {
    withJobStore { store =>
      val append = jobsOf {
        assert(store.writeFolded(Seq(BucketStore.FoldReq("b", recs("e", 300L, 301L)))) ==
          Seq(Right(Set.empty)))
      }
      assert(append == 0, s"an append past the latest record ran $append jobs")
      // a new entry of a stored bucket is an append too
      val fresh = jobsOf(store.writeFolded(Seq(BucketStore.FoldReq("b", recs("g", 1L)))))
      assert(fresh == 0, s"a new entry's first write ran $fresh jobs")
      // a spooled upload keeps its Spark write and takes the same
      // rule; its belated write's admission reads on the driver, so it
      // runs no more jobs
      def spooled(ts: Long): Int = {
        val staged = store.stageUploadPath()
        val out = staged.getFileSystem(spark.sparkContext.hadoopConfiguration)
          .create(staged, true)
        try out.write("abcd".getBytes("UTF-8")) finally out.close()
        jobsOf(assert(store.writeStagedSlices("b", staged, Seq(
          BucketStore.StagedSlice("e", ts, Map.empty, "x", 0L, 4L))).isEmpty))
      }
      val (spooledAppend, spooledBelated) = (spooled(1000L), spooled(999L))
      assert(spooledAppend == 1, s"a one-partition spooled append ran $spooledAppend jobs")
      assert(spooledBelated - spooledAppend == 0,
        s"spooled append ran $spooledAppend jobs, belated $spooledBelated")
      assert(store.entryCatalog()("b").all("e") == BucketStore.EntryRecords(6L, 100L, 1000L))
    }
  }

  test("a belated write is admitted and written on the driver (0 jobs), " +
      "and a re-sent key is rejected by the admission") {
    withJobStore { store =>
      // below the latest record: the admission lookup and the write,
      // both on the driver
      val belated = jobsOf {
        assert(store.writeFolded(Seq(BucketStore.FoldReq("b", recs("e", 150L)))) ==
          Seq(Right(Set.empty)))
      }
      assert(belated == 0, s"a belated write ran $belated jobs")
      // the entry's latest key again: the lookup finds it, nothing is written
      val resent = jobsOf {
        assert(store.writeFolded(Seq(BucketStore.FoldReq("b", recs("e", 200L)))) ==
          Seq(Right(Set(("e", 200L)))))
      }
      assert(resent == 0, s"a re-sent key ran $resent jobs")
      assert(keysOf(store, "b", "e") == Seq(100L, 150L, 200L))
    }
  }

  test("a key-addressed label update and a key remove of 8 keys each run " +
      "0 jobs: both are staged on the driver") {
    withJobStore { store =>
      val keys = (1L to 8L).map(_ * 1000L)
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("k", keys: _*) ++ recs("r", keys: _*))))
      // the first patch of a store instance seeds its overlay counters
      store.updateLabelsFolded(Seq(("b", Seq(("k", keys.head, Map("w" -> "0"), Set.empty[String])))))
      val update = jobsOf {
        assert(store.updateLabelsFolded(Seq(("b", keys.map(ts =>
          ("k", ts, Map("w" -> ts.toString), Set.empty[String]))))) == Seq(Right(keys.map(("k", _)).toSet)))
      }
      assert(update == 0, s"a key-addressed update ran $update jobs")
      val remove = jobsOf {
        assert(store.removeFolded(Seq(("b", keys.map(("r", _))))) ==
          Seq(Right(keys.map(k => ("r", k) -> true).toMap)))
      }
      assert(remove == 0, s"a key remove ran $remove jobs")
      assert(store.entryCatalog()("b").all.get("r").isEmpty)
      assert(store.table().filter(col("entry") === "k").collect()
        .forall(r => r.getAs[scala.collection.Map[String, String]]("labels")("w") ==
          r.getAs[Long]("ts").toString))
    }
  }

  test("an 8-key remove on an entry patched just before runs 0 jobs, and " +
      "the survivors keep their patched labels") {
    withJobStore { store =>
      val keys = (1L to 16L).map(_ * 1000L)
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("p", keys: _*))))
      store.updateLabelsFolded(Seq(("b", keys.map(ts =>
        ("p", ts, Map("w" -> s"x$ts"), Set("k"))))))
      val (doomed, kept) = keys.partition(_ % 2000L == 0L)
      val remove = jobsOf {
        assert(store.removeFolded(Seq(("b", doomed.map(("p", _)) :+ (("p", 7L))))) ==
          Seq(Right((doomed.map(k => ("p", k) -> true) :+ (("p", 7L) -> false)).toMap)))
      }
      assert(remove == 0, s"a key remove on a patched entry ran $remove jobs")
      // the rewrite folded the patches and purged the partition's overlay
      assert(store.overlayScope().isEmpty && store.overlayRowsKnown)
      val left = store.table().filter(col("entry") === "p").collect()
        .map(r => r.getAs[Long]("ts") -> r.getAs[scala.collection.Map[String, String]]("labels").toMap)
        .sortBy(_._1).toSeq
      assert(left == kept.map(ts => ts -> Map("w" -> s"x$ts")))
      // and the next patch needs no recount
      val next = jobsOf(store.updateLabelsFolded(Seq(("b", Seq(("p", kept.head, Map("n" -> "1"),
        Set.empty[String]))))))
      assert(next == 0, s"the patch after the remove ran $next jobs")
    }
  }

  test("entryCatalog() after a write runs no job") {
    withJobStore { store =>
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("f", 500L))))
      val builds = store.catalogBuilds.get()
      val catalogJobs = jobsOf {
        assert(store.entryCatalog()("b").all("f") == BucketStore.EntryRecords(2L, 100L, 500L))
      }
      assert(store.catalogBuilds.get() == builds + 1, "the write must invalidate the catalog")
      assert(catalogJobs == 0, s"entryCatalog() after a write ran $catalogJobs jobs")
    }
  }

  test("callers racing right after a write share one base-table listing " +
      "and one catalog build") {
    withJobStore { store =>
      store.writeFolded(Seq(BucketStore.FoldReq("b", recs("f", 500L))))
      val (tables, catalogs) = (store.baseTableBuilds.get(), store.catalogBuilds.get())
      val n = 8
      val go = new java.util.concurrent.CountDownLatch(1)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(n)
      try {
        val racers = (0 until n).map { i =>
          pool.submit(new java.util.concurrent.Callable[Any] {
            def call(): Any = {
              go.await()
              if (i % 2 == 0) store.baseTable() else store.entryCatalog()
            }
          })
        }
        go.countDown()
        racers.foreach(_.get(60, java.util.concurrent.TimeUnit.SECONDS))
      } finally pool.shutdown()
      assert(store.baseTableBuilds.get() == tables + 1,
        s"${store.baseTableBuilds.get() - tables} base-table listings for $n racers")
      assert(store.catalogBuilds.get() == catalogs + 1,
        s"${store.catalogBuilds.get() - catalogs} catalog builds for $n racers")
      assert(store.entryCatalog()("b").all("f") == BucketStore.EntryRecords(2L, 100L, 500L))
    }
  }

  test("a $system flush runs 0 Spark jobs") {
    val store = new BucketStore(spark,
      Files.createTempDirectory("graft-catalog-syslog").toString)
    try {
      val syslog = new SystemLog(store, "srv", None)
      def flush(i: Int) = jobsOf(assert(syslog.events(Seq(
        SystemLog.Event("usage", "total", 200, s"""{"i":$i}"""),
        SystemLog.Event("usage", "b", 200, s"""{"i":$i}""")))))
      // the first flush creates both entries, the second appends to them
      val jobs = Seq(flush(0), flush(1))
      assert(jobs == Seq(0, 0), s"$$system flushes ran $jobs Spark jobs")
      assert(store.table().filter(col("bucket") === "$system").count() == 4)
    } finally store.close()
  }
}
