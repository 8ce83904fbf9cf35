package graft.engine

import graft.core.{EntryPattern, Records}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import scala.util.control.NonFatal

/** Parquet-backed bucket storage — the Spark-native replacement for the
  * reference's block files (SURVEY §1.3).
  *
  * Layout: `root/bucket=<b>/entry=<e>/dt=<yyyy-MM-dd>/part-*.zstd.parquet`.
  *  - `bucket`/`entry` partitions → entry-glob queries become partition
  *    pruning; `dt` (UTC day of `ts`) partitions → time-range queries prune
  *    files the way the reference's block index prunes blocks
  *    (historical.rs:134-156); parquet row-group min/max on `ts` prunes
  *    within a day.
  *  - zstd data pages ≈ the reference's block-level zstd
  *    (block_manager/compress.rs:23-28).
  *  - writes are append-only; `maxRecordsPerFile` bounds file size like
  *    `max_block_records` rotation (storage.proto:47-63).
  *
  * Duplicate-timestamp conflicts (ts is the record id, storage.proto:38):
  * batch-internal dups always fail; against existing data the check reads
  * only the overlapping (entry × time-range) slice — pushdown makes this a
  * metadata-bounded scan, not a table scan. Belated writes (old ts) land in
  * their historical partition with no special casing
  * (entry/write_record.rs:92-160).
  *
  * Local-fs roots: set `spark.hadoop.fs.file.impl` to
  * `org.apache.hadoop.fs.RawLocalFileSystem` on the session. Hadoop's
  * checksummed local fs writes a `.crc` sibling per file, doubling the
  * creates on every many-entry write/rewrite (each local create pays a
  * chmod fork without libhadoop; measured 76 s → 53 s on a 10k-entry
  * write). Pair it with `parquet.page.verify-checksum.enabled=true`:
  * parquet-java WRITES page checksums by default but does not verify
  * them on read unless asked, so the pair keeps an end-to-end integrity
  * check on the payload path; hdfs/s3a schemes are unaffected.
  */
final class BucketStore(val spark: SparkSession, val root: String,
    /** Read-only replica mode — `RS_INSTANCE_ROLE=REPLICA`
      * (cfg.rs:217-228). A replica serves reads over a SHARED tree the
      * primary owns: it never takes the writer lock (the primary holds
      * it), and every mutator is refused with the reference's
      * check_mode error (engine.rs:163-171, 403 forbidden). The parquet
      * table re-lists files per query, so new primary writes become
      * visible without any sync protocol; [[refreshReplica]] invalidates
      * the version-keyed caches (sizes, counts) on the reference's
      * replica-reload cadence (engine/read_only.rs reload_replica,
      * launcher.rs periodical_replica_reload). Shared-tree visibility
      * beyond one process inherits the Hadoop FS's listing semantics —
      * the same contract the reference's replica has over its remote
      * backend. */
    val readOnly: Boolean = false) {
  import BucketStore._

  spark.conf.set("spark.sql.parquet.compression.codec", "zstd")
  spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")

  // Cross-process single-writer guard (the reference is single-owner by
  // construction, storage/engine.rs; this ENFORCES the documented
  // contract below): the first instance for this root in this process
  // claims `root/_writer.lock`, later same-process instances attach, a
  // different live process fails fast here. Stale (dead-holder) locks
  // are taken over after WriterLock.staleMs. See [[WriterLock]].
  // A read-only replica never claims it — the primary owns the root.
  if (!readOnly) WriterLock.acquire(root, spark.sparkContext.hadoopConfiguration)

  // A replica read racing the primary's swap must RETRY (readConsistent),
  // never silently drop the renamed-away rows — refuse the conf that
  // would turn the race into data loss before any read runs.
  if (readOnly) require(
    !spark.conf.get("spark.sql.files.ignoreMissingFiles", "false").toBoolean,
    "read-only replica stores require spark.sql.files.ignoreMissingFiles=false: " +
      "with it true, a read racing the primary's partition swap silently " +
      "drops rows instead of retrying (BucketStore.readConsistent)")

  private val lockReleased = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Release this instance's writer-lock reference; the last instance
    * for the root deletes the lock file. Idempotent PER INSTANCE — a
    * double close (nested try/finally, retry wrappers) must not burn a
    * second refcount and release the lock out from under another live
    * same-root instance. Optional — a JVM shutdown hook releases
    * everything on normal exit. */
  def close(): Unit =
    if (!readOnly && lockReleased.compareAndSet(false, true))
      WriterLock.release(root, spark.sparkContext.hadoopConfiguration)

  /** Store-wide mutation lock. Spark's file committer stages every job
    * writing one output path under the same `_temporary/0` directory, so
    * two CONCURRENT append jobs into the store root can delete each
    * other's in-flight task files; the duplicate-ts admission check is
    * also check-then-act. One mutator at a time per store — matching the
    * reference's single-owner storage engine (storage/engine.rs) — while
    * reads never block. At cluster scale the unit of write parallelism is
    * the store root, and a single writer's job is itself parallel across
    * executors, so the lock serializes API calls, not cluster work. */
  private[graft] val writeLock = new Object

  /** Monotone data version: bumped after every mutation (all mutators
    * run through [[mutating]]). The base file index, the entry catalog
    * and the size figures it carries cache against it, so an idle store
    * serves them without re-listing the tree. */
  private val dataVersionCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def dataVersion: Long = dataVersionCounter.get

  /** Every mutator's lock + version bump in one place: identical locking
    * to `writeLock.synchronized`, then the data version moves so cached
    * figures invalidate. A bump on a failed/no-op mutation is harmless
    * (one spare recompute). */
  private[graft] def mutating[T](f: => T): T = {
    if (readOnly) throw new BucketStore.ReadOnlyStoreException(
      "Cannot perform this operation in read-only mode")
    writeLock.synchronized { try f finally dataVersionCounter.incrementAndGet() }
  }

  /** Replica cache refresh (reload_replica analog): the data table
    * re-lists files per query already, so a refresh only needs to
    * invalidate version-keyed derived figures (store/bucket sizes,
    * counts) so they recompute against the primary's current tree. */
  def refreshReplica(): Unit = { dataVersionCounter.incrementAndGet(); () }

  /** Rewrite epoch: ODD while a partition-swap's visible changes
    * (renames + emptied-dir deletes) are in flight, even when the tree
    * is quiescent. Mutation jobs (the staged rewrite write) run OUTSIDE
    * the odd window — only the cheap rename loop holds it, so the
    * blocking window is milliseconds regardless of data volume. */
  private val rewriteEpochCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  def rewriteEpoch: Long = rewriteEpochCounter.get

  /** Snapshot-or-retry read seam: runs `f` (which must fully materialize
    * its result — collect/count, not a lazy frame) and returns it iff no
    * partition swap overlapped; otherwise retries against the settled
    * tree. An error raised while a swap DID overlap is treated as the
    * race (a reader can observe a renamed-away file mid-swap) and
    * retried; an error with no overlapping swap is real and rethrown.
    * This is the single-process consistency contract — the same scope as
    * the reference's single-owner storage engine, where every reader
    * goes through the owning process (storage/engine.rs). Lazy cursor
    * drains (QueryRegistry.toLocalIterator) intentionally bypass this:
    * a long-lived cursor racing a delete serves rows it already planned,
    * as the reference's cursors do.
    *
    * READ-ONLY REPLICA scope (r19, closing the r18 weak mark): a
    * replica reads the PRIMARY's tree from a second process, where this
    * process's epoch counter can never see the primary's swaps — a read
    * racing the primary's compact/fold/remove rename window surfaced as
    * a spurious failure (and `ignoreMissingFiles=true` would turn it
    * into silent row drops, which the constructor now refuses). On a
    * replica, a missing-file/vanished-partition error IS the race: the
    * swap window is milliseconds of renames, so those errors retry with
    * a short backoff under the same attempt/wait caps. Reference
    * parity: the replica read path skips transient block states
    * (storage/query/historical.rs:138-176). Owning stores keep the
    * strict contract — an FNF with no epoch movement is real and
    * rethrown. */
  def readConsistent[T](f: => T, maxRetries: Int = 50,
      maxWaitMs: Long = 60000L): T = {
    var attempts = 0
    var waitStartNanos = 0L // 0 = not currently waiting on an odd epoch
    var lastEx: Throwable = null // surfaced as the cause when retries exhaust
    while (attempts <= maxRetries) {
      val e0 = rewriteEpochCounter.get
      if ((e0 & 1L) == 0L) {
        waitStartNanos = 0L // a settled epoch is progress: re-arm the wait cap
        try {
          val out = f
          if (rewriteEpochCounter.get == e0) return out
        } catch {
          case NonFatal(ex) if rewriteEpochCounter.get != e0 => // raced: retry
            lastEx = ex
          case NonFatal(ex) if readOnly && isSwapTransient(ex) =>
            // primary's swap window (ms of renames) — settle, retry
            lastEx = ex
            Thread.sleep(5)
          case NonFatal(ex) => throw ex
        }
        attempts += 1
      } else {
        // swap renames/deletes in flight: settle, then read. The window
        // scales with the mutation's affected-partition count (renames +
        // emptied-dir deletes), so the cap is a wedged-swap safety net —
        // generous enough for a many-thousand-partition rewrite on slow
        // storage, finite so a crashed swap (thread killed mid-window)
        // fails readers instead of spinning them forever. Elapsed time is
        // measured with nanoTime deltas — Thread.sleep(1) commonly lasts
        // several ms, so counting iterations would stretch the cap.
        val now = System.nanoTime()
        if (waitStartNanos == 0L) waitStartNanos = now
        else if ((now - waitStartNanos) / 1000000L > maxWaitMs)
          throw new IllegalStateException(
            s"rewrite epoch stuck odd for > $maxWaitMs ms; swap wedged?")
        Thread.sleep(1)
      }
    }
    // the last caught exception rides along as the cause — without it a
    // genuinely failing read (e.g. a replica pointed at a bad root whose
    // errors happen to look swap-transient) surfaces as an opaque
    // "did not settle" with the real failure discarded (ADVICE r19)
    throw new IllegalStateException(
      s"read did not settle after $maxRetries rewrite-racing retries", lastEx)
  }

  /** Is `ex` the missing-file/vanished-partition class a reader can
    * observe while the PRIMARY's partition swap renames files — i.e.
    * retryable on a read-only replica? Walks the cause chain (Spark
    * wraps task failures in SparkException layers) and matches the typed
    * FileNotFoundException plus the listing/planning variants that only
    * carry the PATH_NOT_FOUND error class in the message. Deliberately
    * NOT a bare "does not exist" match (ADVICE r19): analysis errors on
    * a misconfigured replica (nonexistent root, bad view) carry that
    * phrase too and must surface immediately, not after 50 retries. */
  private def isSwapTransient(ex: Throwable): Boolean = {
    var t: Throwable = ex
    var depth = 0
    while (t != null && depth < 12) {
      if (t.isInstanceOf[java.io.FileNotFoundException]) return true
      val m = t.getMessage
      if (m != null && (m.contains("FileNotFoundException") ||
          m.contains("PATH_NOT_FOUND")))
        return true
      t = t.getCause
      depth += 1
    }
    false
  }

  /** Test-only fault injection, invoked at named crash seams inside the
    * mutation machinery: `append:<tree>:staged` (an append to `base`,
    * the base tree, or to a hidden tree such as `_labels` — staged files
    * written, NOTHING renamed in yet), `overwrite:staged`
    * (partition rewrite — staged tree written, live tree untouched),
    * `overwrite:swapped` (renames + drops landed, extraSwapActions —
    * e.g. the fold's overlay purge — NOT yet run). A hook that throws
    * simulates the process dying at that boundary; specs then open a
    * FRESH store on the same root (cold seq counter, cold overlay
    * count — exactly a restarted process) and assert the recovery
    * contract (OverlayCrashSpec). Production: no-op. */
  @volatile private[graft] var crashSeamForTest: String => Unit = _ => ()

  /** Test hook: run `f` with the rewrite epoch held ODD — a swap window
    * that never settles — so specs can exercise [[readConsistent]]'s
    * wedged-swap cap without a real wedged mutation. */
  private[graft] def holdSwapWindowForTest[T](f: => T): T = {
    rewriteEpochCounter.incrementAndGet()
    try f finally rewriteEpochCounter.incrementAndGet()
  }

  /** Interval usage-traffic counters (PR-1474), drained by
    * [[graft.lifecycle.Lifecycle.flushUsage]]. Counted at three sites:
    * the HTTP write body (`HttpApi.writeRecords`, the records that
    * landed), the HTTP reads, and the replication sink (writes into the
    * destination store). The store itself counts nothing, so `$system`
    * telemetry (no telemetry on telemetry) and Zenoh ingest stay
    * uncounted. */
  val usage = new UsageCounters

  private def dtCol = to_date(timestamp_micros(col("ts")))

  /** `rows` plus `dt`, each (bucket, entry, dt) output partition in one
    * task, ready for a partitioned write — otherwise every task writes a
    * file into every dir it touches and the store degrades into
    * thousands of tiny files (measured 10x on the write path). Rows the
    * caller knows to land in ONE partition — the usual small serving
    * mutation: one entry, one day — are co-located already: one task
    * takes them with no exchange, saving the shuffle-map job (measured:
    * a 16-record write 310 → 165 ms on 4 cores). Otherwise a pinned hash
    * exchange: AQE byte-coalescing would serialize a many-entry batch
    * through one task (core/Partitioning.scala). */
  private def colocated(rows: DataFrame, onePartition: Boolean): DataFrame = {
    val withDt = rows.withColumn("dt", dtCol)
    if (onePartition) withDt.coalesce(1)
    else graft.core.Partitioning.pinned(withDt, col("bucket"), col("entry"), col("dt"))
  }

  /** [[dtCol]] on the driver: the session-time-zone day of a µs
    * timestamp, spelled as the `dt=` directory names it. */
  private[graft] def dtOf(ts: Long): String =
    java.time.Instant.EPOCH.plus(ts, java.time.temporal.ChronoUnit.MICROS)
      .atZone(java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"),
        java.time.ZoneId.SHORT_IDS))
      .toLocalDate.toString

  /** The whole store as one logical table (records schema), with the
    * label overlay applied — `labels` reflects every PATCH. */
  def table(): DataFrame = overlaid(baseTable(), overlayScope().nonEmpty)

  /** [[table]] for a read that `spec` scopes: the overlay join is planned
    * only when an overlay partition lies in the spec's bucket and matches
    * its entry patterns (resolved the way the query filters them,
    * [[EntryPattern.resolve]]). Elsewhere the overlay holds no rows, so
    * the base labels are the effective ones and the join would be a
    * wasted broadcast job per read. */
  def table(spec: QuerySpec): DataFrame = overlaid(baseTable(), overlayMeets(spec))

  def tableOrEmpty(): DataFrame =
    try table()
    catch { case NonFatal(_) => emptyRecords(spark) }

  /** This store as a query source ([[QueryRegistry.Source]]): the scan
    * estimate [[scanBound]], the Spark table [[table(spec)*]] and the
    * driver-side reader [[readSmall]]. With `orEmpty`, a store with no
    * base tree yet answers no rows, as [[tableOrEmpty]] does. The
    * version is the data version; a read-only replica reports none,
    * since its counter cannot see the primary's writes. */
  def querySource(orEmpty: Boolean = false): QueryRegistry.Source = new QueryRegistry.Source {
    def bound(spec: QuerySpec): Long = scanBound(spec, orEmpty)
    def table(spec: QuerySpec): DataFrame =
      try BucketStore.this.table(spec)
      catch { case NonFatal(_) if orEmpty => emptyRecords(spark) }
    def read(spec: QuerySpec): Seq[org.apache.spark.sql.Row] = readSmall(spec, orEmpty)
    def version: Option[Long] = if (readOnly) None else Some(dataVersion)
  }

  /** Resolved base-tree plan (schema-pinned scan over `root`) cached per
    * (dataVersion, rewriteEpoch). Building it costs a FULL tree listing —
    * InMemoryFileIndex walks every bucket/entry/dt dir — plus analysis;
    * at the 10k-entry design point that is O(100k) FS metadata calls PER
    * READ (guide §6 file listing), and it was the bulk of the per-request
    * driver-side wall the r19 HTTP workload profile measured (each
    * request re-listed and re-planned an unchanged tree). Keyed on BOTH
    * counters: dataVersion only moves when a mutation EXITS, so a
    * partition swap's renames (mid-mutation) must invalidate via the
    * rewrite epoch — otherwise a reader retrying the swap race would be
    * served the pre-swap file list forever and fail its retries. Internal
    * raw-fs deletes that a SAME mutation then re-reads (the FIFO eviction
    * loop) invalidate explicitly. */
  private val baseTableCache =
    new java.util.concurrent.atomic.AtomicReference[(Long, Long, DataFrame)]()
  /** Cache-rebuild count — observable by specs pinning one-listing-per-version. */
  private[graft] val baseTableBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  private[graft] def invalidateBaseTable(): Unit = baseTableCache.set(null)

  /** The base parquet tree only — PATCHed labels NOT applied. For
    * key-only internal reads (conflict admission, entry catalog, oldest
    * partition) where the overlay can't change the answer and the join
    * would be waste. Read-only replicas never cache: their counters
    * cannot see the primary's mutations, and the replica contract is a
    * fresh listing per query (refreshReplica only invalidates derived
    * figures). */
  private[graft] def baseTable(): DataFrame = {
    if (readOnly) return freshBaseTable()
    def cached(): DataFrame = {
      val hit = baseTableCache.get
      if (hit != null && hit._1 == dataVersion && hit._2 == rewriteEpoch) hit._3 else null
    }
    val hit = cached()
    if (hit != null) return hit
    // single flight: callers that miss together wait for one listing
    // (the usage flusher, a `/list` and cursor opens all arrive right
    // after a mutation). Nothing that holds this lock waits on a swap
    // window, so a mutator calling in never waits on a reader that
    // waits on it.
    baseTableBuildLock.synchronized {
      val raced = cached()
      if (raced != null) return raced
      val v0 = dataVersion
      val e0 = rewriteEpoch
      val df = freshBaseTable()
      baseTableBuilds.incrementAndGet()
      // install only when nothing moved during the listing — a listing
      // that overlapped a mutation may be partial and must not be keyed
      // as current
      if (dataVersion == v0 && rewriteEpoch == e0)
        baseTableCache.set((v0, e0, df))
      df
    }
  }
  private val baseTableBuildLock = new Object

  private def freshBaseTable(): DataFrame =
    spark.read.schema(storedSchema).parquet(root)
      .drop("dt") // derived; queries use ts

  private[graft] def baseTableOrEmpty(): DataFrame =
    try baseTable()
    catch { case NonFatal(_) => emptyRecords(spark) }

  // ------------------------------------------------------- label overlay

  /** Label PATCHes land as tiny overlay rows instead of partition
    * rewrites, matching the reference's metadata-only update
    * (storage/entry/update_labels.rs:14-36 rewrites a block descriptor,
    * "payload untouched"). A copy-on-write parquet rewrite would carry
    * the payload column with it — ~1000x write amplification for
    * label-only curation at 10 MB payloads.
    *
    * Layout: `root/_labels/bucket=<b>/entry=<e>/dt=<d>/<part>.parquet` with
    * rows `(bucket, entry, ts, labels, seq)` — the FULL post-patch label
    * map, `seq` monotone per patch so the latest patch wins. The
    * underscore root hides the tree from the base table's partition
    * discovery (batch and streaming alike, same mechanism as `_rewrite`).
    *
    * Read path: where the overlay holds no rows (see [[overlayScope]])
    * a read is the plain base scan — zero overhead. Otherwise a BROADCAST
    * left join applies the latest overlay labels map-side: payload bytes
    * never shuffle, full-payload reads stay scan-shaped. The broadcast
    * is safe because the overlay is bounded: once it exceeds
    * [[overlayFoldThreshold]] rows the next PATCH folds it into the base
    * files (one amortized partition rewrite per ~100k patches).
    *
    * Invariant: overlay rows exist only for LIVE base records. Every
    * base-partition rewrite (fold, removeQuery, removeRecords, lifecycle
    * compress) rewrites effective labels and purges that partition's
    * overlay dirs inside the same swap window; entry/bucket/FIFO deletes
    * drop the mirror overlay dirs. So a removed-then-rewritten timestamp
    * can never resurrect stale labels.
    *
    * Sizing: ~200 B/row → the 100k default folds at ~20 MB broadcast,
    * well inside executor budgets at any corpus size. Test seam. */
  @volatile var overlayFoldThreshold: Long = 100000L

  /** Parallelism for the per-partition fs METADATA ops (rename/mkdirs/
    * delete) inside mutation swaps. The ops are independent per
    * partition dir, but a serial loop makes the swap window — and so
    * both mutation latency and the readers' retry window — scale
    * linearly with the touched-partition count (measured: the rename-in
    * of a ~480-dir patch spent 0.6–1.8 s in pure fs-op latency). posix/
    * HDFS rename stays atomic per dir regardless of issue order, and
    * remote stores (HDFS namenode, object-store metadata layers) want
    * MORE concurrency than local fs, so parallel issue is the
    * scale-correct shape. Test seam (1 = the old serial behavior). */
  @volatile var fsOpParallelism: Int = 32

  /** Run `op` over independent fs items with bounded parallelism. Joins
    * EVERY op before returning — even after failures or an interrupt of
    * the joining thread: a swap must never leave renames in flight past
    * its epoch settle (a straggler landing after the epoch went even
    * would give snapshot readers a torn view the counter can't detect).
    * Every failure is kept: the first is rethrown with the rest
    * suppressed, so a multi-partition failure isn't under-reported.
    * Single-item and parallelism-1 calls run inline. Work is striped
    * over `par` workers on a shared cached daemon pool — mutations are
    * serialized under the store lock, and one swap calls this up to
    * three times inside its latency-sensitive window, so per-call pool
    * construction would re-add fixed cost the parallelism exists to
    * remove. The entry catalog's footer reads share it. */
  private def parallelFs[T](items: Seq[T])(op: T => Unit): Unit = {
    val par = math.min(fsOpParallelism, items.size)
    if (par <= 1) { items.foreach(op); return }
    val idx = new java.util.concurrent.atomic.AtomicInteger(0)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    // First failure flips this: remaining workers DRAIN the index without
    // calling op (no new renames once the swap is known-broken — each op
    // skipped keeps the partially-applied window narrower), while still
    // joining every in-flight op so nothing lands past the epoch settle.
    val abort = new java.util.concurrent.atomic.AtomicBoolean(false)
    val workers = (1 to par).map(_ => BucketStore.fsOpPool.submit(new Runnable {
      def run(): Unit = {
        var i = idx.getAndIncrement()
        while (i < items.size) {
          if (!abort.get)
            try op(items(i))
            // any failure (VM errors included) flips abort; VM errors
            // get rethrow PRIORITY at the aggregation site below
            catch { case e: Throwable => abort.set(true); failures.add(e): Unit }
          i = idx.getAndIncrement()
        }
      }
    }))
    var interrupted = false
    workers.foreach { f =>
      var joined = false
      while (!joined)
        try { f.get(): Unit; joined = true }
        catch {
          case _: InterruptedException => interrupted = true // keep joining
          case e: java.util.concurrent.ExecutionException => // fatal in worker
            failures.add(e.getCause); joined = true
        }
    }
    if (interrupted) Thread.currentThread().interrupt() // re-assert, post-join
    val it = failures.iterator()
    if (it.hasNext) {
      // a VM error (OOM, stack overflow) outranks ordinary IO failures:
      // surface it as the primary so callers/JVM handlers see it
      import scala.jdk.CollectionConverters._
      val all = failures.asScala.toSeq
      val first = all.collectFirst { case e: VirtualMachineError => e }
        .getOrElse(all.head)
      all.foreach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }

  private def overlayRootPath = new org.apache.hadoop.fs.Path(s"$root/$LabelsDir")

  /** Cheap non-empty gate: one exists() (+ a small walk when present).
    * Uncached on purpose — correct mid-mutation, and the empty case is a
    * single namenode/stat call. */
  private def overlayFileCount(): Long = hiddenTreeFileCount(LabelsDir)

  private def hiddenTreeFileCount(dirName: String): Long = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$dirName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    treeSummary(fs, p)._2
  }

  /** Cheap base-tree non-empty gate: any `bucket=` child under the root
    * — ONE root listing, O(bucket count), never a tree walk. Write
    * admission uses it to skip the existing-key clash job on a fresh/
    * empty store (the common first-write shape; the job would scan
    * nothing). Conservative: a bucket dir holding only settings still
    * returns true and the clash job then no-ops. */
  private def baseHasBucketDirs(): Boolean = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists(st =>
      st.isDirectory && st.getPath.getName.startsWith("bucket="))
  }

  /** The overlay as a DataFrame. The `_labels` root itself is
    * underscore-hidden (so the BASE scan skips it) — passing it straight
    * to `spark.read.parquet` would silently yield zero rows ("All paths
    * were ignored"), so the read lists the non-hidden `bucket=` children
    * and anchors partition discovery with `basePath`. */
  private def overlayTableRaw(): DataFrame = hiddenTreeRaw(LabelsDir)

  private def hiddenTreeRaw(dirName: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(s"$root/$dirName")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val children =
      if (!fs.exists(p)) Array.empty[String]
      else fs.listStatus(p).collect {
        case st if st.isDirectory && st.getPath.getName.startsWith("bucket=") =>
          st.getPath.toString
      }
    if (children.isEmpty)
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        overlayRowSchema)
    else
      spark.read.schema(overlayStoredSchema)
        .option("basePath", p.toString)
        .parquet(children.toSeq: _*)
        .drop("dt")
  }

  private[graft] def overlayRowCount(): Long =
    if (overlayFileCount() == 0L) 0L else overlayTableRaw().count()

  /** Update-log row count (spec hook: echo convergence, log gating). */
  private[graft] def updatesLogRowCount(): Long =
    if (hiddenTreeFileCount(UpdatesDir) == 0L) 0L else hiddenTreeRaw(UpdatesDir).count()

  /** Update-log rows (spec hook: seq monotonicity across restarts). */
  private[graft] def updatesLogRaw(): DataFrame = hiddenTreeRaw(UpdatesDir)

  /** Driver-side overlay row count: -1 = unknown (re-seeded by the next
    * MUTATOR under the write lock — readers never write it, a racing
    * reader's stale seed could mask live patches). Keeps the per-patch
    * fold-threshold check O(1) instead of a Spark count job per call:
    * the count only runs on the first patch of a store instance or
    * after a purge that deleted overlay rows. */
  private val overlayRowsApprox = new java.util.concurrent.atomic.AtomicLong(-1L)

  /** Spec hook: whether the next mutator can skip the overlay recount. */
  private[graft] def overlayRowsKnown: Boolean = overlayRowsApprox.get >= 0L

  /** Exact overlay rows, from the driver counter when known (mutator
    * callers only — runs a count job to re-seed when unknown). */
  private def knownOverlayRows(): Long = {
    val v = overlayRowsApprox.get
    if (v >= 0L) v else overlayRowCount()
  }

  /** Monotone patch sequence; persisted implicitly in overlay AND
    * update-log rows, re-seeded from the max over BOTH trees on the
    * first overlay op of a store instance: the `_updates` log outlives
    * folds, so seeding from the overlay alone would let a restart after
    * a fold mint seqs BELOW logged ones — a replication drain's
    * latest-per-key max_by would then prefer the stale history over the
    * fresh patch (review r15 pass 2). */
  private lazy val overlaySeqCounter = new java.util.concurrent.atomic.AtomicLong(
    Seq(LabelsDir, UpdatesDir).map { dir =>
      if (hiddenTreeFileCount(dir) == 0L) 0L
      else {
        val r = hiddenTreeRaw(dir).agg(max("seq")).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    }.max)

  /** Latest-patch-per-key overlay aggregation, PERSISTED and cached
    * against an OVERLAY EPOCH — a counter bumped by every overlay
    * change, INCLUDING mid-mutation ones. dataVersion would be the
    * wrong key (review r15): it only advances when a mutation EXITS, so
    * a lock-free reader that built the agg before an append could
    * re-install the stale agg after the mutator's invalidation, still
    * keyed "current" — and the fold would then consume it and
    * permanently drop the just-appended patch. With the epoch key, a
    * build that observed a pre-change epoch can never install after the
    * change (CAS guard below), and the fold always sees a fresh agg. */
  private val overlayEpochCounter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val ovAggCache =
    new java.util.concurrent.atomic.AtomicReference[(Long, DataFrame)]()
  /** Cache-rebuild count — observable by specs pinning one-agg-per-mutation. */
  private[graft] val overlayAggBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Retired aggs unpersist IMMEDIATELY — deferring is NOT safe here:
    * Spark's InMemoryFileIndex compares by rootPaths, so a fresh agg
    * over the same `_labels` root canonicalizes EQUAL to the retired
    * one; while the retired generation is still registered,
    * `persist()` on the new agg is a no-op ("already cached") and
    * CacheManager substitutes the RETIRED generation's data into every
    * new-agg query — stale labels served as current (observed: a
    * reopened store kept serving the first patch). The cost of
    * immediacy is bounded: a registry cursor mid-drain racing an
    * overlay mutation may recompute evicted agg blocks from purged
    * files and fail — the same documented cursor-vs-mutation class as
    * partition swaps (cursors bypass readConsistent by design). */
  private def invalidateOverlayAgg(): Unit = {
    overlayEpochCounter.incrementAndGet() // FIRST: stale builds can't install
    val prev = ovAggCache.getAndSet(null)
    if (prev != null) prev._2.unpersist(false)
  }

  private def overlayLatest(): DataFrame = {
    val e0 = overlayEpochCounter.get
    val hit = ovAggCache.get
    if (hit != null && hit._1 == e0) return hit._2
    overlayAggBuilds.incrementAndGet()
    val ov = overlayTableRaw()
      .groupBy("bucket", "entry", "ts")
      .agg(max_by(col("labels"), col("seq")).as("__ov_labels"))
    // install only if no overlay change overlapped the build — a raced
    // build is still correct to RETURN (the caller's own consistency
    // comes from readConsistent), just never to CACHE. A read-only
    // replica never caches: its epoch cannot see the primary's patches,
    // so a cached agg would serve the first patches it read forever.
    if (readOnly || overlayEpochCounter.get != e0) return ov
    val p = ov.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (overlayEpochCounter.get == e0 && ovAggCache.compareAndSet(hit, (e0, p))) {
      // a replaced non-null stale hit must unpersist NOW — leaving it
      // registered would make later persists of plan-equal aggs no-ops
      // serving the retired data (see the rootPaths-equality doc above)
      if (hit != null) hit._2.unpersist(false)
      p
    } else { p.unpersist(false); p } // lost the install race (see doc above)
  }

  /** Whether `spec.when` can observe record labels (see
    * [[graft.cond.Node.readsLabels]]); a `#ext` directive counts — its
    * processors and per-step whens receive the labels map. Specs without
    * a when-condition trivially can't. Parse errors propagate: the
    * caller's own parse would raise the identical error anyway. */
  private def specReadsLabels(spec: QuerySpec): Boolean =
    spec.when.exists { w =>
      val parsed = graft.cond.Parser.parse(w)
      parsed.directives.get("#ext").isDefined ||
        graft.cond.Node.readsLabels(parsed.root)
    }

  /** `base` with the latest overlay labels joined in when `needed`. */
  private def overlaid(base: DataFrame, needed: Boolean): DataFrame =
    if (!needed) base
    else
      base.join(broadcast(overlayLatest()), Seq("bucket", "entry", "ts"), "left")
        .withColumn("labels", coalesce(col("__ov_labels"), col("labels")))
        .drop("__ov_labels")

  /** The overlay scope: every (bucket, entry, dt) partition holding
    * overlay rows. Built by listing `_labels` (no Spark job) and cached
    * against the overlay epoch; the two overlay mutators keep it exact
    * without a re-listing — [[appendOverlay]] adds the partitions it
    * landed, [[purgeOverlayDirs]] drops the ones it deleted — and every
    * other overlay change (entry/bucket deletes and renames, FIFO
    * eviction) bumps the epoch, so the next use re-lists. A read-only
    * replica re-lists on every use: its epoch cannot see the primary's
    * patches. */
  private val overlayScopeCache = new java.util.concurrent.atomic.AtomicReference[
    (Long, Set[(String, String, String)])]()

  private[graft] def overlayScope(): Set[(String, String, String)] = {
    val e0 = overlayEpochCounter.get
    val hit = overlayScopeCache.get
    if (!readOnly && hit != null && hit._1 == e0) return hit._2
    val fs = overlayRootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val listed = partitionDirs(fs, overlayRootPath).collect {
      case (d, rel) if listQuiet(fs, d).exists(f => f.isFile &&
          !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) =>
        partitionKey(rel)
    }.toSet
    // same install guard as the agg: a listing an overlay change
    // overlapped is correct to return, never to cache
    if (!readOnly && overlayEpochCounter.get == e0)
      overlayScopeCache.compareAndSet(hit, (e0, listed))
    listed
  }

  /** Record an overlay change made inside the caller's swap window: the
    * aggregate is retired and `scope` installed as the current scope
    * before readers can see the settled tree. */
  private def overlayChanged(scope: Set[(String, String, String)]): Unit = {
    invalidateOverlayAgg()
    overlayScopeCache.set((overlayEpochCounter.get, scope))
  }

  /** Whether an overlay partition lies in `spec`'s bucket and matches its
    * entry patterns. */
  private def overlayMeets(spec: QuerySpec): Boolean = {
    val entries = overlayScope().iterator
      .collect { case (b, e, _) if spec.bucket.forall(_ == b) => e }.toSeq.distinct
    EntryPattern.resolve(entries, spec.entries).nonEmpty
  }

  /** Overlay append that ALSO feeds the `_updates` log from the same
    * staged tree: the two trees receive identical rows, and a second
    * write would double the per-patch fixed cost (measured ~2x at
    * sf0.01) — copying the staged label-only files is bytes-proportional
    * and cheap. The scope grows by the landed partitions inside the
    * landing window; a rename that failed part-way retires the cached
    * agg and scope instead, since some files may have landed. */
  private def appendOverlay(stageWith: org.apache.hadoop.fs.Path => Unit): Unit = {
    val before = overlayScope()
    appendTree(stageWith, Some(LabelsDir),
      alsoCopyTo = if (updateLogEnabled) Some(UpdatesDir) else None,
      landed = {
        case Some(keys) => overlayChanged(before ++ keys)
        case None => invalidateOverlayAgg()
      })
  }

  /** Whether PATCHes also append to the `_updates` replication log. OFF
    * by default — the reference creates its transaction log PER
    * REPLICATION TASK (transaction_log.rs: the log exists because a task
    * does); without consumers the log would only add fs ops to every
    * patch (measured ~+1 s on the many-partition bench patch). The
    * replication façade flips it on when a task targeting this store is
    * registered; patches made BEFORE any task exists don't replicate —
    * exactly the reference's semantics (a task's log starts at task
    * creation). */
  @volatile var updateLogEnabled: Boolean = false

  /** A fresh staging dir under the store's hidden `_rewrite` root. */
  private def newStage(): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(s"$root/$RewriteDir/${java.util.UUID.randomUUID}")

  /** Stage `rows` with a partitioned Spark write (one job): the stager
    * for rows that are not on the driver, or too many to write there. */
  private def stageFrame(rows: DataFrame, onePartition: Boolean,
      options: Map[String, String] = Map.empty)(stage: org.apache.hadoop.fs.Path): Unit =
    colocated(rows, onePartition)
      .write.partitionBy("bucket", "entry", "dt")
      .options(options)
      .mode(SaveMode.Overwrite)
      .parquet(stage.toString)

  /** Stage `rows` (in `schema`) on the driver with no Spark job
    * ([[SmallWrite]]): one writer per call, its files written in
    * parallel on the [[parallelFs]] pool. */
  private def stageRows(rows: Seq[org.apache.spark.sql.Row],
      schema: org.apache.spark.sql.types.StructType, maxRecordsPerFile: Long = 0L)(
      stage: org.apache.hadoop.fs.Path): Unit = {
    val writer = new SmallWrite(spark, schema)
    parallelFs(SmallWrite.files(rows, schema, dtOf, maxRecordsPerFile).zipWithIndex) {
      case ((rel, group), n) => writer.write(new org.apache.hadoop.fs.Path(stage, rel), n, group)
    }
  }

  /** Whether a key remove's partitions, of about `bytes`, are read onto
    * the driver and restaged there ([[stageRows]]) rather than rewritten
    * by a Spark job: the cap the driver-side reads use
    * ([[QueryRegistry.MaxBoundedBytes]]). */
  private def fitsDriver(bytes: Long): Boolean = bytes <= QueryRegistry.MaxBoundedBytes

  /** Stage + rename-in append: `stageWith` writes a partitioned tree
    * into a fresh staging dir, whose files then land in `tree` (a hidden
    * tree — the label overlay, the update log — or, with None, the base
    * tree). `alsoCopyTo` duplicates each staged file into a second tree
    * before the rename (same swap window — a reader sees both or
    * neither). The staging write runs outside the epoch window, only the
    * renames inside it — same discipline as [[swapPartitions]], but files
    * ADD to live dirs instead of swapping them (overlay readers dedup by
    * seq; base appends were admitted before staging). `landed` runs
    * inside the window with the (bucket, entry, dt) partitions that
    * received files, or None when the rename-in failed part-way. */
  private def appendTree(stageWith: org.apache.hadoop.fs.Path => Unit, tree: Option[String],
      alsoCopyTo: Option[String] = None,
      landed: Option[Seq[(String, String, String)]] => Unit = _ => ()): Unit = {
    val stage = newStage()
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageWith(stage)
      crashSeamForTest(s"append:${tree.getOrElse("base")}:staged")
      rewriteEpochCounter.incrementAndGet() // odd: files landing
      var keys: Option[Seq[(String, String, String)]] = None
      try {
        val treeRoot = new org.apache.hadoop.fs.Path(tree.fold(root)(t => s"$root/$t"))
        val dirs = partitionDirs(fs, stage)
        // per-dir ops are independent (distinct paths; mkdirs of a shared
        // entry parent is idempotent) — issue them in parallel so the
        // landing window doesn't grow with the touched-partition count
        parallelFs(dirs) { case (d, rel) =>
          val live = new org.apache.hadoop.fs.Path(treeRoot, rel)
          fs.mkdirs(live)
          val copyLive = alsoCopyTo.map { t =>
            val p = new org.apache.hadoop.fs.Path(s"$root/$t/$rel")
            fs.mkdirs(p); p
          }
          for (f <- fs.listStatus(d) if f.isFile &&
              !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith(".")) {
            copyLive.foreach { p =>
              org.apache.hadoop.fs.FileUtil.copy(fs, f.getPath, fs,
                new org.apache.hadoop.fs.Path(p, f.getPath.getName),
                false, spark.sparkContext.hadoopConfiguration): Unit
            }
            fs.rename(f.getPath, new org.apache.hadoop.fs.Path(live, f.getPath.getName))
          }
        }
        keys = Some(dirs.map { case (_, rel) => partitionKey(rel) })
      } finally {
        try landed(keys)
        finally {
          rewriteEpochCounter.incrementAndGet() // even: settled
          // base rows landed: move the data version now, not at the
          // enclosing mutator's exit, so a later admission in the same
          // mutation (the next bucket of a fold) sizes the store with them
          if (tree.isEmpty) dataVersionCounter.incrementAndGet()
        }
      }
    } finally gcStage(fs, stage)
  }

  /** Delete a staging dir, outside any swap window. A failed delete
    * leaks a hidden temp dir, not consistency; it never masks the
    * mutation's own outcome. */
  private def gcStage(fs: org.apache.hadoop.fs.FileSystem, stage: org.apache.hadoop.fs.Path): Unit =
    try fs.delete(stage, true): Unit
    catch { case NonFatal(e) =>
      System.err.println(s"[store] stage GC failed, leaking $stage: $e") }

  /** Walk a partitioned tree: every `bucket=/entry=/dt=` leaf dir with
    * its tree-relative path. One serial listing pass — the listing is
    * O(buckets + entries) calls; the per-dir WORK it feeds is what
    * [[parallelFs]] spreads. A dir deleted mid-walk is skipped. */
  private def partitionDirs(fs: org.apache.hadoop.fs.FileSystem,
      tree: org.apache.hadoop.fs.Path): Seq[(org.apache.hadoop.fs.Path, String)] = {
    def sub(p: org.apache.hadoop.fs.Path, prefix: String) =
      listQuiet(fs, p).filter(st => st.isDirectory && st.getPath.getName.startsWith(prefix))
    for {
      b <- sub(tree, "bucket=")
      e <- sub(b.getPath, "entry=")
      d <- sub(e.getPath, "dt=")
    } yield (d.getPath,
      s"${b.getPath.getName}/${e.getPath.getName}/${d.getPath.getName}")
  }

  private def listQuiet(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
    try fs.listStatus(p).toSeq
    catch { case _: java.io.FileNotFoundException => Seq.empty }

  /** (bucket, entry, dt) of a tree-relative `bucket=/entry=/dt=` path. */
  private def partitionKey(rel: String): (String, String, String) = {
    val Array(b, e, d) = rel.split('/')
    (unescapePartition(b.stripPrefix("bucket=")),
      unescapePartition(e.stripPrefix("entry=")), d.stripPrefix("dt="))
  }

  /** Drop the overlay dirs mirroring the given base partitions — runs
    * inside a rewrite-swap window (the caller's `extraSwapActions`).
    * Only partitions in the overlay scope are touched: a rewrite of
    * partitions that were never patched deletes nothing, keeps the agg
    * cached and the row count known. */
  private[graft] def purgeOverlayDirs(
      affected: Iterable[(String, String, String)],
      /** the overlay rows those partitions hold, when the caller read
        * them in this mutation section: the row count stays known */
      overlayRows: Option[Long] = None): Unit = {
    val scope = overlayScope()
    val doomed = affected.iterator.filter(scope).toSeq.distinct
    if (doomed.isEmpty) return
    val fs = overlayRootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def dtDir(b: String, e: String, d: String) = new org.apache.hadoop.fs.Path(
      s"$root/$LabelsDir/bucket=${escapePartition(b)}/entry=${escapePartition(e)}/dt=$d")
    val rowsBefore = overlayRowsApprox.getAndSet(-1L) // unknown until the deletes land
    var deleted = false
    try {
      parallelFs(doomed) { case (b, e, d) => fs.delete(dtDir(b, e, d), true): Unit }
      deleted = true
      // GC empty parent skeletons so the scope walk never grows with
      // dead entry/bucket dirs
      gcEmptyParents(fs, doomed.map(a => (a._1, a._2)).toSet[(String, String)]
        .map { case (b, e) => dtDir(b, e, "x").getParent })
    } finally {
      // the overlay changed mid-mutation; after a failed delete the
      // scope is re-listed rather than guessed
      if (deleted) {
        overlayChanged(scope -- doomed)
        for (n <- overlayRows if rowsBefore >= 0L) overlayRowsApprox.set(rowsBefore - n)
      } else invalidateOverlayAgg()
    }
  }

  /** Best-effort GC of empty `entry=` skeleton dirs (and their `bucket=`
    * parent if that empties too). Serial over DISTINCT parents, called
    * only after the parallel per-dt deletes joined — two threads GC'ing
    * one shared parent would race their exists/list/delete. Never fails
    * the surrounding swap: an un-GC'd empty dir is cosmetic. */
  private def gcEmptyParents(fs: org.apache.hadoop.fs.FileSystem,
      entryDirs: Iterable[org.apache.hadoop.fs.Path]): Unit =
    for (entryDir <- entryDirs) {
      try {
        if (fs.exists(entryDir) && fs.listStatus(entryDir).isEmpty) {
          fs.delete(entryDir, false)
          val bucketDir = entryDir.getParent
          if (fs.exists(bucketDir) && fs.listStatus(bucketDir).isEmpty)
            fs.delete(bucketDir, false): Unit
        }
      } catch { case NonFatal(_) => () }
    }

  /** Apply replicated label updates (the destination side of the
    * reference's UpdateRecord replication — remote_bucket sends them as
    * a PATCH batch, states/bucket_available.rs:79-88): rows are
    * (bucket, entry, ts, labels) with the FULL source-side label map.
    * Updates for records this store doesn't hold are skipped (the
    * reference's per-record error map — a destination only replicating
    * a subset legitimately lacks some keys). Routed through the same
    * size-gated patch path as local PATCHes, which also re-logs them to
    * `_updates/` — chained replications propagate. Returns applied rows. */
  def applyReplicatedLabels(updates: DataFrame): (Long, Long) = mutating {
    // a batch may carry STACKED updates for one key (several source
    // patches drained together): the highest source seq wins before
    // the destination mints its single seq — same-seq duplicate rows
    // would have a nondeterministic winner
    val latest = updates
      .groupBy("bucket", "entry", "ts")
      .agg(max_by(col("labels"), col("seq")).as("labels"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val total = latest.count()
      if (total == 0) return (0L, 0L)
      // prune the existence/current-labels lookup to the batch's own
      // partitions — a full-store scan per micro-batch would make small
      // frequent updates O(store) (review r15 pass 2)
      val affected = collectAffected(latest.select("bucket", "entry", "ts"))
      // map equality isn't orderable in Spark — compare sorted entries
      def canon(m: org.apache.spark.sql.Column) =
        array_sort(map_entries(coalesce(m, map().cast("map<string,string>"))))
      val patched = latest
        .join(prunedPartitionScan(affected) // effective dst labels
          .select(col("bucket"), col("entry"), col("ts"),
            col("labels").as("__cur")),
          Seq("bucket", "entry", "ts"), "inner")
        // no-op guard: an update that would not change the destination
        // neither applies nor re-logs. Besides skipping waste, this
        // TERMINATES self-referential configs (same store, identity
        // rename): the echo's second pass is all no-ops (review r15
        // pass 2 — without it, applied updates re-logged forever).
        .filter(canon(col("labels")) =!= canon(col("__cur")))
        .drop("__cur")
        .withColumn("seq", lit(overlaySeqCounter.incrementAndGet()))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val n = patched.count()
        if (n > 0) applyPatch(patched, n)
        // dropped = destination-missing records (the reference's
        // per-record error map) + already-current no-ops
        (n, total - n)
      } finally patched.unpersist()
    } finally latest.unpersist()
  }

  /** Fold the label overlay into the base files: every partition with
    * overlay rows is rewritten with effective labels and its overlay
    * dirs purged in the same swap. Public so operators/lifecycle can
    * compact eagerly; PATCH calls it automatically past
    * [[overlayFoldThreshold]]. Returns the folded overlay row count. */
  def foldLabelOverlay(): Long = mutating { foldOverlayLocked() }

  private def foldOverlayLocked(): Long = {
    val n = knownOverlayRows()
    if (n == 0L) return 0L
    val affected = overlayScope().toArray // every partition with overlay rows
    val rewritten = prunedPartitionScan(affected) // effective labels
    overwritePartitions(rewritten,
      extraSwapActions = () => purgeOverlayDirs(affected))
    overlayRowsApprox.set(0L) // fold purged every overlay partition
    n
  }

  /** Append a batch of records held in a DataFrame (streaming ingest,
    * the replication sink, entry renames). Keys are admitted before any
    * byte is written, one rule per mode:
    * @param onConflict Error → reject the batch if any (bucket,entry,ts)
    *        repeats within it or already exists (the reference's 409,
    *        entry.rs conflict): a key-only stats aggregate, then a clash
    *        join unless the store has no `bucket=` dir yet;
    *        Skip → drop conflicting rows (keep-first dedup + anti-join);
    *        Overwrite is intentionally not offered (records are
    *        immutable, only labels update).
    * Rows already on the driver take [[writeFolded]] instead.
    */
  def write(records: DataFrame, onConflict: Conflict = Conflict.Error,
      maxRecordsPerFile: Long = 1000000L,
      codec: Option[String] = None,
      incomingBytes: Long = -1L): Unit = mutating {
    // the global storage cap guards this mutator too — the reference
    // enforces it in engine::begin_write (engine.rs:226), which streaming
    // ingest also passes through. incomingBytes < 0 means the caller
    // doesn't know the payload size; with a cap set (rare — default
    // unlimited) it is computed with one agg over the batch, with no cap
    // this costs nothing.
    if (maxStorageSize.isDefined) {
      val bytes =
        if (incomingBytes >= 0L) incomingBytes
        else records.agg(coalesce(sum(length(col("payload"))), lit(0L)))
          .collect()(0).getLong(0)
      ensureStorageLimit(bytes)
    }
    val batch0 = records.select(Records.schema.fieldNames.map(col): _*)
    // batch-internal duplicate ts: reject (Error) or keep-first (Skip —
    // idempotent replay, e.g. re-delivered streaming micro-batches)
    val deduped = onConflict match {
      case Conflict.Skip =>
        antiExisting(batch0.dropDuplicates("bucket", "entry", "ts"))
      case Conflict.Error =>
        // one aggregation pass yields BOTH the in-batch-duplicate flag and
        // the ts bounds for the overlap check (was two scans)
        val stats = batch0
          .groupBy("bucket", "entry", "ts").count()
          .agg(max("count"), min("ts"), max("ts")).collect()(0)
        if (!stats.isNullAt(0) && stats.getLong(0) > 1) {
          val dup = batch0.groupBy("bucket", "entry", "ts").count()
            .filter(col("count") > 1).limit(1).collect()(0) // rare path
          throw new IllegalArgumentException(
            s"duplicate timestamp within batch: $dup")
        }
        if (!stats.isNullAt(1))
          existingInRange(stats.getLong(1), stats.getLong(2)).foreach { existing =>
            val clash = batch0.join(existing, Seq("bucket", "entry", "ts"))
              .limit(1).collect()
            if (clash.nonEmpty)
              throw new IllegalArgumentException(
                s"record already exists: ${clash(0)}")
          }
        batch0
    }
    // one task per output partition; `maxRecordsPerFile` still splits a
    // genuinely hot (entry, day)
    val writer = colocated(deduped, onePartition = false)
      .write
      .partitionBy("bucket", "entry", "dt")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .mode(SaveMode.Append)
    // per-write codec override (replication transfer compression); None
    // keeps the session default (zstd, set above)
    codec.fold(writer)(c => writer.option("compression", c)).parquet(root)
  }

  /** `batch` without the keys already stored (Conflict.Skip): one bounds
    * aggregate, then an anti-join against the stored keys in range. */
  private def antiExisting(batch: DataFrame): DataFrame = {
    val r = batch.agg(min("ts"), max("ts")).collect()(0)
    if (r.isNullAt(0)) batch
    else existingInRange(r.getLong(0), r.getLong(1)).fold(batch)(
      batch.join(_, Seq("bucket", "entry", "ts"), "left_anti"))
  }

  /** Stored (bucket, entry, ts) keys with ts in [lo, hi] — the store side
    * of both DataFrame admission rules (Error's clash join, Skip's
    * anti-join). None on a store with no `bucket=` directory yet: nothing
    * can clash, so the caller skips the join job entirely. */
  private def existingInRange(lo: Long, hi: Long): Option[DataFrame] =
    if (!baseHasBucketDirs()) None
    else Some(baseTableOrEmpty() // keys only
      .filter(col("ts").between(lo, hi))
      .select("bucket", "entry", "ts"))

  /** Batch-write convenience (the wire batch-protocol analog,
    * reduct_base/src/batch/v1.rs): records as (ts, labels, payload)
    * triples for one bucket/entry, written as one [[writeFolded]]
    * request. Like the wire batch, a clash is reported, not thrown: the
    * already-stored (and in-batch repeated) keys come back and the rest
    * lands. An admission failure (quota, storage cap, free disk) throws. */
  def writeBatch(bucket: String, entry: String,
      records: Seq[(Long, Map[String, String], Array[Byte])],
      contentType: String = "application/octet-stream"): Set[(String, Long)] =
    writeFolded(Seq(FoldReq(bucket, records.map { case (ts, labels, payload) =>
      FoldRec(entry, ts, labels, contentType, payload)
    }))).head.fold(throw _, identity)

  /** Coalesced serving write, and the store's one append for rows held
    * in driver memory (HTTP writes, `$system` flushes, Zenoh flushes,
    * [[writeBatch]]): many write requests folded into ONE store
    * mutation — one write per touched bucket instead of one per request
    * (SCALE.md r17: every HTTP mutation was one serialized ~0.5-0.8 s
    * Spark job on the store lock; the reference's analog batches writers
    * behind its single-owner engine too, storage/engine.rs). A bucket's
    * admitted rows are written on the driver ([[SmallWrite]]), where the
    * requests already hold them, and renamed into the base tree, with no
    * Spark job — the reference appends to its entry's block file
    * (storage/entry/write_record.rs).
    *
    * Semantics are EXACTLY serial execution in `reqs` order; admission
    * and landing are [[appendAdmitted]]'s. Returns one result per
    * request, positionally: the set of rejected (already-existing or
    * in-request repeated) record keys, or the admission/write failure.
    * Read-your-write visibility holds — the method returns only after
    * the shared write lands. */
  def writeFolded(reqs: Seq[BucketStore.FoldReq])
      : Seq[Either[Throwable, Set[(String, Long)]]] = mutating {
    val results = new Array[Either[Throwable, Set[(String, Long)]]](reqs.size)
    // group by bucket, preserving queue order within each group
    for ((bucket, group) <- reqs.zipWithIndex.groupBy(_._1.bucket)) {
      val out = appendAdmitted[BucketStore.FoldRec](bucket, group.map(_._1.recs),
          rec => (rec.entry, rec.ts), _.payload.length.toLong) { (recs, maxRecords, stage) =>
        // the rows are already on the driver, so they stage there
        stageRows(recs.map(rec => org.apache.spark.sql.Row(bucket, rec.entry, rec.ts,
          rec.labels, Map.empty[String, String], rec.contentType,
          Records.State.Finished, rec.payload)), Records.schema, maxRecords)(stage)
      }
      for (((_, idx), r) <- group.zip(out)) results(idx) = r
    }
    results.toSeq
  }

  /** The one append admission and landing, for one bucket's requests in
    * queue order (each a record sequence; `key` and `bytes` read a
    * record's (entry, ts) and payload size):
    *   - per-record conflict admission sees the store plus every record
    *     claimed by an earlier request or earlier in the same request
    *     (keep-first); keys above their entry's latest record are
    *     admitted from the entry catalog ([[mayBeStored]]), and one
    *     [[existingKeys]] lookup admits the belated rest, on the driver;
    *   - HARD quota / global storage cap / free-disk admission run per
    *     request with cumulative accounting, so a request that would
    *     have been rejected serially is rejected here (and only it);
    *   - a failed request never poisons its fold-mates: its records are
    *     excluded and its error returned in its slot;
    *   - the survivors of every admitted request are staged by
    *     `stager(survivors, maxRecordsPerFile, stageDir)` (the bucket's
    *     `max_block_records`) and land through [[appendTree]]; a FIFO
    *     quota then evicts. A failure there fails every admitted request.
    * The settings map as keep_quota_for does (bucket/quotas.rs:44-66):
    * HARD refuses with the reference's bad_request message, FIFO evicts
    * the oldest day partitions; `max_block_records` is the file rotation
    * (block rotation, storage.proto:47-63) and `max_block_size` is kept
    * for API parity only. Called inside the caller's mutation section. */
  private def appendAdmitted[R](bucket: String, reqs: Seq[Seq[R]],
      key: R => (String, Long), bytes: R => Long)(
      stager: (Seq[R], Long, org.apache.hadoop.fs.Path) => Unit)
      : Seq[Either[Throwable, Set[(String, Long)]]] = {
    val s = bucketSettings(bucket).getOrElse(BucketSettings.defaults)
    val quota = s.quotaSize.getOrElse(0L)
    val hard = s.quotaType.contains("HARD")
    var curBucketSize = if (hard && quota > 0) bucketSizeBytes(bucket) else 0L
    val existing = existingKeys(bucket, mayBeStored(bucket, reqs.flatMap(_.map(key))))
    var claimed = Set.empty[(String, Long)]
    var admittedBytes = 0L
    val results = Array.fill[Either[Throwable, Set[(String, Long)]]](reqs.size)(Right(Set.empty))
    val survivors = Vector.newBuilder[R]
    val admitted = Vector.newBuilder[Int]
    for ((recs, idx) <- reqs.zipWithIndex) {
      try {
        val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
        val (kept, clashed) = recs.partition { rec =>
          val k = key(rec)
          !existing(k) && !claimed(k) && seen.add(k)
        }
        val size = kept.iterator.map(bytes).sum
        if (hard && quota > 0 && curBucketSize + size > quota)
          throw new IllegalArgumentException(s"Quota of '$bucket' exceeded")
        maxStorageSize.foreach { limit =>
          if (storeSizeBytes + admittedBytes + size > limit)
            throw new IllegalStateException("storage limit exceeded")
        }
        checkFreeDiskSpace(admittedBytes + size)
        curBucketSize += size
        admittedBytes += size
        claimed ++= seen
        survivors ++= kept
        // a request whose records ALL conflicted is a committed no-op
        // (serially it would succeed with its 409 map regardless of any
        // later write) — keep it out of `admitted` so a shared-write
        // failure can't overwrite its Right(rejected) with Left(e)
        if (kept.nonEmpty) admitted += idx
        results(idx) = Right(clashed.iterator.map(key).toSet)
      } catch { case NonFatal(e) => results(idx) = Left(e) }
    }
    val rows = survivors.result()
    if (rows.nonEmpty) {
      try {
        val maxRecords = s.maxBlockRecords.filter(_ > 0).getOrElse(1000000L)
        appendTree(stager(rows, maxRecords, _), None)
        if (s.quotaType.contains("FIFO") && quota > 0)
          enforceFifoQuota(bucket, quota)
      } catch { case NonFatal(e) =>
        // the shared write failed: every admitted request in this bucket
        // shares the failure (none of their rows landed)
        for (idx <- admitted.result()) results(idx) = Left(e)
      }
    }
    results.toSeq
  }

  /** Coalesced label updates: concurrent batched PATCHes fold into one
    * overlay append per bucket ([[writeFolded]]'s amortization for the
    * update path; staged on the driver, see [[updateLabelsMatched]]). Each request is (bucket, updates); its
    * result is the set of ITS (entry, ts) keys that matched a record —
    * attribution via [[updateLabelsMatched]]'s key set, so the HTTP layer derives
    * BOTH the updated count and the per-record 404 map from the SAME
    * mutation (no separate existence pre-scan, no check-then-apply
    * race). Cross-request deltas on the same (entry, ts) compose in
    * queue order inside updateLabelsMatched, exactly the serial
    * outcome. A failed bucket append fails every request that touched
    * that bucket (infrastructure failure, not per-request admission —
    * serially each would have hit it too). */
  def updateLabelsFolded(
      reqs: Seq[(String, Seq[(String, Long, Map[String, String], Set[String])])])
      : Seq[Either[Throwable, Set[(String, Long)]]] = mutating {
    import scala.util.control.NonFatal
    val results = new Array[Either[Throwable, Set[(String, Long)]]](reqs.size)
    for ((bucket, group) <- reqs.zipWithIndex.groupBy(_._1._1)) {
      try {
        val matched =
          updateLabelsMatched(bucket, group.flatMap(_._1._2))
        for (((_, updates), idx) <- group)
          results(idx) = Right(
            updates.iterator.map(u => (u._1, u._2)).filter(matched).toSet)
      } catch { case NonFatal(e) =>
        for ((_, idx) <- group) results(idx) = Left(e)
      }
    }
    results.toSeq
  }

  /** Coalesced record removes: concurrent batched DELETEs fold into one
    * [[removeRecords]] per bucket (no Spark job under the cap). Each
    * request is (bucket, keys); its result maps each of ITS keys to
    * removed-or-missing. A key removed by an
    * EARLIER request in the fold reports false to later ones —
    * keep-first, exactly the serial outcome. */
  def removeFolded(reqs: Seq[(String, Seq[(String, Long)])])
      : Seq[Either[Throwable, Map[(String, Long), Boolean]]] = mutating {
    import scala.util.control.NonFatal
    val results =
      new Array[Either[Throwable, Map[(String, Long), Boolean]]](reqs.size)
    for ((bucket, group) <- reqs.zipWithIndex.groupBy(_._1._1)) {
      try {
        val removed = removeRecords(bucket,
          group.flatMap(_._1._2).distinct)
        var claimed = Set.empty[(String, Long)]
        for (((_, keys), idx) <- group) {
          results(idx) = Right(keys.map { k =>
            k -> (removed.getOrElse(k, false) && !claimed(k))
          }.toMap)
          claimed ++= keys.filter(k => removed.getOrElse(k, false))
        }
      } catch { case NonFatal(e) =>
        for ((_, idx) <- group) results(idx) = Left(e)
      }
    }
    results.toSeq
  }

  /** PATCH labels (storage/entry/update_labels.rs:14-36): merge `set` keys
    * over existing labels, drop `remove` keys, payload untouched —
    * LITERALLY: the patch appends (key, merged-labels, seq) rows to the
    * label overlay (see [[overlayFoldThreshold]]), base parquet files are
    * not rewritten, so write cost ∝ label bytes exactly like the
    * reference's descriptor-only rewrite. Past the fold threshold the
    * overlay compacts into the base (amortized).
    */
  def updateLabels(spec: QuerySpec, set: Map[String, String],
      remove: Set[String] = Set.empty): Long = mutating {
    val all = table(spec)
    val patch =
      if (set.isEmpty) map().cast("map<string,string>")
      else map(set.toSeq.flatMap { case (k, v) => Seq(lit(k), lit(v)) }: _*)
    val dropKeys = array((remove ++ set.keys).toSeq.map(lit(_)): _*)
    val patched = QueryEngine.matching(all, spec)
      .select(col("bucket"), col("entry"), col("ts"),
        map_concat(
          map_filter(coalesce(col("labels"), map().cast("map<string,string>")),
            (k, _) => !array_contains(dropKeys, k)),
          patch).as("labels"))
      .withColumn("seq", lit(overlaySeqCounter.incrementAndGet()))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = patched.count()
      if (n == 0) return 0
      applyPatch(patched, n)
      n
    } finally patched.unpersist()
  }

  /** Route a computed patch (key + merged labels + seq): small patches
    * append to the overlay (payload untouched — the common curation
    * shape); a patch ALREADY past the fold threshold would append and
    * immediately fold — strictly more work than rewriting once — so bulk
    * patches take the direct pruned-partition rewrite (folding any older
    * overlay rows for those partitions in the same swap, since
    * [[prunedPartitionScan]] is effective and the new labels override). */
  private def applyPatch(patched: DataFrame, n: Long,
      /** the patch's (bucket, entry, dt) partitions, when the caller
        * holds them on the driver */
      known: Option[Array[(String, String, String)]] = None,
      /** the patch's rows ([[overlayRowSchema]]), when the caller holds
        * them on the driver: a small overlay append stages them there */
      rows: Option[Seq[org.apache.spark.sql.Row]] = None): Unit = {
    val onePartition = known.exists(_.length == 1)
    // the UPDATE transaction log (the reference's replication analog of
    // Transaction::UpdateRecord, replication.rs:27): BOTH patch paths
    // record the patched (key, labels, seq) rows under `_updates/`, an
    // append-only hidden tree replication streams to propagate label
    // updates to destinations (api/http/entry/update_single.rs:84).
    // Cost ∝ label data; grows with patch history until pruned with the
    // entry/bucket it belongs to. The overlay path logs from the SAME
    // staged write (appendOverlay copies the staged files); the bulk
    // path runs the one extra small job.
    if (n <= overlayFoldThreshold) {
      val before = knownOverlayRows() // O(1) once seeded
      val stageWith = rows.fold(stageFrame(patched, onePartition) _)(
        rs => stageRows(rs, overlayRowSchema) _)
      try appendOverlay(stageWith) // also feeds _updates/
      catch { case NonFatal(e) =>
        overlayRowsApprox.set(-1L) // partial landing: count unknown
        throw e
      }
      overlayRowsApprox.set(before + n)
      if (before + n > overlayFoldThreshold) foldOverlayLocked(): Unit
    } else {
      if (updateLogEnabled)
        appendTree(stageFrame(patched, onePartition), Some(UpdatesDir)) // log only
      val affected = known.getOrElse(collectAffected(patched.select("bucket", "entry", "ts")))
      val rewritten = prunedPartitionScan(affected)
        .join(patched.drop("seq").withColumnRenamed("labels", "__new_labels"),
          Seq("bucket", "entry", "ts"), "left")
        .withColumn("labels", coalesce(col("__new_labels"), col("labels")))
        .drop("__new_labels")
      overwritePartitions(rewritten, dropMissingFrom = affected,
        extraSwapActions = () => purgeOverlayDirs(affected))
    }
  }

  /** Bulk export: run `spec` and write the result as TOTALLY ORDERED
    * parquet shards under `outPath` (shard i's every (ts, entry) key
    * precedes shard i+1's; rows sorted inside each), returning one
    * manifest row per non-empty shard.
    *
    * This is the 100-TB bulk-read path the cursor surface can't be:
    * cursors drain through the driver via toLocalIterator — correct for
    * the reference's paged-fetch parity, but a driver-width bottleneck
    * for a full-corpus read. Here the rows never touch the driver: ONE
    * range exchange on (ts, entry) (sampled boundaries, explicit shard
    * count so AQE never re-coalesces the layout) and parallel sorted
    * writes, the same shape as [[graft.pipeline.Packing.orderedShards]].
    * The query's own global sort is skipped (queryUnordered) — the
    * range exchange IS the ordering step, not a second one.
    *
    * Consumers resume by shard id + the manifest's ts bounds. NOT under
    * [[mutating]]: exports are reads; racing mutations are handled by
    * the same snapshot-or-retry contract as any other read. */
  /** The export's DataFrame plan, pre-write — factored out so PlanSpec
    * can assert the shape: exactly ONE exchange (the range exchange IS
    * the ordering step; queryUnordered contributes no global sort). */
  private[graft] def exportPlan(spec: QuerySpec, nShards: Int): DataFrame =
    QueryEngine.queryUnordered(table(), spec)
      .repartitionByRange(nShards, col("ts"), col("entry"))
      .sortWithinPartitions("ts", "entry")
      .withColumn("shard", spark_partition_id().cast("long"))

  def exportShards(spec: QuerySpec, outPath: String,
      nShards: Int = 32): Seq[BucketStore.ShardInfo] = {
    require(nShards > 0, s"nShards must be positive, got $nShards")
    val out = new org.apache.hadoop.fs.Path(outPath)
    val ofs = out.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // serialize exports PER OUTPUT PATH: two concurrent exports to the
    // same target (HTTP overwrite retries, library callers) would
    // interleave the delete+write below and corrupt each other's tree
    // and manifest — the HTTP-level existence check is admission, not a
    // guard. Striped process-wide monitors: bounded memory, and
    // distinct paths almost never share a stripe (exports are
    // heavyweight, collisions just serialize two of them)
    BucketStore.exportPathLock(ofs.makeQualified(out).toUri.toString)
      .synchronized { exportShardsLocked(spec, outPath, nShards, out, ofs) }
  }

  private def exportShardsLocked(spec: QuerySpec, outPath: String,
      nShards: Int, out: org.apache.hadoop.fs.Path,
      ofs: org.apache.hadoop.fs.FileSystem): Seq[BucketStore.ShardInfo] = {
    readConsistent {
      // an export is a fresh materialization: clear the target first.
      // The session runs partitionOverwriteMode=dynamic, under which
      // mode(Overwrite).partitionBy replaces only the shard= dirs the
      // NEW write produces — a re-export (client retry, or this
      // readConsistent block re-running after a racing mutation) with
      // fewer non-empty shards would otherwise leave the previous
      // run's extra shard dirs mixed into the tree and the manifest.
      ofs.delete(out, true)
      exportPlan(spec, nShards)
        .write.partitionBy("shard")
        .mode(SaveMode.Overwrite)
        .parquet(outPath)
    }
    // zero-row export: legitimate (a spec past all data); the output
    // tree holds only _SUCCESS and schema inference would throw
    val hasShards = ofs.exists(out) && ofs.listStatus(out)
      .exists(st => st.isDirectory && st.getPath.getName.startsWith("shard="))
    if (!hasShards) return Seq.empty
    // manifest from the WRITTEN tree (one cheap scan of shard stats;
    // re-deriving from the query plan would recompute the export)
    spark.read.parquet(outPath)
      // partition discovery infers the dir value as int — pin to long
      .groupBy(col("shard").cast("long").as("shard"))
      .agg(count(lit(1)).as("rows"), min("ts").as("min_ts"), max("ts").as("max_ts"))
      .orderBy("shard")
      .collect() // ≤ nShards rows — bounded driver aggregate
      .map(r => BucketStore.ShardInfo(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3)))
      .toSeq
  }

  /** Query-as-delete (remove_records.rs:62-160): rewrite only affected
    * partitions without the matching rows; returns removed count. */
  def removeQuery(spec: QuerySpec): Long = mutating {
    // match phase: a when-condition that can't observe labels (&ref /
    // $ref / $exists / #ext) selects identical keys on the BASE table,
    // so the common time-range / $each_n / retention removes skip the
    // overlay broadcast join AND the overlay-agg build while patches
    // are outstanding. The rewrite below still folds effective labels
    // into the affected partitions either way (purge invariant).
    val all = if (specReadsLabels(spec)) table(spec) else baseTable()
    val matched = QueryEngine.matching(all, spec).select("bucket", "entry", "ts")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one job yields both the count and the affected-partition list,
      // materialized before any file is touched
      val perPartition = matched.withColumn("dt", dtCol)
        .groupBy("bucket", "entry", "dt").count().collect()
      val n = perPartition.iterator.map(_.getLong(3)).sum
      if (n == 0) return 0
      val affected = perPartition.map(r =>
        (r.getString(0), r.getString(1), r.getDate(2).toString))
      // survivors are consumed by exactly one action — the staged write
      // inside overwritePartitions. No localCheckpoint: checkpointing
      // the survivor set materializes (corpus - removed) bytes into
      // executor-local storage, the PB-scale hazard the rewrite seam
      // exists to avoid. Partitions whose every record matched are
      // absent from the staged tree; dropMissingFrom deletes them in
      // the same swap window, so a consistent reader sees the whole
      // removal or none of it.
      val survivors = prunedPartitionScan(affected)
        .join(matched, Seq("bucket", "entry", "ts"), "left_anti")
      overwritePartitions(survivors,
        dropMissingFrom = affected,
        // survivors carry folded effective labels; purging the affected
        // overlay dirs in the SAME swap keeps the live-records-only
        // invariant (a later re-write of a removed ts must not see
        // stale overlay labels)
        extraSwapActions = () => purgeOverlayDirs(affected))
      n
    } finally matched.unpersist()
  }

  /** Batched per-record label updates (the io v2 PATCH verb): each key
    * carries its own set/remove delta; ONE overlay append applies them
    * all. Returns the (entry, ts) keys found and patched — the folded
    * variant attributes matches back to each folded request. The keys
    * come from HTTP headers, so the batch is driver-sized: the current
    * labels of the requested keys are read on the driver
    * ([[storedLabels]]), merged here, and the merged rows appended.
    * The append stages on the driver too, so a patch runs no Spark job. */
  def updateLabelsMatched(bucket: String,
      updates0: Seq[(String, Long, Map[String, String], Set[String])])
      : Set[(String, Long)] = mutating {
    if (updates0.isEmpty) return Set.empty
    // compose duplicate (entry, ts) deltas IN ORDER first — one overlay
    // row per key, so no same-seq rows with a nondeterministic winner and
    // no inflated match count. Composition: later sets win,
    // later removes drop earlier sets, a later set resurrects an earlier
    // remove (apply-in-order).
    val updates = updates0.groupBy(u => (u._1, u._2)).values.map { vs =>
      vs.reduce { (a, b) =>
        (a._1, a._2, (a._3 -- b._4) ++ b._3, (a._4 ++ b._4) -- b._3.keySet)
      }
    }.toSeq
    val current = storedLabels(bucket, updates.map(u => (u._1, u._2)))
    if (current.isEmpty) return Set.empty
    val seq = overlaySeqCounter.incrementAndGet()
    // merge = drop `remove` keys, then `set` wins: the reference's
    // update_labels.rs:14-36 semantics
    val rows = updates.collect { case (e, ts, set, remove) if current.contains((e, ts)) =>
      org.apache.spark.sql.Row(bucket, e, ts, (current((e, ts)) -- remove) ++ set, seq)
    }
    import scala.jdk.CollectionConverters._
    applyPatch(spark.createDataFrame(rows.asJava, overlayRowSchema), rows.size.toLong,
      known = Some(current.keysIterator.map { case (e, ts) => (bucket, e, dtOf(ts)) }
        .toArray.distinct),
      rows = Some(rows))
    current.keySet
  }

  /** The stored-record filter for `keys` of `bucket`: entry partition
    * pruning, the ts range for row-group stats, the exact ts list. */
  private def keysIn(bucket: String, keys: Seq[(String, Long)]) = {
    val tss = keys.map(_._2).distinct
    col("bucket") === bucket && col("entry").isin(keys.map(_._1).distinct: _*) &&
      col("ts").between(tss.min, tss.max) && col("ts").isin(tss: _*)
  }

  /** Effective labels of the stored records among `keys` of `bucket`:
    * the base rows, plus the raw rows of the overlay partitions in scope
    * that hold these keys' days, the highest seq winning. Read on the
    * driver ([[keyRead]]) with no job; candidate files past the cap take
    * one Spark job. No overlay aggregate is built or broadcast. */
  private def storedLabels(bucket: String, keys: Seq[(String, Long)])
      : Map[(String, Long), Map[String, String]] =
    keyRead(bucket, keys, labels = true).getOrElse {
      val BaseSeq = Long.MinValue
      val base = baseTableOrEmpty().filter(keysIn(bucket, keys))
        .select(col("entry"), col("ts"), col("labels"), lit(BaseSeq).as("seq"))
      val scope = overlayScope()
      val overlayDirs = keys.map { case (e, ts) => (bucket, e, dtOf(ts)) }.distinct
        .filter(scope).map { case (b, e, d) =>
          s"$overlayRootPath/bucket=${escapePartition(b)}/entry=${escapePartition(e)}/dt=$d" }
      val rows =
        if (overlayDirs.isEmpty) base
        else base.unionByName(spark.read.schema(overlayStoredSchema)
          .option("basePath", overlayRootPath.toString).parquet(overlayDirs: _*)
          .filter(keysIn(bucket, keys)).select("entry", "ts", "labels", "seq"))
      val wanted = keys.toSet
      rows.collect().groupBy(r => (r.getString(0), r.getLong(1))).collect {
        case (k, rs) if wanted(k) && rs.exists(_.getLong(3) == BaseSeq) =>
          val latest = rs.maxBy(_.getLong(3))
          k -> Option(latest.getMap[String, String](2)).fold(Map.empty[String, String])(_.toMap)
      }
    }

  /** Which (entry, ts) keys of `bucket` are already stored — the
    * driver-side admission behind every serving write (the coalesced
    * [[writeFolded]] and the spooled [[writeStagedSlices]]) and their
    * per-record 409 error maps (write_batched.rs / io/write.rs report per
    * record instead of failing the batch). Keys come from HTTP headers,
    * so the lookup is driver-sized: it reads on the driver
    * ([[keyRead]]) with no job; candidate files past the cap take one
    * Spark scan (entry partition pruning + ts dictionary filter). */
  def existingKeys(bucket: String,
      keys: Seq[(String, Long)]): Set[(String, Long)] = {
    if (keys.isEmpty) return Set.empty
    keyRead(bucket, keys, labels = false).fold {
      val hits = baseTableOrEmpty().filter(keysIn(bucket, keys))
        .select("entry", "ts").collect()
        .map(r => (r.getString(0), r.getLong(1))).toSet
      hits.intersect(keys.toSet)
    }(_.keySet)
  }

  /** The stored records among `keys` of `bucket`, read on the driver
    * ([[SmallRead]]): the base files of the keys' (entry, day)
    * partitions whose footer `ts` bounds hold one of their keys, only
    * the row groups whose statistics do, and the `ts` column — plus
    * `labels` and the in-scope overlay rows (the highest `seq` winning;
    * a null map reads empty) with `labels`, else empty maps. None when
    * the candidate files hold more than [[QueryRegistry.MaxBoundedBytes]]
    * uncompressed: the caller scans with Spark. Callers run inside the
    * mutation section, so no swap races the read. */
  private def keyRead(bucket: String, keys: Seq[(String, Long)], labels: Boolean)
      : Option[Map[(String, Long), Map[String, String]]] = {
    val wanted = keys.groupBy { case (e, ts) => (e, dtOf(ts)) }
      .map { case (k, ks) => k -> ks.map(_._2).toSet }
    val byEntry = keys.groupBy(_._1).map { case (e, ks) => e -> ks.map(_._2).toSet }
    def holdsKey(tss: Set[Long])(lo: Long, hi: Long): Boolean = tss.exists(ts => ts >= lo && ts <= hi)
    val partFiles = baseFiles(baseTableOrEmpty(), pruning(Some(bucket), Some(byEntry.keySet)))
      .filter(f => f._1 == bucket && wanted.contains((f._2, f._3)))
    val (figures, _) = footerFigures(partFiles.map(_._4))
    val files = partFiles.filter { f =>
      val fig = figures(f._4.getPath.toString)
      fig.rows > 0 && holdsKey(wanted((f._2, f._3)))(fig.minTs, fig.maxTs)
    }
    if (files.iterator.map(f => figures(f._4.getPath.toString).bytes).sum >
        QueryRegistry.MaxBoundedBytes) return None
    val decoded = decodeFiles(files.map(_._4), if (labels) Seq("ts", "labels") else Seq("ts"),
      i => holdsKey(wanted((files(i)._2, files(i)._3))))
    val found = for {
      (f, values) <- files.zip(decoded)
      v <- values
      ts = v(0).asInstanceOf[Long]
      if wanted((f._2, f._3))(ts)
    } yield (f._2, ts) -> (if (labels) v(1).asInstanceOf[Map[String, String]] else Map.empty[String, String])
    val patched =
      if (!labels) Map.empty[(String, String, Long), Map[String, String]]
      else overlayLabels(found.map { case ((e, ts), _) => (bucket, e, dtOf(ts)) },
        (_, e) => holdsKey(byEntry(e)))._1
    Some(found.iterator.map { case (k @ (e, ts), base) =>
      k -> Option(patched.getOrElse((bucket, e, ts), base)).getOrElse(Map.empty[String, String])
    }.toMap)
  }

  /** The keys among `keys` of `bucket` that could already be stored:
    * those at or below their entry's catalog latest. A key of an entry
    * the catalog lacks, or above its latest record, is an append and
    * cannot clash — the reference's common write path; only a belated
    * write looks for clashes (entry/write_record.rs:92-160). Read inside
    * the caller's mutation section, before its own write, so the
    * catalog is the store's current state. */
  private def mayBeStored(bucket: String,
      keys: Seq[(String, Long)]): Seq[(String, Long)] = {
    val stored = entryCatalog().getOrElse(bucket, BucketStore.BucketEntries.Empty).all
    keys.filter { case (e, ts) => stored.get(e).exists(ts <= _.latest) }
  }

  /** Remove records by explicit (entry, ts) keys (remove_records.rs:34-60,
    * the ts-list form); returns per-key found/not-found. Planned from the
    * keys on the driver: [[existingKeys]] reads them there, and the
    * affected partitions follow from the found keys' days. When those
    * partitions' files fit the driver cap ([[fitsDriver]]) the survivors
    * are read ([[rowsOnDriver]]) and staged on the driver, so the remove
    * runs no Spark job; otherwise the rewrite is one Spark job whose
    * survivors filter is a literal per-entry ts list (keys come from
    * HTTP headers, so the lists stay small). Either staged tree lands
    * through the one partition swap ([[swapPartitions]]). */
  def removeRecords(bucket: String,
      keys: Seq[(String, Long)]): Map[(String, Long), Boolean] = mutating {
    if (keys.isEmpty) return Map.empty
    val found = existingKeys(bucket, keys)
    if (found.nonEmpty) {
      val affected = found.iterator.map { case (e, ts) => (bucket, e, dtOf(ts)) }
        .toArray.distinct
      val files = baseFiles(baseTableOrEmpty(), pruning(Some(bucket), Some(found.map(_._1))))
        .filter(f => affected.contains((f._1, f._2, f._3)))
      val (figures, _) = footerFigures(files.map(_._4))
      val (stageWith, overlayRows): (org.apache.hadoop.fs.Path => Unit, Option[Long]) =
        if (fitsDriver(files.iterator.map(f => figures(f._4.getPath.toString).bytes).sum)) {
          val (rows, overlayRead) = rowsOnDriver(files)
          (stageRows(rows.filterNot(r => found((r.getString(1), r.getLong(2)))),
            rewriteSchema) _, Some(overlayRead))
        } else {
          val doomed = found.groupBy(_._1).map { case (e, ks) =>
            col("entry") === e && col("ts").isin(ks.iterator.map(_._2).toSeq: _*)
          }.reduce(_ || _)
          // one action (the staged write) — no localCheckpoint, see
          // removeQuery
          (stageFrame(prunedPartitionScan(affected).filter(!doomed),
            onePartition = affected.length == 1) _, None)
        }
      // fully-emptied partitions drop via dropMissingFrom
      swapPartitions(stageWith, Nil, dropMissingFrom = affected,
        extraSwapActions = () => purgeOverlayDirs(affected, overlayRows))
    }
    keys.map(k => k -> found(k)).toMap
  }

  /** The record columns a partition rewrite reads, in [[Records.schema]]
    * order after `bucket` and `entry`. */
  private val RecordColumns = Seq("ts", "labels", "computed_labels", "content_type", "state", "payload")

  /** The schema of rewritten partitions' rows: [[Records.schema]] with
    * every column nullable, as the Spark rewrite's scan reads it. */
  private val rewriteSchema = org.apache.spark.sql.types.StructType(
    Records.schema.map(_.copy(nullable = true)))

  /** Every row of the base `files` — every column, every state — with
    * its effective labels (the in-scope overlay rows, highest `seq`
    * winning, as [[prunedPartitionScan]] joins them), read on the
    * driver, and the number of overlay rows read. */
  private def rowsOnDriver(files: Seq[(String, String, String, org.apache.hadoop.fs.FileStatus)])
      : (Seq[org.apache.spark.sql.Row], Long) = {
    val decoded = decodeFiles(files.map(_._4), RecordColumns, _ => (_, _) => true)
    val (labels, overlayRows) = overlayLabels(files.map(f => (f._1, f._2, f._3)),
      (_, _) => (_, _) => true)
    val rows = for ((f, values) <- files.zip(decoded); v <- values) yield {
      val ts = v(0).asInstanceOf[Long]
      v(1) = labels.get((f._1, f._2, ts)).flatMap(Option(_)).getOrElse(v(1))
      org.apache.spark.sql.Row.fromSeq(Seq(f._1, f._2) ++ v)
    }
    (rows, overlayRows)
  }

  private def collectAffected(matched: DataFrame): Array[(String, String, String)] =
    matched.withColumn("dt", dtCol).select("bucket", "entry", "dt").distinct()
      .collect().map(r => (r.getString(0), r.getString(1), r.getDate(2).toString))

  /** Scan exactly the given (bucket, entry, dt) partitions, `dt` dropped.
    * The isin filters are on PARTITION columns, so they prune at the file
    * index — the rewrite never touches unaffected partitions' files. The
    * single-column isin sets over-approximate the tuple set; the exact
    * tuple filter runs on top (cheap: it only sees pruned rows).
    *
    * A rewrite spanning a huge partition set would bloat the plan with
    * isin literals; past the threshold the exact filter switches to a
    * broadcast semi-join, keeping only the (coarser, but still pruning)
    * distinct-value isin lists in the plan. */
  private val PruneListMax = 1000

  /** Pruned scans feed partition REWRITES, so they return EFFECTIVE rows
    * (overlay applied): every rewrite folds outstanding label patches
    * into the files it recreates. Callers purge the matching overlay
    * dirs in the swap (idempotent if skipped — a folded overlay row
    * re-applies the labels the base now already has). */
  private def prunedPartitionScan(affected: Array[(String, String, String)]): DataFrame =
    overlaid(prunedPartitionScanBase(affected), affected.exists(overlayScope()))

  private def prunedPartitionScanBase(affected: Array[(String, String, String)]): DataFrame =
    if (affected.length <= PruneListMax) prunedPartitionScanIsin(affected)
    else {
      import scala.jdk.CollectionConverters._
      val keyDf = spark.createDataFrame(
        affected.map { case (b, e, d) =>
          org.apache.spark.sql.Row(b, e, java.sql.Date.valueOf(d)) }.toSeq.asJava,
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("bucket", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("entry", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("dt", org.apache.spark.sql.types.DateType))))
      spark.read.schema(storedSchema).parquet(root)
        .filter(col("bucket").isin(affected.map(_._1).distinct.toSeq: _*) &&
          col("dt").cast("string").isin(affected.map(_._3).distinct.toSeq: _*))
        .join(broadcast(keyDf), Seq("bucket", "entry", "dt"), "left_semi")
        .drop("dt")
    }

  private def prunedPartitionScanIsin(affected: Array[(String, String, String)]): DataFrame = {
    val bs = affected.map(_._1).distinct.toSeq
    val es = affected.map(_._2).distinct.toSeq
    val ds = affected.map(_._3).distinct.toSeq
    val keys = affected.map { case (b, e, d) => s"$b\u0001$e\u0001$d" }.toSet
    val keyCol = concat_ws("\u0001", col("bucket"), col("entry"), col("dt").cast("string"))
    spark.read.schema(storedSchema).parquet(root)
      .filter(col("bucket").isin(bs: _*) && col("entry").isin(es: _*) &&
        col("dt").cast("string").isin(ds: _*))
      .filter(keyCol.isin(keys.toSeq: _*))
      .drop("dt")
  }

  private def deletePartitionDir(bucket: String, entry: String, dt: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(
      s"$root/bucket=${escapePartition(bucket)}/entry=${escapePartition(entry)}/dt=$dt")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
  }

  /** Rewrite the partitions present in `records` via sibling-dir staging
    * + per-partition rename swap. The job reads the live tree and writes
    * `_rewrite/<uuid>` — input and output paths never overlap, so the
    * rewrite set needs no lineage cut and is never materialized into
    * executor storage (the PB-scale risk of in-place dynamic overwrite:
    * a localCheckpoint of the whole rewritten data). Each staged
    * partition dir then swaps in with two renames: the old dir parks
    * INSIDE the staging dir (underscore-prefixed → invisible to parquet
    * partition discovery, never parsed as a partition value) and is
    * deleted with it. Renames are atomic per partition on posix/HDFS;
    * object stores without atomic rename would keep the in-place path.
    *
    * `records` is consumed by exactly ONE action here (the staged
    * write, pre-swap), so callers need no localCheckpoint — a remove
    * that checkpoints its survivor set materializes up to the whole
    * corpus into executor-local storage, the very risk above. A caller
    * that would read `records` AFTER the swap must still materialize it
    * first — recomputing post-swap resolves against a changed tree.
    *
    * `dropMissingFrom`: partitions the mutation touched — `records` lie
    * in them; any of them ABSENT from the staged tree (every record
    * removed) is deleted in the same swap window. This is derived from
    * the staged dirs, so callers don't need a second pass over `records`
    * to learn which partitions survived. One touched partition is
    * staged by one task with no exchange ([[colocated]]).
    *
    * `private[graft]` so lifecycle compaction reuses this seam (its
    * rewrite must land inside the same odd-epoch window readers retry
    * on); `writerOptions` carries its codec/level writer settings. */
  private[graft] def overwritePartitions(records: DataFrame,
      dropAfter: Iterable[(String, String, String)] = Nil,
      dropMissingFrom: Iterable[(String, String, String)] = Nil,
      writerOptions: Map[String, String] = Map.empty,
      extraSwapActions: () => Unit = () => ()): Unit =
    swapPartitions(stageFrame(records, onePartition = dropMissingFrom.size == 1, writerOptions),
      dropAfter, dropMissingFrom, extraSwapActions)

  /** The swap of [[overwritePartitions]]: `stageWith` writes the
    * rewritten partitions into a fresh staging dir — a Spark job
    * ([[stageFrame]]) or the driver ([[stageRows]]) — and each staged
    * partition dir then replaces its live one inside one odd-epoch
    * window. */
  private def swapPartitions(stageWith: org.apache.hadoop.fs.Path => Unit,
      dropAfter: Iterable[(String, String, String)],
      dropMissingFrom: Iterable[(String, String, String)],
      extraSwapActions: () => Unit): Unit = {
    val stage = newStage()
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try {
      stageWith(stage)
      crashSeamForTest("overwrite:staged")
      // every reader-visible change of the mutation — partition renames
      // AND the fully-emptied-dir deletes — lands inside ONE odd-epoch
      // window, so [[readConsistent]] callers see the whole mutation or
      // none of it, never a mix. The staging write above ran outside
      // the window: the window holds only renames/deletes (milliseconds).
      rewriteEpochCounter.incrementAndGet() // odd: swap in flight
      try {
        val rootPath = new org.apache.hadoop.fs.Path(root)
        val parked = new java.util.concurrent.atomic.AtomicInteger(0)
        val dirs = partitionDirs(fs, stage)
        // touched partitions the staged tree does NOT recreate were fully
        // emptied by the mutation — drop them in the same window
        val stagedRels = dirs.map(_._2).toSet
        val emptied = dropMissingFrom.filterNot { case (b, e, d) =>
          stagedRels(s"bucket=${escapePartition(b)}/entry=${escapePartition(e)}/dt=$d") }
        // independent per-dir swaps issued in parallel: the odd-epoch
        // window readers retry on now lasts O(dirs / parallelism) fs ops
        // instead of O(dirs) (each swap stays atomic per dir; the park
        // names are unique via the atomic counter)
        parallelFs(dirs) { case (d, rel) =>
          val live = new org.apache.hadoop.fs.Path(rootPath, rel)
          fs.mkdirs(live.getParent)
          if (fs.exists(live))
            fs.rename(live, new org.apache.hadoop.fs.Path(
              stage, s"old-${parked.incrementAndGet()}"))
          fs.rename(d, live)
        }
        val drops = (dropAfter ++ emptied).toSeq
        parallelFs(drops) { case (db, de, ddt) =>
          deletePartitionDir(db, de, ddt) }
        // GC empty entry/bucket skeleton dirs left by the drops —
        // remove-heavy stores would otherwise accumulate dead entry dirs
        // that every partition-discovery listing walks
        gcEmptyParents(fs, drops.map(d => (d._1, d._2)).toSet[(String, String)]
          .map { case (db, de) => new org.apache.hadoop.fs.Path(
            s"$root/bucket=${escapePartition(db)}/entry=${escapePartition(de)}") })
        crashSeamForTest("overwrite:swapped")
        extraSwapActions() // e.g. overlay-dir purge — same swap window
      } finally {
        // settle FIRST, unconditionally: a failed stage-dir GC must never
        // leave the epoch odd (readers would spin on a consistent tree)
        rewriteEpochCounter.incrementAndGet() // even: settled
      }
      // the stage dir (incl. parked old dirs renamed into it mid-swap) is
      // invisible to the live tree: its GC runs outside the window
    } finally gcStage(fs, stage)
  }

  /** Entry catalog: record count and oldest/latest ts per (bucket,
    * entry), folded on the driver from the Parquet footers of the files
    * in [[baseTable]]'s cached file index — no Spark job — beside each
    * entry's file bytes and file count, read from the same listing. Each
    * file adds its row-group row counts and the min/max of its `ts`
    * column-chunk statistics; label patches cannot move these figures,
    * so the overlay is not read. It is the one source of `/info`,
    * `/list`, bucket info, the usage snapshot, the size figures and
    * quotas ([[bucketSizeBytes]], [[storeSizeBytes]], [[entryStats]]),
    * [[entries]] and the serving writers' append rule ([[mayBeStored]]).
    * Cached per [[dataVersion]]: a build that overlapped a mutation
    * serves its caller but is not installed, and a build that throws
    * installs nothing. Exact after every mutator by construction: it is
    * a function of the current file listing, with no per-mutator
    * bookkeeping. */
  private val catalogCache = new java.util.concurrent.atomic.AtomicReference[
    (Long, Map[String, BucketStore.BucketEntries])]()
  /** Build count — observable by specs pinning one build per version. */
  private[graft] val catalogBuilds = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Footer figures per base file, keyed by path. Base files are
    * immutable and every rewrite writes new names, so a cached figure
    * stays valid while its file is listed; each fold rebuilds the map
    * from the current listing, so vanished files drop out, and only the
    * fold installs. The length and modification time guard a reused
    * name. */
  private val footerCache = new java.util.concurrent.atomic.AtomicReference[
    Map[String, BucketStore.FileFigures]](Map.empty)
  /** Phase split of the last catalog build: the base-table listing
    * (near 0 when the cached file index served it) and the footer fold. */
  @volatile private[graft] var lastCatalogBuild = BucketStore.CatalogBuild(0L, 0L, 0, 0)

  def entryCatalog(): Map[String, BucketStore.BucketEntries] = {
    def cached(): Map[String, BucketStore.BucketEntries] = {
      val hit = catalogCache.get
      if (hit != null && hit._1 == dataVersion) hit._2 else null
    }
    val hit = cached()
    if (hit != null) return hit
    // single flight, as for [[baseTable]]. The build waits on swap
    // windows (readConsistent); no mutator calls in from inside one.
    catalogBuildLock.synchronized {
      val raced = cached()
      if (raced != null) return raced
      val v0 = dataVersion
      catalogBuilds.incrementAndGet()
      // listing and fold inside the block: a retry after a raced swap
      // re-lists the settled tree instead of re-reading renamed-away files
      val catalog = readConsistent(foldFooters())
      if (dataVersion == v0) catalogCache.set((v0, catalog))
      catalog
    }
  }
  private val catalogBuildLock = new Object

  private def foldFooters(): Map[String, BucketStore.BucketEntries] = {
    val t0 = System.nanoTime()
    val files = baseFiles(baseTableOrEmpty())
    val t1 = System.nanoTime()
    val (byPath, unread) = footerFigures(files.map(_._4))
    // the fold sees the whole listing: vanished files drop out here
    footerCache.set(byPath)
    val catalog = files.groupBy(_._1).map { case (bucket, fs) =>
      val byEntry = fs.groupBy(_._2)
      bucket -> BucketStore.BucketEntries(byEntry.flatMap { case (entry, es) =>
        val figs = es.map(e => byPath(e._4.getPath.toString)).filter(_.rows > 0)
        if (figs.isEmpty) None
        else Some(entry -> BucketStore.EntryRecords(figs.map(_.rows).sum,
          figs.map(_.minTs).min, figs.map(_.maxTs).max))
      }, byEntry.map { case (entry, es) =>
        entry -> ((es.map(_._4.getLen).sum, es.size.toLong))
      })
    }
    lastCatalogBuild = BucketStore.CatalogBuild(t1 - t0, System.nanoTime() - t1,
      files.size, unread)
    catalog
  }

  /** Footer figures of `files` by path, reading only the footers the
    * cache does not hold (on the [[parallelFs]] pool), and how many it
    * read. */
  private def footerFigures(files: Seq[org.apache.hadoop.fs.FileStatus])
      : (Map[String, BucketStore.FileFigures], Int) = {
    import scala.jdk.CollectionConverters._
    val known = footerCache.get
    val figures = new java.util.concurrent.ConcurrentHashMap[String, BucketStore.FileFigures]()
    val unread = files.filter { st =>
      known.get(st.getPath.toString) match {
        case Some(f) if f.len == st.getLen && f.mtime == st.getModificationTime =>
          figures.put(st.getPath.toString, f): Unit
          false
        case _ => true
      }
    }
    val conf = spark.sparkContext.hadoopConfiguration
    parallelFs(unread) { st =>
      figures.put(st.getPath.toString, readFooter(st, conf)): Unit
    }
    (figures.asScala.toMap, unread.size)
  }

  /** An estimate of what `spec`'s scan reads: the uncompressed bytes
    * of the base files it can read ([[specFiles]]) whose footer
    * `[minTs, maxTs]` meets `[start, stop)`. No Spark job: the file index
    * [[baseTable]] holds and the footer figures, read for the files the
    * catalog fold has not cached; a compaction swap racing the footer
    * reads retries ([[readConsistent]]). [[QueryRegistry]] reads a query
    * whose estimate is small on the driver ([[readSmall]]). With
    * `orEmpty`, a store with no base tree yet reads nothing, as
    * [[tableOrEmpty]] does; a failing footer read surfaces either way. */
  def scanBound(spec: QuerySpec, orEmpty: Boolean = false): Long = readConsistent {
    val files = specFiles(if (orEmpty) baseTableOrEmpty() else baseTable(), spec)
    // only the catalog fold installs figures: it sees the whole listing,
    // so a file a racing fold dropped is never put back
    val (figures, _) = footerFigures(files.map(_._4))
    figures.valuesIterator.filter(f => f.rows > 0 && meets(spec, f.minTs, f.maxTs))
      .map(_.bytes).sum
  }

  /** Whether `[lo, hi]` meets `spec`'s `[start, stop)`. */
  private def meets(spec: QuerySpec, lo: Long, hi: Long): Boolean =
    spec.start.forall(hi >= _) && spec.stop.forall(lo < _)

  /** `spec`'s answer read on the driver, with no Spark job: the rows the
    * Spark plan of [[QueryEngine.query]] over [[table(spec)*]] returns,
    * in its order and schema ([[SmallRead]]). For answers known to be
    * small ([[scanBound]]): the whole answer is held. Reads the files of
    * [[specFiles]] whose footer meets the range, only their row groups
    * whose `ts` statistics do, and only `Finished` rows; labels are the
    * highest-`seq` rows of the in-scope overlay partitions, so no
    * overlay aggregate is built or broadcast. The listing is taken
    * inside [[readConsistent]]: a compaction swap or overlay fold racing
    * the read retries against the settled tree. `orEmpty` as for
    * [[scanBound]]. */
  def readSmall(spec: QuerySpec, orEmpty: Boolean = false): Seq[org.apache.spark.sql.Row] =
    readConsistent {
      val candidates = specFiles(if (orEmpty) baseTableOrEmpty() else baseTable(), spec)
      val (figures, _) = footerFigures(candidates.map(_._4))
      val files = candidates.filter { f =>
        val fig = figures(f._4.getPath.toString)
        fig.rows > 0 && meets(spec, fig.minTs, fig.maxTs)
      }
      val columns = Seq("ts", "labels", "computed_labels", "content_type", "state") ++
        (if (spec.onlyMetadata) Nil else Seq("payload"))
      val decoded = decodeFiles(files.map(_._4), columns, _ => meets(spec, _, _))
      val (labels, _) = overlayLabels(files.map(f => (f._1, f._2, f._3)),
        (_, _) => meets(spec, _, _))
      val schema = SmallRead.answerSchema(spec.onlyMetadata)
      val rows = for {
        (f, values) <- files.zip(decoded)
        v <- values
        ts = v(0).asInstanceOf[Long]
        if v(4) == Records.State.Finished && meets(spec, ts, ts)
      } yield {
        val lbl = labels.get((f._1, f._2, ts)).flatMap(Option(_)).getOrElse(v(1))
        new org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema(
          Array[Any](f._1, f._2, ts, lbl, v(2), v(3), v(4)) ++ v.drop(5), schema)
          : org.apache.spark.sql.Row
      }
      SmallRead.answer(rows, schema, spec)
    }

  /** The base files `spec` can read: `base`'s file index pruned to the
    * spec's bucket (and entry names, when no include is a glob), then
    * the entries resolved as the query resolves them
    * ([[EntryPattern.resolve]], its `$meta` rule). */
  private def specFiles(base: DataFrame, spec: QuerySpec)
      : Seq[(String, String, String, org.apache.hadoop.fs.FileStatus)] = {
    val files = baseFiles(base, pruning(spec.bucket, EntryPattern.literalNames(spec.entries)))
      .filter(f => spec.bucket.forall(_ == f._1))
    val entries = EntryPattern.resolve(files.map(_._2).distinct, spec.entries).toSet
    files.filter(f => entries(f._2))
  }

  /** [[baseFiles]] partition filters: the bucket and the entry names. */
  private def pruning(bucket: Option[String], entries: Option[Set[String]])
      : Seq[org.apache.spark.sql.catalyst.expressions.Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In, Literal}
    import org.apache.spark.sql.types.StringType
    bucket.map(b => EqualTo(AttributeReference("bucket", StringType)(), Literal(b))).toSeq ++
      entries.map(names => In(AttributeReference("entry", StringType)(), names.toSeq.map(Literal(_))))
  }

  /** [[SmallRead.decode]] of each of `files` (the row groups
    * `meets(i)` keeps of file `i`), on the [[parallelFs]] pool over the
    * shared Hadoop configuration; results align with `files`. */
  private def decodeFiles(files: Seq[org.apache.hadoop.fs.FileStatus], columns: Seq[String],
      meets: Int => (Long, Long) => Boolean)
      : IndexedSeq[Vector[Array[Any]]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val out = new Array[Vector[Array[Any]]](files.size)
    parallelFs(files.indices) { i =>
      out(i) = SmallRead.decode(files(i), columns, meets(i), conf)
    }
    out.toIndexedSeq
  }

  /** Labels of the overlay rows in the (bucket, entry, dt) `partitions`
    * that lie in [[overlayScope]], by (bucket, entry, ts), the highest
    * `seq` winning — the rule of [[overlayLatest]], read on the driver —
    * and the number of overlay rows read. `meets(bucket, entry)` keeps
    * row groups by their `ts` bounds. */
  private def overlayLabels(partitions: Seq[(String, String, String)],
      meets: (String, String) => (Long, Long) => Boolean)
      : (Map[(String, String, Long), Map[String, String]], Long) = {
    val scope = overlayScope()
    val fs = overlayRootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = partitions.distinct.filter(scope).flatMap { case k @ (b, e, d) =>
      listQuiet(fs, new org.apache.hadoop.fs.Path(s"$overlayRootPath/bucket=" +
        s"${escapePartition(b)}/entry=${escapePartition(e)}/dt=$d")).collect {
        case st if st.isFile && !st.getPath.getName.startsWith("_") &&
            !st.getPath.getName.startsWith(".") => (k, st)
      }
    }
    if (files.isEmpty) return (Map.empty, 0L)
    val decoded = decodeFiles(files.map(_._2), Seq("ts", "labels", "seq"),
      i => meets(files(i)._1._1, files(i)._1._2))
    val latest = scala.collection.mutable.HashMap.empty[(String, String, Long), (Long, Map[String, String])]
    for ((((b, e, _), _), values) <- files.zip(decoded); v <- values) {
      val key = (b, e, v(0).asInstanceOf[Long])
      val seq = v(2).asInstanceOf[Long]
      if (latest.get(key).forall(_._1 < seq))
        latest(key) = (seq, v(1).asInstanceOf[Map[String, String]])
    }
    (latest.iterator.map { case (k, (_, l)) => k -> l }.toMap, decoded.iterator.map(_.size.toLong).sum)
  }

  /** (bucket, entry, dt, file) for every file of `base`'s file index —
    * the listing [[baseTable]] already holds, no job — in the partitions
    * `partitionFilters` (over `bucket` and `entry`) keep. `dt` is
    * spelled as its directory name. The store's only view of its base
    * files: reads, the entry catalog, the size figures and the
    * compaction probe all come from it. */
  private def baseFiles(base: DataFrame,
      partitionFilters: Seq[org.apache.spark.sql.catalyst.expressions.Expression] = Nil)
      : Seq[(String, String, String, org.apache.hadoop.fs.FileStatus)] =
    base.queryExecution.analyzed.collectFirst {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation => r.relation
    } match {
      case Some(rel: org.apache.spark.sql.execution.datasources.HadoopFsRelation) =>
        val index = rel.location
        val parts = index.listFiles(partitionFilters, Nil).filter(_.files.nonEmpty)
        val ps = index.partitionSchema
        if (parts.isEmpty) return Nil
        if (!Seq("bucket", "entry", "dt").forall(ps.fieldNames.contains))
          throw new IllegalStateException(
            s"base table under $root holds files outside bucket=/entry=/dt= directories: " +
              parts.head.files.head.fileStatus.getPath)
        val (bi, ei, di) = (ps.fieldIndex("bucket"), ps.fieldIndex("entry"), ps.fieldIndex("dt"))
        parts.flatMap { p =>
          val b = p.values.getUTF8String(bi).toString
          val e = p.values.getUTF8String(ei).toString
          // DateType partition value: days since the epoch
          val d = java.time.LocalDate.ofEpochDay(p.values.getInt(di).toLong).toString
          p.files.map(f => (b, e, d, f.fileStatus))
        }
      case _ => Nil // no base tree yet
    }

  /** Row count, uncompressed bytes and `ts` bounds of one base file
    * from its footer. A file whose row groups carry no `ts` statistics
    * breaks the store contract (every base file is written by this
    * store's parquet writer), so it fails the build by name instead of
    * reading the rows. */
  private def readFooter(st: org.apache.hadoop.fs.FileStatus,
      conf: org.apache.hadoop.conf.Configuration): BucketStore.FileFigures = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
      SmallRead.readOptions(conf))
    val blocks = try reader.getFooter.getBlocks.asScala finally reader.close()
    var rows = 0L
    var bytes = 0L
    var lo = Long.MaxValue
    var hi = Long.MinValue
    for (b <- blocks if b.getRowCount > 0) {
      val (groupLo, groupHi) = SmallRead.tsRange(b, st)
      rows += b.getRowCount
      bytes += b.getTotalByteSize
      lo = math.min(lo, groupLo)
      hi = math.max(hi, groupHi)
    }
    BucketStore.FileFigures(st.getLen, st.getModificationTime, rows, bytes, lo, hi)
  }

  /** Entry names of a bucket, `$meta` entries included. */
  def entries(bucket: String): Seq[String] =
    entryCatalog().get(bucket).toSeq.flatMap(_.all.keys).sorted

  /** Rename an entry (storage/bucket/rename_entry.rs): partition rewrite. */
  def renameEntry(bucket: String, from: String, to: String): Unit = mutating {
    if (entries(bucket).contains(to))
      throw new IllegalArgumentException(s"entry '$to' already exists")
    val moved = table()
      .filter(col("bucket") === bucket && col("entry") === from)
      .withColumn("entry", lit(to))
    if (moved.isEmpty)
      throw new NoSuchElementException(s"entry '$from' not found")
    write(moved, Conflict.Error)
    removeEntryFiles(bucket, from)
  }

  def removeEntry(bucket: String, entry: String): Unit = mutating {
    if (EntryPattern.isSystemMetaEntry(entry))
      throw new IllegalArgumentException("cannot remove system $meta entry")
    removeEntryFiles(bucket, entry)
  }

  private def removeEntryFiles(bucket: String, entry: String): Unit = {
    val path = new org.apache.hadoop.fs.Path(
      s"$root/bucket=${escapePartition(bucket)}/entry=${escapePartition(entry)}")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    // mirror overlay + update-log subtrees go with the entry
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$LabelsDir/bucket=${escapePartition(bucket)}/entry=${escapePartition(entry)}"),
      true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$UpdatesDir/bucket=${escapePartition(bucket)}/entry=${escapePartition(entry)}"),
      true)
    overlayRowsApprox.set(-1L)
    invalidateOverlayAgg()
  }

  /** Rename a bucket (storage/bucket rename): a directory move — no data
    * rewrite, the partition values live in the path. */
  def renameBucket(from: String, to: String): Unit = mutating {
    val src = new org.apache.hadoop.fs.Path(s"$root/bucket=${escapePartition(from)}")
    val dst = new org.apache.hadoop.fs.Path(s"$root/bucket=${escapePartition(to)}")
    val fs = src.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(src))
      throw new NoSuchElementException(s"Bucket '$from' is not found")
    if (fs.exists(dst))
      throw new IllegalArgumentException(s"Bucket '$to' already exists")
    if (!fs.rename(src, dst))
      throw new IllegalStateException(s"rename failed: $src -> $dst")
    for (tree <- Seq(LabelsDir, UpdatesDir)) {
      val tSrc = new org.apache.hadoop.fs.Path(
        s"$root/$tree/bucket=${escapePartition(from)}")
      if (fs.exists(tSrc)) {
        val tDst = new org.apache.hadoop.fs.Path(
          s"$root/$tree/bucket=${escapePartition(to)}")
        fs.mkdirs(tDst.getParent)
        fs.rename(tSrc, tDst): Unit // keys carry the bucket name in the path
      }
    }
    invalidateOverlayAgg() // agg rows carry the old bucket name
  }

  def removeBucket(bucket: String): Unit = mutating {
    val path = new org.apache.hadoop.fs.Path(
      s"$root/bucket=${escapePartition(bucket)}")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(path, true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$LabelsDir/bucket=${escapePartition(bucket)}"), true)
    fs.delete(new org.apache.hadoop.fs.Path(
      s"$root/$UpdatesDir/bucket=${escapePartition(bucket)}"), true)
    overlayRowsApprox.set(-1L)
    invalidateOverlayAgg()
  }

  /** Uncached subtree bytes — for the FIFO-eviction loop, which
    * re-checks the size it is shrinking INSIDE a [[mutating]] block: the
    * base file index and the catalog stay stale until the block exits,
    * so the post-write, mid-eviction size cannot come from them. */
  private def treeBytes(path: org.apache.hadoop.fs.Path): Long =
    treeSummary(path.getFileSystem(spark.sparkContext.hadoopConfiguration), path)._1

  /** (bytes, files) under `path`; 0 when it does not exist. The walk
    * races mutations — a staged write creating and dropping its
    * temporary dirs, a swap renaming partition dirs, a purge — so a dir
    * that vanishes mid-walk counts as empty instead of failing the
    * caller with a FileNotFoundException from `getContentSummary`. */
  private def treeSummary(fs: org.apache.hadoop.fs.FileSystem,
      path: org.apache.hadoop.fs.Path): (Long, Long) =
    try {
      val s = fs.getContentSummary(path)
      (s.getLength, s.getFileCount)
    } catch { case _: java.io.FileNotFoundException =>
      listQuiet(fs, path).foldLeft((0L, 0L)) { case ((bytes, files), st) =>
        val (b, f) = if (st.isDirectory) treeSummary(fs, st.getPath) else (st.getLen, 1L)
        (bytes + b, files + f)
      }
    }

  /** Whole-store bytes (the `/info` usage figure and the global storage
    * cap): the sum of the bucket sizes, so it equals the sum of the
    * `/list` sizes. The label overlay and the other hidden trees are not
    * counted; [[checkFreeDiskSpace]] guards the physical disk. */
  def storeSizeBytes: Long = entryCatalog().valuesIterator.map(_.bytes).sum

  /** A bucket's base-file bytes (`/list` size, HARD quota), from the
    * entry catalog. */
  def bucketSizeBytes(bucket: String): Long = entryCatalog().get(bucket).fold(0L)(_.bytes)

  /** Bytes + parquet-file count per entry of a bucket (decoded names) —
    * the EntryInfo size/block_count analog (entry_api.rs:9-23: blocks are
    * the reference's storage unit, parquet files are ours). From the
    * entry catalog: no listing of its own, no Spark job. */
  def entryStats(bucket: String): Map[String, (Long, Long)] =
    entryCatalog().get(bucket).fold(Map.empty[String, (Long, Long)])(_.files)

  /** Periodic storage maintenance — the engine's compaction tick
    * (`RS_ENGINE_COMPACTION_INTERVAL`, engine.rs:520-531
    * run_bucket_maintenance → entry.rs:340 compact). The reference
    * flushes block-manager cache metadata and WAL indexes; a parquet
    * store's equivalent layout debt is SMALL FILES — the serving write
    * path lands one file per (bucket, entry, day) per mutation, so a
    * day of single-record writes degrades a partition into thousands of
    * tiny files and every scan pays per-file open/footer cost. Compacts
    * every partition holding more than `maxFilesPerPartition` files by
    * rewriting it coalesced through the SAME atomic partition swap the
    * label fold uses: readers see before or after, never a mix, and
    * outstanding label patches fold into the rewritten files
    * (prunedPartitionScan contract), with the matching overlay dirs
    * purged inside the swap window.
    *
    * The probe counts files per partition in [[baseTable]]'s cached
    * file index, once LOCK-FREE and once more under the store lock. An
    * idle tick lists nothing (the index is cached per data version and
    * rewrite epoch); a tick after a mutation shares the one listing the
    * next read builds anyway. The lock-free probe neither takes the
    * store lock nor bumps the data version; only a tick with real work
    * mutates. Returns the number of partitions compacted. */
  def compact(maxFilesPerPartition: Int = 16): Int = {
    if (overcrowdedPartitions(maxFilesPerPartition).isEmpty) return 0
    mutating {
      // exact re-probe under the lock: the index at this version is
      // the tree as the last mutation left it
      val affected = overcrowdedPartitions(maxFilesPerPartition)
      if (affected.isEmpty) 0
      else {
        overwritePartitions(prunedPartitionScan(affected),
          dropMissingFrom = affected,
          extraSwapActions = () => purgeOverlayDirs(affected))
        affected.length
      }
    }
  }

  /** (bucket, entry, dt) partitions holding more than `maxFiles` files
    * in the base file index. */
  private def overcrowdedPartitions(maxFiles: Int): Array[(String, String, String)] =
    baseFiles(baseTableOrEmpty()).groupBy(f => (f._1, f._2, f._3))
      .collect { case (partition, files) if files.size > maxFiles => partition }
      .toArray

  /** FIFO quota (bucket/quotas.rs:44-95): evict oldest day-partitions
    * until under `maxBytes`; `$meta` entries are never eviction candidates.
    * Returns evicted partition count. */
  def enforceFifoQuota(bucket: String, maxBytes: Long): Int = mutating {
    var evicted = 0
    // evictions drop overlay day-dirs too: count + agg cache must reset
    // whichever exit path the loop takes (epoch-keyed cache, review r15)
    try enforceFifoLoop(bucket, maxBytes, n => evicted = n)
    finally if (evicted > 0) { overlayRowsApprox.set(-1L); invalidateOverlayAgg() }
    evicted
  }

  private def enforceFifoLoop(bucket: String, maxBytes: Long,
      report: Int => Unit): Unit = {
    var evicted = 0
    val bpath = new org.apache.hadoop.fs.Path(s"$root/bucket=${escapePartition(bucket)}")
    // uncached: the loop shrinks the very size it re-checks, and the data
    // version only moves when this mutating block exits
    while (treeBytes(bpath) > maxBytes) {
      val oldest = baseTable().filter(col("bucket") === bucket)
        .filter(!col("entry").endsWith("/" + EntryPattern.MetaSegment) &&
          col("entry") =!= EntryPattern.MetaSegment)
        .agg(min(dtCol).as("dt")).collect()(0)
      if (oldest.isNullAt(0)) return
      val dt = oldest.getDate(0).toString
      val fs = bpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
      // system $meta entries are never eviction candidates
      // (bucket/quotas.rs is_eligible_for_fifo_eviction) — skip their dirs,
      // not just exclude them from the oldest-dt computation
      val entryDirs = fs.listStatus(bpath).filter { st =>
        st.isDirectory && {
          val name = st.getPath.getName
          !name.startsWith("entry=") ||
            !EntryPattern.isSystemMetaEntry(
              unescapePartition(name.stripPrefix("entry=")))
        }
      }
      var any = false
      for (e <- entryDirs) {
        val p = new org.apache.hadoop.fs.Path(e.getPath, s"dt=$dt")
        if (fs.exists(p)) {
          fs.delete(p, true)
          fs.delete(new org.apache.hadoop.fs.Path( // mirror overlay day
            s"$root/$LabelsDir/bucket=${escapePartition(bucket)}/${e.getPath.getName}/dt=$dt"), true)
          any = true; evicted += 1; report(evicted)
        }
      }
      if (!any) return
      // the deletes above happened mid-mutation (no version bump yet):
      // the next iteration's oldest-dt scan must re-list, not read the
      // cached pre-delete file index
      invalidateBaseTable()
    }
  }

  // -------------------------------------------------------- staged upload

  /** Fresh staging location for a large record payload, on the store's
    * own filesystem so every executor can read it (a serving node's
    * local /tmp would not be cluster-visible). The underscore dir is
    * invisible to parquet partition discovery. */
  def stageUploadPath(): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(
      s"$root/$StagingDir/${java.util.UUID.randomUUID}")

  /** Write records whose payloads were spooled to one staging file —
    * every spooled HTTP upload (a single-record POST is one slice at
    * offset 0; v1 `/batch` and v2 `/io/write` bodies are the payloads
    * concatenated). Admission and landing are [[writeFolded]]'s
    * ([[appendAdmitted]]), inside this call's own mutation section: a
    * stored or repeated key is rejected and its bytes are never read,
    * the survivors are written, and the rejected keys are returned for
    * the caller's 409s (write_batched.rs error map). An admission or
    * write failure throws.
    *
    * Spooled bodies are unbounded, so the survivors stage with a Spark
    * write ([[stageFrame]]), not on the driver: each survivor's bytes are
    * sliced out executor-side with positioned reads — one payload in
    * memory per task at a time, nothing buffered by the serving layer —
    * through the session's Hadoop configuration (broadcast once per
    * write), so `spark.hadoop.*` filesystem settings reach the readers.
    * Survivors of one (entry, day) are read and written by one task with
    * no exchange; otherwise slices are keyed by entry so the read
    * parallelism follows the write partitioning. The staging file is
    * deleted whether the write succeeds or not. */
  def writeStagedSlices(bucket: String, staged: org.apache.hadoop.fs.Path,
      slices: Seq[BucketStore.StagedSlice]): Set[(String, Long)] = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    try mutating {
      appendAdmitted[BucketStore.StagedSlice](bucket, Seq(slices),
          s => (s.entry, s.ts), _.len) { (survivors, maxRecords, stage) =>
        val onePartition = survivors.map(s => (s.entry, dtOf(s.ts))).distinct.size == 1
        val pathStr = staged.toString
        val conf = spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(hadoopConf))
        import spark.implicits._
        val ds = spark.createDataset(survivors)
        val df = (if (onePartition) ds else graft.core.Partitioning.pinned(ds, col("entry")))
          .mapPartitions { it =>
            if (!it.hasNext) Iterator.empty[Records.Record]
            else {
              val p = new org.apache.hadoop.fs.Path(pathStr)
              val in = p.getFileSystem(conf.value.value).open(p)
              Option(org.apache.spark.TaskContext.get())
                .foreach(_.addTaskCompletionListener[Unit](_ => in.close()))
              it.map { s =>
                val buf = new Array[Byte](s.len.toInt)
                in.readFully(s.offset, buf) // positioned read — thread-safe
                Records.Record(bucket, s.entry, s.ts, s.labels,
                  Map.empty[String, String], s.contentType,
                  Records.State.Finished, buf)
              }
            }
          }.toDF()
        try stageFrame(df, onePartition, Map("maxRecordsPerFile" -> maxRecords.toString))(stage)
        finally conf.destroy()
      }.head.fold(throw _, identity)
    } finally staged.getFileSystem(hadoopConf).delete(staged, false)
  }

  // ----------------------------------------------------- bucket settings

  private def settingsPath(bucket: String) =
    new org.apache.hadoop.fs.Path(
      s"$root/bucket=${escapePartition(bucket)}/$SettingsFile")

  /** Stored settings for a bucket, if the bucket has been created /
    * written through the settings-aware path. */
  def bucketSettings(bucket: String): Option[BucketSettings] = {
    val p = settingsPath(bucket)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(BucketSettings.fromJson(
        new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)))
      finally in.close()
    }
  }

  /** Persist settings for a bucket (overwrites; callers merge first —
    * [[BucketSettings.over]] gives the reference's fill_settings
    * semantics, bucket/settings.rs:61-79). */
  def putBucketSettings(bucket: String, s: BucketSettings): Unit = {
    if (readOnly) throw new BucketStore.ReadOnlyStoreException(
      "Cannot perform this operation in read-only mode")
    val p = settingsPath(bucket)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(s.toJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  def bucketSettingsExist(bucket: String): Boolean = {
    val p = settingsPath(bucket)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Global storage cap across ALL buckets —
    * `RS_ENGINE_MAX_STORAGE_SIZE` (PR-1263, cfg/storage_engine.rs:45-47,
    * engine.rs:301-315). None (default) = unlimited; the server sets it
    * from env, library callers directly. Enforced by both appends — the
    * driver-held one every serving path (wire, zenoh ingest, `$system`)
    * funnels through ([[appendAdmitted]]) and [[write]] (streaming
    * ingest, replication), mirroring engine::begin_write — plus a
    * declared-size preflight on the HTTP write admissions; uses the
    * entry catalog's whole-store size, so an unset cap costs nothing and
    * a set one reads the catalog cached per data version. */
  @volatile var maxStorageSize: Option[Long] = None

  /** engine.rs ensure_storage_limit: total usage + incoming must stay
    * within the cap; the reference surfaces this as a server error
    * ("storage limit exceeded"), not a per-bucket quota 422. */
  def ensureStorageLimit(incomingBytes: Long): Unit =
    maxStorageSize.foreach { limit =>
      if (storeSizeBytes + math.max(0L, incomingBytes) > limit)
        throw new IllegalStateException("storage limit exceeded")
    }

  /** Injectable free-space provider (the reference's FreeSpaceFn,
    * bucket.rs:50-58): bytes available on the filesystem holding the store
    * root. Hadoop FsStatus covers local disks and DFS alike; swappable in
    * tests so write admission is deterministic. */
  @volatile var freeSpaceFn: () => Long = () => {
    val p = new org.apache.hadoop.fs.Path(root)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .getStatus(p).getRemaining
  }

  /** Reject a write whose payload can't fit on the data volume
    * (quotas.rs:19-42): complements quotas — even a bucket within quota is
    * refused, BEFORE any bytes land, when the filesystem can't hold the
    * record, so the operator sees a clean 507 instead of a mid-write
    * IOException from a full disk. Runs after the quota check, matching
    * the reference's admission order (bucket.rs:236). */
  def checkFreeDiskSpace(contentSize: Long): Unit = {
    val available = freeSpaceFn()
    if (contentSize > available)
      throw new BucketStore.InsufficientStorageException(
        s"Not enough free disk space in the data folder to write a record " +
          s"of $contentSize bytes: only $available bytes available")
  }
}

object BucketStore {
  /** Shared pool for [[BucketStore.parallelFs]] workers: cached (idle
    * threads die after 60 s, reused across the up-to-three parallelFs
    * calls inside one swap window), daemon (never blocks JVM exit),
    * process-wide (mutations are store-lock-serialized, so concurrent
    * stores at worst stripe onto more threads — the per-call worker
    * count still bounds each call's own parallelism). */
  private[engine] lazy val fsOpPool: java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newCachedThreadPool((r: Runnable) => {
      val t = new Thread(r, "graft-fsop"); t.setDaemon(true); t
    })

  /** Write admission failure: the data volume can't hold the record
    * (reference ErrorCode::InsufficientStorage → HTTP 507). */
  final class InsufficientStorageException(msg: String)
      extends RuntimeException(msg)

  /** Mutation refused on a read-only replica (engine.rs check_mode →
    * HTTP 403 forbidden). */
  final class ReadOnlyStoreException(msg: String)
      extends RuntimeException(msg)

  /** Striped per-export-path monitors ([[BucketStore.exportShards]]):
    * process-wide so two stores (or two HTTP retries) exporting to the
    * same target serialize instead of interleaving delete+write. */
  private val exportPathLocks = Array.fill(64)(new Object)
  private[engine] def exportPathLock(qualifiedPath: String): Object =
    exportPathLocks(math.floorMod(qualifiedPath.hashCode, 64))

  sealed trait Conflict
  object Conflict {
    case object Error extends Conflict
    case object Skip extends Conflict
  }

  /** Settings JSON file inside the bucket's partition directory — the
    * underscore prefix hides it from Spark's parquet partition discovery,
    * so the data table never sees it. */
  val SettingsFile = "_settings.json"

  /** Staging directory for streamed uploads (underscore-hidden). */
  val StagingDir = "_upload"
  val RewriteDir = "_rewrite"

  /** Label-overlay tree root (underscore-hidden from the base table's
    * partition discovery, batch and streaming). Partitioned like the
    * base: `bucket=<b>/entry=<e>/dt=<d>`. */
  val LabelsDir = "_labels"

  /** Label-UPDATE transaction log root (hidden, append-only, same
    * partitioning + row schema as the overlay): every PATCH — overlay or
    * bulk — appends its (key, merged-labels, seq) rows here, and
    * replication streams the tree to propagate label updates
    * (the reference's Transaction::UpdateRecord log, replication.rs:27,
    * transaction_log.rs). Unlike `_labels`, folds never purge it —
    * it is history, pruned only with its entry/bucket. */
  val UpdatesDir = "_updates"

  /** One shard of a bulk export ([[BucketStore.exportShards]]): rows
    * and inclusive ts bounds — the resume bookkeeping a 100-TB consumer
    * keys on (shard ids alone shift with sampled range boundaries). */
  final case class ShardInfo(shard: Long, rows: Long, minTs: Long, maxTs: Long)

  /** Record count and oldest/latest ts of one stored entry. */
  final case class EntryRecords(records: Long, oldest: Long, latest: Long)

  /** One base file's footer figures, with the length and modification
    * time they were read at. `bytes` is the row groups' uncompressed
    * size. */
  private[engine] final case class FileFigures(len: Long, mtime: Long,
      rows: Long, bytes: Long, minTs: Long, maxTs: Long)

  /** Phase split of one entry-catalog build: nanos spent listing the
    * base table and folding footers, files listed and footers read. */
  private[graft] final case class CatalogBuild(listNanos: Long, foldNanos: Long,
      files: Int, footersRead: Int)

  /** One bucket's slice of the entry catalog, read with the reference's
    * entry rules: `$meta` system entries are invisible
    * (storage/entry/system.rs:163-165), their parents — created by the
    * parent_prefixes walk — surface as EMPTY entries, and history spans
    * visible records only, so a bucket whose records are all metadata
    * reports 0/0 (PR-1534). `files` holds every listed entry's
    * (bytes, parquet file count), `$meta` entries included: blocks and
    * storage are physical figures. */
  final case class BucketEntries(all: Map[String, EntryRecords],
      files: Map[String, (Long, Long)]) {
    /** Entries holding visible records, by name. */
    lazy val visible: Seq[(String, EntryRecords)] =
      all.toSeq.filterNot(e => EntryPattern.isSystemMetaEntry(e._1)).sortBy(_._1)
    /** Parents of `$meta` entries that hold no visible records. */
    lazy val emptyParents: Seq[String] = {
      val names = visible.map(_._1).toSet
      all.keys.flatMap(EntryPattern.metaEntryParent).toSeq.distinct
        .filterNot(names).sorted
    }
    def entryCount: Int = visible.length + emptyParents.length
    def oldest: Option[Long] = visible.map(_._2.oldest).minOption
    def latest: Option[Long] = visible.map(_._2.latest).maxOption
    lazy val bytes: Long = files.valuesIterator.map(_._1).sum
    lazy val blocks: Long = files.valuesIterator.map(_._2).sum
  }
  object BucketEntries { val Empty: BucketEntries = BucketEntries(Map.empty, Map.empty) }

  /** One record of a spooled batch body: its payload is
    * `staged[offset, offset + len)`. */
  final case class StagedSlice(entry: String, ts: Long,
      labels: Map[String, String], contentType: String,
      offset: Long, len: Long)

  /** One record of a coalesced serving write ([[BucketStore.writeFolded]]). */
  final case class FoldRec(entry: String, ts: Long,
      labels: Map[String, String], contentType: String, payload: Array[Byte])

  /** One request's slice of a coalesced serving write: records for one
    * bucket (any mix of entries), in-request-unique by (entry, ts) —
    * the HTTP layer rejects/degrades in-batch duplicates before
    * folding. */
  final case class FoldReq(bucket: String, recs: Seq[FoldRec])

  /** Per-bucket settings (reduct_base/src/msg/bucket_api.rs:57-67).
    * All fields optional; a PUT merges present fields over the stored
    * value (fill_settings, bucket/settings.rs:61-79). quota_type is one
    * of NONE | FIFO | HARD (bucket_api.rs:15-20). */
  final case class BucketSettings(
      quotaType: Option[String] = None,
      quotaSize: Option[Long] = None,
      maxBlockSize: Option[Long] = None,
      maxBlockRecords: Option[Long] = None) {

    /** This settings object layered over `base`: present fields win,
      * missing fields fall back (the reference's fill_settings). */
    def over(base: BucketSettings): BucketSettings = BucketSettings(
      quotaType.orElse(base.quotaType),
      quotaSize.orElse(base.quotaSize),
      maxBlockSize.orElse(base.maxBlockSize),
      maxBlockRecords.orElse(base.maxBlockRecords))

    def toJson: String = {
      import org.json4s._
      import org.json4s.jackson.JsonMethods
      JsonMethods.compact(JsonMethods.render(JObject(
        "quota_type" -> quotaType.map(JString(_)).getOrElse(JNull),
        "quota_size" -> quotaSize.map(v => JInt(BigInt(v))).getOrElse(JNull),
        "max_block_size" -> maxBlockSize.map(v => JInt(BigInt(v))).getOrElse(JNull),
        "max_block_records" -> maxBlockRecords.map(v => JInt(BigInt(v)))
          .getOrElse(JNull))))
    }
  }

  object BucketSettings {
    /** Bucket::defaults (bucket/settings.rs:49-57). */
    val defaults: BucketSettings = BucketSettings(
      quotaType = Some("NONE"), quotaSize = Some(0L),
      maxBlockSize = Some(64000000L), maxBlockRecords = Some(1024L))

    val QuotaTypes: Set[String] = Set("NONE", "FIFO", "HARD")

    def fromJson(s: String): BucketSettings = {
      import org.json4s._
      implicit val fmts: Formats = DefaultFormats
      val j = org.json4s.jackson.JsonMethods.parseOpt(s).getOrElse(JObject())
      val qt = (j \ "quota_type").extractOpt[String]
      qt.foreach { t =>
        if (!QuotaTypes(t))
          throw new IllegalArgumentException(s"Invalid quota type '$t'")
      }
      BucketSettings(
        quotaType = qt,
        quotaSize = (j \ "quota_size").extractOpt[Long],
        maxBlockSize = (j \ "max_block_size").extractOpt[Long],
        maxBlockRecords = (j \ "max_block_records").extractOpt[Long])
    }
  }

  import org.apache.spark.sql.types._
  /** Stored schema = record schema + dt partition column. */
  val storedSchema: StructType =
    Records.schema.add(StructField("dt", DateType))

  /** Overlay row = record key + full post-patch labels + patch seq. */
  val overlayStoredSchema: StructType = StructType(Seq(
    StructField("bucket", StringType, nullable = false),
    StructField("entry", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("labels", MapType(StringType, StringType), nullable = true),
    StructField("seq", LongType, nullable = false),
    StructField("dt", DateType)))

  /** An overlay row as written and read: [[overlayStoredSchema]] without `dt`. */
  val overlayRowSchema: StructType = StructType(overlayStoredSchema.dropRight(1))

  def emptyRecords(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      Records.schema)

  /** Spark's partition-path escaping (ExternalCatalogUtils.escapePathName):
    * the listed specials, DEL, and ALL control chars below 0x20 — the
    * set must match what partitionBy writes exactly, or path-addressed
    * deletes (overlay purge, partition drop) silently miss dirs for
    * names containing e.g. a tab (review r15). */
  def escapePartition(v: String): String =
    v.flatMap {
      case c if c < ' ' ||
          ("\"#%'*/:=?\\{[]^" + 127.toChar).contains(c) =>
        f"%%${c.toInt}%02X"
      case c => c.toString
    }

  /** Inverse of [[escapePartition]] (Hive-style %XX decoding). */
  def unescapePartition(v: String): String = {
    val sb = new StringBuilder(v.length)
    var i = 0
    while (i < v.length) {
      val c = v.charAt(i)
      if (c == '%' && i + 3 <= v.length) {
        try {
          sb.append(Integer.parseInt(v.substring(i + 1, i + 3), 16).toChar)
          i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
