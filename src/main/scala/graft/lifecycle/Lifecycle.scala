package graft.lifecycle

import graft.engine.{BucketStore, QueryEngine, QuerySpec}
import org.apache.spark.sql.functions._

/** Lifecycle policies (SURVEY §2.6; lifecycle/lifecycle_task.rs:25-90):
  * periodic batch jobs applying `delete` or `compress` to records older
  * than a threshold, optionally gated by the same `when` condition engine
  * and entry globs, with a dry-run mode that only counts.
  */
object Lifecycle {

  sealed trait Action
  object Action {
    case object Delete extends Action
    /** Rewrite old partitions with stronger compression (the analog of
      * block-level zstd re-compression, lifecycle/action/compress.rs). */
    final case class Compress(codec: String = "zstd", level: Int = 9) extends Action
  }

  /** enabled=false ↔ the reference's LifecycleMode::Disabled; dryRun ↔
    * LifecycleMode::DryRun (preview — count, remove nothing)
    * (reduct_base/src/msg/lifecycle_api.rs:23-31). */
  final case class Policy(
      olderThanUs: Long,
      action: Action,
      entries: Option[Seq[String]] = None,
      when: Option[String] = None,
      dryRun: Boolean = false,
      enabled: Boolean = true,
      /** Scope to one bucket (lifecycle_api.rs:45-46); None = whole store. */
      bucket: Option[String] = None,
      /** Advisory run interval (lifecycle_api.rs:54-56) — runs here are
        * triggered by the `run` route / an external scheduler, so this is
        * carried for API parity and scheduling hints only. */
      intervalUs: Long = 3600L * 1000000L)

  /** `processedBlocks`: parquet files are graft's block analog —
    * compression events report both record and block counts (PR-1470). */
  final case class Result(matched: Long, applied: Boolean,
      processedBlocks: Long = 0L)

  /** Apply one policy pass; `nowUs` is injectable for tests. A disabled
    * policy is a no-op (lifecycle_task.rs skips inactive policies). */
  def apply(store: BucketStore, policy: Policy, nowUs: Long): Result = {
    if (!policy.enabled) return Result(0, applied = false)
    // a negative age would put the cutoff in the FUTURE — a Delete
    // policy would then remove every record in scope off one operator
    // typo ('-1d'); the parse layers reject it too, this is the last line
    require(policy.olderThanUs >= 0,
      s"older_than must be non-negative, got ${policy.olderThanUs} us")
    val cutoff = nowUs - policy.olderThanUs
    val spec = QuerySpec(stop = Some(cutoff), entries = policy.entries,
      when = policy.when, bucket = policy.bucket)
    policy.action match {
      case Action.Delete =>
        if (policy.dryRun)
          Result(QueryEngine.count(store.table(), spec), applied = false)
        else Result(store.removeQuery(spec), applied = true)
      case Action.Compress(codec, level) =>
        // dry-run preview never takes the store's write lock — a full
        // count inside `mutating` would block every writer for the
        // scan's duration (the Delete branch counts lock-free too)
        if (policy.dryRun)
          return Result(QueryEngine.matching(store.table(), spec).count(),
            applied = false)
        store.mutating {
        val matched = QueryEngine.matching(store.table(), spec)
        val n = matched.count()
        if (n == 0) return Result(n, applied = false)
        // rewrite affected day-partitions with the target codec, routed
        // through the store's staged rename-swap so the reader-visible
        // change lands inside the rewrite-epoch window (a readConsistent
        // reader racing the compaction retries instead of failing on a
        // renamed-away file). Staging also reads live tree → _rewrite
        // dir, so no localCheckpoint materialization of the rewrite set.
        val affected = matched
          .withColumn("dt", to_date(timestamp_micros(col("ts"))))
          .select("bucket", "entry", "dt").distinct()
        // bounded by the affected-partition count; the string list also
        // drives the overlay purge inside the swap (compaction folds
        // outstanding label patches — store.table() is effective rows)
        val affectedList = affected.collect()
          .map(r => (r.getString(0), r.getString(1), r.getDate(2).toString))
        val rewritten = store.table()
          .withColumn("dt", to_date(timestamp_micros(col("ts"))))
          .join(broadcast(affected), Seq("bucket", "entry", "dt"))
          .drop("dt")
        store.overwritePartitions(rewritten, writerOptions = Map(
          "compression" -> codec,
          // writer options propagate into the task-side Hadoop conf, which
          // is where parquet-java reads the zstd level from (verified by
          // size in LifecycleSpec — the level is not recorded in footers)
          "parquet.compression.codec.zstd.level" -> level.toString),
          extraSwapActions = () => store.purgeOverlayDirs(affectedList))
        // block analog: every parquet file in an affected partition was
        // rewritten; the partition count is the stable pre/post-invariant
        // figure (a file count would need the post-swap listing)
        Result(n, applied = true, processedBlocks = affectedList.length.toLong)
      }
    }
  }

  /** Drain the store's interval usage counters and emit one `$system`
    * usage event per bucket with traffic or storage this interval, plus
    * the instance total at `usage/<instance>/total` — the periodic flush
    * of syslog/aggregate/usage.rs (PR-1474). `$`-prefixed system buckets
    * are skipped ("no telemetry on telemetry", usage.rs:174-177).
    *
    * The traffic fields (write/read bytes, records written/read, DISTINCT
    * entries written/read) come from the drained
    * [[graft.engine.UsageCounters]]; the storage fields (record_count,
    * entry_count, block_count, storage_bytes) are a point-in-time
    * snapshot — the store's entry catalog, at flush cadence (default
    * 60 s), never per record.
    * `written_entries`, `read_entries` and `record_count` are also
    * pinned as queryable record labels. */
  def flushUsage(store: BucketStore, syslog: graft.engine.SystemLog,
      durationSec: Double,
      nowUs: Long = System.currentTimeMillis() * 1000L,
      /** Additional events folded into the SAME `$system` write (the
        * API layer's audit drain rides the usage flush's mutation — one
        * store job per telemetry tick, not one per family). Appended
        * after the usage events, so `usage/total` keeps the earliest
        * ts of the flush. By-name: evaluated only once the snapshot has
        * succeeded, so a snapshot that throws leaves a draining source
        * (the audit buffer) intact for the next tick. */
      extraEvents: => Seq[graft.engine.SystemLog.Event] = Nil): Unit = {
    // every snapshot read comes first and the drain last: a read that
    // throws (a catalog build that fails installs nothing) leaves this
    // interval's traffic counters for the next tick. The catalog reads
    // the base table, not table(): label patches cannot change counts.
    val catalog = store.entryCatalog()
    val names = (catalog.keySet ++ store.usage.buckets).toSeq.sorted
    val snapshot = names.map { name =>
      val b = catalog.getOrElse(name, BucketStore.BucketEntries.Empty)
      (name, b.all.valuesIterator.map(_.records).sum, b.all.size.toLong,
        b.blocks, b.bytes)
    }
    // a bucket whose first traffic lands after `names` was taken keeps
    // its counters for the next tick
    val drained = store.usage.drain(names.toSet)
    def payloadJson(t: graft.engine.UsageCounters.Drained,
        storageBytes: Long, bucketCount: Long, entryCount: Long,
        blockCount: Long, recordCount: Long): String =
      s"""{"event_type":"usage_stats","duration":$durationSec,""" +
        s""""write_bytes":${t.writeBytes},"read_bytes":${t.readBytes},""" +
        s""""records_written":${t.recordsWritten},""" +
        s""""records_read":${t.recordsRead},""" +
        s""""written_entries":${t.writtenEntries},""" +
        s""""read_entries":${t.readEntries},""" +
        s""""storage_bytes":$storageBytes,"bucket_count":$bucketCount,""" +
        s""""entry_count":$entryCount,"block_count":$blockCount,""" +
        s""""record_count":$recordCount}"""
    def labels(t: graft.engine.UsageCounters.Drained,
        recordCount: Long): Map[String, String] = Map(
      "written_entries" -> t.writtenEntries.toString,
      "read_entries" -> t.readEntries.toString,
      "record_count" -> recordCount.toString)

    // the reference's usage_snapshot (engine.rs:238) walks ALL buckets —
    // including $-prefixed system buckets — when accumulating the
    // instance total, filtering $ names only from the per-bucket
    // emission; that keeps the total internally consistent (its traffic
    // fields come from drained.total, which already includes $-bucket
    // API traffic). It also emits the total event BEFORE the per-bucket
    // events, so the $system log's ts ordering matches.
    val perBucket = snapshot.map { case (name, records, entries, blocks, storageBytes) =>
      val t = drained.buckets.getOrElse(name,
        graft.engine.UsageCounters.Drained(0, 0, 0, 0, 0, 0))
      (name, t, records, entries, blocks, storageBytes)
    }
    val totalRecords = perBucket.map(_._3).sum
    // ONE batched $system write for the whole snapshot: per-event
    // writes are one Spark job each, and this family scales with the
    // bucket count (graft.engine.SystemLog.events scaladoc). The total
    // event leads the batch, so its ts still sorts first.
    syslog.events(
      graft.engine.SystemLog.Event("usage", "total", 200,
        payloadJson(drained.total, perBucket.map(_._6).sum,
          names.length.toLong, perBucket.map(_._4).sum,
          perBucket.map(_._5).sum, totalRecords),
        nowUs, extraLabels = labels(drained.total, totalRecords)) +:
      ((for ((name, t, records, entries, blocks, storageBytes) <- perBucket
            if !name.startsWith("$"))
        yield graft.engine.SystemLog.Event("usage", name, 200,
          payloadJson(t, storageBytes, 1L, entries, blocks, records),
          nowUs, extraLabels = labels(t, records))) ++ extraEvents))
  }
}
