package graft.engine

/** Interval usage-traffic counters (storage/usage.rs, PR-1474):
  * incremented at three sites — the HTTP write body (every wire's
  * landed records, counted once after the store returns), the HTTP
  * single/batched reads, and the replication sink's destination writes
  * — and drained by the periodic usage flush
  * ([[graft.lifecycle.Lifecycle.flushUsage]]).
  *
  * Per-bucket traffic tracks the set of DISTINCT entries written to /
  * read from this interval (the reference's `written_entries` /
  * `read_entries`). [[drain]] swaps the whole map out, so increments
  * racing a flush roll into the next interval instead of being lost, and
  * a deleted bucket cannot grow the map unbounded.
  *
  * One JVM monitor suffices: increments are driver-side per API call
  * (the per-record work happens in executor tasks, not here), so the
  * critical section is a few field bumps — the same reasoning as the
  * reference's single per-bucket lock.
  */
final class UsageCounters {
  import UsageCounters._

  private var perBucket =
    collection.mutable.Map.empty[String, Traffic]

  def countWrite(bucket: String, entry: String, records: Long,
      bytes: Long): Unit = synchronized {
    val t = perBucket.getOrElseUpdate(bucket, new Traffic)
    t.writeBytes += bytes
    t.recordsWritten += records
    t.writtenEntries += entry
  }

  def countRead(bucket: String, entry: String, records: Long,
      bytes: Long): Unit = synchronized {
    val t = perBucket.getOrElseUpdate(bucket, new Traffic)
    t.readBytes += bytes
    t.recordsRead += records
    t.readEntries += entry
  }

  /** Buckets with traffic counted this interval; drains nothing. */
  def buckets: Set[String] = synchronized { perBucket.keySet.toSet }

  /** Drain and reset the interval counters of the buckets `only`
    * selects (default: all); the others keep counting into the next
    * drain. An entry is identified by (bucket, name), so the
    * instance-total distinct-entry counts are the sum of the per-bucket
    * counts (storage/usage.rs:134-136). */
  def drain(only: String => Boolean = _ => true): DrainedUsage = synchronized {
    val (out, kept) = perBucket.partition { case (b, _) => only(b) }
    perBucket = kept
    DrainedUsage(out.iterator.map { case (b, t) =>
      b -> Drained(t.writeBytes, t.readBytes, t.recordsWritten,
        t.recordsRead, t.writtenEntries.size.toLong, t.readEntries.size.toLong)
    }.toMap)
  }
}

object UsageCounters {

  private final class Traffic {
    var writeBytes = 0L
    var readBytes = 0L
    var recordsWritten = 0L
    var recordsRead = 0L
    val writtenEntries = collection.mutable.Set.empty[String]
    val readEntries = collection.mutable.Set.empty[String]
  }

  /** Counter values drained for one flush interval (for the instance
    * total or a single bucket). */
  final case class Drained(writeBytes: Long, readBytes: Long,
      recordsWritten: Long, recordsRead: Long,
      writtenEntries: Long, readEntries: Long)

  final case class DrainedUsage(buckets: Map[String, Drained]) {
    def total: Drained = Drained(
      buckets.valuesIterator.map(_.writeBytes).sum,
      buckets.valuesIterator.map(_.readBytes).sum,
      buckets.valuesIterator.map(_.recordsWritten).sum,
      buckets.valuesIterator.map(_.recordsRead).sum,
      buckets.valuesIterator.map(_.writtenEntries).sum,
      buckets.valuesIterator.map(_.readEntries).sum)
  }
}
