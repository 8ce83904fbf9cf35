package graft.engine

/** Captures the engine's own log messages as records in
  * `$system/logs/<instance>/messages` (syslog/capture/logs.rs, payload/
  * log.rs): each persisted message becomes a record carrying the
  * reference's label set — `status` always, `level` as a queryable label
  * (syslog/path.rs record_labels) — and a JSON payload with the
  * level/target/message fields of LogSystemEventPayload.
  *
  * The persist-level gate runs BEFORE any write (capture/logs.rs
  * enqueue): messages less severe than `persistLevel` — or all messages
  * when `persistLevel` is None (RS_SYSTEM_EVENTS_LOG_LEVEL=OFF or
  * invalid) — are dropped. An empty instance name falls back to
  * `unknown` (path.rs entry_path). A flush is one
  * [[BucketStore.writeFolded]] request, so a clashing key is rejected
  * rather than failing the burst, and a failed write is caught —
  * logging must not take the server down. Either loss is counted
  * ([[dropped]]).
  *
  * This is the ONE `$system` writer (syslog.rs): log capture, usage,
  * audit ([[AuditLog]] only buffers), replication and lifecycle rows all
  * go through the same private write and are stamped by the same clock.
  */
final class SystemLog(store: BucketStore, instance: String,
    persistLevel: Option[String],
    /** Gates the non-log event families (replication/lifecycle
      * diagnostics) — RS_SYSTEM_EVENTS_ENABLED; log capture is gated by
      * `persistLevel` alone, matching cfg/system_events.rs. */
    eventsEnabled: Boolean = true,
    /** Remote sink for non-owning roles (syslog.rs:61,132: local on
      * primary/standalone, FORWARD on a replica — which keeps no local
      * `$system`). When set, [[events]] forwards instead of writing;
      * [[log]] capture is node-local and SKIPPED on a replica
      * (syslog.rs:332 — avoids the forward loop). */
    forwarder: Option[SystemEventForwarder] = None) {
  import SystemLog._

  private val inst = if (instance.isEmpty) "unknown" else instance

  /** Strictly increasing event timestamps: ts is the record id, so two
    * messages inside one millisecond (a startup warning burst) would
    * otherwise collide and the second would be silently skipped. */
  private val lastUs = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Events lost by local flushes: a failed write loses its burst, a
    * rejected key its event. Forwarded bursts are not counted here. */
  private[graft] val dropped = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Persist one log message; returns true when it was written (at or
    * above the persist level), false when dropped by the gate. */
  def log(level: String, target: String, message: String,
      nowUs: Long = System.currentTimeMillis() * 1000L): Boolean = {
    if (forwarder.isDefined) return false // node-local: skipped on replicas
    val lvl = level.trim.toUpperCase
    val persist = persistLevel.exists(p =>
      Rank.getOrElse(lvl, Int.MaxValue) <= Rank.getOrElse(p, 0))
    persist && write(Seq(Event("logs", "messages", 200,
      s"""{"event_type":"log_message","level":${jstr(lvl)},""" +
        s""""target":${jstr(target)},"message":${jstr(message)}}""",
      nowUs, extraLabels = Map("level" -> lvl))))
  }

  /** Generic `$system` diagnostics event at
    * `<entryPrefix>/<instance>/<name>` — the replication / lifecycle
    * families (syslog/payload/{replication,lifecycle}.rs): a `status`
    * label plus a flat JSON payload. Timestamps share the log writer's
    * strictly-increasing clock. */
  def event(entryPrefix: String, name: String, status: Int,
      payloadJson: String,
      nowUs: Long = System.currentTimeMillis() * 1000L,
      /** Additional queryable labels (the usage family pins
        * written_entries / read_entries / record_count here, PR-1474). */
      extraLabels: Map[String, String] = Map.empty): Boolean =
    events(Seq(Event(entryPrefix, name, status, payloadJson, nowUs,
      extraLabels)))

  /** Persist a BURST of events as ONE `$system` write. A per-event
    * write is one store mutation each — the usage snapshot emits one
    * event per bucket, so flushing a many-bucket instance event-by-event
    * cost minutes while each mutation was a Spark job (measured: 300
    * buckets ≈ 7.5 min), and the 60-second usage flusher could never
    * drain a 10k-bucket instance. Sequence
    * order fixes the ts order: each event takes the next strictly-
    * increasing microsecond, so `usage/total` emitted first still sorts
    * before the per-bucket events it summarizes. */
  def events(items: Seq[Event]): Boolean =
    eventsEnabled && items.nonEmpty && write(items)

  /** The one `$system` write behind [[log]] and [[events]]: stamps each
    * event from the shared clock in sequence order, then either forwards
    * the burst to the primary (replica, see [[SystemEventForwarder]]) or
    * lands it as one [[BucketStore.writeFolded]] request, which applies
    * `$system`'s provisioned FIFO quota and the free-disk preflight like
    * any other write. Never throws — telemetry must not take the serving
    * path down (a full disk would otherwise abort server startup, whose
    * ctor logs provisioning warnings, or turn an already-completed
    * operation into an error response). True when every event landed. */
  private def write(items: Seq[Event]): Boolean = {
    val recs = items.map { e =>
      val ts = lastUs.updateAndGet(prev => math.max(prev + 1, e.nowUs))
      BucketStore.FoldRec(s"${e.entryPrefix}/$inst/${e.name}", ts,
        Map("status" -> e.status.toString) ++ e.extraLabels,
        "application/json", e.payloadJson.getBytes("UTF-8"))
    }
    forwarder match {
      case Some(fwd) => fwd.sendBatch(recs.map(r => (r.entry, r.ts, r.labels, r.payload)))
      case None =>
        val result =
          try store.writeFolded(Seq(BucketStore.FoldReq("$system", recs))).head
          catch { case scala.util.control.NonFatal(e) => Left(e) }
        result match {
          case Right(rejected) if rejected.isEmpty => true
          case Right(rejected) =>
            dropped.addAndGet(rejected.size.toLong)
            System.err.println(s"[system-log] dropped ${rejected.size} of ${items.size} " +
              s"events: their keys are stored")
            false
          case Left(e) =>
            dropped.addAndGet(items.size.toLong)
            System.err.println(s"[system-log] dropped ${items.size}-event write: $e")
            false
        }
    }
  }
}

object SystemLog {
  /** One diagnostics event, pre-clock: ts is assigned at write time by
    * the log's shared strictly-increasing clock, in sequence order. */
  final case class Event(entryPrefix: String, name: String, status: Int,
      payloadJson: String,
      nowUs: Long = System.currentTimeMillis() * 1000L,
      extraLabels: Map[String, String] = Map.empty)

  /** Severity rank, ERROR most severe (log::Level's ordering). */
  val Rank: Map[String, Int] =
    Map("ERROR" -> 1, "WARN" -> 2, "INFO" -> 3, "DEBUG" -> 4, "TRACE" -> 5)

  private def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
