package graft.engine

/** API-call auditing into `$system/audit/<instance>/<token_name>`
  * (api/http/middleware/audit.rs + syslog/payload/audit.rs): every
  * request except the health probes becomes an `api_call` event carrying
  * token/method/path/client_ip/call_count/duration, with the HTTP status
  * as a queryable label.
  *
  * Like the reference's aggregated audit logger (syslog/aggregate/
  * audit.rs), events BATCH in memory keyed by (token, method, path,
  * status) — merged `call_count` + summed duration — and flush as one
  * write when `flushEvery` distinct keys accumulate or on an explicit
  * [[flush]]; a per-request Spark write would tax every API call with a
  * job. The buffer is all this class owns: rows leave through
  * [[SystemLog.events]], the one `$system` writer, which stamps them
  * from its strictly-increasing clock (ts is the record id) and forwards
  * them to the primary on a replica. A failed write never fails the
  * request path.
  */
final class AuditLog(systemLog: SystemLog, enabled: Boolean,
    flushEvery: Int = 64) {

  private val buf =
    new java.util.concurrent.ConcurrentHashMap[(String, String, String, Int),
      (Long, Double)]()

  /** Token resolution mirrors resolve_audit_token_name: 401 →
    * `unauthorized`; open instance → `anonymous`; otherwise the
    * validated token's name, or skip when the token doesn't validate. */
  def record(tokenName: Option[String], method: String, path: String,
      status: Int, clientIp: Option[String], durationSec: Double): Unit = {
    if (!enabled) return
    // EXACT health-probe routes only: endsWith would let an ordinary
    // entry legitimately named 'alive'/'ready' evade the audit trail
    if (path == "/api/v1/alive" || path == "/api/v1/ready") return
    val name = if (status == 401) Some("unauthorized") else tokenName
    name.foreach { n =>
      buf.merge((n, method, path, status), (1L, durationSec),
        (a: (Long, Double), b: (Long, Double)) => (a._1 + b._1, a._2 + b._2))
      if (buf.size >= flushEvery) flush(clientIp)
    }
  }

  /** Drain the buffer into [[SystemLog.Event]]s (empty when nothing is
    * buffered). The periodic tick and the shutdown flush fold these into
    * the usage flush's single `$system` write instead of paying a second
    * one. `client_ip` on a drained row is the flushing request's — an
    * aggregated row can merge calls from several clients, and the
    * per-key tally (not per-client attribution) is the audit signal. */
  def drainAsEvents(clientIp: Option[String] = None,
      nowUs: Long = System.currentTimeMillis() * 1000L): Seq[SystemLog.Event] = {
    if (!enabled || buf.isEmpty) return Seq.empty
    import scala.jdk.CollectionConverters._
    buf.keySet().asScala.toSeq.sortBy(_.toString()).flatMap { k =>
      Option(buf.remove(k)).map { case (n, dur) =>
        val (token, method, path, status) = k
        SystemLog.Event("audit", token, status,
          s"""{"event_type":"api_call","token_name":${js(token)},""" +
            s""""method":${js(method)},"path":${js(path)},""" +
            s""""client_ip":${clientIp.map(js).getOrElse("null")},""" +
            s""""call_count":$n,"duration":$dur}""", nowUs)
      }
    }
  }

  /** Write the drained buffer on its own (the size-triggered flush). */
  def flush(clientIp: Option[String] = None,
      nowUs: Long = System.currentTimeMillis() * 1000L): Unit =
    systemLog.events(drainAsEvents(clientIp, nowUs)): Unit

  private def js(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
