package graft.engine

/** Remote `$system` event sink for non-owning roles
  * (syslog/forward_writer.rs): a read-only replica keeps no local
  * `$system` — it forwards each event as a single-record write to the
  * primary's HTTP API, failing over to the secondary on connection
  * errors, timeouts, and 5xx responses
  * (forward_writer.rs:66-99 execute_with_failover_policy +
  * is_failover_candidate :109-116). 4xx responses (e.g. a duplicate-ts
  * 409 on a replayed event) do NOT fail over — the primary answered.
  *
  * Wire shape (forward_writer.rs:118-147): POST
  * `{base}api/v1/b/$system/{entry}?ts={us}` with an application/json
  * body and the event's labels as `x-reduct-label-*` headers (`status`
  * always among them), authenticated with the shared `RS_API_TOKEN`.
  * Telemetry must never take serving down: failures log to stderr and
  * report false, they never throw.
  */
final class SystemEventForwarder(
    primaryUrl: Option[String],
    secondaryUrl: Option[String],
    apiToken: String,
    timeoutMs: Long = 5000L) {

  private val client = java.net.http.HttpClient.newBuilder()
    .connectTimeout(java.time.Duration.ofMillis(timeoutMs))
    .build()

  private def encodePath(entry: String): String =
    entry.split("/").map(seg =>
      java.net.URLEncoder.encode(seg, "UTF-8").replace("+", "%20"))
      .mkString("/")

  private def configuredBases: Seq[String] = {
    val bases = Seq(primaryUrl, secondaryUrl).flatten
      .map(_.trim).filter(_.nonEmpty)
    if (bases.isEmpty)
      System.err.println("[system-forward] neither primary nor secondary " +
        "URL is configured for replica system bucket writes")
    bases
  }

  /** Forward a whole flush as ONE multi-entry io-v2 batch
    * (POST /io/$system/write): N events cost ONE primary mutation
    * instead of N. The r19 pricing measured the per-event POST shape at
    * ~21 primary drains per 25 forwarded events on loopback (each POST
    * outruns the coalescer's staggered arrivals), 0.29-0.40 s/event —
    * the flusher holds every event of a flush in hand, so shipping them
    * as one batch is pure amortization (guide §2). Per-event semantics
    * are preserved: ts-ordering is fixed by the caller before encoding,
    * a duplicate-ts event comes back as its per-record x-reduct-error-*
    * header on a 200 with the REST written (the same outcome as the
    * per-event POST's lone 409), and failover follows [[send]]'s policy
    * (connect error / 5xx → next base; 4xx is final — the primary
    * answered). Returns true only when the batch landed with ZERO
    * per-record errors — the AND of the per-event results, as before.
    *
    * The io-v2 wire carries one header per record, and the primary's
    * JDK HttpServer refuses a request with more than 200 headers
    * (`sun.net.httpserver.maxReqHeaders`), so a flush ships as chunks of
    * at most [[SystemEventForwarder.MaxBatchRecords]] records, each
    * under the same failover policy. Every chunk is attempted even when
    * an earlier one failed. */
  def sendBatch(
      events: Seq[(String, Long, Map[String, String], Array[Byte])]): Boolean =
    events.grouped(SystemEventForwarder.MaxBatchRecords)
      .map(sendChunk).toList.forall(identity)

  private def sendChunk(
      events: Seq[(String, Long, Map[String, String], Array[Byte])]): Boolean = {
    if (events.size == 1) {
      val e = events.head
      return send(e._1, e._2, e._3, e._4)
    }
    val bases = configuredBases
    if (bases.isEmpty) return false
    // header and body must agree on record order: encodeBatchV2 emits
    // record headers sorted by (first-appearance entry index, ts), so
    // sort the events identically and concatenate payloads in that order
    val entryIdx = events.map(_._1).distinct.zipWithIndex.toMap
    val sorted = events.sortBy(e => (entryIdx(e._1), e._2))
    val headers = BatchWire.encodeBatchV2(sorted.map { case (entry, ts, labels, payload) =>
      (entry, ts, BatchWire.RecordHeader(payload.length.toLong,
        "application/json", labels))
    })
    val body = {
      val out = new java.io.ByteArrayOutputStream(
        sorted.iterator.map(_._4.length).sum)
      sorted.foreach(e => out.write(e._4))
      out.toByteArray
    }
    for (base <- bases) {
      try {
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"${base.stripSuffix("/")}/api/v1/io/%24system/write"))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
        if (apiToken.nonEmpty)
          b = b.header("Authorization", s"Bearer $apiToken")
        for ((k, v) <- headers) b = b.header(k, v)
        val resp = client.send(
          b.POST(java.net.http.HttpRequest.BodyPublishers.ofByteArray(body))
            .build(),
          java.net.http.HttpResponse.BodyHandlers.discarding())
        val code = resp.statusCode()
        if (code >= 200 && code < 300) {
          import scala.jdk.CollectionConverters._
          val errs = resp.headers().map().keySet().asScala
            .filter(_.toLowerCase.startsWith(BatchWire.ErrorHeaderPrefix))
          for (h <- errs)
            System.err.println(s"[system-forward] batch record rejected: " +
              s"$h=${resp.headers().firstValue(h).orElse("")} via $base")
          return errs.isEmpty
        }
        if (code < 500) { // the primary ANSWERED: no failover (4xx is final)
          System.err.println(
            s"[system-forward] ${events.size}-event batch rejected with " +
              s"$code by $base")
          return false
        }
        System.err.println(
          s"[system-forward] batch got $code from $base, failing over")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[system-forward] batch unreachable at $base: $e")
      }
    }
    false
  }

  /** Forward one event; true on a 2xx from either endpoint. */
  def send(entry: String, ts: Long, labels: Map[String, String],
      payloadJson: Array[Byte]): Boolean = {
    val bases = configuredBases
    if (bases.isEmpty) return false
    for (base <- bases) {
      try {
        var b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(
            s"${base.stripSuffix("/")}/api/v1/b/%24system/" +
              s"${encodePath(entry)}?ts=$ts"))
          .timeout(java.time.Duration.ofMillis(timeoutMs))
          .header("Content-Type", "application/json")
        if (apiToken.nonEmpty)
          b = b.header("Authorization", s"Bearer $apiToken")
        for ((k, v) <- labels) b = b.header(s"x-reduct-label-$k", v)
        val resp = client.send(
          b.POST(java.net.http.HttpRequest.BodyPublishers
            .ofByteArray(payloadJson)).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding())
        val code = resp.statusCode()
        if (code >= 200 && code < 300) return true
        if (code < 500) { // the primary ANSWERED: no failover (4xx is final)
          System.err.println(
            s"[system-forward] '$entry' rejected with $code by $base")
          return false
        }
        System.err.println(
          s"[system-forward] '$entry' got $code from $base, failing over")
      } catch { case scala.util.control.NonFatal(e) =>
        System.err.println(
          s"[system-forward] '$entry' unreachable at $base: $e")
      }
    }
    false
  }
}

object SystemEventForwarder {
  /** Records per forwarded io-v2 request: one header each, well under
    * the JDK HttpServer's 200-header cap with room for the batch's own
    * entries/start-ts/labels headers and the client's standard ones. */
  val MaxBatchRecords: Int = 100

  /** `RS_PRIMARY_URL` / `RS_SECONDARY_URL` +
    * `RS_SYSTEM_EVENTS_REMOTE_TIMEOUT` (seconds). None when neither URL
    * is configured — the caller keeps its local sink then. The
    * reference's REMOTE_CA_PATH / REMOTE_VERIFY_SSL map onto the JVM's
    * standard trust-store configuration (javax.net.ssl.trustStore). */
  def fromEnv(env: Map[String, String], apiToken: String)
      : Option[SystemEventForwarder] = {
    val primary = env.get("RS_PRIMARY_URL").map(_.trim).filter(_.nonEmpty)
    val secondary = env.get("RS_SECONDARY_URL").map(_.trim).filter(_.nonEmpty)
    if (primary.isEmpty && secondary.isEmpty) None
    else Some(new SystemEventForwarder(primary, secondary, apiToken,
      timeoutMs = env.get("RS_SYSTEM_EVENTS_REMOTE_TIMEOUT")
        .flatMap(_.trim.toLongOption).filter(_ > 0)
        .map(_ * 1000L).getOrElse(5000L)))
  }
}
