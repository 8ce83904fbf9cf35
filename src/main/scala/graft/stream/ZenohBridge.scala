package graft.stream

import graft.core.EntryPattern
import graft.engine.{BucketStore, QueryEngine, QueryRegistry, QuerySpec}
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Zenoh-shaped pub/sub seam (SURVEY §2.4).
  *
  * The reference runs an optional Zenoh runtime in single-bucket mode: a
  * subscriber writes every sample into a fixed bucket with the key
  * expression as the entry name, and a queryable answers selectors against
  * the same bucket (api/zenoh.rs:24-41, api/zenoh/subscriber.rs:36-104,
  * api/zenoh/queryable.rs:71-117, cfg/zenoh.rs:12-46). The zenoh native
  * transport cannot link in this build (zero egress, no native lib), so the
  * TRANSPORT is a trait ([[Zenoh.Transport]]) and everything else — config
  * parsing, inline-credential materialization, keyexpr→entry mapping with
  * the entry-pattern grammar, attachment label decode, sample→record
  * batching, selector→query resolution — is real and spec-tested against
  * an in-memory transport. Wiring a real zenoh binding is implementing
  * `Transport` with the zenoh-java session; nothing else changes.
  */
object Zenoh {

  /** cfg/zenoh.rs:36-104 (RS_ZENOH_* environment surface). Inline TLS /
    * auth contents mirror the reference's cloud-credential story: content
    * arrives inline and is written to temp files at startup. */
  final case class Config(
      enabled: Boolean = false,
      bucket: String = "zenoh",            // RS_ZENOH_BUCKET default
      subKeyexprs: Option[String] = None,  // write path; None disables
      queryKeyexprs: Option[String] = None, // read path; None disables
      tlsRootCa: Option[String] = None,
      tlsConnectCert: Option[String] = None,
      tlsConnectKey: Option[String] = None,
      authDictionary: Option[String] = None)

  object Config {
    /** Parse the RS_ZENOH_* env surface (cfg/zenoh.rs:120-163). */
    def fromEnv(env: Map[String, String]): Config = Config(
      enabled = env.get("RS_ZENOH_ENABLED").exists(v =>
        v.equalsIgnoreCase("true") || v == "1"),
      bucket = env.getOrElse("RS_ZENOH_BUCKET", "zenoh"),
      subKeyexprs = env.get("RS_ZENOH_SUB_KEYEXPRS").filter(_.nonEmpty),
      queryKeyexprs = env.get("RS_ZENOH_QUERY_KEYEXPRS").filter(_.nonEmpty),
      tlsRootCa = env.get("RS_ZENOH_TLS_ROOT_CA"),
      tlsConnectCert = env.get("RS_ZENOH_TLS_CONNECT_CERT"),
      tlsConnectKey = env.get("RS_ZENOH_TLS_CONNECT_KEY"),
      authDictionary = env.get("RS_ZENOH_AUTH_DICTIONARY"))
  }

  /** Write inline credential contents to temp files, returning the paths a
    * transport config would reference (cfg/zenoh.rs: RS_ZENOH_TLS_* /
    * RS_ZENOH_AUTH_DICTIONARY → transport/link/tls/... file settings). */
  def materializeCredentials(config: Config): Map[String, Path] = {
    def write(name: String, content: String): Path = {
      val p = Files.createTempFile(s"graft-zenoh-$name", ".pem")
      Files.writeString(p, content)
      p.toFile.deleteOnExit()
      p
    }
    Seq(
      "root_ca_certificate" -> config.tlsRootCa,
      "connect_certificate" -> config.tlsConnectCert,
      "connect_private_key" -> config.tlsConnectKey,
      "usrpwd_dictionary" -> config.authDictionary)
      .collect { case (k, Some(v)) => k -> write(k, v) }
      .toMap
  }

  /** One published sample, as a zenoh subscriber delivers it: payload plus
    * the optional serialized-labels attachment (attachments.rs:8-14), an
    * optional source timestamp, and transport-level metadata. */
  final case class Sample(
      keyExpr: String,
      payload: Array[Byte],
      attachment: Option[Array[Byte]] = None,
      timestampUs: Option[Long] = None,
      contentType: String = "application/octet-stream",
      sourceLabels: Map[String, String] = Map.empty)

  /** A get() selector: key expression + parsed selector params + optional
    * attachment carrying `{"when": ...}` (attachments.rs:17-27). */
  final case class Query(
      keyExpr: String,
      params: Map[String, String] = Map.empty,
      attachment: Option[Array[Byte]] = None)

  /** A query reply: the record as a sample (labels ride back as the
    * serialized attachment, mirroring the subscriber wire shape). */
  final case class Reply(
      keyExpr: String,
      payload: Array[Byte],
      labels: Map[String, String],
      timestampUs: Long,
      contentType: String)

  /** The transport seam. A real zenoh binding implements these two calls
    * with session.declare_subscriber / declare_queryable; the in-memory
    * test transport drives them directly. */
  trait Transport {
    /** Deliver samples matching `keyexpr` to `handler`; close() undeclares. */
    def subscribe(keyexpr: String)(handler: Sample => Unit): AutoCloseable
    /** Answer get() selectors matching `keyexpr` via `handler`. The
      * handler returns a LAZY reply stream — the transport pulls one
      * reply at a time and ships it before pulling the next, the
      * QueryResult::Stream backpressure contract (queryable.rs:108-115):
      * a selector over a huge entry never materializes its result set
      * in driver memory. */
    def queryable(keyexpr: String)(handler: Query => Iterator[Reply]): AutoCloseable
  }

  /** Decode a serialized-labels attachment: a JSON object of string (or
    * scalar) values. Invalid payloads degrade to no labels with a warning,
    * never a dropped sample (subscriber.rs:49-60). */
  def decodeLabels(raw: Array[Byte]): Either[String, Map[String, String]] =
    try JsonMethods.parse(new String(raw, StandardCharsets.UTF_8)) match {
      case JObject(fields) =>
        Right(fields.collect {
          case (k, JString(v)) => k -> v
          case (k, JInt(v)) => k -> v.toString
          case (k, JDouble(v)) => k -> v.toString
          case (k, JBool(v)) => k -> v.toString
        }.toMap)
      case other => Left(s"labels attachment must be a JSON object, got $other")
    } catch { case e: Exception => Left(e.getMessage) }

  /** keyexpr → entry name: strip leading/trailing '/'
    * (subscriber.rs:47 `key_expr.trim_matches('/')`). */
  def entryName(keyExpr: String): String =
    keyExpr.dropWhile(_ == '/').reverse.dropWhile(_ == '/').reverse

  def serializeLabels(labels: Map[String, String]): Array[Byte] = {
    val fields = labels.toSeq.sortBy(_._1)
      .map { case (k, v) => (k, JString(v)): JField }
    JsonMethods.compact(JObject(fields: _*)).getBytes(StandardCharsets.UTF_8)
  }
}

/** Bridges a [[Zenoh.Transport]] into a [[BucketStore]]: the write path
  * buffers samples into micro-batches (one [[BucketStore.writeFolded]]
  * request per flush — a per-sample write would be a small-files
  * disaster at any scale), the read path resolves selectors through the
  * query engine.
  */
final class ZenohBridge(
    store: BucketStore,
    config: Zenoh.Config,
    transport: Zenoh.Transport,
    /** samples per write flush; zenoh delivers one sample at a time, so
      * the bridge owns the batching the reference gets from its per-record
      * block writer. */
    flushEvery: Int = 1024,
    nowUs: () => Long = () => System.currentTimeMillis() * 1000L,
    onWarn: String => Unit = m => System.err.println(s"[zenoh] $m"),
    /** `RS_RATE_LIMIT_*` enforcement for the bridge (PR-1255): the
      * zenoh paths count under the GLOBAL scope — a zenoh session has
      * no client IP (queryable.rs:54-66, subscriber.rs:69-76). */
    limits: graft.engine.RateLimits = graft.engine.RateLimits.unlimited) {

  import Zenoh._

  private val buffer = mutable.ArrayBuffer.empty[BucketStore.FoldRec]

  /** Start the configured pipelines. Disabled config → None, like the
    * reference's spawn_runtime (api/zenoh.rs:24-31). */
  def start(): Option[AutoCloseable] = {
    if (!config.enabled) return None
    val subs =
      config.subKeyexprs.map(kx => transport.subscribe(kx)(handleSample(kx, _))).toList ++
        config.queryKeyexprs.map(kx => transport.queryable(kx)(handleQuery)).toList
    Some(() => { subs.foreach(_.close()); flush() })
  }

  /** subscriber.rs:38-104: entry from the keyexpr, labels from the
    * attachment merged under the transport's source labels, sample
    * timestamp or ingest time, fixed bucket. */
  def handleSample(subPattern: String, s: Sample): Unit = {
    // per-sample admission (subscriber.rs:69-76): one api request plus
    // the payload's ingress bytes, global scope. A limited sample is
    // DROPPED with a warning — the reference logs the error and keeps
    // the subscriber alive rather than tearing down the session
    try {
      limits.checkApiRequest(None)
      limits.checkIngress(None, s.payload.length.toLong)
    } catch { case e: graft.engine.Auth.ApiError =>
      onWarn(s"sample '${s.keyExpr}' dropped: ${e.message}")
      return
    }
    val entry = entryName(s.keyExpr)
    // zenoh only delivers matching keys; the bridge re-checks with the
    // entry-pattern grammar (pattern.rs:4-70) so a misbehaving transport
    // can't write outside the subscribed namespace
    if (!EntryPattern.matches(entry, subPattern) && subPattern != "**") {
      onWarn(s"sample key '${s.keyExpr}' outside subscribed '$subPattern', dropped")
      return
    }
    val attachmentLabels = s.attachment match {
      case Some(raw) => decodeLabels(raw) match {
        case Right(ls) => ls
        case Left(err) =>
          // invalid labels degrade, the sample still lands (subscriber.rs:52-58)
          onWarn(s"failed to decode labels for ${config.bucket}:$entry: $err")
          Map.empty[String, String]
      }
      case None => Map.empty[String, String]
    }
    val labels = attachmentLabels ++ s.sourceLabels // source wins (subscriber.rs:62-64)
    val ts = s.timestampUs.getOrElse(nowUs())
    buffer.synchronized {
      buffer += BucketStore.FoldRec(entry, ts, labels, s.contentType, s.payload)
      if (buffer.size >= flushEvery) flushLocked()
    }
  }

  /** Flush buffered samples as ONE store write request, admitted like
    * any other write (begin_write, engine.rs:226, which subscriber.rs:86
    * also passes through): the bucket's settings apply — its
    * `max_block_records` rotation and HARD/FIFO quota — and the global
    * storage cap and free-disk preflight. Duplicate (entry, ts) replays
    * are rejected and dropped rather than failing the batch — the
    * reference logs the conflict and keeps consuming (session keeps the
    * subscriber alive). A refused or failed write throws and keeps the
    * buffer for the next flush. */
  def flush(): Unit = buffer.synchronized(flushLocked())

  private def flushLocked(): Unit = {
    if (buffer.isEmpty) return
    store.writeFolded(Seq(BucketStore.FoldReq(config.bucket, buffer.toList))).head
      .fold(throw _, _ => buffer.clear())
  }

  /** queryable.rs:71-117: `ts` → that record, `last` → the latest record,
    * otherwise a when-query over [start, stop) with the attachment's
    * condition. Replies carry labels as the serialized attachment.
    *
    * The when-query branch returns a STREAM, not a collected result
    * (QueryResult::Stream, queryable.rs:108-115): `toLocalIterator`
    * pulls one partition of rows at a time as the transport drains, so
    * an unbounded selector over a large entry holds at most one
    * partition driver-side — the same paging discipline the HTTP
    * cursors get from [[graft.engine.QueryRegistry]], whose rule also
    * applies: a query whose scan estimate is under the cap is read on
    * the driver with no Spark job, and its rows arrive in one read. An
    * empty store answers no rows; a failing
    * footer read is an error reply, not an empty answer. Each reply pays
    * its egress bytes as it ships (session.rs:597,672); a mid-stream
    * 429 aborts the remaining replies, which the transport surfaces as
    * an error reply. The `ts`/`last` point reads collect ≤ 1 row by
    * construction. */
  def handleQuery(q: Query): Iterator[Reply] = {
    // per-query admission before any work (session.rs:499)
    limits.checkApiRequest(None)
    val entry = entryName(q.keyExpr)
    val base = QueryEngine.matching(store.tableOrEmpty(),
      QuerySpec(bucket = Some(config.bucket), entries = Some(Seq(entry))))

    def reply(r: Row): Reply = {
      val payload = r.getAs[Array[Byte]]("payload")
      limits.checkEgress(None,
        Option(payload).map(_.length.toLong).getOrElse(0L))
      Reply(
        keyExpr = q.keyExpr,
        payload = payload,
        labels = Option(r.getAs[Map[String, String]]("labels")).getOrElse(Map.empty),
        timestampUs = r.getAs[Long]("ts"),
        contentType = r.getAs[String]("content_type"))
    }

    q.params.get("ts") match {
      case Some(raw) =>
        val ts = raw.toLongOption.getOrElse(
          throw new IllegalArgumentException("'ts' must be an unsigned integer"))
        return base.filter(col("ts") === ts).collect().iterator.map(reply)
      case None => ()
    }
    val last = q.params.get("last").map(r => r.toBooleanOption.getOrElse(
      throw new IllegalArgumentException("'last' must be a boolean value")))
    if (last.contains(true))
      return base.orderBy(col("ts").desc).limit(1).collect().iterator.map(reply)

    val when = q.attachment.flatMap { raw =>
      JsonMethods.parse(new String(raw, StandardCharsets.UTF_8)) \ "when" match {
        case JNothing => None
        case v => Some(JsonMethods.compact(v))
      }
    }
    val spec = QuerySpec(
      start = q.params.get("start").map(_.toLong),
      stop = q.params.get("stop").map(_.toLong),
      entries = Some(Seq(entry)),
      when = when,
      strict = q.params.get("strict").exists(_.toBoolean),
      bucket = Some(config.bucket))
    // a small answer reads on the driver (QueryRegistry's rule)
    val rows = QueryRegistry.answer(store.querySource(orEmpty = true), spec)
    q.params.get("limit").map(_.toInt).fold(rows)(rows.take).map(reply)
  }
}
