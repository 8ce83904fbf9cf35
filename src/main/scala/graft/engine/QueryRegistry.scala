package graft.engine

import graft.cond.Parser
import org.apache.spark.sql.{DataFrame, Row}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import javax.crypto.Mac
import javax.crypto.spec.SecretKeySpec
import scala.util.control.NonFatal

/** Driver-side query lifecycle: the reference's push-based cursor
  * (process-global incrementing ids, TTL expiry, batched drain,
  * storage/query.rs:33-36,99-110 + query/base.rs:52-92) becomes a registry
  * of pull-based iterators over the result DataFrame. Continuous queries
  * re-arm from `last_ts + 1` when exhausted (storage/query/continuous.rs:
  * 16-84). `query links` serialize a QuerySpec with an HMAC signature and
  * expiry (reduct_base/src/msg/query_link_api.rs:10-35).
  *
  * BOUNDED CURSORS: the reference answers a query by reading each
  * entry's blocks in ts order and k-way-merging the entries
  * (storage/bucket/query.rs:156-318); it starts no distributed job for
  * a small answer. A cursor's [[QueryRegistry.Source]] gives an
  * estimate of the bytes the query's scan reads
  * (`BucketStore.scanBound`: the uncompressed size of the base files it
  * can read). When the estimate is ≤ [[QueryRegistry.MaxBoundedBytes]]
  * and the query has no `#ext` directive, the cursor reads its answer
  * on the driver (`BucketStore.readSmall`) and drains in no Spark job.
  * Everything else streams through Spark ([[QueryEngine.query]]):
  * `#ext` processors may split rows past any bound. Either way open
  * only plans or checks the query — parse, directive and compile errors
  * surface there ([[QueryEngine.check]] for the driver reader) — and
  * the rows are read at the first fetch. A source with no estimate
  * (`open(records, spec)`) always streams. Errors a drain raises reach
  * the caller as the condition's own error on both paths
  * ([[QueryRegistry.surfaced]]).
  *
  * CONTINUOUS CURSORS re-arm only when the source's version moved since
  * the last arm: an exhausted cursor over an unchanged store polls with
  * no read and no job, as a Structured Streaming trigger with no new
  * data runs no batch. A source with no version (a read-only replica)
  * re-arms on every poll. Each re-arm bounds again.
  *
  * MEMORY BOUND: a streaming cursor holds its spec + a lazy local
  * iterator (at most ONE partition's fetched rows once draining starts
  * — Spark's toLocalIterator pulls partitions on demand). A bounded
  * cursor holds its whole answer from the first fetch. The per-cursor
  * cap and the registry-wide [[QueryRegistry.BoundedBudgetBytes]] limit
  * that answer by its scan estimate, not by measured heap: the estimate
  * counts encoded page bytes (dictionary and run-length encoded labels
  * can decode larger), not the overlay labels of a patched entry, and
  * not rows a write lands between open and the first fetch. An open
  * whose estimate would pass the budget streams instead, with the same
  * answer. A reservation is returned when the cursor drains to its end
  * (an exhausted cursor also drops its rows), is closed, or
  * expires. The registry never exceeds `maxCursors` entries (default
  * 8192): expired cursors are
  * swept on every open/fetch, and an open at the cap is REJECTED with
  * [[QueryRegistry.TooManyQueriesException]] (HTTP 429) after a final
  * expiry sweep. Live cursors are never evicted — the reference only
  * expires, never evicts (storage/query.rs:99-110), and evicting the
  * least-recently-accessed live cursor would hand a flooding client a
  * kill-other-clients'-queries primitive: the flood holds the freshest
  * lastAccess, so the victims' valid cursors would go first and their
  * next fetch would silently return None mid-drain (ADVICE r14). The
  * cap is this library's explicit memory-DoS bound; rejection keeps it
  * O(1) per open, no scan.
  */
final class QueryRegistry(defaultTtlMs: Long = 60000L,
    maxCursors: Int = 8192) {
  import QueryRegistry._

  final class Cursor(
      val id: Long,
      source: Source,
      val spec: QuerySpec,
      continuous: Boolean,
      ttlMs: Long) {
    @volatile private var lastAccess = System.nanoTime()
    private[QueryRegistry] def lastAccessNanos: Long = lastAccess
    private var lastTs: Option[Long] = None
    // the estimate this cursor holds against the registry budget; guarded
    // by its own lock so close/expiry never wait on an in-flight fetch
    private val reservation = new Object
    private var held = 0L
    private var retired = false
    // the source's version when the query was last planned
    private var armedAt: Option[Long] = None
    // Planned at OPEN (parse/plan errors surface there → HTTP 422; no
    // Spark jobs run — the flood spec pins ~10 ms opens), but the rows
    // are read on FIRST FETCH: toLocalIterator under AQE eagerly runs
    // the plan's upstream shuffle stages, so eager init made open() pay
    // the query's first shuffle (measured: a gated 4-row sort blocked
    // open for the full stage time; the reference registers instantly
    // and pays on read, query.rs:33-36).
    private var pending: () => Iterator[Row] = plan(spec)
    private var iter: Iterator[Row] = null

    /** The query's read: on the driver when the scan estimate is under
      * the cap and the budget takes it, else a streaming drain. */
    private def plan(s: QuerySpec): () => Iterator[Row] = {
      armedAt = source.version
      val bytes = source.bound(s)
      if (bounded(s, bytes) && reserve(bytes)) {
        try QueryEngine.check(s)
        catch { case NonFatal(e) => release(); throw e }
        () => source.read(s).iterator
      } else {
        val df = QueryEngine.query(source.table(s), s)
        () => drain(df)
      }
    }

    private def reserve(bytes: Long): Boolean = reservation.synchronized {
      !retired && tryReserve(bytes) && { held = bytes; true }
    }

    private def release(): Unit = reservation.synchronized {
      unreserve(held)
      held = 0L
    }

    /** Closed or expired: the reservation returns and none is taken
      * again, also by a fetch still in flight. */
    private[QueryRegistry] def retire(): Unit = reservation.synchronized {
      retired = true
      release()
    }

    def expired: Boolean =
      (System.nanoTime() - lastAccess) / 1000000L > ttlMs

    private[QueryRegistry] def drained: Boolean = synchronized { iter eq Iterator.empty }

    /** Drain up to `maxRecords`; empty result = NoContent. A continuous
      * cursor re-arms from last_ts+1 on exhaustion (continuous.rs:41-66).
      *
      * Concurrency: the cursor's monitor serializes fetches of the SAME
      * cursor only (the iterator is stateful) — the registry's expiry
      * sweep and other cursors' fetches never contend it. Time bound:
      * one fetch pulls at most one result partition through
      * toLocalIterator (or, bounded, reads the answer once) plus local
      * iteration of ≤ maxRecords rows. A cursor expiring (or being
      * closed) while a fetch is in flight is benign: the in-flight fetch
      * completes against its own iterator, the NEXT registry.fetch
      * returns None. */
    def fetch(maxRecords: Int): Seq[Row] = synchronized {
      lastAccess = System.nanoTime()
      val out = Seq.newBuilder[Row]
      var n = 0
      while (n < maxRecords && ensureNext()) {
        val row = iter.next()
        lastTs = Some(row.getLong(row.fieldIndex("ts")))
        out += row
        n += 1
      }
      out.result()
    }

    private def ensureNext(): Boolean = {
      if (iter == null) {
        iter = surfaced(pending())
        pending = null // the iterator owns the read from here
      }
      if (surfaced(iter.hasNext)) return true
      release()
      if (!continuous) {
        iter = Iterator.empty // drained rows are not held until the TTL
        return false
      }
      // nothing to re-arm for while the source reports the version the
      // last arm saw
      if (armedAt.isDefined && source.version == armedAt) return false
      // re-arm a fresh historical query from last emitted ts + 1
      iter = surfaced(plan(spec.copy(start = lastTs.map(_ + 1).orElse(spec.start)))())
      surfaced(iter.hasNext) || { release(); false }
    }
  }

  private val nextId = new AtomicLong(1)
  private val cursors = new ConcurrentHashMap[Long, Cursor]()
  private val reservedBytes = new AtomicLong(0L)

  /** Bytes the live bounded cursors hold against [[BoundedBudgetBytes]]. */
  def reserved: Long = reservedBytes.get

  private def tryReserve(bytes: Long): Boolean = {
    var cur = reservedBytes.get
    while (cur + bytes <= BoundedBudgetBytes) {
      if (reservedBytes.compareAndSet(cur, cur + bytes)) return true
      cur = reservedBytes.get
    }
    false
  }

  private def unreserve(bytes: Long): Unit =
    if (bytes != 0L) reservedBytes.addAndGet(-bytes): Unit

  /** Register a query over a table source without a scan estimate or
    * a version: the cursor streams, and `records` is called again at
    * each continuous re-arm. */
  def open(records: () => DataFrame, spec: QuerySpec,
      continuous: Boolean = false, ttlMs: Long = defaultTtlMs): Long =
    open(spec, new Source {
      def bound(s: QuerySpec): Long = Long.MaxValue
      def table(s: QuerySpec): DataFrame = records()
      def read(s: QuerySpec): Seq[Row] =
        throw new UnsupportedOperationException("a table source has no driver-side reader")
      def version: Option[Long] = None
    }, continuous, ttlMs)

  /** Register a query; returns its process-global id (query.rs:33-36).
    * `source` gives the estimate that picks the read (class doc), the
    * table and reader, and the version that gates continuous re-arms;
    * it is asked at open and at each continuous re-arm.
    * @throws QueryRegistry.TooManyQueriesException when the registry is
    *         at `maxCursors` live (unexpired) cursors — the caller maps
    *         this to HTTP 429; existing cursors are never evicted. */
  def open(spec: QuerySpec, source: Source,
      continuous: Boolean, ttlMs: Long): Long = {
    evictExpired()
    val id = nextId.getAndIncrement()
    val cursor = new Cursor(id, source, spec, continuous, ttlMs)
    // cap enforcement under a lock: a check-then-put race would let N
    // concurrent opens overshoot the documented bound. The check is
    // O(1); fetch/close stay lock-free on the ConcurrentHashMap.
    capLock.synchronized {
      if (cursors.size() >= maxCursors) {
        evictExpired() // a racer may have left expired entries behind
        if (cursors.size() >= maxCursors) {
          cursor.retire()
          throw new QueryRegistry.TooManyQueriesException(
            s"too many queries: $maxCursors cursors live; close cursors " +
              "or let them expire before opening more")
        }
      }
      cursors.put(id, cursor)
    }
    id
  }
  private val capLock = new Object

  def fetch(id: Long, maxRecords: Int): Option[Seq[Row]] = {
    evictExpired()
    Option(cursors.get(id)).map(_.fetch(maxRecords))
  }

  /** Runs `read` on cursor `id` when it is live and was opened over
    * `bucket`. Ids are process-wide and sequential, so a caller scoped
    * to one bucket sees another bucket's cursor as unknown (None). */
  def fetch[T](id: Long, bucket: String)(read: Cursor => T): Option[T] = {
    evictExpired()
    Option(cursors.get(id)).filter(_.spec.bucket.contains(bucket)).map(read)
  }

  def close(id: Long): Unit = Option(cursors.remove(id)).foreach(_.retire())
  /** Whether cursor `id` drained to its end and dropped its rows. */
  private[engine] def drained(id: Long): Boolean = Option(cursors.get(id)).exists(_.drained)
  def size: Int = cursors.size()

  private def evictExpired(): Unit = {
    val it = cursors.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      if (e.getValue.expired && cursors.remove(e.getKey, e.getValue)) e.getValue.retire()
    }
  }
}

object QueryRegistry {
  /** Open rejected at the cursor cap (→ HTTP 429). The registry never
    * evicts live cursors to make room (see class doc). */
  final class TooManyQueriesException(msg: String) extends RuntimeException(msg)

  /** Where a query's rows come from: an estimate of the bytes its scan
    * reads, the Spark table it streams from, a driver-side reader for
    * small answers, and a version that moves whenever the data may have
    * (None: unknown). `BucketStore.querySource` is the store's. */
  trait Source {
    def bound(spec: QuerySpec): Long
    def table(spec: QuerySpec): DataFrame
    def read(spec: QuerySpec): Seq[Row]
    def version: Option[Long]
  }

  /** A query whose scan estimate is this many bytes or fewer reads on
    * the driver. Set to about the default page body cap
    * (`RS_IO_BATCH_MAX_SIZE`, 8 MB), so a bounded answer is about one
    * page; not tuned by measurement. Key lookups take the same cap. */
  val MaxBoundedBytes: Long = 8L << 20

  /** Across the registry, bounded cursors reserve at most this many
    * bytes of scan estimate; past it, cursors stream. Not tuned by
    * measurement. */
  val BoundedBudgetBytes: Long = 256L << 20

  /** `#ext` processors may split rows past any scan bound. */
  private def hasExt(spec: QuerySpec): Boolean =
    spec.when.exists(w => Parser.parse(w).directives.get("#ext").isDefined)

  /** The one rule: `spec`, whose scan estimate is `bytes`, reads on the
    * driver when the estimate is ≤ [[MaxBoundedBytes]] and it has no
    * `#ext`; else it streams through Spark. */
  def bounded(spec: QuerySpec, bytes: Long): Boolean =
    bytes <= MaxBoundedBytes && !hasExt(spec)

  /** A one-shot answer of `spec` by the cursors' rule, for readers that
    * hold no cursor (the Zenoh queryable). A driver-side answer takes no
    * budget: it is held only while its caller drains it. */
  def answer(source: Source, spec: QuerySpec): Iterator[Row] =
    if (bounded(spec, source.bound(spec))) {
      QueryEngine.check(spec)
      source.read(spec).iterator
    } else {
      val it = drain(QueryEngine.query(source.table(spec), spec))
      new Iterator[Row] {
        def hasNext: Boolean = surfaced(it.hasNext)
        def next(): Row = surfaced(it.next())
      }
    }

  private def drain(df: DataFrame): Iterator[Row] = {
    import scala.jdk.CollectionConverters._
    df.toLocalIterator().asScala
  }

  /** `f`, with a condition error raised inside a Spark task rethrown as
    * itself: the driver reader raises it directly, so both reads of a
    * query fail with one error (a strict query's missing label is the
    * same 422 on either path). */
  private[engine] def surfaced[T](f: => T): T =
    try f
    catch {
      case NonFatal(e) =>
        throw Iterator.iterate(e: Throwable)(_.getCause).take(12).takeWhile(_ != null)
          .collectFirst { case c: graft.cond.CondError => c }.getOrElse(e)
    }
}

/** Shareable signed query links (query_link_api.rs:10-35): a serialized
  * QuerySpec + expiry + the target record's STRICT identity
  * (`record_entry`, `record_timestamp` — PR-1334 removed index-based
  * selection so a link always resolves the same record), HMAC-SHA256-
  * signed so the server can replay it without trusting the caller. */
object QueryLinks {

  /** What a verified link carries: the query to replay plus the exact
    * record the link points at within its results. */
  final case class LinkPayload(spec: QuerySpec, recordEntry: String,
      recordTs: Long)

  private def hmac(secret: String, payload: String): String = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret.getBytes("UTF-8"), "HmacSHA256"))
    mac.doFinal(payload.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString
  }

  private def enc(s: String): String =
    java.util.Base64.getUrlEncoder.encodeToString(s.getBytes("UTF-8"))
  private def dec(s: String): String =
    new String(java.util.Base64.getUrlDecoder.decode(s), "UTF-8")

  private def specJson(spec: QuerySpec, recordEntry: String,
      recordTs: Long, expiresAtMs: Long): String = {
    // full JSON string escaping incl. control chars — an entry name with
    // a newline/tab would otherwise produce invalid JSON that SIGNS fine
    // but throws at verify-time on every use of the legitimate link
    def q(s: String) = "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""
    val fields = Seq(
      spec.start.map(v => s"\"start\":$v"),
      spec.stop.map(v => s"\"stop\":$v"),
      spec.entries.map(es => s"\"entries\":[${es.map(q).mkString(",")}]"),
      spec.when.map(w => "\"when\":" + org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.parse(w))),
      spec.bucket.map(b => s"\"bucket\":${q(b)}"),
      Some(s"\"strict\":${spec.strict}"),
      Some(s"\"only_metadata\":${spec.onlyMetadata}"),
      Some(s"\"record_entry\":${q(recordEntry)}"),
      Some(s"\"record_timestamp\":$recordTs"),
      Some(s"\"expires_at\":$expiresAtMs")).flatten
    fields.mkString("{", ",", "}")
  }

  /** Create a link token pointing at one record inside the query. */
  def sign(spec: QuerySpec, recordEntry: String, recordTs: Long,
      expiresAtMs: Long, secret: String): String = {
    val payload = enc(specJson(spec, recordEntry, recordTs, expiresAtMs))
    payload + "." + hmac(secret, payload)
  }

  /** Verify + decode; returns the payload if the signature matches and
    * the link has not expired. */
  def verify(token: String, secret: String,
      nowMs: Long = System.currentTimeMillis()): Option[LinkPayload] = {
    token.split("\\.", 2) match {
      // constant-time comparison — plain string equality leaks a
      // byte-by-byte timing side channel that allows signature forgery
      case Array(payload, sig) if java.security.MessageDigest.isEqual(
          hmac(secret, payload).getBytes("UTF-8"), sig.getBytes("UTF-8")) =>
        val json = org.json4s.jackson.JsonMethods.parse(dec(payload))
        import org.json4s._
        implicit val fmts: Formats = DefaultFormats
        val expires = (json \ "expires_at").extractOpt[Long].getOrElse(0L)
        // strict identity (PR-1334): a payload missing either identity
        // field is not a valid link, even if correctly signed
        val recordEntry = (json \ "record_entry").extractOpt[String]
        val recordTs = (json \ "record_timestamp").extractOpt[Long]
        if (expires < nowMs || recordEntry.isEmpty || recordTs.isEmpty) None
        else Some(LinkPayload(QuerySpec(
          start = (json \ "start").extractOpt[Long],
          stop = (json \ "stop").extractOpt[Long],
          // toOption: json4s extracts a missing key as Some(Nil) for Seqs
          entries = (json \ "entries").toOption
            .flatMap(_.extractOpt[Seq[String]]),
          when = (json \ "when").toOption
            .map(w => org.json4s.jackson.JsonMethods.compact(w)),
          strict = (json \ "strict").extractOpt[Boolean].getOrElse(false),
          onlyMetadata = (json \ "only_metadata").extractOpt[Boolean].getOrElse(false),
          bucket = (json \ "bucket").extractOpt[String]),
          recordEntry.get, recordTs.get))
      case _ => None
    }
  }
}
