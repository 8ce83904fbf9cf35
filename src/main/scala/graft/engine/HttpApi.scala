package graft.engine

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import graft.core.EntryPattern
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.json4s._
import org.json4s.jackson.JsonMethods
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8

/** Minimal HTTP façade exposing the engine over the reference's REST
  * surface (api/http/server.rs, bucket.rs, entry.rs, token.rs — SURVEY
  * §2.8), built on the JDK's HttpServer so the library stays
  * dependency-free. This is a single-node serving front for the
  * Spark-backed store — the cluster does the heavy lifting; the façade
  * translates routes, headers and auth:
  *
  *  - `HEAD|GET /api/v1/alive`, `HEAD|GET /api/v1/ready`,
  *    `GET /api/v1/info`, `GET /api/v1/list`, `GET /api/v1/me`
  *  - bucket CRUD `POST|GET|HEAD|PUT|DELETE /api/v1/b/:bucket` with
  *    persisted per-bucket settings (quota_type/quota_size/
  *    max_block_size/max_block_records) enforced on the write path
  *  - entry IO `POST|GET|PATCH /api/v1/b/:bucket/:entry?ts=` with
  *    `x-reduct-label-*` headers (write/read/update-labels)
  *  - query cursors `POST /api/v1/b/:b/:e/q` → `{"id":N}`, batched read
  *    `GET /api/v1/b/:b/:e/batch?q=N` (v1 record headers +
  *    `x-reduct-last`), query-as-delete `DELETE /api/v1/b/:b/:e/q`
  *  - token CRUD `GET|POST|DELETE /api/v1/tokens[/:name]`
  *
  * Route policies mirror token_auth usage: entry reads need bucket read
  * grants, writes need write grants, bucket/token management needs full
  * access; an empty api token runs the instance open.
  */
final class HttpApi(store: BucketStore, apiToken: String = "",
    port: Int = 0, queryTtlMs: Long = 60000L,
    /** Bind address — `RS_HOST` (cfg.rs DEFAULT_HOST 0.0.0.0; the
      * embedded/test default here stays loopback). */
    host: String = "127.0.0.1",
    /** Route prefix BEFORE /api/v1 — `RS_API_BASE_PATH`
      * (http.rs:233-258 nests every router under it). Normalized: "" or
      * "/prefix" (no trailing slash). */
    basePath: String = "",
    /** Live-cursor cap: opens past it are 429'd (QueryRegistry doc). */
    maxCursors: Int = 8192,
    spoolThresholdBytes: Int = 1 << 20,
    ssl: Option[javax.net.ssl.SSLContext] = None,
    /** `RS_*` provisioning variables (cfg/provision); injectable so specs
      * don't touch the process env — a server main passes `sys.env.toMap`. */
    env: Map[String, String] = Map.empty,
    /** Server-side directory bulk exports may write under
      * (`POST /io/:bucket/export`). None (default) disables the
      * endpoint: HTTP callers must never pick arbitrary server-side
      * filesystem targets. */
    exportRoot: Option[String] = None) {
  import Auth._
  import HttpApi._

  /** Count of writes whose body took the spooled (streamed) path —
    * observable so tests can prove a large body never buffered. */
  val spooledWrites = new java.util.concurrent.atomic.AtomicLong

  import graft.stream.Streaming
  import graft.lifecycle.Lifecycle
  import scala.jdk.CollectionConverters._

  val tokens = new TokenRepository(apiToken)
  private val registry = new QueryRegistry(queryTtlMs, maxCursors)
  private val querySource = store.querySource()
  /** `RS_RATE_LIMIT_API/INGRESS/EGRESS` windowed limits (api/limits.rs,
    * PR-1255). Package-visible so specs can assert the parsed config. */
  private[engine] val limits = RateLimits.fromEnv(env)
  /** `RS_IO_MAX_WRITERS_IN_FLIGHT` concurrent-write admission
    * (storage/in_flight.rs, PR-1357/1361). */
  private[engine] val inFlight = InFlightIo.fromEnv(env)
  /** `RS_PUBLIC_URL` (cfg.rs:269-280) — the instance's externally
    * reachable URL; created query links use it as their base when the
    * request supplies no `base_url` (links/create.rs:54-58). Empty
    * (the embedded default) keeps the historical host-relative links. */
  private val publicUrl: String =
    env.get("RS_PUBLIC_URL").map(_.trim).filter(_.nonEmpty)
      .map(u => u.stripSuffix("/")).getOrElse("")

  /** `RS_CORS_ALLOW_ORIGIN` — comma-separated allowed origins, `*` for
    * any (cfg.rs:511-519, http.rs:281-296 configure_cors: allow_methods/
    * allow_headers/expose_headers Any). Empty (default) = CORS headers
    * never emitted, preflights still answered 200 without allow-origin
    * (the browser then blocks — the CorsLayer-with-no-origins shape). */
  private val corsAllowOrigins: Seq[String] =
    env.get("RS_CORS_ALLOW_ORIGIN")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Seq.empty)

  /** `RS_INSTANCE_ROLE` (cfg.rs:217-228) — STANDALONE (default) /
    * PRIMARY / SECONDARY / REPLICA; invalid values fail construction
    * like the reference's panic. The functional switch is the STORE's
    * read-only flag (a replica's BucketStore is constructed
    * `readOnly = true` so it never claims the writer lock); the env
    * value must agree with it. */
  private[engine] val instanceRole: String = {
    val role = env.getOrElse("RS_INSTANCE_ROLE", "STANDALONE").toLowerCase
    require(Set("standalone", "primary", "secondary", "replica")(role),
      "Invalid value for RS_INSTANCE_ROLE: must be one of STANDALONE, " +
        "PRIMARY, SECONDARY, REPLICA")
    require((role == "replica") == store.readOnly,
      s"RS_INSTANCE_ROLE=$role disagrees with the store's readOnly=" +
        s"${store.readOnly} — construct a replica's BucketStore with " +
        "readOnly = true")
    role
  }

  /** Maintenance cadences (cfg/storage_engine.rs:17-18, both default
    * 60 s, 0 disables): the compaction tick (skipped on replicas,
    * engine.rs:530) and the replica cache refresh
    * (launcher.rs:99-105). */
  private val compactionIntervalSecs: Long =
    env.get("RS_ENGINE_COMPACTION_INTERVAL")
      .flatMap(_.trim.toLongOption).filter(_ >= 0).getOrElse(60L)
  private val replicaUpdateIntervalSecs: Long =
    env.get("RS_ENGINE_REPLICA_UPDATE_INTERVAL")
      .flatMap(_.trim.toLongOption).filter(_ >= 0).getOrElse(60L)

  /** Cross-request mutation coalescing: concurrent writes, label
    * updates, and removes each fold into one store mutation (one Spark
    * job per bucket and mutation type) while preserving serial
    * per-request semantics — see [[MutationCoalescer]]. */
  private val writeCoalescer =
    new MutationCoalescer(store, store.writeFolded)
  private val updateCoalescer =
    new MutationCoalescer(store, store.updateLabelsFolded)
  private val removeCoalescer =
    new MutationCoalescer(store, store.removeFolded)
  // TLS when an SSLContext is supplied — the analog of the reference's
  // cert_path/cert_key_path settings (HTTPS server, cfg/mod.rs); the
  // JVM-idiomatic key source is a PKCS12 keystore ([[HttpApi.sslContext]])
  private val normalizedBasePath: String = {
    val b = basePath.trim.stripSuffix("/")
    if (b.isEmpty || b.startsWith("/")) b else s"/$b"
  }
  private val server = ssl match {
    case Some(ctx) =>
      val s = com.sun.net.httpserver.HttpsServer.create(
        new InetSocketAddress(host, port), 0)
      s.setHttpsConfigurator(new com.sun.net.httpserver.HttpsConfigurator(ctx))
      s
    case None => HttpServer.create(new InetSocketAddress(host, port), 0)
  }
  // serving pool sized to the box (the reference's tokio runtime uses a
  // worker per core): a 4-thread pool let a handful of slow uploads
  // starve health probes — the PR-1341 hazard class. Write-path
  // concurrency stays bounded separately by RS_IO_MAX_WRITERS_IN_FLIGHT,
  // so a bigger pool admits reads/probes while writes queue at their own
  // admission gate. DAEMON threads + explicit shutdown in stop():
  // HttpServer.stop() does NOT shut down a caller-provided executor, and
  // non-daemon pool threads would pin the embedding JVM alive after main
  // returns (measured: the bench runMain never exited).
  private val dispatchPool = java.util.concurrent.Executors.newFixedThreadPool(
    math.max(8, Runtime.getRuntime.availableProcessors()),
    (r: Runnable) => {
      val t = new Thread(r, "graft-http-dispatch"); t.setDaemon(true); t
    })
  server.setExecutor(dispatchPool)
  server.createContext(s"$normalizedBasePath/api/v1/",
    (ex: HttpExchange) => handle(ex))

  /** Periodic usage flush (syslog/aggregate/usage.rs, 60 s
    * USAGE_FLUSH_INTERVAL; the `duration` payload field carries measured
    * elapsed time, so timer drift does not skew the statistics). A final
    * drain runs on stop, like the reference worker's shutdown flush. */
  private val usageFlusher =
    java.util.concurrent.Executors.newSingleThreadScheduledExecutor(r => {
      val t = new Thread(r, "graft-usage-flush"); t.setDaemon(true); t
    })
  private val lastUsageFlushMs =
    new java.util.concurrent.atomic.AtomicLong(System.currentTimeMillis())

  /** The periodic tick's and shutdown's telemetry drain: usage and the
    * buffered audit rows land in ONE `$system` write — one store
    * mutation per tick instead of one per family (each mutation is a
    * full Spark job; the pair was the bulk of api.stop()'s wall and
    * recurs every 60 s on a live server). The audit trail is enabled
    * only with system events, so there is nothing to drain otherwise.
    * Telemetry must never break serving: all flush errors are swallowed
    * (usage.rs:111-112). Graft-visible so specs can force a flush
    * instead of waiting out the interval. */
  private[graft] def flushTelemetryNow(): Unit = try {
    if (provisionedResources.systemEvents.enabled) {
      val now = System.currentTimeMillis()
      val dur = (now - lastUsageFlushMs.getAndSet(now)) / 1000.0
      graft.lifecycle.Lifecycle.flushUsage(store, systemLog, dur,
        extraEvents = auditLog.drainAsEvents())
    }
  } catch { case scala.util.control.NonFatal(_) => () }

  def start(): Int = {
    server.start()
    // usage AND audit flush on the same interval: without a periodic
    // drain, a low-traffic instance (few distinct token/method/path
    // keys) never crosses the audit buffer's size threshold and the
    // $system audit trail stays empty for the server's whole life
    // a replica without forwarding never writes $system events — it
    // doesn't own the store; with RS_PRIMARY_URL configured its events
    // FORWARD to the primary (syslog.rs:132), so the flushers run
    if (!store.readOnly || eventForwarder.isDefined)
      usageFlusher.scheduleAtFixedRate(() => flushTelemetryNow(),
        60L, 60L, java.util.concurrent.TimeUnit.SECONDS)
    // maintenance ticks share the flusher thread: compaction on
    // writable stores (engine.rs:520-531; replicas skip, :530), cache
    // refresh on replicas (launcher.rs periodical_replica_reload).
    // Both swallow errors — maintenance must never take serving down.
    if (!store.readOnly && compactionIntervalSecs > 0)
      usageFlusher.scheduleAtFixedRate(() =>
        try { store.compact(): Unit }
        catch { case scala.util.control.NonFatal(_) => () },
        compactionIntervalSecs, compactionIntervalSecs,
        java.util.concurrent.TimeUnit.SECONDS)
    if (store.readOnly && replicaUpdateIntervalSecs > 0)
      usageFlusher.scheduleAtFixedRate(() =>
        try store.refreshReplica()
        catch { case scala.util.control.NonFatal(_) => () },
        replicaUpdateIntervalSecs, replicaUpdateIntervalSecs,
        java.util.concurrent.TimeUnit.SECONDS)
    server.getAddress.getPort
  }
  def stop(): Unit = {
    usageFlusher.shutdownNow()
    flushTelemetryNow() // usage + buffered audit in ONE shutdown write
    server.stop(0)
    dispatchPool.shutdown()
  }

  def boundPort: Int = server.getAddress.getPort

  // ------------------------------------------------------------- routing

  private def handle(ex: HttpExchange): Unit = {
    val start = System.nanoTime()
    try {
      // every response advertises the served API generation — client SDKs
      // gate compatibility on x-reduct-api (api/http/middleware.rs:29-45)
      ex.getResponseHeaders.set("Server", s"graft ${HttpApi.ServerVersion}")
      ex.getResponseHeaders.set("x-reduct-api", HttpApi.ApiVersion)
      // CORS runs OUTERMOST — the reference's CorsLayer is the last
      // .layer() in http.rs:275, so preflights never reach rate limiting,
      // auth, or routing. Allowed origins echo back (or `*` in any-mode);
      // a disallowed origin gets no CORS headers but the request still
      // serves (the browser enforces).
      Option(ex.getRequestHeaders.getFirst("Origin")).foreach { origin =>
        val allowed =
          if (corsAllowOrigins.contains("*")) Some("*")
          else if (corsAllowOrigins.contains(origin)) Some(origin)
          else None
        allowed.foreach { a =>
          val h = ex.getResponseHeaders
          h.set("Access-Control-Allow-Origin", a)
          h.set("Access-Control-Expose-Headers", "*")
          if (a != "*") h.add("Vary", "Origin")
        }
      }
      if (ex.getRequestMethod.equalsIgnoreCase("OPTIONS") &&
          ex.getRequestHeaders.containsKey("Origin") &&
          ex.getRequestHeaders.containsKey("Access-Control-Request-Method")) {
        val h = ex.getResponseHeaders
        if (h.containsKey("Access-Control-Allow-Origin")) {
          h.set("Access-Control-Allow-Methods", "*")
          h.set("Access-Control-Allow-Headers", "*")
        }
        respond(ex, 200, Array.empty)
        return
      }
      val path = ex.getRequestURI.getPath.stripPrefix(normalizedBasePath)
        .stripPrefix("/api/v1").stripPrefix("/")
      val segs = path.split("/").filter(_.nonEmpty).map(urlDecode).toList
      val method = ex.getRequestMethod.toUpperCase
      val q = queryParams(ex)
      // per-request API admission runs BEFORE routing and auth — the
      // check_api_rate_limit layer wraps the whole router, health
      // probes included (http.rs:271-274, middleware.rs:61-89)
      limits.checkApiRequest(requestClientIp(ex))
      // unsupported request coding → 415 before any handler work, the
      // RequestDecompressionLayer default (http.rs:266); supported ones
      // are decompressed lazily at body-read ([[requestBody]])
      requestContentEncoding(ex).foreach {
        case "gzip" | "zstd" => ()
        case other =>
          ex.getResponseHeaders.set("Accept-Encoding", "gzip, zstd, identity")
          throw ApiError(415, s"Unsupported Content-Encoding: $other")
      }
      (method, segs) match {
        // health probes, both verbs (api/http/server.rs:26-32) —
        // orchestration GETs /ready constantly
        case ("HEAD" | "GET", List("alive")) => respond(ex, 200, Array.empty)
        case ("HEAD" | "GET", List("ready")) => respond(ex, 200, Array.empty)
        case ("GET", List("info"))   => auth(ex, AuthenticatedPolicy); info(ex)
        case ("GET", List("list"))   => auth(ex, AuthenticatedPolicy); list(ex)
        case ("GET", List("me"))     => me(ex)
        case ("GET", List("tokens")) =>
          auth(ex, FullAccessPolicy)
          json(ex, 200, JArray(tokens.tokenList.map(tokenJson).toList))
        case ("POST", List("tokens", name)) =>
          auth(ex, FullAccessPolicy); createToken(ex, name)
        case ("GET", List("tokens", name)) =>
          auth(ex, FullAccessPolicy); json(ex, 200, tokenJson(tokens.getToken(name)))
        case ("DELETE", List("tokens", name)) =>
          auth(ex, FullAccessPolicy); tokens.removeToken(name); json(ex, 200, JObject())
        case ("POST", List("tokens", name, "rotate")) => // token/rotate.rs
          auth(ex, FullAccessPolicy)
          val r = tokens.rotateToken(name)
          json(ex, 200, JObject("value" -> JString(r.value),
            "created_at" -> JInt(BigInt(r.createdAtMs))))
        case ("POST", List("b", bucket)) =>
          auth(ex, FullAccessPolicy); createBucket(ex, bucket)
        case ("GET", List("b", bucket)) =>
          auth(ex, ReadAccessPolicy(bucket)); bucketInfo(ex, bucket)
        case ("HEAD", List("b", bucket)) => // head_bucket (bucket/head.rs)
          auth(ex, AuthenticatedPolicy)
          if (!bucketExists(bucket)) throw notFound(s"Bucket '$bucket' is not found")
          respond(ex, 200, Array.empty)
        case ("PUT", List("b", bucket)) => // update_bucket (bucket/update.rs)
          auth(ex, FullAccessPolicy); updateBucket(ex, bucket)
        case ("DELETE", List("b", bucket)) =>
          auth(ex, FullAccessPolicy); removeBucket(ex, bucket)
        case ("POST", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "q" =>
          // auth policy depends on query_type — resolved inside the router
          queryEntryRouter(ex, bucket, rest.dropRight(1).mkString("/"))
        case ("GET", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "q" =>
          auth(ex, ReadAccessPolicy(bucket))
          openQueryLegacy(ex, bucket, rest.dropRight(1).mkString("/"), q)
        case ("DELETE", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "q" =>
          auth(ex, WriteAccessPolicy(bucket))
          removeQuery(ex, bucket, rest.dropRight(1).mkString("/"), q)
        // v1 batches (read_batched.rs, write_batched.rs,
        // update_batched.rs, remove_batched.rs): one entry, records named
        // by `x-reduct-time-<ts>` headers
        case ("GET" | "HEAD", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "batch" =>
          auth(ex, ReadAccessPolicy(bucket))
          readPage(ex, bucket, q.getOrElse("q",
            throw unprocessable("'q' parameter is required")).toLong,
            q.get("max").map(_.toInt), BatchWire.encodeBatchV1)
        case ("POST", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "batch" =>
          auth(ex, WriteAccessPolicy(bucket))
          writeRecords(ex, bucket, BatchWire.decodeWriteV1(
            rest.dropRight(1).mkString("/"), requestHeaders(ex), declaredContentLength(ex)))
        case ("PATCH", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "batch" =>
          auth(ex, WriteAccessPolicy(bucket))
          updateRecords(ex, bucket,
            BatchWire.decodeUpdateV1(rest.dropRight(1).mkString("/"), requestHeaders(ex)))
        case ("DELETE", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "batch" =>
          auth(ex, WriteAccessPolicy(bucket))
          removeRecords(ex, bucket,
            BatchWire.decodeRemoveV1(rest.dropRight(1).mkString("/"), requestHeaders(ex)))
        // single records: one-record batches of the same bodies
        case ("POST", "b" :: bucket :: rest) if rest.nonEmpty =>
          auth(ex, WriteAccessPolicy(bucket))
          writeRecords(ex, bucket, BatchWire.decodeWriteSingle(rest.mkString("/"),
            recordTs(q), requestHeaders(ex), declaredContentLength(ex)))
        case ("GET" | "HEAD", "b" :: bucket :: rest) if rest.nonEmpty =>
          auth(ex, ReadAccessPolicy(bucket)); readSingle(ex, bucket, rest.mkString("/"), q)
        case ("PATCH", "b" :: bucket :: rest) if rest.nonEmpty =>
          auth(ex, WriteAccessPolicy(bucket))
          updateRecords(ex, bucket, BatchWire.decodeUpdateSingle(rest.mkString("/"),
            recordTs(q), requestHeaders(ex)))
        case ("DELETE", "b" :: bucket :: rest) if rest.nonEmpty =>
          auth(ex, FullAccessPolicy)
          store.removeEntry(bucket, rest.mkString("/")); json(ex, 200, JObject())
        // ----------------- renames (bucket.rs:73, entry.rs:295)
        case ("PUT", List("b", bucket, "rename")) =>
          auth(ex, FullAccessPolicy)
          if (provisionedBuckets.contains(bucket)) // engine.rs:455-460
            throw conflict(s"Can't rename provisioned bucket '$bucket'")
          val to = renameTarget(ex)
          checkBucketName(to) // engine.rs:447
          store.renameBucket(bucket, to)
          if (createdBuckets.remove(bucket)) createdBuckets.add(to)
          json(ex, 200, JObject())
        case ("PUT", "b" :: bucket :: rest)
            if rest.length > 1 && rest.last == "rename" =>
          auth(ex, FullAccessPolicy)
          val entryTo = renameTarget(ex)
          checkEntryName(entryTo)
          store.renameEntry(bucket, rest.dropRight(1).mkString("/"), entryTo)
          json(ex, 200, JObject())
        // ----------------- query links (api/http/links.rs:55-58)
        case ("POST", "links" :: _) =>
          auth(ex, AuthenticatedPolicy); createLink(ex)
        case ("GET", "links" :: _) => resolveLink(ex, q) // token IS the auth
        // --------- replication CRUD (api/http/replication.rs:86-93)
        case ("GET", List("replications")) =>
          auth(ex, FullAccessPolicy)
          json(ex, 200, JObject("replications" -> JArray(
            replications.asScala.toList.sortBy(_._1).map { case (n, s) =>
              replicationInfoJson(n, s) }))) // list carries info items only
        case ("GET", List("replications", name)) =>
          auth(ex, FullAccessPolicy)
          json(ex, 200, replicationJson(name, Option(replications.get(name))
            .getOrElse(throw notFound(s"Replication '$name' doesn't exist"))))
        case ("POST", List("replications", name)) =>
          auth(ex, FullAccessPolicy)
          if (replications.containsKey(name))
            throw conflict(s"Replication '$name' already exists")
          replications.put(name, parseReplication(ex))
          // a task now exists: patches start logging for replication
          // (the reference creates the transaction log with the task)
          store.updateLogEnabled = true
          json(ex, 200, JObject())
        case ("PUT", List("replications", name)) =>
          auth(ex, FullAccessPolicy)
          if (!replications.containsKey(name))
            throw notFound(s"Replication '$name' doesn't exist")
          if (provisionedReplications.contains(name)) // repo.rs:286-296
            throw conflict(s"Can't update provisioned replication '$name'")
          replications.put(name, parseReplication(ex)); json(ex, 200, JObject())
        case ("PATCH", List("replications", name, "mode")) =>
          auth(ex, FullAccessPolicy); setReplicationMode(ex, name)
        case ("DELETE", List("replications", name)) =>
          auth(ex, FullAccessPolicy)
          if (provisionedReplications.contains(name)) // repo.rs:370-376
            throw conflict(s"Can't remove provisioned replication '$name'")
          if (replications.remove(name) == null)
            throw notFound(s"Replication '$name' doesn't exist")
          // last task gone → patches stop paying the update-log write
          // (the reference drops the task's transaction log with it)
          if (replications.isEmpty) store.updateLogEnabled = false
          // PR-1572: the task's closing diagnostics are emitted during
          // deletion (the reference fixed a lock inversion doing this in
          // `replication/`; here the stats object is detached from the
          // maps FIRST, so the event write — itself a store write —
          // happens with no map entry or monitor held on the stop path)
          val st = replStats.remove(name)
          val (fOk, fErr) = if (st == null) (0L, 0L)
            else st.synchronized { (st.ok, st.errored) }
          systemLog.event("replications", name, 200,
            s"""{"event_type":"replication_final","status":200,""" +
              s""""hourly":{"ok":$fOk,"errored":$fErr,"errors":{}}}""")
          json(ex, 200, JObject())
        case ("POST", List("replications", name, "run")) =>
          auth(ex, FullAccessPolicy); runReplication(ex, name)
        // --------- lifecycle CRUD (api/http/lifecycle.rs:86-93)
        case ("GET", List("lifecycle")) =>
          auth(ex, FullAccessPolicy)
          // LifecycleList (lifecycle_api.rs:109-113): info items only
          json(ex, 200, JObject("lifecycles" -> JArray(
            lifecyclePolicies.asScala.toList.sortBy(_._1).map { case (n, p) =>
              lifecycleInfoJson(n, p) })))
        case ("GET", List("lifecycle", name)) =>
          auth(ex, FullAccessPolicy)
          json(ex, 200, lifecycleJson(name, Option(lifecyclePolicies.get(name))
            .getOrElse(throw notFound(s"Lifecycle policy '$name' doesn't exist"))))
        case ("POST", List("lifecycle", name)) =>
          auth(ex, FullAccessPolicy)
          if (lifecyclePolicies.containsKey(name))
            throw conflict(s"Lifecycle policy '$name' already exists")
          lifecyclePolicies.put(name, parseLifecycle(ex)); json(ex, 200, JObject())
        case ("PUT", List("lifecycle", name)) =>
          auth(ex, FullAccessPolicy)
          if (!lifecyclePolicies.containsKey(name))
            throw notFound(s"Lifecycle policy '$name' doesn't exist")
          if (provisionedLifecycles.contains(name)) // lifecycle repo.rs:87-91
            throw conflict(s"Can't update provisioned lifecycle '$name'")
          lifecyclePolicies.put(name, parseLifecycle(ex)); json(ex, 200, JObject())
        case ("DELETE", List("lifecycle", name)) =>
          auth(ex, FullAccessPolicy)
          if (provisionedLifecycles.contains(name)) // lifecycle repo.rs:158-160
            throw conflict(s"Can't remove provisioned lifecycle '$name'")
          if (lifecyclePolicies.remove(name) == null)
            throw notFound(s"Lifecycle policy '$name' doesn't exist")
          json(ex, 200, JObject())
        case ("PATCH", List("lifecycle", name, "mode")) =>
          auth(ex, FullAccessPolicy); setLifecycleMode(ex, name)
        case ("POST", List("lifecycle", name, "run")) =>
          auth(ex, FullAccessPolicy); runLifecycle(ex, name, q)
        // ------------------------- io API v2 (api/http/io.rs:19-29)
        case ("POST", List("io", bucket, "q")) =>
          auth(ex, ReadAccessPolicy(bucket)); ioQuery(ex, bucket)
        case ("GET" | "HEAD", List("io", bucket, "read")) =>
          auth(ex, ReadAccessPolicy(bucket))
          readPage(ex, bucket, Option(ex.getRequestHeaders.getFirst(BatchWire.QueryIdHeader))
            .getOrElse(throw unprocessable(s"${BatchWire.QueryIdHeader} header is required"))
            .toLong, q.get("max").map(_.toInt), BatchWire.encodeBatchV2)
        case ("POST", List("io", bucket, "write")) =>
          auth(ex, WriteAccessPolicy(bucket))
          writeRecords(ex, bucket,
            BatchWire.decodeWriteV2(requestHeaders(ex), declaredContentLength(ex)))
        case ("DELETE", List("io", bucket, "remove")) =>
          auth(ex, WriteAccessPolicy(bucket))
          removeRecords(ex, bucket, BatchWire.decodeRemoveV2(requestHeaders(ex)))
        case ("PATCH", List("io", bucket, "update")) =>
          auth(ex, WriteAccessPolicy(bucket))
          updateRecords(ex, bucket, BatchWire.decodeUpdateV2(requestHeaders(ex)))
        case ("POST", List("io", bucket, "export")) =>
          auth(ex, ReadAccessPolicy(bucket)); ioExport(ex, bucket)
        case _ => throw notFound(s"Route not found: $method ${ex.getRequestURI.getPath}")
      }
    } catch {
      case e: ApiError =>
        errorResponse(ex, e.status, e.message)
      case e: BucketStore.InsufficientStorageException =>
        errorResponse(ex, 507, e.getMessage)
      case e: BucketStore.ReadOnlyStoreException =>
        errorResponse(ex, 403, e.getMessage) // check_mode forbidden (engine.rs:165)
      case e: QueryRegistry.TooManyQueriesException =>
        errorResponse(ex, 429, e.getMessage)
      case e: IllegalArgumentException =>
        errorResponse(ex, 422, Option(e.getMessage).getOrElse("unprocessable"))
      // a condition that does not parse, check or evaluate (strict)
      case e: graft.cond.CondError =>
        errorResponse(ex, 422, e.getMessage)
      case e: NoSuchElementException =>
        errorResponse(ex, 404, Option(e.getMessage).getOrElse("not found"))
      case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        // server errors persist to $system/logs (middleware.rs
        // log_level_for_response: 5xx → Error); capture must never take
        // the response down with it
        try systemLog.log("ERROR", "graft::engine::http",
          s"${ex.getRequestMethod} ${ex.getRequestURI.getPath}: $msg")
        catch { case scala.util.control.NonFatal(_) => () }
        errorResponse(ex, 500, msg)
    } finally {
      recordAudit(ex, (System.nanoTime() - start) / 1e9)
      ex.close()
    }
  }

  /** audit_requests (middleware/audit.rs): every completed request —
    * health probes excluded — is tallied for the `$system` audit trail.
    * Token resolution mirrors resolve_audit_token_name (revalidation,
    * like the reference's middleware; 401 → `unauthorized`, open
    * instance → `anonymous`). Never fails the request path. */
  private def recordAudit(ex: HttpExchange, durationSec: Double): Unit =
    try {
      val status = ex.getResponseCode
      if (status > 0) {
        val clientIp = requestClientIp(ex)
        val tokenName =
          if (status == 401) None // AuditLog substitutes "unauthorized"
          else if (!tokens.authRequired) Some("anonymous")
          else
            try Some(tokens.validateToken(
              Option(ex.getRequestHeaders.getFirst("Authorization")),
              clientIp).name)
            catch { case scala.util.control.NonFatal(_) => None }
        auditLog.record(tokenName, ex.getRequestMethod,
          ex.getRequestURI.getPath, status, clientIp, durationSec)
      }
    } catch { case scala.util.control.NonFatal(_) => () }

  /** Resolved client IP of the exchange — the attach_client_ip
    * middleware analog (middleware.rs:48-59): the Forwarded /
    * X-Forwarded-For originating hop behind a trusted proxy, the
    * socket peer otherwise. Feeds the allowlist, the audit trail, and
    * the rate-limit scope alike. Resolved ONCE per exchange and
    * memoized — the pre-route rate-limit check, auth, the read/write
    * byte admissions, and the audit record all ask, and re-running
    * Forwarded-header parsing 3-4× per request (health-probe floods
    * included) is pure dispatch-path waste. Memoized via a thread-local
    * keyed by exchange IDENTITY, not HttpExchange.setAttribute — JDK
    * exchange attributes are backed by the per-CONTEXT map, so an
    * attribute written on one request leaks into every later one
    * (observed: a proxied client inheriting the previous request's
    * resolved IP). Each exchange is handled synchronously on a single
    * dispatch thread, so the thread-local is exact; a stale pair from
    * a finished exchange never matches (`eq` on the new exchange). */
  private val clientIpMemo = new ThreadLocal[(HttpExchange, Option[String])]
  private def requestClientIp(ex: HttpExchange): Option[String] = {
    val cached = clientIpMemo.get()
    if (cached != null && (cached._1 eq ex)) cached._2
    else {
      val ip = ClientIp.resolve(
        Option(ex.getRemoteAddress).map(_.getAddress),
        name => Option(ex.getRequestHeaders.getFirst(name)))
      clientIpMemo.set((ex, ip))
      ip
    }
  }

  /** Non-identity Content-Encoding of the request, lowercased. */
  private def requestContentEncoding(ex: HttpExchange): Option[String] =
    Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
      .map(_.trim.toLowerCase).filter(e => e.nonEmpty && e != "identity")

  /** Request-body stream with the reference's server-wide
    * RequestDecompressionLayer semantics (http.rs:262-266): bodies sent
    * with Content-Encoding gzip/zstd — e.g. compressed replication
    * batches (Issue-1348) — are transparently decompressed. Unsupported
    * codings were already 415'd pre-routing ([[handle]]). */
  private def requestBody(ex: HttpExchange): java.io.InputStream =
    HttpApi.decodeBody(ex.getRequestBody, requestContentEncoding(ex))

  /** Request headers as (lowercased name, value) pairs, one per value. */
  private def requestHeaders(ex: HttpExchange): Seq[(String, String)] =
    ex.getRequestHeaders.asScala.toSeq.flatMap { case (k, vs) =>
      vs.asScala.map(v => (k.toLowerCase, v))
    }

  /** Declared request-body size (entry/common.rs
    * parse_content_length_from_header): `Content-Length` first, then
    * `x-reduct-content-length` — the Fetch-API alternative for browser
    * streaming uploads where the UA strips Content-Length (PR-1411).
    * Each wire's decoder applies its rule to it ([[BatchWire]]): the
    * single-record and v2 writes REQUIRE it ("content-length header is
    * required", common.rs:12-19, checked before ingress admission,
    * write_single.rs:44-54) — a chunked upload with no declared size
    * would otherwise be admitted at 0 ingress bytes while its body
    * streams unbounded into the spool, defeating `RS_RATE_LIMIT_INGRESS`
    * and the storage-cap preflight. A present-but-non-numeric value is a
    * 422 (common.rs:24-26), never silently coerced to 0. */
  private def declaredContentLength(ex: HttpExchange): Option[Long] =
    Option(ex.getRequestHeaders.getFirst("Content-Length"))
      .map(("content-length", _))
      // a compressed body's content-length describes the COMPRESSED
      // stream — the decompression layer consumes it in the reference
      // (http.rs:264-265), so the raw size comes from the alternative
      // header (or the record-length sum on batch routes)
      .filter(_ => requestContentEncoding(ex).isEmpty)
      .orElse(Option(ex.getRequestHeaders.getFirst("x-reduct-content-length"))
        .map(("x-reduct-content-length", _)))
      .map { case (name, value) =>
        value.trim.toLongOption.filter(_ >= 0)
          .getOrElse(throw unprocessable(s"$name header must be a number"))
      }

  private def auth(ex: HttpExchange, policy: Policy): Unit =
    tokens.check(Option(ex.getRequestHeaders.getFirst("Authorization")),
      // behind a trusted (local/private) proxy, the allowlist sees the
      // real client from Forwarded / X-Forwarded-For, not the proxy
      requestClientIp(ex), policy)

  // ------------------------------------------------------------- server

  private val startedAtMs = System.currentTimeMillis()

  private def info(ex: HttpExchange): Unit = {
    val catalog = store.entryCatalog()
    // created-but-empty buckets exist too (engine.rs keeps the bucket
    // map, not the record table)
    val bucketCount = (catalog.keySet ++ createdBuckets.asScala).size
    json(ex, 200, JObject(
      "version" -> JString(s"${HttpApi.ServerVersion}-spark"),
      "bucket_count" -> JInt(bucketCount),
      // the sum of the /list sizes (BucketStore.storeSizeBytes)
      "usage" -> JInt(BigInt(catalog.valuesIterator.map(_.bytes).sum)),
      "uptime" -> JLong((System.currentTimeMillis() - startedAtMs) / 1000L),
      "oldest_record" -> JInt(BigInt(
        catalog.values.flatMap(_.oldest).minOption.getOrElse(0L))),
      "latest_record" -> JInt(BigInt(
        catalog.values.flatMap(_.latest).maxOption.getOrElse(0L))),
      // server_api.rs:55-58: instance-default bucket settings; license
      // null = OSS terms
      "defaults" -> JObject("bucket" ->
        settingsJson(defaultBucketSettings)),
      "license" -> JNull))
  }

  private def list(ex: HttpExchange): Unit = {
    val catalog = store.entryCatalog()
    val names = (catalog.keySet ++ createdBuckets.asScala).toSeq.sorted
    json(ex, 200, JObject("buckets" -> JArray(names.map { name =>
      val b = catalog.getOrElse(name, BucketStore.BucketEntries.Empty)
      JObject(
        "name" -> JString(name),
        "size" -> JInt(BigInt(b.bytes)),
        "entry_count" -> JInt(b.entryCount),
        "oldest_record" -> JInt(BigInt(b.oldest.getOrElse(0L))),
        "latest_record" -> JInt(BigInt(b.latest.getOrElse(0L))),
        "is_provisioned" -> JBool(provisionedBuckets.contains(name)),
        "status" -> JString("READY")) // msg/status.rs: sync deletes → READY
    }.toList)))
  }

  private def me(ex: HttpExchange): Unit = {
    if (!tokens.authRequired)
      return json(ex, 200, JObject("name" -> JString("anonymous")))
    // same client-ip resolution as every other route: an ip-allowlisted
    // token must not 401 on /me from an ALLOWED address (validateToken
    // with ip=None treats a non-empty allowlist as a mismatch)
    val t = tokens.validateToken(
      Option(ex.getRequestHeaders.getFirst("Authorization")),
      ClientIp.resolve(
        Option(ex.getRemoteAddress).map(_.getAddress),
        name => Option(ex.getRequestHeaders.getFirst(name))))
    json(ex, 200, tokenJson(t))
  }

  private def tokenJson(t: Token): JObject = JObject(
    "name" -> JString(t.name),
    "created_at" -> JInt(BigInt(t.createdAtMs)),
    "is_provisioned" -> JBool(t.isProvisioned),
    "expires_at" -> t.expiresAtMs.map(e => JInt(BigInt(e))).getOrElse(JNull),
    "ttl" -> t.ttlSec.map(s => JInt(BigInt(s))).getOrElse(JNull),
    "ip_allowlist" -> JArray(t.ipAllowlist.map(JString(_)).toList),
    // computed unusable-token marker (token_api.rs:45-47)
    "is_expired" -> JBool {
      val now = System.currentTimeMillis()
      t.expiresAtMs.exists(now >= _) ||
        t.ttlSec.zip(t.lastAccessMs).exists { case (ttl, last) =>
          (now - last) / 1000 > ttl }
    },
    "permissions" -> t.permissions.map(p => JObject(
      "full_access" -> JBool(p.fullAccess),
      "read" -> JArray(p.read.map(JString(_)).toList),
      "write" -> JArray(p.write.map(JString(_)).toList))).getOrElse(JNull))

  /** TokenCreateRequest (token_api.rs:50-59): permissions plus the
    * optional expires_at (RFC 3339), inactivity ttl (seconds), and
    * ip_allowlist fields. */
  private def createToken(ex: HttpExchange, name: String): Unit = {
    val body = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    implicit val fmts: Formats = DefaultFormats
    val perms = (body \ "permissions")
    val p = Permissions(
      fullAccess = (perms \ "full_access").extractOpt[Boolean].getOrElse(false),
      read = (perms \ "read").extractOpt[Seq[String]].getOrElse(Seq.empty),
      write = (perms \ "write").extractOpt[Seq[String]].getOrElse(Seq.empty))
    val expiresAt = (body \ "expires_at").extractOpt[String].map { s =>
      try java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli
      catch { case _: java.time.format.DateTimeParseException =>
        throw unprocessable(s"Invalid expires_at '$s'") }
    }
    val resp = tokens.createToken(name, p,
      expiresAtMs = expiresAt,
      ttlSec = (body \ "ttl").extractOpt[Long],
      ipAllowlist = (body \ "ip_allowlist").extractOpt[Seq[String]]
        .getOrElse(Seq.empty))
    json(ex, 200, JObject("value" -> JString(resp.value),
      "created_at" -> JInt(BigInt(resp.createdAtMs))))
  }

  // ------------------------------------------------------------- buckets

  private val createdBuckets = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** A bucket exists if it was created this session, has data on disk, or
    * has a persisted settings file (creation survives restarts). */
  private def bucketExists(bucket: String): Boolean =
    createdBuckets.contains(bucket) || store.bucketSettingsExist(bucket) ||
      store.bucketSizeBytes(bucket) > 0

  /** Settings from the request body; empty body = no overrides
    * (BucketSettingsAxum::from_request, bucket.rs:44-64). */
  private def parseSettings(ex: HttpExchange): BucketStore.BucketSettings = {
    val body = new String(readBody(ex), UTF_8)
    if (body.trim.isEmpty) BucketStore.BucketSettings()
    else BucketStore.BucketSettings.fromJson(body)
  }

  /** POST /b/:bucket — create with settings; missing fields filled with
    * defaults (create.rs + fill_settings). */
  /** engine.rs:571-578 — bucket names are [A-Za-z0-9_-] only; enforced
    * at create + rename (engine.rs:325,447), so no name that needs
    * path-escaping ever reaches the partition layout via the API. */
  private def checkBucketName(name: String): Unit =
    if (name.isEmpty || !name.forall(c =>
        c.isLetterOrDigit && c < 128 || c == '_' || c == '-'))
      throw unprocessable(
        "Bucket or entry name can contain only letters, digests and [-,_] symbols")

  /** engine.rs:580-605 — entry names are [A-Za-z0-9_/-] path segments
    * (non-empty, no empty segments), plus the `$meta` attachment form. */
  private def checkEntryName(name: String): Unit = {
    if (name.isEmpty || name.startsWith("/") || name.endsWith("/") ||
        name.split("/", -1).exists(_.isEmpty))
      throw unprocessable(
        "Entry name must be non-empty and must not contain empty path segments")
    def plain(s: String) = s.forall(c =>
      c.isLetterOrDigit && c < 128 || c == '_' || c == '-' || c == '/')
    val ok = plain(name) || name == EntryPattern.MetaSegment ||
      (name.endsWith("/" + EntryPattern.MetaSegment) &&
        plain(name.dropRight(EntryPattern.MetaSegment.length + 1)))
    if (!ok) throw unprocessable(
      "Bucket or entry name can contain only letters, digests and [-,_] symbols")
  }

  private def createBucket(ex: HttpExchange, bucket: String): Unit = {
    checkBucketName(bucket)
    if (bucketExists(bucket)) throw conflict(s"Bucket '$bucket' already exists")
    store.putBucketSettings(bucket,
      parseSettings(ex).over(defaultBucketSettings))
    createdBuckets.add(bucket)
    json(ex, 200, JObject())
  }

  /** PUT /b/:bucket — merge present fields over stored settings
    * (update.rs → set_settings → fill_settings over current). */
  private def updateBucket(ex: HttpExchange, bucket: String): Unit = {
    if (!bucketExists(bucket)) throw notFound(s"Bucket '$bucket' is not found")
    if (provisionedBuckets.contains(bucket)) // bucket.rs set_settings guard
      throw conflict(s"Can't change settings of provisioned bucket '$bucket'")
    val current = store.bucketSettings(bucket)
      .getOrElse(defaultBucketSettings)
    store.putBucketSettings(bucket, parseSettings(ex).over(current))
    json(ex, 200, JObject())
  }

  private def settingsJson(s: BucketStore.BucketSettings): JObject = JObject(
    "quota_type" -> s.quotaType.map(JString(_)).getOrElse(JNull),
    "quota_size" -> s.quotaSize.map(v => JInt(BigInt(v))).getOrElse(JNull),
    "max_block_size" -> s.maxBlockSize.map(v => JInt(BigInt(v))).getOrElse(JNull),
    "max_block_records" -> s.maxBlockRecords.map(v => JInt(BigInt(v)))
      .getOrElse(JNull))

  private def bucketInfo(ex: HttpExchange, bucket: String): Unit = {
    if (!bucketExists(bucket)) throw notFound(s"Bucket '$bucket' is not found")
    val b = store.entryCatalog().getOrElse(bucket, BucketStore.BucketEntries.Empty)
    json(ex, 200, JObject(
      "info" -> JObject(
        "name" -> JString(bucket),
        "size" -> JInt(BigInt(b.bytes)),
        "entry_count" -> JInt(b.entryCount),
        "record_count" -> JInt(BigInt(b.visible.map(_._2.records).sum)),
        "oldest_record" -> JInt(BigInt(b.oldest.getOrElse(0L))),
        "latest_record" -> JInt(BigInt(b.latest.getOrElse(0L))),
        "is_provisioned" -> JBool(provisionedBuckets.contains(bucket)),
        // deletes here are synchronous, so READY is the only observable
        // state (msg/status.rs:8-16; DELETING is the reference's async
        // folder-keeper window)
        "status" -> JString("READY")),
      "settings" -> settingsJson(store.bucketSettings(bucket)
        .getOrElse(defaultBucketSettings)),
      "entries" -> JArray((b.visible.map { case (name, e) =>
        val (bytes, files) = b.files.getOrElse(name, (0L, 0L))
        JObject("name" -> JString(name),
          "size" -> JInt(BigInt(bytes)),
          "record_count" -> JInt(BigInt(e.records)),
          "block_count" -> JInt(BigInt(files)), // parquet files ≙ blocks
          "oldest_record" -> JInt(BigInt(e.oldest)),
          "latest_record" -> JInt(BigInt(e.latest)),
          "status" -> JString("READY")) // entry_api.rs:22-24
      } ++ b.emptyParents.map { name =>
        val (bytes, files) = b.files.getOrElse(name, (0L, 0L))
        JObject("name" -> JString(name),
          "size" -> JInt(BigInt(bytes)),
          "record_count" -> JInt(0),
          "block_count" -> JInt(BigInt(files)),
          "oldest_record" -> JInt(0),
          "latest_record" -> JInt(0),
          "status" -> JString("READY"))
      }).toList)))
  }

  private def removeBucket(ex: HttpExchange, bucket: String): Unit = {
    if (!bucketExists(bucket)) throw notFound(s"Bucket '$bucket' is not found")
    if (provisionedBuckets.contains(bucket)) // storage/engine.rs:409-414
      throw conflict(s"Can't remove provisioned bucket '$bucket'")
    store.removeBucket(bucket)
    createdBuckets.remove(bucket)
    json(ex, 200, JObject())
  }

  // ------------------------------------------- entry IO, every wire

  private def recordTs(q: Map[String, String]): Long =
    q.getOrElse("ts", throw unprocessable("'ts' parameter is required")).toLong

  private def alreadyExists(ts: Long): String = s"A record with timestamp $ts already exists"

  /** The one write body under every wire (write_single.rs,
    * write_batched.rs, io/write.rs). Entry names (engine.rs
    * get_or_create), ingress admission and the storage-cap preflight
    * (engine.rs:226) run on the decoded request BEFORE any body byte is
    * read, so a refused upload never pays its transfer. The body copy
    * and the store write then hold one in-flight writer slot
    * (write_record.rs:69): a flood of slow uploads queues here instead
    * of exhausting threads and staging disk. An in-request duplicate
    * (entry, ts) — aliased header spellings such as x-reduct-time-0100
    * and x-reduct-time-100 — keeps its first record and answers the
    * clash like the reference's second begin_write, while its slice
    * still advances the offsets (write_batched.rs:322-330); the
    * survivors are in-request unique, as the store's admission
    * requires. A body under the spool threshold is sliced in memory and
    * coalesced with concurrent writes into one store mutation; a larger
    * one streams to a staging file in 64 KiB chunks and is sliced
    * executor-side ([[BucketStore.writeStagedSlices]]). Either way the
    * store admits each record inside its mutation section: a stored key
    * is a clash, the rest is written and counted as usage traffic. A
    * batch wire answers each clash in its error map on a 200; the
    * single-record route answers 409. */
  private def writeRecords(ex: HttpExchange, bucket: String,
      req: BatchWire.WriteRequest): Unit = {
    req.records.map(_.entry).distinct.foreach(checkEntryName)
    limits.checkIngress(requestClientIp(ex), req.expected)
    store.ensureStorageLimit(req.expected)
    val keys = req.records.map(r => (r.entry, r.timestamp))
    val seen = scala.collection.mutable.HashSet.empty[(String, Long)]
    val kept = req.records.zip(req.records.scanLeft(0L)(_ + _.header.contentLength))
      .filter { case (r, _) => seen.add((r.entry, r.timestamp)) }
    def checkLength(actual: Long): Unit = if (actual != req.expected) {
      val (status, msg) = req.wire.lengthMismatch(actual, req.expected)
      throw ApiError(status, msg)
    }
    val rejected = inFlight.withWriterSlot {
      val in = requestBody(ex)
      val head = in.readNBytes(spoolThresholdBytes)
      if (head.length < spoolThresholdBytes) {
        checkLength(head.length.toLong)
        writeCoalescer.submit(BucketStore.FoldReq(bucket, kept.map { case (r, at) =>
          BucketStore.FoldRec(r.entry, r.timestamp, r.header.labels, r.header.contentType,
            java.util.Arrays.copyOfRange(head, at.toInt, (at + r.header.contentLength).toInt))
        }))
      } else {
        val staged = spoolToStaging(head, in)
        val fs = staged.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
        try checkLength(fs.getFileStatus(staged).getLen)
        catch { case e: ApiError => fs.delete(staged, false); throw e }
        spooledWrites.incrementAndGet()
        store.writeStagedSlices(bucket, staged, kept.map { case (r, at) =>
          BucketStore.StagedSlice(r.entry, r.timestamp, r.header.labels,
            r.header.contentType, at, r.header.contentLength)
        })
      }
    }
    // write traffic counts once, here, for the records that landed
    for ((entry, landed) <- kept.map(_._1).filterNot(r => rejected((r.entry, r.timestamp)))
        .groupBy(_.entry))
      store.usage.countWrite(bucket, entry, landed.size.toLong,
        landed.iterator.map(_.header.contentLength).sum)
    val clashes = rejected ++ keys.diff(keys.distinct)
    req.wire match {
      case wire: BatchWire.Batch =>
        for ((entry, ts) <- clashes)
          ex.getResponseHeaders.set(wire.errorHeader(entry, ts), s"409,${alreadyExists(ts)}")
      case BatchWire.Single =>
        for ((_, ts) <- clashes.headOption) throw conflict(alreadyExists(ts))
    }
    createdBuckets.add(bucket)
    json(ex, 200, if (req.wire != BatchWire.V1) JObject()
      else JObject("written_records" -> JInt(BigInt(kept.size - rejected.size))))
  }

  /** The one label-update body (update_labels.rs, update_batched.rs, io
    * update). One folded mutation yields the matched keys, which are
    * both the count and the existence check: no separate read job and
    * no check-then-apply window. A miss fails the single-record route
    * with 404, is a per-record 404 entry on v1, and only lowers v2's
    * count. */
  private def updateRecords(ex: HttpExchange, bucket: String,
      req: BatchWire.UpdateRequest): Unit = {
    val matched = updateCoalescer.submit((bucket, req.deltas))
    if (req.wire == BatchWire.Single && matched.isEmpty)
      throw notFound("No record found")
    if (req.wire == BatchWire.V1)
      reportMisses(ex, BatchWire.V1, req.deltas.map(d => (d._1, d._2)), matched)
    json(ex, 200, if (req.wire == BatchWire.Single) JObject()
      else JObject("updated_records" -> JInt(BigInt(matched.size))))
  }

  /** The one keyed-remove body (remove_batched.rs, io remove): misses
    * are per-record 404 entries of the wire's error map. */
  private def removeRecords(ex: HttpExchange, bucket: String,
      req: BatchWire.RemoveRequest): Unit = {
    val result = removeCoalescer.submit((bucket, req.keys))
    reportMisses(ex, req.wire, req.keys, result)
    json(ex, 200, JObject(
      "removed_records" -> JInt(result.values.count(identity))))
  }

  private def reportMisses(ex: HttpExchange, wire: BatchWire.Batch,
      keys: Seq[(String, Long)], hit: ((String, Long)) => Boolean): Unit =
    for ((entry, ts) <- keys if !hit((entry, ts)))
      ex.getResponseHeaders.set(wire.errorHeader(entry, ts), s"404,${wire.notFound(ts)}")

  /** Copy `head` + the rest of the request stream to a staging file on
    * the store's filesystem in 64 KiB chunks; returns the staged path. */
  private def spoolToStaging(head: Array[Byte],
      in: java.io.InputStream): org.apache.hadoop.fs.Path = {
    val staged = store.stageUploadPath()
    val fs = staged.getFileSystem(store.spark.sparkContext.hadoopConfiguration)
    val out = fs.create(staged, true)
    try {
      out.write(head)
      val buf = new Array[Byte](64 * 1024)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
    } finally out.close()
    staged
  }

  private def recordAt(bucket: String, entry: String,
      q: Map[String, String]): Row = {
    // snapshot-or-retry: a read racing a label-rewrite swap settles on
    // the before- or after-state, never a renamed-away file error. The
    // frame MUST be built inside the by-name block — table() lists files
    // at construction, so a plan built pre-swap would re-hit renamed-away
    // files on the retry with the epoch already settled.
    store.readConsistent {
      val base = store.table(QuerySpec(entries = Some(Seq(entry)), bucket = Some(bucket)))
        .filter(col("bucket") === bucket && col("entry") === entry)
      val at = q.get("ts") match {
        case Some(ts) => base.filter(col("ts") === ts.toLong)
        case None     => base.orderBy(col("ts").desc).limit(1)
      }
      at.collect()
    }.headOption
      .getOrElse(throw notFound("No record found"))
  }

  private def readSingle(ex: HttpExchange, bucket: String, entry: String,
      q: Map[String, String]): Unit = q.get("q") match {
    // ?q=<id>: sequential cursor read — the next record of an open query
    // (read_single.rs + query_test.py:41-76 cursor semantics)
    case Some(id) => readPage(ex, bucket, id.toLong, Some(1), BatchWire.encodeSingle)
    case None     => serveRecord(ex, recordAt(bucket, entry, q))
  }

  private def serveRecord(ex: HttpExchange, r: Row): Unit =
    servePage(ex, Seq(r), last = true, BatchWire.encodeSingle)

  // -------------------------------------------------------------- query

  private def parseQueryEntry(body: String): (QuerySpec, Long, Boolean) = {
    val j =
      if (body.trim.isEmpty) JObject()
      else JsonMethods.parseOpt(body).getOrElse(throw unprocessable("Invalid JSON in query body"))
    implicit val fmts: Formats = DefaultFormats
    // PR-1548: `limit` is REMOVED from QueryEntry upstream
    // (entry_api.rs current field set) — reject instead of ignoring
    if ((j \ "limit") != JNothing)
      throw unprocessable("""Removed field 'limit': use {"$limit": n} in 'when'""")
    val spec = QuerySpec(
      start = (j \ "start").extractOpt[Long],
      stop = (j \ "stop").extractOpt[Long],
      // json4s extracts a MISSING key as Some(Nil) for Seq types; route
      // through toOption so "no entries field" stays None (otherwise the
      // empty-REMOVE 422 guard and the URL-entry default never fire)
      entries = (j \ "entries").toOption.flatMap(_.extractOpt[Seq[String]]),
      when = (j \ "when").toOption.filter(_ != JNothing)
        .map(w => JsonMethods.compact(JsonMethods.render(w))),
      strict = (j \ "strict").extractOpt[Boolean].getOrElse(false),
      onlyMetadata = (j \ "only_metadata").extractOpt[Boolean].getOrElse(false))
    val ttlMs = (j \ "ttl").extractOpt[Long].map(_ * 1000).getOrElse(queryTtlMs)
    val continuous = (j \ "continuous").extractOpt[Boolean].getOrElse(false)
    (spec, ttlMs, continuous)
  }

  /** POST /b/:bucket/:entry/q — dispatch on `query_type`
    * (entry.rs:131-137): QUERY (default) opens a cursor under read
    * access; REMOVE deletes matching records under write access
    * (remove_query_post.rs:40-49 rejects an empty query with 422). */
  private def queryEntryRouter(ex: HttpExchange, bucket: String, entry: String): Unit = {
    val body = new String(readBody(ex), UTF_8)
    implicit val fmts: Formats = DefaultFormats
    val qt = (JsonMethods.parseOpt(body).getOrElse(JObject()) \ "query_type")
      .extractOpt[String].getOrElse("QUERY")
    qt match {
      case "REMOVE" =>
        auth(ex, WriteAccessPolicy(bucket))
        removeQueryJson(ex, bucket, entry, body)
      case "QUERY" =>
        auth(ex, ReadAccessPolicy(bucket))
        openQuery(ex, bucket, entry, body)
      case other =>
        throw unprocessable(s"Unknown query type '$other'")
    }
  }

  private def openQuery(ex: HttpExchange, bucket: String, entry: String,
      body: String): Unit = {
    val (spec0, ttlMs, continuous) = parseQueryEntry(body)
    val spec = spec0.copy(bucket = Some(bucket),
      entries = Some(spec0.entries.getOrElse(Seq(entry))))
    val id = registry.open(spec, querySource, continuous, ttlMs)
    json(ex, 200, JObject("id" -> JInt(BigInt(id))))
  }

  /** GET /b/:bucket/:entry/q — the legacy param-based query open
    * (read_query.rs:16-42; params parsed as common.rs:54-125:
    * start/stop in µs, ttl in seconds, continuous bool). */
  private def openQueryLegacy(ex: HttpExchange, bucket: String, entry: String,
      params: Map[String, String]): Unit = {
    val spec = QuerySpec(
      start = params.get("start").map(tsParam("start", _)),
      stop = params.get("stop").map(tsParam("stop", _)),
      entries = Some(Seq(entry)), bucket = Some(bucket))
    val ttlMs = params.get("ttl").map(v => 1000 * longParam("ttl", v,
      "'ttl' must be in seconds as an unsigned integer")).getOrElse(queryTtlMs)
    val continuous = params.get("continuous").exists(v =>
      v.toBooleanOption.getOrElse(
        throw unprocessable("'continue' must be a bool value")))
    val id = registry.open(spec, querySource, continuous, ttlMs)
    json(ex, 200, JObject("id" -> JInt(BigInt(id))))
  }

  private def tsParam(name: String, v: String): Long =
    longParam(name, v, s"'$name' must be an unix timestamp in microseconds")

  private def longParam(name: String, v: String, err: String): Long =
    v.toLongOption.filter(_ >= 0).getOrElse(throw unprocessable(err))

  /** Batched-read page limits (cfg/io.rs:9-11,50-61): 85 records, 8 MB
    * body, 512 kB metadata by default, `RS_IO_BATCH_MAX_RECORDS` /
    * `RS_IO_BATCH_MAX_SIZE` / `RS_IO_BATCH_MAX_METADATA_SIZE` per
    * instance, and a query's own `#batch_records` / `#batch_size`
    * directives (filters/when/io_cfg.rs), read from its cursor's spec.
    * The reference's `RS_IO_BATCH_TIMEOUT`/`RS_IO_BATCH_RECORDS_TIMEOUT`
    * bound how long its push-side batcher WAITS to fill a batch; graft's
    * pages are pull-based (a fetch returns whatever the cursor has, at
    * once), so there is nothing to wait on — deliberately N/A. */
  private val DefaultBatchRecords =
    env.get("RS_IO_BATCH_MAX_RECORDS")
      .flatMap(_.trim.toIntOption).filter(_ > 0).getOrElse(85)
  private val DefaultBatchBytes =
    env.get("RS_IO_BATCH_MAX_SIZE")
      .flatMap(Provisioning.parseByteSize).filter(_ > 0).getOrElse(8000000L)
  private val MaxBatchMetadataBytes =
    env.get("RS_IO_BATCH_MAX_METADATA_SIZE")
      .flatMap(Provisioning.parseByteSize).filter(_ > 0).getOrElse(512000L)

  /** The one page reader under every cursor wire (read_batched.rs,
    * io/read.rs, read_single.rs `?q=`): drains cursor `id`, which must
    * have been opened over `bucket`, up to the record cap, stopping once
    * the payload or metadata budget is spent (at least one record always
    * ships — read_batched.rs:187-189 checks the caps AFTER admitting a
    * record). `encode` is the wire's record-header encoder. */
  private def readPage(ex: HttpExchange, bucket: String, id: Long,
      maxParam: Option[Int], encode: Seq[PageRecord] => Seq[(String, String)]): Unit = {
    val (rows, last) = registry.fetch(id, bucket) { cursor =>
      val d = cursor.spec.when.map(graft.cond.Parser.parse(_).directives)
      val dirRec = d.flatMap(_.single("#batch_records")).map(_.asInt.toInt)
        .getOrElse(DefaultBatchRecords)
      val maxBytes = d.flatMap(_.single("#batch_size")).map(_.asInt)
        .getOrElse(DefaultBatchBytes)
      val maxRec = math.min(maxParam.getOrElse(dirRec), dirRec)
      val out = Seq.newBuilder[Row]
      var n = 0
      var bytes = 0L
      var metaBytes = 0L
      var last = false
      while (n < maxRec && bytes < maxBytes && metaBytes < MaxBatchMetadataBytes
          && !last) {
        cursor.fetch(1).headOption match {
          case None => last = true
          case Some(r) =>
            val ((_, _, h), payload) = pageRecord(r)
            bytes += payload.length
            // approximate serialized v1 header size: ts digits + length,
            // content-type, and label pairs — what the client's header
            // parser must buffer (batch_max_metadata_size's concern)
            metaBytes += 48L + h.contentType.length +
              h.labels.iterator.map { case (k, v) => k.length + v.length + 2L }.sum
            out += r
            n += 1
        }
      }
      (out.result(), last)
    }.getOrElse(throw notFound(s"Query $id doesn't exist or expired"))
    servePage(ex, rows, last, encode)
  }

  /** A page's record as its wire sees it: (entry, ts, header), payload. */
  private type PageRecord = (String, Long, BatchWire.RecordHeader)

  private def pageRecord(r: Row): (PageRecord, Array[Byte]) = {
    // an `only_metadata` answer has no payload column: its records ship
    // their headers, with content length 0, and no body
    val payload = Option(r.schema).filter(_.exists(_.name == "payload"))
      .flatMap(_ => Option(r.getAs[Array[Byte]]("payload"))).getOrElse(Array.empty[Byte])
    val labels = Option(r.getAs[collection.Map[String, String]]("labels"))
      .getOrElse(Map.empty[String, String])
    val ct = Option(r.getAs[String]("content_type"))
      .filter(_.nonEmpty).getOrElse("application/octet-stream")
    ((r.getAs[String]("entry"), r.getAs[Long]("ts"),
      BatchWire.RecordHeader(payload.length.toLong, ct, labels.toMap)), payload)
  }

  /** Egress admission on the page size before any header or usage tally
    * is emitted (read_batched.rs:214-216, io/read.rs:237-239; after the
    * record resolves, so 404 beats 429, read_single.rs:99-104; HEAD ships
    * no body and is exempt), then the wire's record headers and the
    * payloads written sequentially — no concatenated copy of the page. */
  private def servePage(ex: HttpExchange, rows: Seq[Row], last: Boolean,
      encode: Seq[PageRecord] => Seq[(String, String)]): Unit = {
    val h = ex.getResponseHeaders
    if (rows.isEmpty) {
      h.set("x-reduct-last", "true")
      respond(ex, 204, Array.empty)
      return
    }
    val head = ex.getRequestMethod.equalsIgnoreCase("HEAD")
    val recs = rows.map(pageRecord)
    val totalLen = recs.iterator.map(_._2.length.toLong).sum
    if (!head) limits.checkEgress(requestClientIp(ex), totalLen)
    for ((r, ((entry, _, _), payload)) <- rows.zip(recs))
      store.usage.countRead(r.getAs[String]("bucket"), entry, 1L, payload.length.toLong)
    h.set("Content-Type", "application/octet-stream")
    h.set("x-reduct-last", last.toString)
    for ((name, value) <- encode(recs.map(_._1))) h.set(name, value)
    if (totalLen == 0 || head) respond(ex, 200, Array.empty)
    else {
      ex.sendResponseHeaders(200, totalLen)
      val os = ex.getResponseBody
      try recs.foreach(r => os.write(r._2)) finally os.close()
    }
  }

  // ------------------------------------- replication + lifecycle CRUD

  private val replications =
    new java.util.concurrent.ConcurrentHashMap[String, Streaming.ReplicationSettings]()
  private val lifecyclePolicies =
    new java.util.concurrent.ConcurrentHashMap[String, Lifecycle.Policy]()

  private def parseReplication(ex: HttpExchange): Streaming.ReplicationSettings = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    // PR-1555/1497/1414: `each_n`/`each_s`/`include`/`exclude` are
    // REMOVED from ReplicationSettings upstream (replication_api.rs
    // current field set) — a stale client's request fails loudly with
    // 422 instead of its filter being silently ignored
    // NB error text must stay ASCII: it is reflected into the
    // x-reduct-error response header (Latin-1 on the wire)
    for (f <- Seq("each_n", "each_s", "include", "exclude")
         if (j \ f) != JNothing)
      throw unprocessable(
        s"Removed field '$f': express it as a 'when' condition")
    Streaming.ReplicationSettings(
      // toOption: a missing key must stay None (= all entries), not Some(Nil)
      entries = (j \ "entries").toOption.flatMap(_.extractOpt[Seq[String]]),
      when = (j \ "when").toOption.filter(_ != JNothing)
        .map(w => JsonMethods.compact(JsonMethods.render(w))),
      // required, like the reference (replication_api.rs:42 src_bucket
      // is a non-optional String): a src-less same-store replication
      // would re-ingest its own dst bucket on every run, compounding
      // dst_prefix unboundedly
      srcBucket = Some((j \ "src_bucket").extractOpt[String].filter(_.nonEmpty)
        .getOrElse(throw unprocessable("'src_bucket' is required"))),
      dstBucket = (j \ "dst_bucket").extractOpt[String].getOrElse("default"),
      dstPrefix = (j \ "dst_prefix").extractOpt[String].getOrElse(""),
      mode = parseMode((j \ "mode").extractOpt[String].getOrElse("enabled")),
      compression = (j \ "compression").extractOpt[String].getOrElse("none") match {
        case c @ ("none" | "zstd" | "gzip") => c
        case other => throw unprocessable(s"Invalid compression '$other'")
      })
  }

  private def parseMode(s: String): Streaming.ReplicationMode = s.toLowerCase match {
    case "enabled"  => Streaming.ReplicationMode.Enabled
    case "paused"   => Streaming.ReplicationMode.Paused
    case "disabled" => Streaming.ReplicationMode.Disabled
    case other => throw unprocessable(s"Invalid replication mode '$other'")
  }

  private def modeName(m: Streaming.ReplicationMode): String = m match {
    case Streaming.ReplicationMode.Enabled  => "enabled"
    case Streaming.ReplicationMode.Paused   => "paused"
    case Streaming.ReplicationMode.Disabled => "disabled"
  }

  /** Hourly ok/errored tallies per replication (msg/diagnostics.rs:13-22);
    * the window resets when the hour rolls, like the reference's hourly
    * diagnostics item. */
  private final class ReplStats {
    var windowStartMs: Long = System.currentTimeMillis()
    var ok: Long = 0L
    var errored: Long = 0L
    /** Source high-water mark of the last COMPLETED catch-up pass; −1
      * until the first run, so everything in scope counts as pending. */
    @volatile var lastTs: Long = -1L
    def roll(): Unit = {
      val now = System.currentTimeMillis()
      if (now - windowStartMs >= 3600000L) {
        windowStartMs = now; ok = 0L; errored = 0L
      }
    }
  }
  private val replStats =
    new java.util.concurrent.ConcurrentHashMap[String, ReplStats]()
  private def statsFor(name: String): ReplStats =
    replStats.computeIfAbsent(name, _ => new ReplStats)

  /** The replication's source scope: its bucket (partition-pruned),
    * entry globs as static predicates, finished records only — the same
    * scoping the replication stream applies. */
  private def scopedSource(s: Streaming.ReplicationSettings): DataFrame = {
    val t = store.tableOrEmpty()
    val b = s.srcBucket.fold(t)(n => t.filter(col("bucket") === n))
    s.entries.fold(b)(pats =>
        b.filter(EntryPattern.predicateCol(col("entry"), Some(pats))))
      .filter(col("state") === graft.core.Records.State.Finished)
  }

  /** Records in scope written after the last completed catch-up pass —
    * the backlog the next run will examine (replication_api.rs
    * pending_records). Bucket partition pruning + parquet ts row-group
    * stats keep this a metadata-bounded count, not a table scan. */
  private def pendingRecords(name: String,
      s: Streaming.ReplicationSettings): Long =
    scopedSource(s).filter(col("ts") > statsFor(name).lastTs).count()

  /** ReplicationInfo (replication_api.rs:69-81). `is_active` = mode is
    * enabled (the "remote" is this store, always reachable);
    * `pending_records` = source backlog since the last completed run —
    * non-zero between a write and the next catch-up pass, 0 after a
    * drain. */
  private def replicationInfoJson(name: String,
      s: Streaming.ReplicationSettings): JObject = JObject(
    "name" -> JString(name),
    "mode" -> JString(modeName(s.mode)),
    "is_active" -> JBool(s.mode == Streaming.ReplicationMode.Enabled),
    "is_provisioned" -> JBool(provisionedReplications.contains(name)),
    "pending_records" -> JLong(pendingRecords(name, s)))

  private def replicationSettingsJson(
      s: Streaming.ReplicationSettings): JObject = JObject(
    "src_bucket" -> s.srcBucket.map(JString(_)).getOrElse(JNull),
    "dst_bucket" -> JString(s.dstBucket),
    "dst_host" -> JString(""), // this store IS the destination
    "dst_token" -> JNull,
    "dst_prefix" -> JString(s.dstPrefix),
    "mode" -> JString(modeName(s.mode)),
    "compression" -> JString(s.compression),
    "entries" -> s.entries.map(es => JArray(es.map(JString(_)).toList))
      .getOrElse(JArray(Nil)),
    "when" -> s.when.map(JsonMethods.parse(_)).getOrElse(JNull))

  /** FullReplicationInfo (replication_api.rs:98-105): the nested
    * {info, settings, diagnostics} shape client SDKs parse. */
  private def replicationJson(name: String,
      s: Streaming.ReplicationSettings): JObject = {
    val st = statsFor(name); st.roll()
    JObject(
      "info" -> replicationInfoJson(name, s),
      "settings" -> replicationSettingsJson(s),
      "diagnostics" -> JObject("hourly" -> JObject(
        "ok" -> JLong(st.ok),
        "errored" -> JLong(st.errored),
        "errors" -> JObject())))
  }

  private def setReplicationMode(ex: HttpExchange, name: String): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val s = Option(replications.get(name))
      .getOrElse(throw notFound(s"Replication '$name' doesn't exist"))
    val j = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    val mode = (j \ "mode").extractOpt[String]
      .getOrElse(throw unprocessable("'mode' is required"))
    replications.put(name, s.copy(mode = parseMode(mode)))
    json(ex, 200, JObject())
  }

  /** One catch-up replication pass (Trigger.AvailableNow) into this
    * store — the façade's analog of the reference's background sender;
    * a deployment would keep the stream running on the cluster. */
  private def runReplication(ex: HttpExchange, name: String): Unit = {
    val s = Option(replications.get(name))
      .getOrElse(throw notFound(s"Replication '$name' doesn't exist"))
    // checkpoint lives INSIDE the store under an underscore dir: ignored
    // by parquet file listing, unique per store (a /tmp-shared path would
    // leak a stale file index into the next deployment's stream)
    val checkpoint = s"${store.root}/_replication/$name"
    val st = statsFor(name); st.roll()
    val t0 = System.nanoTime()
    var written = 0L
    var bytes = 0L
    val onBatch: (Long, Long) => Unit = (n, b) =>
      st.synchronized { st.ok += n; written += n; bytes += b }
    def replEvent(status: Int, failed: Long): Unit =
      systemLog.event("replications", name, status,
        s"""{"event_type":"replication","status":$status,""" +
          s""""pending_records":0,"written_records":$written,""" +
          s""""failed_records":$failed,"replicated_data_size":$bytes,""" +
          s""""duration":${(System.nanoTime() - t0) / 1e9}}""")
    // $system-source feedback guard (PR-1567): this replication's own
    // diagnostics events never replicate through itself
    val exclude =
      if (s.srcBucket.contains("$system")) Seq(s"replications/*/$name")
      else Nil
    try Streaming.replicate(store, store, s, checkpoint,
      onReplicated = onBatch, excludeEntries = exclude) match {
      case Some(q) =>
        q.awaitTermination()
        // label PATCHes propagate too (the reference replicates
        // Transaction::UpdateRecord through the same task,
        // update_single.rs:84) — a second drain over the update log,
        // its own checkpoint beside the record stream's. Dropped
        // updates (dst-missing records / no-ops) count as the
        // reference's failed_records.
        val droppedUpdates = new java.util.concurrent.atomic.AtomicLong(0L)
        Streaming.replicateLabelUpdates(store, store, s,
            checkpoint + "-labels",
            onReplicated = (n, dropped) => {
              if (n > 0) onBatch(n, 0L)
              droppedUpdates.addAndGet(dropped): Unit
            },
            excludeEntries = exclude)
          .foreach(_.awaitTermination())
        // the drain examined everything in scope up to now — advance the
        // pending_records high-water mark (a write racing the drain's
        // tail is re-examined by the next run via the checkpoint, so the
        // mark is advisory, never a correctness input)
        val maxTs = scopedSource(s).agg(max("ts")).collect()(0)
        if (!maxTs.isNullAt(0)) st.lastTs = maxTs.getLong(0)
        replEvent(200, failed = droppedUpdates.get()) // payload/replication.rs shape
        json(ex, 200, JObject())
      case None => json(ex, 200, JObject("skipped" -> JString("disabled")))
    } catch { case scala.util.control.NonFatal(e) =>
      st.synchronized { st.errored += 1 } // whole-pass failure, one tick
      // failure event: one failed pass (our error granularity — the
      // reference counts failed records; we fail whole passes)
      try replEvent(500, failed = 1)
      catch { case scala.util.control.NonFatal(_) => () }
      throw e
    }
  }

  /** Accepts the reference schema (lifecycle_api.rs:41-63: `type`,
    * `older_than`/`interval` duration strings, `bucket`) and, for
    * compatibility with earlier façade clients, the legacy spellings
    * (`action`, integer `older_than_s`). */
  private def parseLifecycle(ex: HttpExchange): Lifecycle.Policy = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    def durationField(name: String): Option[Long] =
      (j \ name).extractOpt[String].map(s =>
        graft.cond.Value.parseDurationMicros(s).getOrElse(
          throw unprocessable(s"Invalid duration '$s' for '$name'")))
    val typ = (j \ "type").extractOpt[String]
      .orElse((j \ "action").extractOpt[String]).getOrElse("delete")
    val action = typ match {
      case "delete" => Lifecycle.Action.Delete
      case "compress" => Lifecycle.Action.Compress(
        (j \ "codec").extractOpt[String].getOrElse("zstd"),
        (j \ "level").extractOpt[Int].getOrElse(9))
      case other => throw unprocessable(s"Invalid lifecycle type '$other'")
    }
    val base = Lifecycle.Policy(
      olderThanUs = durationField("older_than")
        .orElse((j \ "older_than_s").extractOpt[Long].map(_ * 1000000L))
        .map(us => if (us >= 0) us else throw unprocessable(
          // a negative age = FUTURE cutoff = a delete policy removing
          // every record in scope; refuse at admission
          "'older_than' must be non-negative"))
        .getOrElse(throw unprocessable("'older_than' is required")),
      action = action,
      // toOption: a missing key must stay None (= all entries), not Some(Nil)
      entries = (j \ "entries").toOption.flatMap(_.extractOpt[Seq[String]]),
      when = (j \ "when").toOption.filter(_ != JNothing)
        .map(w => JsonMethods.compact(JsonMethods.render(w))),
      dryRun = (j \ "dry_run").extractOpt[Boolean].getOrElse(false),
      bucket = (j \ "bucket").extractOpt[String].filter(_.nonEmpty),
      intervalUs = durationField("interval").getOrElse(3600L * 1000000L))
    (j \ "mode").extractOpt[String].fold(base)(m => withLifecycleMode(base, m))
  }

  /** `mode` ∈ enabled | disabled | dry_run
    * (reduct_base/src/msg/lifecycle_api.rs:23-31). */
  private def withLifecycleMode(p: Lifecycle.Policy, mode: String): Lifecycle.Policy =
    mode match {
      case "enabled"  => p.copy(enabled = true, dryRun = false)
      case "disabled" => p.copy(enabled = false)
      case "dry_run"  => p.copy(enabled = true, dryRun = true)
      case other => throw unprocessable(s"Invalid lifecycle mode '$other'")
    }

  private def lifecycleModeName(p: Lifecycle.Policy): String =
    if (!p.enabled) "disabled" else if (p.dryRun) "dry_run" else "enabled"

  private def setLifecycleMode(ex: HttpExchange, name: String): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val p = Option(lifecyclePolicies.get(name))
      .getOrElse(throw notFound(s"Lifecycle policy '$name' doesn't exist"))
    val j = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    val mode = (j \ "mode").extractOpt[String]
      .getOrElse(throw unprocessable("'mode' is required"))
    lifecyclePolicies.put(name, withLifecycleMode(p, mode))
    json(ex, 200, JObject())
  }

  private val lifecycleLastRun =
    new java.util.concurrent.ConcurrentHashMap[String, java.time.Instant]()

  private def lifecycleTypeName(p: Lifecycle.Policy): String = p.action match {
    case Lifecycle.Action.Delete         => "delete"
    case Lifecycle.Action.Compress(_, _) => "compress"
  }

  /** LifecycleInfo (lifecycle_api.rs:85-101). `is_running` is false
    * between runs — the façade's passes are synchronous. */
  private def lifecycleInfoJson(name: String, p: Lifecycle.Policy): JObject =
    JObject(
      "name" -> JString(name),
      "is_provisioned" -> JBool(provisionedLifecycles.contains(name)),
      "is_running" -> JBool(false),
      "type" -> JString(lifecycleTypeName(p)),
      "mode" -> JString(lifecycleModeName(p)),
      "last_run" -> Option(lifecycleLastRun.get(name))
        .map(i => JString(i.toString)).getOrElse(JNull))

  /** FullLifecycleInfo (lifecycle_api.rs:117-123): nested
    * {info, settings}; durations echo canonicalized in seconds. codec /
    * level extend the reference schema (compress target knobs). */
  private def lifecycleJson(name: String, p: Lifecycle.Policy): JObject = JObject(
    "info" -> lifecycleInfoJson(name, p),
    "settings" -> JObject(List(
      "type" -> JString(lifecycleTypeName(p)),
      "bucket" -> JString(p.bucket.getOrElse("")),
      "entries" -> p.entries.map(es => JArray(es.map(JString(_)).toList))
        .getOrElse(JArray(Nil)),
      "older_than" -> JString(s"${p.olderThanUs / 1000000L}s"),
      "interval" -> JString(s"${p.intervalUs / 1000000L}s"),
      "when" -> p.when.map(JsonMethods.parse(_)).getOrElse(JNull),
      "mode" -> JString(lifecycleModeName(p))) ++ (p.action match {
        case Lifecycle.Action.Compress(codec, level) =>
          List("codec" -> JString(codec), "level" -> JInt(BigInt(level)))
        case _ => Nil
      })))

  private def runLifecycle(ex: HttpExchange, name: String,
      q: Map[String, String]): Unit = {
    val p = Option(lifecyclePolicies.get(name))
      .getOrElse(throw notFound(s"Lifecycle policy '$name' doesn't exist"))
    val nowUs = q.get("now_us").map(_.toLong)
      .getOrElse(System.currentTimeMillis() * 1000L)
    val t0 = System.nanoTime()
    val res = Lifecycle.apply(store, p, nowUs)
    lifecycleLastRun.put(name, java.time.Instant.now())
    // payload/lifecycle.rs success shape (processed_blocks: parquet files
    // rotate inside day partitions, so the block notion maps to records)
    systemLog.event("lifecycle", name, 200,
      s"""{"event_type":"lifecycle",""" +
        s""""policy_name":"${name.replace("\"", "\\\"")}",""" +
        s""""action_type":"${p.action match {
          case Lifecycle.Action.Delete => "delete"
          case _: Lifecycle.Action.Compress => "compress"
        }}","bucket":"${p.bucket.getOrElse("")}",""" +
        s""""duration":${(System.nanoTime() - t0) / 1e9},""" +
        s""""processed_records":${res.matched},""" +
        // block analog = rewritten parquet partitions (PR-1470)
        s""""processed_blocks":${res.processedBlocks},"caught_up":true}""")
    json(ex, 200, JObject(
      "matched" -> JInt(BigInt(res.matched)),
      "applied" -> JBool(res.applied)))
  }

  // ---------------------------------------------------------- links

  private def renameTarget(ex: HttpExchange): String = {
    implicit val fmts: Formats = DefaultFormats
    (JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
      \ "new_name").extractOpt[String].filter(_.nonEmpty)
      .getOrElse(throw unprocessable("'new_name' is required"))
  }

  private def linkSecret: String = s"$apiToken/links"

  /** POST /links/... — sign a shareable query link
    * (query_link_api.rs:10-35): `{bucket, entry, query, expires_at}` →
    * `{"link": "/api/v1/links/<file>?token=…"}`. */
  private def createLink(ex: HttpExchange): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val j = JsonMethods.parseOpt(new String(readBody(ex), UTF_8)).getOrElse(JObject())
    val bucket = (j \ "bucket").extractOpt[String]
      .getOrElse(throw unprocessable("'bucket' is required"))
    val entry = (j \ "entry").extractOpt[String]
      .getOrElse(throw unprocessable("'entry' is required"))
    val qj = j \ "query"
    // only plain queries are shareable (links/create.rs:43-45)
    val qt = (qj \ "query_type").extractOpt[String].getOrElse("QUERY")
    if (!qt.equalsIgnoreCase("QUERY"))
      throw unprocessable("Only 'Query' type is supported for query links")
    // STRICT record identity (PR-1334, links/create.rs:46-49): a link
    // points at one exact record — index-based selection was removed
    // because it resolved to different records as data changed
    val recordEntry = (j \ "record_entry").extractOpt[String].filter(_.nonEmpty)
    val recordTs = (j \ "record_timestamp").extractOpt[Long]
    if (recordEntry.isEmpty || recordTs.isEmpty)
      throw unprocessable(
        "Both 'record_entry' and 'record_timestamp' must be provided in payload")
    // expire_at is SECONDS in the reference message (query_link_api.rs
    // ts_seconds); the legacy expires_at milliseconds form still parses
    val expiresAtMs = (j \ "expire_at").extractOpt[Long].map(_ * 1000L)
      .orElse((j \ "expires_at").extractOpt[Long])
      .getOrElse(System.currentTimeMillis() + 3600000L)
    // optional base_url prefix (PR-1031), validated (links/create.rs:129)
    val baseUrl = (j \ "base_url").extractOpt[String].filter(_.nonEmpty)
      .map { u =>
        val uri = try new java.net.URI(u) catch { case _: Exception =>
          throw unprocessable(s"Invalid base_url provided for query link: $u") }
        if (uri.getScheme == null || uri.getHost == null)
          throw unprocessable(s"Invalid base_url provided for query link: $u")
        u.stripSuffix("/")
      }
    val spec = QuerySpec(
      start = (qj \ "start").extractOpt[Long],
      stop = (qj \ "stop").extractOpt[Long],
      entries = (qj \ "entries").toOption.flatMap(_.extractOpt[Seq[String]])
        .filter(_.nonEmpty).orElse(Some(Seq(entry))),
      when = (qj \ "when").toOption.filter(_ != JNothing)
        .map(w => JsonMethods.compact(JsonMethods.render(w))),
      bucket = Some(bucket))
    val token =
      QueryLinks.sign(spec, recordEntry.get, recordTs.get, expiresAtMs, linkSecret)
    val file = ex.getRequestURI.getPath.stripPrefix(normalizedBasePath)
      .stripPrefix("/api/v1/links").stripPrefix("/")
    json(ex, 200, JObject(
      "link" -> JString(s"${baseUrl.getOrElse(publicUrl)}$normalizedBasePath" +
        s"/api/v1/links/$file?token=${urlEncode(token)}")))
  }

  /** GET /links/...?token= — replay the signed query (no other auth) and
    * serve the ONE record the link identifies (links/get.rs
    * process_query_and_fetch_record_by_identity): the record must both
    * exist and match the query. Supports single-range `Range` requests
    * with RFC-compliant `Content-Range` on 206 (PR-1329) so MCAP
    * seek/backfill clients can read partial payloads. */
  private def resolveLink(ex: HttpExchange, q: Map[String, String]): Unit = {
    val token = q.getOrElse("token", throw unprocessable("'token' is required"))
    val lp = QueryLinks.verify(token, linkSecret)
      .getOrElse(throw unauthorized("Invalid or expired query link"))
    val s = lp.spec
    // a small answer reads on the driver (QueryRegistry's rule)
    val row = (if (QueryRegistry.bounded(s, store.scanBound(s))) {
      QueryEngine.check(s)
      store.readSmall(s).find(r =>
        r.getAs[String]("entry") == lp.recordEntry && r.getAs[Long]("ts") == lp.recordTs)
    } else store.readConsistent {
      QueryEngine.query(store.table(s), s)
        .filter(col("entry") === lp.recordEntry && col("ts") === lp.recordTs)
        .limit(1).collect()
    }.headOption).getOrElse(throw notFound(
      s"Record '${lp.recordEntry}' @ ${lp.recordTs} not found in query link results"))
    serveRecordRanged(ex, row)
  }

  /** Serve one record honoring an optional single `Range: bytes=a-b`
    * header: 206 + `Content-Range: bytes a-b/total` on a satisfiable
    * range, 416 + a star-slash-total Content-Range on an unsatisfiable
    * one (RFC 9110), plain 200
    * otherwise. Egress admission covers the bytes actually shipped. */
  private def serveRecordRanged(ex: HttpExchange, r: Row): Unit = {
    val rangeHeader = Option(ex.getRequestHeaders.getFirst("Range"))
    if (rangeHeader.isEmpty) { serveRecord(ex, r); return }
    val payload = Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.empty[Byte])
    val total = payload.length.toLong
    // RFC 9110 §14.2: an invalid or unsupported Range header MUST be
    // IGNORED — a multi-range, a reversed range (last < first), an
    // empty "bytes=-", or a value that doesn't parse as a long all fall
    // back to a plain 200 with the full body. 416 is reserved for a
    // syntactically VALID but unsatisfiable range (first-byte-pos past
    // the end, or a zero-length suffix).
    val parsed: Option[(Long, Long)] =
      "^bytes=(\\d*)-(\\d*)$".r.findFirstMatchIn(rangeHeader.get.trim)
        .flatMap { m =>
          try (m.group(1), m.group(2)) match {
            case ("", "")   => None
            case ("", suf)  => // suffix range: last N bytes
              Some((math.max(0L, total - suf.toLong), total - 1))
            case (a, "")    => Some((a.toLong, total - 1))
            case (a, b)     =>
              val (from, to) = (a.toLong, b.toLong)
              if (from > to) None else Some((from, to)) // reversed = invalid
          } catch { case _: NumberFormatException => None } // >19 digits
        }
    val (from, to) = parsed match {
      case Some(ft) => ft
      case None => serveRecord(ex, r); return
    }
    val h = ex.getResponseHeaders
    if (from >= total) {
      h.set("Content-Range", s"bytes */$total")
      respond(ex, 416, Array.empty)
      return
    }
    val end = math.min(to, total - 1)
    val slice = java.util.Arrays.copyOfRange(payload, from.toInt, end.toInt + 1)
    if (!ex.getRequestMethod.equalsIgnoreCase("HEAD"))
      limits.checkEgress(requestClientIp(ex), slice.length.toLong)
    store.usage.countRead(r.getAs[String]("bucket"),
      r.getAs[String]("entry"), 1L, slice.length.toLong)
    h.set("Content-Type", Option(r.getAs[String]("content_type"))
      .filter(_.nonEmpty).getOrElse("application/octet-stream"))
    h.set("x-reduct-time", r.getAs[Long]("ts").toString)
    h.set("Content-Range", s"bytes $from-$end/$total")
    val labels = Option(r.getAs[collection.Map[String, String]]("labels"))
      .getOrElse(Map.empty[String, String])
    for ((k, v) <- labels) h.set(s"x-reduct-label-$k", v)
    respond(ex, 206, slice)
  }

  // ------------------------------------------------------- io API v2

  /** POST /io/:bucket/q — multi-entry query; entries come in the body. */
  private def ioQuery(ex: HttpExchange, bucket: String): Unit = {
    val (spec0, ttlMs, continuous) = parseQueryEntry(new String(readBody(ex), UTF_8))
    val spec = spec0.copy(bucket = Some(bucket))
    val id = registry.open(spec, querySource, continuous, ttlMs)
    json(ex, 200, JObject("id" -> JInt(BigInt(id))))
  }

  /** POST /io/:bucket/export — graft extension past the reference
    * surface: bulk shard export ([[BucketStore.exportShards]]). Body =
    * the usual QueryEntry JSON plus `path` (RELATIVE, resolved under
    * the server's configured export root) and optional `shards`
    * (default 32). Rows never drain through the server: the response
    * is the shard manifest, the data lands as ordered parquet shards
    * executor-side — the 100-TB bulk-read path cursors can't be.
    * 403 unless the server was constructed with an export root. */
  private def ioExport(ex: HttpExchange, bucket: String): Unit = {
    val rootDir = exportRoot.getOrElse(throw forbidden(
      "bulk export is disabled: server has no export root configured"))
    val body = new String(readBody(ex), UTF_8)
    val j = JsonMethods.parseOpt(body).getOrElse(JObject())
    implicit val fmts: Formats = DefaultFormats
    val rel = (j \ "path").extractOpt[String].filter(_.nonEmpty)
      .getOrElse(throw unprocessable("'path' is required"))
    // containment: relative, clean segments only — the export root is
    // the jail, and '.' / empty segments would alias the root itself
    // or other clients' trees
    val segs = rel.split('/')
    if (rel.startsWith("/") ||
        segs.exists(s => s.isEmpty || s == "." || s == ".."))
      throw unprocessable(
        "'path' must be relative, with non-empty segments and no '.'/'..'")
    val nShards = (j \ "shards").extractOpt[Int].getOrElse(32)
    if (nShards < 1 || nShards > 65536)
      throw unprocessable("'shards' must be in [1, 65536]")
    val (spec0, _, _) = parseQueryEntry(body)
    val spec = spec0.copy(bucket = Some(bucket))
    val out = new java.io.File(rootDir, rel).getPath
    // the segment checks above are lexical; canonicalize too so a
    // symlink planted under the export root can't redirect the export
    // (and its overwrite=true recursive delete) outside the jail —
    // getCanonicalFile resolves links in every EXISTING ancestor
    val canonicalRoot = new java.io.File(rootDir).getCanonicalFile
    val canonicalOut = new java.io.File(out).getCanonicalFile
    // strictly below the root: resolving TO the root itself would let
    // overwrite=true clear the whole jail
    if (!canonicalOut.getPath.startsWith(
        canonicalRoot.getPath + java.io.File.separator))
      throw forbidden(s"export path '$rel' resolves outside the export root")
    // exports are immutable runs: an existing target is refused unless
    // the caller says overwrite — a read-scoped client must not clobber
    // another client's export tree inside the shared jail (the library
    // call clears the target, so admission is decided HERE)
    if (new java.io.File(out).exists() &&
        !(j \ "overwrite").extractOpt[Boolean].getOrElse(false))
      throw ApiError(409, s"export path '$rel' already exists; " +
        "pass \"overwrite\": true to replace it")
    val manifest = store.exportShards(spec, out, nShards)
    json(ex, 200, JObject(
      "path" -> JString(out),
      "total_rows" -> JInt(BigInt(manifest.map(_.rows).sum)),
      "shards" -> JArray(manifest.map(s => JObject(
        "shard" -> JInt(BigInt(s.shard)),
        "rows" -> JInt(BigInt(s.rows)),
        "min_ts" -> JInt(BigInt(s.minTs)),
        "max_ts" -> JInt(BigInt(s.maxTs)))).toList)))
  }

  /** DELETE /b/:bucket/:entry/q — legacy remove-by-params
    * (remove_query.rs:20-58: start/stop params, 422 when no parameter
    * is given). A JSON body with `when`/`start`/`stop` is also accepted
    * so conditional removes work over this verb too. */
  private def removeQuery(ex: HttpExchange, bucket: String, entry: String,
      params: Map[String, String]): Unit = {
    val body = new String(readBody(ex), UTF_8).trim
    if (body.isEmpty || body == "{}") {
      if (params.isEmpty)
        throw unprocessable("Define at least one query parameter to delete records")
      val spec = QuerySpec(
        start = params.get("start").map(tsParam("start", _)),
        stop = params.get("stop").map(tsParam("stop", _)),
        entries = Some(Seq(entry).filter(e => !EntryPattern.isSystemMetaEntry(e))),
        bucket = Some(bucket))
      val n = store.removeQuery(spec)
      json(ex, 200, JObject("removed_records" -> JInt(BigInt(n))))
    } else removeQueryJson(ex, bucket, entry, body)
  }

  /** Shared by legacy DELETE-with-body and POST `query_type: REMOVE`. */
  private def removeQueryJson(ex: HttpExchange, bucket: String, entry: String,
      body: String): Unit = {
    val (spec0, _, _) = parseQueryEntry(body)
    if (spec0.start.isEmpty && spec0.stop.isEmpty && spec0.when.isEmpty &&
        spec0.entries.isEmpty)
      throw unprocessable("Define at least one query parameter to delete records")
    val spec = spec0.copy(bucket = Some(bucket),
      entries = Some(spec0.entries.getOrElse(Seq(entry))
        .filter(e => !EntryPattern.isSystemMetaEntry(e))))
    val n = store.removeQuery(spec)
    json(ex, 200, JObject("removed_records" -> JInt(BigInt(n))))
  }

  // ----------------- provisioning (cfg/provision/*.rs; see Provisioning)
  // Applied last in construction order so every repository above exists.
  // Create-or-update then flag: an already-existing resource gets its
  // definition replaced by the env's (provision_buckets conflict branch).

  private val provisionedBuckets =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val provisionedReplications =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private val provisionedLifecycles =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val provisionedResources = Provisioning.parse(env)
  private val defaultBucketSettings = provisionedResources.bucketDefaults

  // global storage cap across all buckets (PR-1263): env-configured,
  // enforced on the store's write-admission path
  store.maxStorageSize = env.get("RS_ENGINE_MAX_STORAGE_SIZE")
    .flatMap(Provisioning.parseByteSize).filter(_ > 0)

  /** Replica `$system` forwarding (RS_PRIMARY_URL / RS_SECONDARY_URL,
    * syslog/forward_writer.rs): a non-owning role ships its usage/audit
    * events to the primary's HTTP API instead of writing the shared
    * tree it must not mutate. */
  private val eventForwarder: Option[SystemEventForwarder] =
    if (store.readOnly) SystemEventForwarder.fromEnv(env, apiToken) else None

  /** Engine log capture into `$system/logs/<instance>/messages`
    * (syslog/capture/logs.rs, PR-1481), gated by
    * RS_SYSTEM_EVENTS_LOG_LEVEL and RS_SYSTEM_EVENTS_ENABLED. */
  private[engine] val systemLog = new SystemLog(store,
    provisionedResources.systemEvents.instance,
    if (provisionedResources.systemEvents.enabled)
      provisionedResources.systemEvents.logLevel
    else None,
    eventsEnabled = provisionedResources.systemEvents.enabled,
    forwarder = eventForwarder)

  /** `$system` API audit trail (middleware/audit.rs, aggregated per
    * (token, method, path, status) like syslog/aggregate/audit.rs).
    * Enablement follows PR-1275: ON by default only when the instance
    * runs with an API token (an open instance has no identities worth
    * auditing), with `RS_AUDIT_ENABLED` as the explicit override either
    * way; audit storage quota rides the `$system` bucket's
    * RS_SYSTEM_EVENTS_QUOTA_SIZE (graft colocates the audit trail
    * there, so a separate RS_AUDIT_QUOTA_SIZE knob would double-govern
    * one bucket). */
  private[engine] val auditLog = new AuditLog(systemLog,
    enabled = provisionedResources.systemEvents.enabled &&
      env.get("RS_AUDIT_ENABLED")
        .map(v => v.equalsIgnoreCase("true") || v == "1")
        .getOrElse(apiToken.nonEmpty))

  provisionedResources.warnings.foreach { w =>
    System.err.println(s"[provision] $w")
    systemLog.log("WARN", "graft::engine::provisioning", w)
  }
  locally {
    // `$system` is provisioned (PR-1557): un-removable and
    // settings-protected through the API, with the env-configured FIFO
    // quota reapplied at every startup so a changed
    // RS_SYSTEM_EVENTS_QUOTA_SIZE takes effect on restart.
    // A REPLICA provisions nothing to storage — the tree belongs to the
    // primary (its boot already provisioned it); only in-memory state
    // (tokens) applies here.
    if (provisionedResources.systemEvents.enabled && !store.readOnly) {
      store.putBucketSettings("$system", BucketStore.BucketSettings(
        quotaType = Some("FIFO"),
        quotaSize = Some(provisionedResources.systemEvents.quotaSize))
        .over(BucketStore.BucketSettings.defaults))
      createdBuckets.add("$system")
      provisionedBuckets.add("$system")
    }
    for ((name, settings) <- provisionedResources.buckets if !store.readOnly) {
      store.putBucketSettings(name, settings.over(defaultBucketSettings))
      createdBuckets.add(name)
      provisionedBuckets.add(name)
    }
    for ((name, t) <- provisionedResources.tokens) {
      tokens.provisionToken(name, t.value, t.permissions, t.expiresAtMs)
    }
    for ((name, s) <- provisionedResources.replications) {
      replications.put(name, s)
      store.updateLogEnabled = true // task exists → patches log (see POST)
      provisionedReplications.add(name)
    }
    for ((name, p) <- provisionedResources.lifecycles) {
      lifecyclePolicies.put(name, p)
      provisionedLifecycles.add(name)
    }
  }
}

object HttpApi {
  import com.sun.net.httpserver.HttpExchange

  /** Served engine version and the API generation advertised in
    * `x-reduct-api` (major.minor — the reference derives it from its
    * crate version the same way, api/http/middleware.rs:39-44). */
  val ServerVersion = "1.21.0"
  val ApiVersion: String = ServerVersion.split('.').take(2).mkString(".")

  private[engine] def urlDecode(s: String): String =
    java.net.URLDecoder.decode(s, "UTF-8")

  private[engine] def urlEncode(s: String): String =
    java.net.URLEncoder.encode(s, "UTF-8")

  private[engine] def queryParams(ex: HttpExchange): Map[String, String] =
    Option(ex.getRequestURI.getRawQuery).map(_.split("&").toSeq
      .filter(_.nonEmpty).map { kv =>
        kv.split("=", 2) match {
          case Array(k, v) => urlDecode(k) -> urlDecode(v)
          case Array(k)    => urlDecode(k) -> ""
        }
      }.toMap).getOrElse(Map.empty)

  private[engine] def readBody(ex: HttpExchange): Array[Byte] =
    decodeBody(ex.getRequestBody,
      Option(ex.getRequestHeaders.getFirst("Content-Encoding"))
        .map(_.trim.toLowerCase).filter(e => e.nonEmpty && e != "identity"))
      .readAllBytes()

  /** Wrap a request body in its Content-Encoding decoder — gzip/zstd,
    * the codings the reference's RequestDecompressionLayer accepts
    * (http.rs:262-266). Unsupported codings are 415'd pre-routing. */
  private[engine] def decodeBody(in: java.io.InputStream,
      encoding: Option[String]): java.io.InputStream = encoding match {
    case None         => in
    case Some("gzip") => new java.util.zip.GZIPInputStream(in)
    case Some("zstd") => new com.github.luben.zstd.ZstdInputStream(in)
    case Some(other)  => // unreachable: handle() 415s before routing
      throw Auth.ApiError(415, s"Unsupported Content-Encoding: $other")
  }

  /** SSLContext from a PKCS12 keystore — the JVM packaging of the
    * reference's cert_path + cert_key_path PEM pair. */
  def sslContext(keystorePath: String, password: String): javax.net.ssl.SSLContext = {
    val ks = java.security.KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(keystorePath)
    try ks.load(in, password.toCharArray) finally in.close()
    val kmf = javax.net.ssl.KeyManagerFactory.getInstance(
      javax.net.ssl.KeyManagerFactory.getDefaultAlgorithm)
    kmf.init(ks, password.toCharArray)
    val ctx = javax.net.ssl.SSLContext.getInstance("TLS")
    ctx.init(kmf.getKeyManagers, null, null)
    ctx
  }

  private[engine] def respond(ex: HttpExchange, status: Int, body: Array[Byte]): Unit = {
    if (status == 204 || ex.getRequestMethod.equalsIgnoreCase("HEAD")) {
      ex.sendResponseHeaders(status, -1)
    } else {
      ex.sendResponseHeaders(status, if (body.isEmpty) -1 else body.length.toLong)
      if (body.nonEmpty) {
        val os = ex.getResponseBody
        os.write(body)
        os.close()
      }
    }
  }

  private[engine] def json(ex: HttpExchange, status: Int, j: JValue): Unit = {
    ex.getResponseHeaders.set("Content-Type", "application/json")
    respond(ex, status,
      org.json4s.jackson.JsonMethods.compact(
        org.json4s.jackson.JsonMethods.render(j)).getBytes(UTF_8))
  }

  private[engine] def errorResponse(ex: HttpExchange, status: Int, msg: String): Unit = {
    // Drain what's left of the request body before erroring — the
    // reference does the same on write errors (write_batched.rs:105-110
    // "draining the stream"): an admission 4xx now fires BEFORE the body
    // is read, and responding with megabytes still in flight makes the
    // server reset the connection, so the client sees an IO error
    // instead of the status. Bounded: a body past the cap (64 MiB — far
    // above any admissible batch, since oversize requests were already
    // refused at admission) forfeits keep-alive instead of being paid.
    // Unauthenticated / rate-limited rejections (401/403/429) get a
    // 64 KiB cap instead: those fire before ANY request-cost was earned,
    // and a full drain would let an unauthenticated client bill the
    // server up to 64 MiB of socket reads per rejected request — an
    // amplification lever on cheap floods. Their keep-alive is not worth
    // preserving; past the small cap the connection just closes.
    val drainCap =
      if (status == 401 || status == 403 || status == 429) 64L * 1024
      else 64L * 1024 * 1024
    var bodyRemains = false
    try {
      val in = ex.getRequestBody
      val buf = new Array[Byte](64 * 1024)
      var drained = 0L
      var n = in.read(buf)
      while (n >= 0 && drained <= drainCap) { drained += n; n = in.read(buf) }
      bodyRemains = n >= 0
    } catch { case scala.util.control.NonFatal(_) => () }
    // undrained bytes would be misread as the NEXT request on this
    // connection — tell the JDK server to close it after the response
    if (bodyRemains) ex.getResponseHeaders.set("Connection", "close")
    // header values are Latin-1 on the wire; a non-ASCII char in an
    // exception message (which can echo user data) would otherwise kill
    // the response mid-write and the client sees a dropped connection.
    // The JSON body keeps the exact message.
    ex.getResponseHeaders.set("x-reduct-error",
      msg.map(c => if (c >= ' ' && c < 0x7f) c else '?'))
    json(ex, status, JObject("detail" -> JString(msg)))
  }
}
