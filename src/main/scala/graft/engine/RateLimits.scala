package graft.engine

import graft.engine.Auth.ApiError

/** Windowed API / ingress / egress rate limiting (api/limits.rs,
  * cfg/limits.rs, PR-1255 — SURVEY §2.8).
  *
  * Three independent limit kinds, each an optional `amount / window`
  * pair configured through environment variables:
  *
  *  - `RS_RATE_LIMIT_API`     — requests per window (`"100req/s"`,
  *    `"100000req/h"`, bare `"123"` = per hour)
  *  - `RS_RATE_LIMIT_INGRESS` — request-body bytes per window
  *    (`"10GB/h"`, `"10MB/m"`, bare `"4096"` = per hour)
  *  - `RS_RATE_LIMIT_EGRESS`  — response-body bytes per window
  *
  * Amount grammar mirrors cfg/limits.rs:92-153: an optional `/period`
  * suffix where a bare unit (`/s`, `/m`, `/h`, `/ms`) means "per one of
  * that unit" and a full duration literal (`/30s`, `/2h`) is accepted
  * too; byte amounts use the bytesize grammar Provisioning already
  * parses (SI decimal unless the binary `i` infix is present). An
  * unparsable value leaves that limit unset — never a startup failure
  * (cfg tests: defaults_to_unlimited_when_missing_or_invalid).
  *
  * Enforcement counts per client-IP scope with a global fallback when
  * no client IP is resolvable (api/limits.rs:42-62
  * limit_scope_from_client_ip). Each (kind, scope) pair owns a fixed
  * window counter (limits.rs:285-344): the first consume starts the
  * window, the window resets `window` seconds later, and a consume that
  * would push usage past the limit is rejected — WITHOUT consuming —
  * with 429 TooManyRequests whose message carries used/limit and a
  * whole-seconds `retry_after` until the window turns over
  * (limits.rs:329-340). Stale scopes are pruned on every consume so the
  * per-IP map can't grow unboundedly across clients (limits.rs:272-283).
  *
  * Scale note: this guards the single-node HTTP/Zenoh serving façade —
  * state is a per-process in-memory map, the same scope the reference's
  * `RwLock<HashMap>` has. Spark job admission is not routed through
  * this (executors don't serve HTTP).
  */
object RateLimits {

  /** `amount` per `windowSecs` (≥ 1 s — limits.rs WindowLimit::new
    * clamps a zero window, and consume rounds sub-second windows up). */
  final case class WindowLimit(amount: Long, windowSecs: Long) {
    require(windowSecs >= 1)
  }

  final case class Config(
      api: Option[WindowLimit] = None,
      ingress: Option[WindowLimit] = None,
      egress: Option[WindowLimit] = None) {
    def isUnlimited: Boolean = api.isEmpty && ingress.isEmpty && egress.isEmpty
  }

  /** No limits configured — every check is a no-op (the NoopLimits
    * build, limits.rs:179-199). */
  def unlimited: RateLimits = new RateLimits(Config())

  def fromEnv(env: Map[String, String],
      nowSecs: () => Long = () => System.currentTimeMillis() / 1000L): RateLimits =
    new RateLimits(Config(
      api = env.get("RS_RATE_LIMIT_API").flatMap(parseRequestLimit),
      ingress = env.get("RS_RATE_LIMIT_INGRESS").flatMap(parseByteLimit),
      egress = env.get("RS_RATE_LIMIT_EGRESS").flatMap(parseByteLimit)), nowSecs)

  private val HourSecs = 3600L

  /** `"100req/s"` / `"123"` — optional `req` suffix on the amount
    * (cfg/limits.rs:117-123), default window one hour (:107). */
  def parseRequestLimit(s: String): Option[WindowLimit] =
    splitAmountPeriod(s).flatMap { case (amount, windowSecs) =>
      val a = amount.stripSuffix("req").trim
      a.toLongOption.filter(_ >= 0).map(WindowLimit(_, windowSecs))
    }

  /** `"10GB/h"` / `"2KB"` / `"4096"` — bytesize amounts
    * (cfg/limits.rs:125-129), default window one hour. */
  def parseByteLimit(s: String): Option[WindowLimit] =
    splitAmountPeriod(s).flatMap { case (amount, windowSecs) =>
      Provisioning.parseByteSize(amount).map(WindowLimit(_, windowSecs))
    }

  /** Split on the LAST `/` (cfg/limits.rs:101 rsplit_once) so byte
    * amounts containing no slash parse whole; returns (amount, secs). */
  private def splitAmountPeriod(s: String): Option[(String, Long)] = {
    val v = s.trim
    if (v.isEmpty) return None
    val idx = v.lastIndexOf('/')
    if (idx < 0) Some((v, HourSecs))
    else parsePeriodSecs(v.substring(idx + 1).trim)
      .map(secs => (v.substring(0, idx).trim, secs))
  }

  /** `s`/`m`/`h`/`ms` shorthands mean one unit (cfg/limits.rs:136-141);
    * otherwise the engine's duration grammar. Sub-second periods clamp
    * up to 1 s — the counter granularity the reference enforces too
    * (limits.rs:312 window.as_secs().max(1)). Non-positive → invalid. */
  private def parsePeriodSecs(period: String): Option[Long] = {
    if (period.isEmpty) return None
    val normalized =
      if (period.forall(c => c.isLetter)) "1" + period else period
    graft.cond.Value.parseDurationMicros(normalized)
      .filter(_ > 0)
      .map(us => math.max(1L, us / 1000000L))
  }

  sealed abstract class Kind(val label: String, val bytes: Boolean)
  case object ApiRequests extends Kind("api requests", bytes = false)
  case object IngressBytes extends Kind("ingress bytes", bytes = true)
  case object EgressBytes extends Kind("egress bytes", bytes = true)

  /** bytesize-style SI rendering with the raw count in parens —
    * limits.rs:89-96 format_amount. */
  private[engine] def formatAmount(kind: Kind, amount: Long): String =
    if (!kind.bytes) amount.toString
    else s"${humanBytes(amount)} ($amount)"

  private def humanBytes(b: Long): String = {
    val units = Seq("B", "kB", "MB", "GB", "TB", "PB")
    if (b < 1000L) s"$b B"
    else {
      var v = b.toDouble; var i = 0
      while (v >= 1000.0 && i < units.length - 1) { v /= 1000.0; i += 1 }
      f"$v%.1f ${units(i)}"
    }
  }

  /** One fixed window per scope (limits.rs:285-344). Mutation is
    * guarded by the kind-level map lock in [[RateLimits.consume]]. */
  private final class WindowCounter {
    var used: Long = 0L
    var windowStartSecs: Long = -1L
  }
}

final class RateLimits(val config: RateLimits.Config,
    nowSecs: () => Long = () => System.currentTimeMillis() / 1000L) {
  import RateLimits._

  // one scope→counter map per kind, each its own lock — mirrors the
  // three RwLock<HashMap<LimitScope, WindowCounter>> (limits.rs:205-207).
  // lastPruneSecs amortizes stale-scope pruning (see consume): guarded by
  // the same map monitor.
  private final class ScopeMap {
    val counters = new java.util.HashMap[String, WindowCounter]()
    var lastPruneSecs: Long = -1L
  }
  private val api = new ScopeMap
  private val ingress = new ScopeMap
  private val egress = new ScopeMap

  private val GlobalScope = "" // the GlobalFallback sentinel key

  /** Per-request admission — the middleware check
    * (middleware.rs:61-89). `clientIp` None/blank → global scope. */
  def checkApiRequest(clientIp: Option[String]): Unit =
    consume(api, config.api, scopeOf(clientIp), ApiRequests, 1L)

  /** Request-body byte admission on write paths
    * (write_single.rs:45-52, write_batched.rs:68-75, io/write.rs:70-77). */
  def checkIngress(clientIp: Option[String], bytes: Long): Unit =
    consume(ingress, config.ingress, scopeOf(clientIp), IngressBytes, bytes)

  /** Response-body byte admission on read paths (read_single.rs:103,
    * read_batched.rs:216, io/read.rs:239, links/get.rs:338-365). */
  def checkEgress(clientIp: Option[String], bytes: Long): Unit =
    consume(egress, config.egress, scopeOf(clientIp), EgressBytes, bytes)

  private def scopeOf(clientIp: Option[String]): String =
    clientIp.map(_.trim).filter(_.nonEmpty).getOrElse(GlobalScope)

  private def scopeLabel(scope: String): String =
    if (scope == GlobalScope) "global" else s"client $scope"

  private def consume(map: ScopeMap,
      limit: Option[WindowLimit], scope: String, kind: Kind,
      amount: Long): Unit = {
    val lim = limit.getOrElse(return)
    val now = nowSecs()
    map.synchronized {
      // Stale-scope pruning is amortized to AT MOST ONCE PER SECOND:
      // the reference prunes on every consume (limits.rs:260-268), but
      // that walk is O(active scopes) under the map lock, and measured
      // at 10k client-IP scopes it serialized the JDK HttpServer
      // dispatch pool to ~16k consumes/s (SCALE.md round 18). Pruning
      // is memory hygiene only — window turnover is per-counter
      // below — so once a second keeps the map bounded by
      // the active-client set with O(1) consumes in between.
      if (map.lastPruneSecs != now) {
        pruneStaleScopes(map.counters, now, lim.windowSecs)
        map.lastPruneSecs = now
      }
      val counter = {
        val existing = map.counters.get(scope)
        if (existing != null) existing
        else { val c = new WindowCounter; map.counters.put(scope, c); c }
      }
      // fixed window: first touch (or turnover) restarts the window
      if (counter.windowStartSecs < 0 ||
          now - counter.windowStartSecs >= lim.windowSecs) {
        counter.used = 0L
        counter.windowStartSecs = now
      }
      val usedAfter = counter.used + amount
      if (usedAfter > lim.amount) {
        // rejected consumes don't count (limits.rs:329-343 returns
        // before self.used is updated) — a blocked client that keeps
        // retrying small requests can still get through after turnover
        val elapsed = math.max(0L, now - counter.windowStartSecs)
        val retryAfter = math.max(1L, lim.windowSecs - elapsed)
        throw ApiError(429,
          s"rate limit for ${kind.label} (${scopeLabel(scope)}) exceeded: " +
            s"used=${formatAmount(kind, usedAfter)} " +
            s"limit=${formatAmount(kind, lim.amount)} " +
            s"retry_after=${retryAfter}s")
      }
      counter.used = usedAfter
    }
  }

  /** Drop scopes idle past one full window (limits.rs:272-283) so the
    * per-client map stays bounded by the active-client set. */
  private def pruneStaleScopes(map: java.util.HashMap[String, WindowCounter],
      now: Long, windowSecs: Long): Unit = {
    val it = map.values().iterator()
    while (it.hasNext) {
      val c = it.next()
      if (c.windowStartSecs < 0 || now - c.windowStartSecs > windowSecs)
        it.remove()
    }
  }
}
