package graft.engine

import java.security.{MessageDigest, SecureRandom}
import scala.collection.mutable

/** Token authentication + authorization policies — the engine-level port
  * of the reference's auth stack (reductstore/src/auth): a token
  * repository holding PBKDF2-hardened secrets, bearer-header validation with
  * expiry / inactivity-TTL / IP-allowlist checks, and the per-route policy
  * lattice (anonymous < authenticated < read < write < full access).
  *
  * Transport-agnostic: [[HttpApi]] (or any other facade) passes the raw
  * `Authorization` header value. All failures raise [[ApiError]] with the
  * reference's status codes and messages.
  */
object Auth {

  final case class ApiError(status: Int, message: String)
      extends RuntimeException(message)
  def unauthorized(msg: String) = ApiError(401, msg)
  def forbidden(msg: String) = ApiError(403, msg)
  def notFound(msg: String) = ApiError(404, msg)
  def conflict(msg: String) = ApiError(409, msg)
  def unprocessable(msg: String) = ApiError(422, msg)

  final case class Permissions(
      fullAccess: Boolean = false,
      read: Seq[String] = Seq.empty,
      write: Seq[String] = Seq.empty)

  final case class Token(
      name: String,
      value: String, // pbkdf2-sha256 hash, never the raw token
      createdAtMs: Long,
      permissions: Option[Permissions],
      isProvisioned: Boolean = false,
      expiresAtMs: Option[Long] = None,
      ttlSec: Option[Long] = None,
      lastAccessMs: Option[Long] = None,
      ipAllowlist: Seq[String] = Seq.empty)

  final case class TokenCreateResponse(value: String, createdAtMs: Long)

  val InitTokenName = "init-token"

  // ------------------------------------------------------- secret hashing

  private val Sha256Prefix = "sha256$"
  private val Pbkdf2Prefix = "pbkdf2-sha256$"
  private val rng = new SecureRandom()

  /** PBKDF2 work factor. PR-1273 hardened token secrets at rest with a
    * memory/work-hardened hash (Argon2 there); PBKDF2WithHmacSHA256 ships
    * in the JDK (javax.crypto.SecretKeyFactory), giving the same
    * no-fast-offline-cracking property without a new dependency. The
    * per-request cost is absorbed by the validation cache below (also
    * PR-1273: "token validation caching with mutation-based
    * invalidation") — verification runs once per (token, process),
    * not once per request. */
  val Pbkdf2Iterations = 100000

  private def sha256(bytes: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(bytes)

  private def pbkdf2(value: String, salt: Array[Byte], iters: Int): Array[Byte] =
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(new javax.crypto.spec.PBEKeySpec(
        value.toCharArray, salt, iters, 256))
      .getEncoded

  private def hex(b: Array[Byte]): String = b.map(x => f"${x & 0xFF}%02x").mkString

  private def unhex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  /** token_secret.rs hash_token_secret analog, work-factor-hardened:
    * `pbkdf2-sha256$<iterations>$<salt-hex>:<hash-hex>`. The iteration
    * count travels in the stored value so it can be raised without
    * breaking existing hashes. */
  def hashTokenSecret(value: String): String = {
    val salt = new Array[Byte](16)
    rng.nextBytes(salt)
    s"$Pbkdf2Prefix$Pbkdf2Iterations$$" +
      s"${hex(salt)}:${hex(pbkdf2(value, salt, Pbkdf2Iterations))}"
  }

  def isHashedTokenSecret(v: String): Boolean =
    v.startsWith(Pbkdf2Prefix) || v.startsWith(Sha256Prefix)

  /** Constant-time verification against the stored hash. The legacy
    * `sha256$<salt>:<hash>` form still verifies (tokens are
    * env-provisioned per boot, but a long-lived embedded repo may hold
    * pre-upgrade hashes — the reference's startup-migration analog). */
  def verifyTokenSecret(stored: String, candidate: String): Boolean =
    if (stored.startsWith(Pbkdf2Prefix))
      stored.substring(Pbkdf2Prefix.length).split("[$:]") match {
        case Array(iters, saltHex, hashHex) =>
          try MessageDigest.isEqual(
            pbkdf2(candidate, unhex(saltHex), iters.toInt), unhex(hashHex))
          catch { case _: NumberFormatException => false }
        case _ => false
      }
    else if (stored.startsWith(Sha256Prefix))
      stored.substring(Sha256Prefix.length).split(":", 2) match {
        case Array(saltHex, hashHex) =>
          try MessageDigest.isEqual(
            sha256(unhex(saltHex) ++ candidate.getBytes("UTF-8")), unhex(hashHex))
          catch { case _: NumberFormatException => false }
        case _ => false
      }
    else false

  // ------------------------------------------------------------ policies

  /** auth/policy.rs — validate an already-resolved token lookup. */
  sealed trait Policy {
    def validate(token: Either[ApiError, Token]): Unit
  }
  /** Allows anything, even an invalid token. */
  case object AnonymousPolicy extends Policy {
    def validate(token: Either[ApiError, Token]): Unit = ()
  }
  case object AuthenticatedPolicy extends Policy {
    def validate(token: Either[ApiError, Token]): Unit =
      token.left.foreach(throw _)
  }
  case object FullAccessPolicy extends Policy {
    def validate(token: Either[ApiError, Token]): Unit = {
      val t = token.fold(throw _, identity)
      if (!t.permissions.exists(_.fullAccess))
        throw forbidden(s"Token '${t.name}' doesn't have full access")
    }
  }
  final case class ReadAccessPolicy(bucket: String) extends Policy {
    def validate(token: Either[ApiError, Token]): Unit = {
      val t = token.fold(throw _, identity)
      val p = t.permissions.getOrElse(Permissions())
      if (!p.fullAccess && !checkBucketPermissions(p.read, bucket))
        throw forbidden(s"Token '${t.name}' doesn't have read access to bucket '$bucket'")
    }
  }
  final case class WriteAccessPolicy(bucket: String) extends Policy {
    def validate(token: Either[ApiError, Token]): Unit = {
      val t = token.fold(throw _, identity)
      val p = t.permissions.getOrElse(Permissions())
      if (!p.fullAccess && !checkBucketPermissions(p.write, bucket))
        throw forbidden(s"Token '${t.name}' doesn't have write access to bucket '$bucket'")
    }
  }

  /** policy.rs check_bucket_permissions: exact names always match;
    * trailing-`*` wildcards match by prefix but NEVER grant access to
    * `$`-system buckets. */
  def checkBucketPermissions(grants: Seq[String], bucket: String): Boolean =
    grants.exists { g =>
      g == bucket ||
        (!bucket.startsWith("$") && g.endsWith("*") &&
          bucket.startsWith(g.dropRight(1)))
    }

  // ---------------------------------------------------------- repository

  def parseBearerToken(header: String): String = {
    if (!header.startsWith("Bearer "))
      throw unauthorized("No bearer token in request header")
    header.substring(7)
  }

  /** token_repository/repo.rs — in-memory (the storage backend would be a
    * `$system` entry at scale, written through [[SystemLog]] like every
    * other `$system` row). `nowMs` is injectable for deterministic tests.
    *
    * Thread-safe: the serving layer runs on a thread pool and EVERY
    * authenticated request mutates the repo (validateToken stamps
    * lastAccessMs for the inactivity TTL), so all map access holds the
    * instance monitor — an unsynchronized LinkedHashMap corrupts its
    * link chain under concurrent insert/update. The critical sections
    * are in-memory map ops plus per-token SHA-256, micro-scale next to
    * any request's Spark work. */
  final class TokenRepository(apiToken: String,
      nowMs: () => Long = () => System.currentTimeMillis()) {

    private val repo = mutable.LinkedHashMap.empty[String, Token]
    private val bucketNameRe = "^[A-Za-z0-9_*-]+$".r

    /** Validation cache (PR-1273 "token validation caching with
      * mutation-based invalidation"): SHA-256(candidate) → the token name
      * it resolved to (None = known-bad). PBKDF2 verification therefore
      * runs once per (secret, process); every subsequent request is one
      * digest + map hit. Keyed by digest so no plaintext secret outlives
      * its request. Invalidated WHOLESALE on any repo mutation — create,
      * provision, remove, rotate — the simplest scheme that can never
      * serve a stale grant. Bounded by LRU: a flood of distinct bad
      * bearer values evicts one entry per insert (the least-recently
      * consulted), so it can never evict the hot legitimate entries
      * wholesale — a clear()-at-capacity scheme would hand an attacker a
      * lever to force every real client back onto the slow path. */
    private[engine] var validationCacheMax = 4096 // var: spec-shrinkable
    private val validationCache =
      new java.util.LinkedHashMap[String, Option[String]](256, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Option[String]]): Boolean =
          size() > validationCacheMax
      }
    /** Spec probes: PBKDF2 verifications actually run (the targeted-
      * lookup pin), and cache membership (containsKey does NOT touch the
      * LRU access order, so probing is side-effect-free). */
    private[engine] val verifyCount = new java.util.concurrent.atomic.AtomicLong
    private[engine] def isCachedCandidate(value: String): Boolean =
      synchronized(validationCache.containsKey(candidateDigest(value)))
    /** Bumped on every repo mutation. A slow-path verification that
      * started against the pre-mutation repo snapshot must not write its
      * conclusion into the (just-invalidated) cache — it rechecks the
      * epoch under the monitor before caching. */
    private var cacheEpoch = 0L
    private def invalidateValidationCache(): Unit = {
      validationCache.clear(); cacheEpoch += 1
    }
    private def candidateDigest(value: String): String =
      value.length + ":" + java.util.Base64.getEncoder.encodeToString(
        MessageDigest.getInstance("SHA-256").digest(value.getBytes("UTF-8")))

    // read_only.rs:148-177 — the configured API token becomes a
    // provisioned full-access init token
    if (apiToken.nonEmpty)
      repo(InitTokenName) = Token(InitTokenName, hashTokenSecret(apiToken),
        nowMs(), Some(Permissions(fullAccess = true)), isProvisioned = true)

    def authRequired: Boolean = apiToken.nonEmpty

    def createToken(name: String, permissions: Permissions,
        expiresAtMs: Option[Long] = None, ttlSec: Option[Long] = None,
        ipAllowlist: Seq[String] = Seq.empty,
        provisioned: Boolean = false): TokenCreateResponse = synchronized {
      if (name.isEmpty) throw unprocessable("Token name can't be empty")
      if (repo.contains(name)) throw conflict(s"Token '$name' already exists")
      for (e <- permissions.read ++ permissions.write)
        if (!e.startsWith("$") && !bucketNameRe.matches(e))
          throw unprocessable(
            s"Permission can contain only bucket names or wildcard '*', got '$e'")
      // <= 0: zero is meaningless and a NEGATIVE ttl would mint a token
      // that authenticates once, stamps lastAccess, then fails forever
      if (ttlSec.exists(_ <= 0L))
        throw unprocessable("Token TTL must be greater than zero")
      val createdAt = nowMs()
      expiresAtMs.foreach(e => if (e < createdAt)
        throw unprocessable("Token expiration date must not be in the past"))
      val value = s"$name-${(0 until 32).map(_ => f"${rng.nextInt(16)}%x").mkString}"
      repo(name) = Token(name, hashTokenSecret(value), createdAt,
        Some(permissions), isProvisioned = provisioned,
        expiresAtMs = expiresAtMs, ttlSec = ttlSec,
        // the inactivity clock starts AT CREATION: a minted-but-never-
        // used token must expire ttl after issue, not live forever
        // waiting for a first use to arm the check
        lastAccessMs = Some(createdAt), ipAllowlist = ipAllowlist)
      invalidateValidationCache()
      TokenCreateResponse(value, createdAt)
    }

    /** cfg/provision/token.rs provision_tokens: create-or-update with the
      * env-supplied fixed secret and permissions, then mark provisioned —
      * an existing token of the same name is overwritten, and the
      * provisioned flag shields it from remove/rotate. */
    def provisionToken(name: String, value: String, permissions: Permissions,
        expiresAtMs: Option[Long] = None): Unit = synchronized {
      val createdAt = repo.get(name).map(_.createdAtMs).getOrElse(nowMs())
      repo(name) = Token(name, hashTokenSecret(value), createdAt,
        Some(permissions), isProvisioned = true, expiresAtMs = expiresAtMs)
      invalidateValidationCache()
    }

    def getToken(name: String): Token = synchronized {
      repo.getOrElse(name, throw notFound(s"Token '$name' doesn't exist"))
    }

    def tokenList: Seq[Token] = synchronized(repo.values.toSeq)

    def removeToken(name: String): Unit = synchronized {
      repo.get(name).foreach(t => if (t.isProvisioned)
        throw conflict(s"Can't remove provisioned token '$name'"))
      if (repo.remove(name).isEmpty)
        throw notFound(s"Token '$name' doesn't exist")
      invalidateValidationCache()
    }

    /** repo.rs rotate_token — re-issue the secret, keep the grants. */
    def rotateToken(name: String): TokenCreateResponse = synchronized {
      if (name == InitTokenName) throw conflict("Can't rotate init token")
      val t = repo.getOrElse(name, throw notFound(s"Token '$name' doesn't exist"))
      if (t.isProvisioned) throw conflict(s"Can't rotate provisioned token '$name'")
      t.expiresAtMs.foreach(e => if (nowMs() >= e)
        throw unprocessable(s"Can't rotate expired token '$name'"))
      val value = s"$name-${(0 until 32).map(_ => f"${rng.nextInt(16)}%x").mkString}"
      repo(name) = t.copy(value = hashTokenSecret(value), createdAtMs = nowMs())
      invalidateValidationCache()
      TokenCreateResponse(value, nowMs())
    }

    /** Generated secrets embed their token name (`<name>-<32 hex>`,
      * [[createToken]]/[[rotateToken]]) — recover it so a cache-missing
      * candidate verifies against ONE stored hash, not the whole repo. */
    private def candidateNamePrefix(value: String): Option[String] =
      if (value.length > 33 && value(value.length - 33) == '-' &&
          value.takeRight(32).forall(c =>
            (c >= '0' && c <= '9') || (c >= 'a' && c <= 'f')))
        Some(value.dropRight(33))
      else None

    /** repo.rs validate_token — bearer parse, hash match, lifetime + IP.
      * The hash match consults the validation cache first; lifetime,
      * allowlist, and the lastAccess stamp run on EVERY request — only
      * the expensive secret verification is cached.
      *
      * PBKDF2 (100k iterations, ~50-100 ms) runs OUTSIDE the monitor:
      * holding it while hashing would serialize ALL auth behind one slow
      * verification — a DoS lever for an attacker spraying distinct bad
      * bearer values. The slow path (a) snapshots only the candidate
      * hashes it must check under the monitor — usually exactly one, via
      * the `name-` secret prefix; a full scan happens only for
      * provisioned/legacy secrets that don't carry the prefix — then
      * (b) verifies lock-free, and (c) re-takes the monitor to cache the
      * verdict iff no repo mutation intervened (cacheEpoch), so a
      * mid-flight rotate/remove can never plant a stale cache entry. */
    def validateToken(header: Option[String],
        clientIp: Option[String] = None): Token = {
      val value = parseBearerToken(header.getOrElse(""))
      val digest = candidateDigest(value)
      val resolvedName: Option[String] = {
        val cachedOrWork: Either[(Long, Seq[(String, String)]), Option[String]] =
          synchronized {
            Option(validationCache.get(digest)) match {
              case Some(hit) => Right(hit)
              case None =>
                val targeted = for {
                  name <- candidateNamePrefix(value)
                  t <- repo.get(name)
                } yield Seq((t.name, t.value))
                Left((cacheEpoch, targeted.getOrElse(
                  repo.values.map(t => (t.name, t.value)).toSeq)))
            }
          }
        cachedOrWork match {
          case Right(hit) => hit
          case Left((epoch, primary)) =>
            // lock-free PBKDF2 against the snapshot; if the name-prefix
            // guess missed (e.g. a provisioned secret that happens to
            // LOOK generated), fall back to the full scan once
            var found = primary.find { case (_, stored) =>
              verifyCount.incrementAndGet()
              verifyTokenSecret(stored, value) }.map(_._1)
            if (found.isEmpty && primary.length == 1) {
              val rest = synchronized {
                repo.values.collect {
                  case t if t.name != primary.head._1 => (t.name, t.value)
                }.toSeq
              }
              found = rest.find { case (_, stored) =>
                verifyCount.incrementAndGet()
                verifyTokenSecret(stored, value) }.map(_._1)
            }
            synchronized {
              if (cacheEpoch == epoch) validationCache.put(digest, found)
            }
            found
        }
      }
      synchronized {
        // a cached name always re-resolves against the CURRENT repo — a
        // vanished name would mean a missed invalidation
        val token = resolvedName.flatMap(repo.get)
          .getOrElse(throw unauthorized("Invalid token"))
        checkTokenLifetime(token)
        checkIpAllowlist(token, clientIp)
        repo(token.name) = token.copy(lastAccessMs = Some(nowMs()))
        token
      }
    }

    private def checkTokenLifetime(t: Token): Unit = {
      val now = nowMs()
      if (t.expiresAtMs.exists(now >= _))
        throw unauthorized(s"Token '${t.name}' expired")
      for (ttl <- t.ttlSec; last <- t.lastAccessMs)
        if ((now - last) / 1000 > ttl)
          throw unauthorized(s"Token '${t.name}' expired")
    }

    private def checkIpAllowlist(t: Token, ip: Option[String]): Unit =
      if (t.ipAllowlist.nonEmpty) ip match {
        case Some(addr) if t.ipAllowlist.contains(addr) => ()
        case _ => throw unauthorized(
          s"Token '${t.name}' is not allowed from this IP address")
      }

    /** token_auth.rs check — no API token configured → open instance. */
    def check(header: Option[String], clientIp: Option[String],
        policy: Policy): Unit = {
      if (apiToken.isEmpty) return
      val resolved =
        try Right(validateToken(header, clientIp))
        catch { case e: ApiError => Left(e) }
      policy.validate(resolved)
    }
  }
}
