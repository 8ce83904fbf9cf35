package graft.engine

import graft.lifecycle.Lifecycle
import graft.stream.Streaming
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Environment-driven resource provisioning — the analog of the
  * reference's `cfg/provision/{bucket,token,replication,lifecycle}.rs`:
  * at server start, `RS_*` environment variables declare buckets,
  * tokens, replications and lifecycle policies that are created (or
  * updated, if they already exist) and marked *provisioned*.
  * Provisioned resources reject mutation through the API with 409
  * (storage/engine.rs:409-414, auth/token_repository/repo.rs:433-458,
  * replication_repository/repo.rs:286-376, lifecycle_repository/
  * repo.rs:87-160); mode PATCHes stay allowed (repo.rs set_mode does not
  * check the flag).
  *
  * Parsing is pure over an injected `Map[String, String]` so specs can
  * drive it without touching the process environment. Invalid or
  * incomplete declarations are dropped with a warning, never fatal —
  * matching the reference's error!-and-continue provisioning loops.
  */
object Provisioning {

  final case class TokenSpec(
      name: String,
      value: String,
      permissions: Auth.Permissions,
      expiresAtMs: Option[Long] = None)

  /** `$system` bucket telemetry config (cfg/system_events.rs):
    * `logLevel = None` means log capture is OFF (explicit `OFF` or an
    * unparsable `RS_SYSTEM_EVENTS_LOG_LEVEL`, matching parse_log_level's
    * None branch). */
  final case class SystemEventsSpec(
      enabled: Boolean,
      logLevel: Option[String],
      quotaSize: Long,
      instance: String)

  /** Everything `RS_*` declares; applied by [[HttpApi]] at construction. */
  final case class Resources(
      bucketDefaults: BucketStore.BucketSettings,
      buckets: Map[String, BucketStore.BucketSettings],
      tokens: Map[String, TokenSpec],
      replications: Map[String, Streaming.ReplicationSettings],
      lifecycles: Map[String, Lifecycle.Policy],
      systemEvents: SystemEventsSpec,
      warnings: Seq[String]) {
    def isEmpty: Boolean =
      buckets.isEmpty && tokens.isEmpty && replications.isEmpty &&
        lifecycles.isEmpty
  }

  /** reduct_base logger.rs parse_log_level: the five known levels,
    * case-insensitive; anything else (incl. `OFF`) → None. */
  val LogLevels: Seq[String] = Seq("ERROR", "WARN", "INFO", "DEBUG", "TRACE")
  def parseLogLevel(s: String): Option[String] = {
    val u = s.trim.toUpperCase
    if (LogLevels.contains(u)) Some(u) else None
  }

  /** Byte sizes in the reference come through the `bytesize` crate:
    * `"1000"`, `"1kB"`, `"1.5GB"`, `"512MiB"` (binary `i` infix =
    * 1024-based). Returns None on anything unparsable. */
  def parseByteSize(s: String): Option[Long] = {
    val m = "^\\s*([0-9]+(?:\\.[0-9]+)?)\\s*(?:([kKmMgGtTpP])(i|I)?)?[bB]?\\s*$".r
    s match {
      case m(num, prefix, binary) =>
        val exp = Option(prefix).map(_.toLowerCase.head match {
          case 'k' => 1; case 'm' => 2; case 'g' => 3; case 't' => 4; case 'p' => 5
        }).getOrElse(0)
        val base = if (binary != null) 1024.0 else 1000.0
        val v = num.toDouble * math.pow(base, exp.toDouble)
        if (v.isFinite && v >= 0 && v <= Long.MaxValue.toDouble) Some(v.toLong)
        else None
      case _ => None
    }
  }

  /** Is candidate `id` really `<owner>_INCLUDE[_<label>]` /
    * `<owner>_EXCLUDE[_<label>]` for a provisioned owner? Returns the
    * owning id iff some prefix of `id` ending at an _INCLUDE/_EXCLUDE
    * marker has its own `<prefix><owner>_NAME` variable in the env —
    * the only evidence the variable is a filter, not a replication
    * whose legitimate id merely contains the marker substring. */
  private def phantomOwner(env: Map[String, String], prefix: String,
      id: String): Option[String] =
    Seq("_INCLUDE", "_EXCLUDE").flatMap { m =>
      // marker occurrences at a WORD boundary: the id must continue
      // with "_<label>" or end right there ("_INCLUDED_B" is not a
      // filter marker)
      Iterator.unfold(id.indexOf(m)) { i =>
        if (i < 0) None else Some((i, id.indexOf(m, i + 1)))
      }.filter { i =>
        val after = i + m.length
        after == id.length || id.charAt(after) == '_'
      }.toSeq
    }.sorted.iterator
      .map(id.substring(0, _))
      .find(owner => owner.nonEmpty && env.contains(s"$prefix${owner}_NAME"))

  /** env.matches("RS_X_(.*)_NAME"): (id, value) pairs in stable order. */
  private def matches(env: Map[String, String], prefix: String,
      suffix: String): Seq[(String, String)] = {
    val re = ("^" + java.util.regex.Pattern.quote(prefix) + "(.+)" +
      java.util.regex.Pattern.quote(suffix) + "$").r
    env.keys.toSeq.sorted.flatMap {
      case k @ re(id) => Some(id -> env(k))
      case _ => None
    }
  }

  def parse(env: Map[String, String]): Resources = {
    val warnings = Seq.newBuilder[String]
    def warn(msg: String): Unit = warnings += msg

    // ------------------------------------------- buckets (bucket.rs)
    val bucketDefaults = BucketStore.BucketSettings(
      quotaType = env.get("RS_DEFAULTS_BUCKET_QUOTA_TYPE")
        .map(_.toUpperCase).filter(BucketStore.BucketSettings.QuotaTypes),
      quotaSize = env.get("RS_DEFAULTS_BUCKET_QUOTA_SIZE").flatMap(parseByteSize),
      maxBlockSize = env.get("RS_DEFAULTS_BUCKET_MAX_BLOCK_SIZE").flatMap(parseByteSize),
      maxBlockRecords = env.get("RS_DEFAULTS_BUCKET_MAX_BLOCK_RECORDS")
        .flatMap(_.toLongOption)
    ).over(BucketStore.BucketSettings.defaults)

    val buckets = matches(env, "RS_BUCKET_", "_NAME").map { case (id, name) =>
      name -> BucketStore.BucketSettings(
        quotaType = env.get(s"RS_BUCKET_${id}_QUOTA_TYPE").map(_.toUpperCase)
          .filter(BucketStore.BucketSettings.QuotaTypes),
        quotaSize = env.get(s"RS_BUCKET_${id}_QUOTA_SIZE").flatMap(parseByteSize),
        maxBlockSize = env.get(s"RS_BUCKET_${id}_MAX_BLOCK_SIZE").flatMap(parseByteSize),
        maxBlockRecords = env.get(s"RS_BUCKET_${id}_MAX_BLOCK_RECORDS")
          .flatMap(_.toLongOption))
    }.toMap

    // --------------------------------------------- tokens (token.rs)
    def csv(key: String): Seq[String] =
      env.get(key).toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

    val tokens = matches(env, "RS_TOKEN_", "_NAME").flatMap { case (id, name) =>
      val value = env.getOrElse(s"RS_TOKEN_${id}_VALUE", "")
      if (value.isEmpty) {
        warn(s"Token '$name' has no value. Drop it."); None
      } else {
        val expiresAt = env.get(s"RS_TOKEN_${id}_EXPIRES_AT").flatMap { s =>
          try Some(java.time.OffsetDateTime.parse(s).toInstant.toEpochMilli)
          catch { case _: java.time.format.DateTimeParseException =>
            warn(s"Token '$name' has invalid expiry date '$s'. Ignore it."); None }
        }
        Some(name -> TokenSpec(name, value,
          Auth.Permissions(
            fullAccess = env.get(s"RS_TOKEN_${id}_FULL_ACCESS")
              .exists(_.equalsIgnoreCase("true")),
            read = csv(s"RS_TOKEN_${id}_READ"),
            write = csv(s"RS_TOKEN_${id}_WRITE")),
          expiresAt))
      }
    }.toMap

    // ----------------------------------- replications (replication.rs)
    val replications = matches(env, "RS_REPLICATION_", "_NAME")
      .filterNot { case (id, _) =>
        // RS_REPLICATION_1_INCLUDE_NAME is replication 1's include filter
        // on label "NAME", not a replication with id "1_INCLUDE" — the
        // greedy id capture would otherwise fabricate one and warn about
        // a missing source bucket. A filter on a label whose own name
        // ends in _NAME (RS_REPLICATION_1_INCLUDE_FOO_NAME → phantom id
        // "1_INCLUDE_FOO") is the same quirk one level deeper. But the
        // marker substring alone is NOT proof of a phantom: a legitimate
        // replication id can contain _EXCLUDE_ (RS_REPLICATION_DATA_
        // EXCLUDE_TEST_NAME). A candidate is suppressed ONLY when some
        // prefix before a marker is itself a provisioned replication id
        // (its _NAME variable exists) — then the variable really is that
        // owner's filter. (The reference's (.*) scans fabricate phantoms
        // here; suppressing owned ones is a deliberate improvement.)
        // no warning here: an owned marker is a NORMAL filter variable
        // (every filter on a label named *_NAME would otherwise warn)
        phantomOwner(env, "RS_REPLICATION_", id).isDefined
      }
      .flatMap { case (id, name) =>
        parseReplication(env, id, name, warn).map(name -> _)
      }.toMap

    // ------------------------------------------ lifecycle (lifecycle.rs)
    val lifecycles = matches(env, "RS_LIFECYCLE_", "_NAME")
      .flatMap { case (id, name) =>
        parseLifecycle(env, id, name, warn).map(name -> _)
      }.toMap

    // --------------------------------- $system events (system_events.rs)
    val systemEvents = SystemEventsSpec(
      enabled = env.get("RS_SYSTEM_EVENTS_ENABLED")
        .map(v => v.equalsIgnoreCase("true") || v == "1").getOrElse(true),
      logLevel = env.get("RS_SYSTEM_EVENTS_LOG_LEVEL") match {
        case None => Some("WARN") // DEFAULT_SYSTEM_EVENTS_LOG_LEVEL
        case Some(s) => parseLogLevel(s) // OFF/invalid → capture disabled
      },
      quotaSize = env.get("RS_SYSTEM_EVENTS_QUOTA_SIZE").flatMap(parseByteSize)
        .getOrElse(10000000000L), // DEFAULT_SYSTEM_EVENTS_QUOTA_SIZE (10 GB SI)
      instance = entrySegment(env.get("RS_INSTANCE_NAME").map(_.trim).filter(_.nonEmpty)
        .orElse(try Some(java.net.InetAddress.getLocalHost.getHostName)
          .filter(_.nonEmpty) catch { case _: Exception => None })
        .getOrElse("unknown"), warn)) // cfg.rs resolve_instance_name

    Resources(bucketDefaults, buckets, tokens, replications, lifecycles,
      systemEvents, warnings.result())
  }

  /** The instance name as one `$system` entry segment
    * (`usage/<instance>/total`): every character outside
    * `[A-Za-z0-9_-]` becomes `_`, so a dotted host name does not fail
    * the entry-name check of the primary it forwards to. */
  private def entrySegment(instance: String, warn: String => Unit): String = {
    val mapped = instance.map(c =>
      if (c < 128 && (c.isLetterOrDigit || c == '_' || c == '-')) c else '_')
    if (mapped != instance)
      warn(s"Instance name '$instance' is not a valid entry name. Use '$mapped'.")
    mapped
  }

  private def parseReplication(env: Map[String, String], id: String,
      name: String, warn: String => Unit): Option[Streaming.ReplicationSettings] = {
    val src = env.get(s"RS_REPLICATION_${id}_SRC_BUCKET")
    if (src.isEmpty) {
      warn(s"Replication '$name' has no source bucket. Drop it."); return None
    }
    val dst = env.get(s"RS_REPLICATION_${id}_DST_BUCKET")
    if (dst.isEmpty) {
      warn(s"Replication '$name' has no destination bucket. Drop it."); return None
    }
    // DST_HOST/DST_TOKEN are accepted but unused: this store is both ends
    // (the façade replicates locally; a remote sink is the deployment's
    // foreachBatch writer's concern)

    val entries = env.get(s"RS_REPLICATION_${id}_ENTRIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

    // base when, then the deprecated each_s/each_n knobs merge INTO it
    // (replication.rs:139-177: injected as extra keys of the object).
    // DELIBERATE divergence from cfg/provision/replication.rs: the
    // reference's get_optional treats an unparsable WHEN as absent and
    // provisions the replication UNFILTERED (when = None); dropping the
    // whole declaration is safer — silently replicating everything when
    // the operator asked for a filter is the worse failure mode.
    var when: Option[JValue] =
      env.get(s"RS_REPLICATION_${id}_WHEN").flatMap { s =>
        JsonMethods.parseOpt(s) match {
          case some @ Some(_: JObject) => some
          case Some(_) =>
            // parsed but not an object: the condition root must be an
            // object, and EACH_S/EACH_N injection or legacy filters
            // would otherwise silently REPLACE the operator's filter —
            // the replicate-everything failure mode this guard exists for
            warn(s"Replication '$name' when condition must be a JSON object. Drop it.")
            return None
          case None =>
            warn(s"Replication '$name' has invalid when condition. Drop it.")
            return None
        }
      }
    def injectKey(key: String, v: JValue): Unit = when = when match {
      case Some(JObject(fields)) => Some(JObject(fields :+ (key -> v)))
      case _ => Some(JObject(key -> v))
    }
    env.get(s"RS_REPLICATION_${id}_EACH_S").flatMap(_.toDoubleOption)
      .foreach(s => injectKey("$each_t", JDouble(s)))
    env.get(s"RS_REPLICATION_${id}_EACH_N").flatMap(_.toLongOption)
      .foreach(n => injectKey("$each_n", JLong(n)))

    // deprecated include/exclude label filters → guarded label conditions
    // prepended under $and (replication.rs:183-222 + prepend_when_conditions)
    val includes = matches(env, s"RS_REPLICATION_${id}_INCLUDE_", "")
      .map { case (key, value) => JObject("$and" -> JArray(List(
        JObject("$has" -> JString(key)),
        JObject("$eq" -> JArray(List(JString(s"&$key"), JString(value)))))))
      }
    val excludes = matches(env, s"RS_REPLICATION_${id}_EXCLUDE_", "")
      .map { case (key, value) => JObject("$or" -> JArray(List(
        JObject("$not" -> JArray(List(JObject("$has" -> JString(key))))),
        JObject("$ne" -> JArray(List(JString(s"&$key"), JString(value)))))))
      }
    val legacy: List[JValue] = includes.toList ++ (excludes.toList match {
      case Nil => Nil
      case one :: Nil => List(one)
      case many => List(JObject("$or" -> JArray(many)))
    })
    if (legacy.nonEmpty) {
      val condition: JValue =
        if (legacy.length == 1) legacy.head else JObject("$and" -> JArray(legacy))
      when = when match {
        case Some(w: JObject) => Some(JObject("$and" -> JArray(List(condition, w))))
        case _ => Some(condition)
      }
    }

    val compression = env.get(s"RS_REPLICATION_${id}_COMPRESSION")
      .map(_.toLowerCase).getOrElse("none")
    if (!Set("none", "zstd", "gzip")(compression)) {
      warn(s"Replication '$name' has invalid compression '$compression'. Drop it.")
      return None
    }
    val mode = env.get(s"RS_REPLICATION_${id}_MODE").map(_.toLowerCase)
      .getOrElse("enabled") match {
      case "enabled"  => Streaming.ReplicationMode.Enabled
      case "paused"   => Streaming.ReplicationMode.Paused
      case "disabled" => Streaming.ReplicationMode.Disabled
      case other =>
        warn(s"Replication '$name' has invalid mode '$other'. Drop it.")
        return None
    }
    Some(Streaming.ReplicationSettings(
      entries = entries,
      when = when.map(w => JsonMethods.compact(JsonMethods.render(w))),
      srcBucket = src,
      dstBucket = dst.get,
      dstPrefix = env.getOrElse(s"RS_REPLICATION_${id}_DST_PREFIX", ""),
      mode = mode,
      compression = compression))
  }

  private def parseLifecycle(env: Map[String, String], id: String,
      name: String, warn: String => Unit): Option[Lifecycle.Policy] = {
    val action = env.get(s"RS_LIFECYCLE_${id}_TYPE").map(_.toLowerCase) match {
      case Some("delete") => Lifecycle.Action.Delete
      case Some("compress") => Lifecycle.Action.Compress("zstd", 9)
      case Some(other) =>
        warn(s"Lifecycle '$name' has invalid type '$other'. Drop it."); return None
      case None =>
        warn(s"Lifecycle '$name' has no type. Drop it."); return None
    }
    val bucket = env.get(s"RS_LIFECYCLE_${id}_BUCKET") match {
      case some @ Some(_) => some
      case None => warn(s"Lifecycle '$name' has no bucket. Drop it."); return None
    }
    val olderThan = env.get(s"RS_LIFECYCLE_${id}_OLDER_THAN")
      .flatMap(graft.cond.Value.parseDurationMicros) match {
      case Some(us) if us >= 0 => us
      case Some(_) => // '-1d' would put the cutoff in the FUTURE: a
        // delete policy would remove everything in scope off one typo
        warn(s"Lifecycle '$name' has a negative older_than. Drop it."); return None
      case None =>
        warn(s"Lifecycle '$name' has no older_than value. Drop it."); return None
    }
    val when = env.get(s"RS_LIFECYCLE_${id}_WHEN").map { s =>
      if (JsonMethods.parseOpt(s).isEmpty) {
        warn(s"Lifecycle '$name' has invalid when condition. Drop it.")
        return None
      }
      s
    }
    val base = Lifecycle.Policy(
      olderThanUs = olderThan,
      action = action,
      entries = env.get(s"RS_LIFECYCLE_${id}_ENTRIES")
        .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq).filter(_.nonEmpty),
      when = when,
      bucket = bucket,
      intervalUs = env.get(s"RS_LIFECYCLE_${id}_INTERVAL")
        .flatMap(graft.cond.Value.parseDurationMicros)
        .getOrElse(3600L * 1000000L))
    env.get(s"RS_LIFECYCLE_${id}_MODE").map(_.toLowerCase) match {
      case Some("enabled")  => Some(base.copy(enabled = true, dryRun = false))
      case Some("disabled") => Some(base.copy(enabled = false))
      case Some("dry_run")  => Some(base.copy(enabled = true, dryRun = true))
      case Some(other) =>
        warn(s"Lifecycle '$name' has invalid mode '$other'. Drop it."); None
      case None => Some(base)
    }
  }
}
