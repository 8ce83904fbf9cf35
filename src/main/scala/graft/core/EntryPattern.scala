package graft.core

/** Path-aware entry glob matching + include/exclude resolution.
  *
  * Faithful port of the reference's grammar: `*` matches within a path
  * segment (a bare trailing-`*` pattern without `/` is a raw prefix match
  * over the whole name), `**` matches any number of segments, `!pattern`
  * excludes, and a bare `*` (or empty include list) matches only
  * wildcard-queryable (non-system) entries.
  *
  * Reference: storage/entry/pattern.rs:4-70 (matcher),
  * storage/bucket/query.rs:96-154 (include/exclude resolution),
  * storage/entry/system.rs ($meta system entries).
  */
object EntryPattern {

  val MetaSegment = "$meta"

  def isSystemMetaEntry(name: String): Boolean =
    name == MetaSegment || name.endsWith("/" + MetaSegment)

  /** Parent entry of `<entry>/$meta`; None for the bare "$meta"
    * (storage/entry/system.rs:34-38). */
  def metaEntryParent(name: String): Option[String] =
    if (name.endsWith("/" + MetaSegment)) {
      val base = name.dropRight(MetaSegment.length + 1)
      if (base.nonEmpty) Some(base) else None
    } else None

  /** pattern.rs:4-70. */
  def matches(entry: String, pattern0: String): Boolean = {
    val pattern = pattern0.dropWhile(_ == '/')
    if (!pattern.contains('*')) return entry == pattern
    if (!pattern.contains('/') && pattern.endsWith("*"))
      return entry.startsWith(pattern.dropRight(1))
    matchesFrom(entry.split("/", -1).toList, pattern.split("/", -1).toList)
  }

  private def matchesFrom(entryParts: List[String], patternParts: List[String]): Boolean =
    patternParts match {
      case Nil => entryParts.isEmpty
      case "**" :: tail =>
        matchesFrom(entryParts, tail) ||
          (entryParts.nonEmpty && matchesFrom(entryParts.tail, patternParts))
      case p :: tail =>
        entryParts.nonEmpty && segmentMatches(entryParts.head, p) &&
          matchesFrom(entryParts.tail, tail)
    }

  private def segmentMatches(entry: String, pattern: String): Boolean = {
    if (pattern == "**") return true
    var rest = entry
    val parts = pattern.split("\\*", -1)
    // first chunk anchors at the start
    if (parts.head.nonEmpty) {
      if (!rest.startsWith(parts.head)) return false
      rest = rest.substring(parts.head.length)
    }
    val tailParts = parts.tail.filter(_.nonEmpty)
    for ((part, idx) <- tailParts.zipWithIndex) {
      val isLast = idx == tailParts.length - 1
      if (isLast && !pattern.endsWith("*")) return rest.endsWith(part)
      val i = rest.indexOf(part)
      if (i < 0) return false
      rest = rest.substring(i + part.length)
    }
    pattern.endsWith("*") || rest.isEmpty
  }

  // ------------------------------------------------- Column predicates

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions.lit

  /** [[matches]] as a static Column predicate (equality / startsWith /
    * rlike — all codegen'd). Lets streaming paths apply glob semantics
    * without enumerating the entry universe (no distinct+collect). */
  def matchesCol(entry: Column, pattern0: String): Column = {
    val pattern = pattern0.dropWhile(_ == '/')
    if (!pattern.contains('*')) entry === pattern
    else if (!pattern.contains('/') && pattern.endsWith("*"))
      entry.startsWith(pattern.dropRight(1))
    else entry.rlike("^" + globRegex(pattern) + "$")
  }

  /** Glob → Java regex with [[matches]]' exact segment semantics:
    * in-segment `*` → `[^/]*`; `**` → zero or more whole segments
    * (so `a/&#42;&#42;/x` matches `a/x`, and a trailing `/&#42;&#42;`
    * matches the bare parent). */
  private def globRegex(pattern: String): String = {
    val segs = pattern.split("/", -1)
    val sb = new StringBuilder
    var pendingSep = false // a literal segment was emitted; next needs '/'
    for ((s, idx) <- segs.zipWithIndex) {
      val isLast = idx == segs.length - 1
      if (s == "**") {
        if (isLast && !pendingSep) sb.append(".*")
        else if (pendingSep) sb.append("(?:/[^/]+)*") // keeps pendingSep
        else sb.append("(?:[^/]+/)*")
      } else {
        if (pendingSep) sb.append('/')
        sb.append(segRegex(s))
        pendingSep = true
      }
    }
    sb.toString
  }

  private def segRegex(seg: String): String =
    seg.split("\\*", -1).map {
      case "" => ""
      case chunk => java.util.regex.Pattern.quote(chunk)
    }.mkString("[^/]*")

  /** [[resolve]] as a static Column predicate: same include/exclude and
    * system-entry semantics, but evaluated per row instead of against a
    * collected entry list — the form streaming filters need (a per-batch
    * `distinct().collect()` in a hot foreachBatch loop is a driver
    * round-trip per micro-batch). */
  def predicateCol(entry: Column, patterns: Option[Seq[String]]): Column = {
    val queryable = !(entry === MetaSegment) &&
      !entry.endsWith("/" + MetaSegment)
    patterns match {
      case None => queryable
      case Some(pats) =>
        val includes = pats.filterNot(p => p.startsWith("!") && p.length > 1)
        val excludes = pats.collect {
          case p if p.startsWith("!") && p.length > 1 => p.substring(1)
        }
        val included =
          if (includes.isEmpty || includes.contains("*")) queryable
          else {
            val exactHit = includes.map(p => entry === p).reduce(_ || _)
            val globHit =
              includes.map(p => matchesCol(entry, p)).reduce(_ || _) && queryable
            exactHit || globHit
          }
        val excluded = excludes
          .map(p => (entry === p) || matchesCol(entry, p))
          .reduceOption(_ || _).getOrElse(lit(false))
        included && !excluded
    }
  }

  /** The entry names `patterns` can resolve to when no include is a
    * glob: each include as written and without leading `/`, the forms
    * [[resolve]] compares. None when an include is a glob, or when there
    * is no include (every queryable entry). */
  def literalNames(patterns: Option[Seq[String]]): Option[Set[String]] =
    patterns.flatMap { pats =>
      val includes = pats.filterNot(p => p.startsWith("!") && p.length > 1)
      if (includes.isEmpty || includes.exists(_.contains('*'))) None
      else Some(includes.flatMap(p => Seq(p, p.dropWhile(_ == '/'))).toSet)
    }

  /** bucket/query.rs:96-154: resolve an entry universe against
    * include/exclude patterns. `patterns == None` → all non-system entries.
    */
  def resolve(allEntries: Seq[String], patterns: Option[Seq[String]]): Seq[String] =
    patterns match {
      case None => allEntries.filter(e => !isSystemMetaEntry(e))
      case Some(pats) =>
        val includes = pats.filterNot(p => p.startsWith("!") && p.length > 1)
        val excludes = pats.collect {
          case p if p.startsWith("!") && p.length > 1 => p.substring(1)
        }
        allEntries.filter { name =>
          val queryable = !isSystemMetaEntry(name)
          val included =
            if (includes.contains("*")) queryable
            else if (includes.isEmpty) queryable
            else if (includes.contains(name)) true
            else includes.exists(matches(name, _)) && queryable
          included && !excludes.exists(p => p == name || matches(name, p))
        }
    }
}
