package graft.engine

import graft.cond._
import graft.core.{EntryPattern, Records}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A query against a bucket table of records (SURVEY §3.1/§3.2).
  *
  * `start` inclusive / `stop` exclusive µs (filters/time_range.rs:29-44);
  * `entries` are glob patterns with `!` exclusions; `when` is the JSON
  * condition; `strict` surfaces evaluation errors instead of dropping the
  * record (reduct_base/src/msg/entry_api.rs:60-97).
  */
final case class QuerySpec(
    start: Option[Long] = None,
    stop: Option[Long] = None,
    entries: Option[Seq[String]] = None,
    when: Option[String] = None,
    strict: Boolean = false,
    onlyMetadata: Boolean = false,
    /** Scope to one bucket (the HTTP routes are per-bucket; a plain
      * conjunct so it prunes the bucket= partition). None = all buckets. */
    bucket: Option[String] = None)

/** Plans a record query as a Spark DataFrame.
  *
  * The reference's fixed filter chain `[TimeRange, RecordState, When]`
  * (storage/query/historical.rs:71-118) maps to declarative filters that
  * Catalyst pushes into the Parquet scan (time range + state prune files /
  * row groups — the analog of the reference's block index,
  * historical.rs:134-156). The `when` tree compiles to built-in expressions
  * ([[graft.cond.CondCompiler]]); only genuinely sequential-state trees
  * ($each_t, $gate, non-trailing $each_n/$limit) fall back to the per-entry
  * ordered kernel ([[StatefulKernel]]). Trailing `$each_n`/`$limit`
  * conjuncts lower to running-count window flags and stay distributed.
  */
object QueryEngine {

  /** Main read path: filtered records ordered by (ts, entry) — the
    * k-way-merge order of the reference's multi-entry aggregator
    * (storage/bucket/query.rs:156-318, ties broken by entry name). */
  def query(records: DataFrame, spec: QuerySpec,
      processors: Map[String, RecordProcessor] = Processors.registry): DataFrame =
    queryUnordered(records, spec, processors).orderBy(col("ts"), col("entry"))

  /** [[query]] without the final total (ts, entry) sort — for consumers
    * that impose their own order-preserving exchange (bulk shard export
    * range-partitions on the same key, so a global sort underneath would
    * be a redundant second exchange). */
  def queryUnordered(records: DataFrame, spec: QuerySpec,
      processors: Map[String, RecordProcessor] = Processors.registry): DataFrame = {
    val filtered = matching(records, spec)
    val projected = spec.when match {
      case Some(w) =>
        val directives = Parser.parse(w).directives
        // #ext pipeline runs on fetched (post-when) records, §2.7
        val withExt = directives.get("#ext") match {
          case Some(values) =>
            Processors.run(filtered, Processors.fromDirective(values), processors)
          case None => filtered
        }
        applySelectLabels(withExt, directives)
      case None => filtered
    }
    if (spec.onlyMetadata) projected.drop("payload") else projected
  }

  /** The matching record set (unordered) — shared by read/count/remove. */
  def matching(records: DataFrame, spec: QuerySpec): DataFrame = {
    val scoped = spec.bucket.fold(records)(b => records.filter(col("bucket") === b))
    val candidates = applyEntries(applyRange(scoped, spec), spec.entries)
    spec.when match {
      case None => candidates
      case Some(whenJson) => applyWhen(candidates, Parser.parse(whenJson), spec.strict)
    }
  }

  /** The errors planning `spec` raises — parse and directive errors, a
    * negative `#ctx` padding, `$each_n: 0` in a lowered conjunct and the
    * compiler's own — raised without building a DataFrame: the
    * predicate compiles to an unresolved Column, which runs no analysis.
    * For readers that answer `spec` without a plan (the store's
    * driver-side reader), so a query fails where its plan would. */
  def check(spec: QuerySpec): Unit = spec.when.foreach { w =>
    val parsed = Parser.parse(w)
    paddings(parsed.directives)
    lowering(parsed.root, spec.strict).foreach { case (pure, trailing) =>
      trailingFlag(CondCompiler.compilePredicate(pure,
        CondCompiler.Cols(col("ts"), col("labels"), col("computed_labels"))), trailing)
    }
  }

  /** Count query (storage/entry/remove_records.rs:163-217). */
  def count(records: DataFrame, spec: QuerySpec): Long =
    matching(records, spec).count()

  /** Query-as-delete (storage/entry/remove_records.rs:62-160): returns the
    * surviving records and the removed count.
    *
    * Fast path: when the condition compiles (no kernel, no ctx frames),
    * survivors are a single scan with a negated match flag — no join, no
    * shuffle beyond any window the condition itself needs. Kernel-path
    * conditions fall back to an anti-join on the record key.
    */
  def remove(records: DataFrame, spec: QuerySpec): (DataFrame, Long) = {
    matchFlag(records, spec) match {
      case Some((df, flag, helpers)) =>
        val flagged = df.withColumn("__rm", coalesce(flag, lit(false)))
        val n = flagged.filter(col("__rm")).count()
        val survivors = flagged.filter(!col("__rm"))
          .drop("__rm").drop(helpers: _*)
        (survivors, n)
      case None =>
        // keys-only (3 narrow cols): rows ∝ removed count, never payload
        // bytes. Eager localCheckpoint (not persist) so the sequential
        // kernel runs ONCE, the count and the survivors anti-join both
        // read the materialized blocks, and — unlike a CacheManager
        // persist, which pins until an explicit unpersist — the blocks
        // are freed by the ContextCleaner as soon as the returned
        // survivors plan is GC'd. Remove-heavy long-lived sessions
        // (each remove plans against a fresh file index, so same-spec
        // calls can NOT share one cache entry) no longer accumulate
        // keysets without bound. Accepted trade: localCheckpoint blocks
        // are executor-local and non-recomputable — on a real cluster,
        // losing an executor between here and the survivors' consumption
        // fails the remove loudly and the caller retries (a remove is a
        // mutation; fail-and-retry beats the alternative, a persist that
        // leaks per call, and the keyset is small enough that the loss
        // window is one job).
        val doomed = matching(records, spec).select("bucket", "entry", "ts")
          .localCheckpoint(true)
        val n = doomed.count()
        val survivors = records.join(doomed, Seq("bucket", "entry", "ts"), "left_anti")
        (survivors, n)
    }
  }

  /** Matched-record flag over the UNFILTERED record set, when expressible
    * without the sequential kernel and without ctx directives (whose
    * row frames are defined over the candidate set, not the full set). */
  private def matchFlag(records: DataFrame, spec: QuerySpec): Option[(DataFrame, Column, Seq[String])] = {
    val parsed = spec.when.map(Parser.parse)
    val dirs = parsed.map(_.directives)
    val hasCtx = dirs.exists(d => d.get("#ctx_before").isDefined ||
      d.get("#ctx_after").isDefined || d.get("#ext").isDefined)
    if (hasCtx) return None
    if (spec.strict && parsed.exists(p => mayError(p.root))) return None
    var flag = col("state") === Records.State.Finished
    spec.bucket.foreach(b => flag = flag && col("bucket") === b)
    spec.start.foreach(s => flag = flag && col("ts") >= s)
    spec.stop.foreach(s => flag = flag && col("ts") < s)
    entriesPredicate(records, spec.entries).foreach(p => flag = flag && p)
    parsed match {
      case None => Some((records, flag, Nil))
      case Some(p) if !Node.isStateful(p.root) =>
        val (df, compile, helpers) = staged(records, p.root)
        Some((df, flag && compile(p.root), helpers))
      case Some(p) =>
        splitTrailingStateful(p.root).map { case (pure, trailing) =>
          val (df, compile, helpers) = staged(records, pure)
          (df, trailingFlag(flag && compile(pure), trailing), helpers)
        }
    }
  }

  // ------------------------------------------------------------- pipeline

  /** Time-range scan: start inclusive, stop exclusive; queries only see
    * FINISHED records (filters/record_state.rs:29-38). Plain conjuncts so
    * they reach the Parquet scan (PushedFilters). */
  private def applyRange(records: DataFrame, spec: QuerySpec): DataFrame = {
    val state = records.filter(col("state") === Records.State.Finished)
    val r1 = spec.start.map(s => state.filter(col("ts") >= s)).getOrElse(state)
    spec.stop.map(s => r1.filter(col("ts") < s)).getOrElse(r1)
  }

  /** Entry glob resolution as a static predicate on the partition column
    * — the filter participates in partition pruning, and no driver-side
    * distinct scan of the entry catalog is needed.
    */
  private def applyEntries(records: DataFrame, patterns: Option[Seq[String]]): DataFrame =
    entriesPredicate(records, patterns) match {
      case None    => records
      case Some(p) => records.filter(p)
    }

  private def entriesPredicate(records: DataFrame, patterns: Option[Seq[String]]): Option[Column] =
    patterns match {
      // default and bare-wildcard queries follow resolve semantics: every
      // NON-SYSTEM entry (bucket/query.rs:96-154 — '*' never matches $meta).
      // A static column predicate, so no distinct-scan is needed and the
      // partition-pruning filter stays a plain conjunct.
      case None => Some(nonSystemEntry)
      case Some(pats) if pats.isEmpty || pats == Seq("*") => Some(nonSystemEntry)
      // general globs compile to a static Column predicate
      // (equality/startsWith/rlike — all deterministic on the partition
      // column, so they reach PartitionFilters) instead of resolving
      // against a distinct().collect() entry list: same semantics
      // (EntryPatternSpec pins predicateCol == resolve), one driver job
      // less per query.
      case Some(pats) => Some(EntryPattern.predicateCol(col("entry"), Some(pats)))
    }

  private def nonSystemEntry: Column =
    col("entry") =!= EntryPattern.MetaSegment &&
      !col("entry").endsWith("/" + EntryPattern.MetaSegment)

  private def entryWindow = Window.partitionBy("bucket", "entry").orderBy("ts")

  /** Stage each referenced label's parsed-value struct as a projection
    * column (computed once per row), compile the tree against those, and
    * return (staged frame, predicate, helper columns to drop). */
  private def staged(base: DataFrame, root: Node): (DataFrame, Node => Column, Seq[String]) = {
    val lblNames = Node.labelRefNames(root).toSeq.sorted
    val cmpNames = Node.computedRefNames(root).toSeq.sorted
    val lblCols = lblNames.zipWithIndex.map { case (n, i) => n -> s"__pv$i" }
    val cmpCols = cmpNames.zipWithIndex.map { case (n, i) => n -> s"__pc$i" }
    // Each parse struct is PINNED to one evaluation site with
    // [[graft.core.EvalOnceExpr]] (nondeterministic identity): predicate
    // pushdown would otherwise substitute the parse back into the filter
    // once per USE SITE — the r19 plan audit caught q_logic evaluating
    // graft_parse_value(element_at(labels, type)) ~12x per row after the
    // previous marker-COLUMN barrier (`__nd`) was column-pruned away and
    // the pushdown re-fired. Re-inlining also risks pushing generated
    // code past the 64KB JVM method limit (ParseValueExpr scaladoc). The
    // ts/state/entry filters are applied below this projection and still
    // reach the scan. Streaming frames forbid nondeterministic
    // expressions; there the pin is skipped — duplication is tolerable
    // since every label parse is a single native call (ParseValueExpr).
    val pin: Column => Column =
      if (base.isStreaming) identity else graft.core.EvalOnce(_)
    var df = base
    for ((n, c) <- lblCols)
      df = df.withColumn(c,
        pin(CondCompiler.parseValue(try_element_at(col("labels"), lit(n)))))
    for ((n, c) <- cmpCols)
      df = df.withColumn(c,
        pin(CondCompiler.parseValue(try_element_at(col("computed_labels"), lit(n)))))
    val cols = CondCompiler.Cols(
      col("ts"), col("labels"), col("computed_labels"),
      lblCols.map { case (n, c) => n -> col(c) }.toMap,
      cmpCols.map { case (n, c) => n -> col(c) }.toMap)
    (df, (n: Node) => CondCompiler.compilePredicate(n, cols),
      (lblCols ++ cmpCols).map(_._2))
  }

  private def applyWhen(base: DataFrame, parsed: ParsedCondition,
      strict: Boolean): DataFrame = {
    paddings(parsed.directives)
    lowering(parsed.root, strict) match {
      case None => StatefulKernel.run(base, parsed, strict)
      case Some((pure, trailing)) =>
        val (df, compile, helpers) = staged(base, pure)
        ctxRewrite(df, trailingFlag(compile(pure), trailing), parsed.directives)
          .drop(helpers: _*)
    }
  }

  /** How a `when` tree plans: the compiled pure part and its trailing
    * `$each_n`/`$limit` conjuncts, or None for the sequential kernel —
    * stateful trees that do not lower, and strict trees that can raise
    * (strict mode must surface evaluation errors, so they interpret
    * row by row). */
  private def lowering(root: Node, strict: Boolean): Option[(Node, List[Node.Op])] =
    if (Node.isStateful(root)) { if (strict) None else splitTrailingStateful(root) }
    else if (strict && mayError(root)) None
    else Some((root, Nil))

  /** Can evaluation raise (missing label, bad cast, ÷0 …)? Pure trees of
    * constants/logic can't; anything touching labels or arithmetic can. */
  private[graft] def mayError(n: Node): Boolean = n match {
    case Node.LabelRef(_) | Node.ComputedRef(_) => true
    case Node.Op("$and" | "$all_of" | "$or" | "$any_of" | "$not" |
        "$none_of" | "$xor" | "$one_of" | "$eq" | "$ne" | "$gt" | "$gte" |
        "$lt" | "$lte" | "$in" | "$nin" | "$contains" | "$starts_with" |
        "$ends_with" | "$timestamp" | "$id", ops) => ops.exists(mayError)
    case Node.Const(_) => false
    case _ => true
  }

  /** `{"cond…": …, "$each_n": k, "$limit": l}` lowering: a trailing
    * stateful conjunct ticks only for records that passed every earlier
    * sibling (short-circuiting AND, operators/logical/all_of.rs:13-23),
    * which is a running count over the pure-matching set per entry.
    * Applies only when every stateful child is a trailing constant-operand
    * `$each_n`/`$limit`; `$limit` is per entry, matching the reference's
    * one-filter-chain-per-entry fan-out (storage/bucket/query.rs:40-63).
    */
  private def splitTrailingStateful(root: Node): Option[(Node, List[Node.Op])] =
    root match {
      case Node.Op("$and", children) if children.nonEmpty =>
        val (pure, tail) = children.span(c => !Node.isStateful(c))
        val tailOps = tail.collect {
          case op @ Node.Op("$each_n" | "$limit", List(Node.Const(_))) => op
        }
        if (tail.nonEmpty && tailOps.size == tail.size)
          Some((Node.Op("$and", pure), tailOps))
        else None
      case _ => None
    }

  private def trailingFlag(pred0: Column, trailing: List[Node.Op]): Column = {
    val cumW = entryWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    var flag = pred0
    for (op <- trailing) {
      val ticks = sum(when(flag, 1L).otherwise(0L)).over(cumW)
      op match {
        case Node.Op("$each_n", List(Node.Const(v))) =>
          val n = v.asInt
          if (n == 0) throw CondError("Value '0' is not a valid operand for $each_n")
          flag = flag && ticks % n === 0
        case Node.Op("$limit", List(Node.Const(v))) =>
          flag = flag && ticks <= v.asInt
        case other => throw CondError(s"unexpected trailing op $other")
      }
    }
    flag
  }

  sealed trait Padding
  final case class PadRecords(n: Int) extends Padding
  final case class PadDuration(us: Long) extends Padding

  /** Both `#ctx` paddings, checked. */
  private def paddings(d: Directives): Unit =
    Seq("#ctx_before", "#ctx_after").foreach(padding(d, _))

  def padding(d: Directives, name: String): Option[Padding] =
    d.single(name).map { v =>
      val n = v.asInt
      if (n < 0) throw CondError(s"$name must be non-negative")
      if (v.isDuration) PadDuration(n) else PadRecords(n.toInt)
    }

  /** `#ctx_before`/`#ctx_after` as window passes over the match flag —
    * set-equivalent to the reference's drain-on-match ring buffer
    * (filters/when/ctx_before.rs:60-81, ctx_after.rs:53-70): a record is
    * emitted iff some match lies within its trailing/leading pad.
    * The match flag may itself contain window expressions, so it is
    * always materialized before filtering.
    *
    * O(n) LOWERING: "a match exists within the pad" is a DISTANCE check
    * against the nearest match — `max(match position)` under a
    * cumulative (unbounded) frame, which Spark computes incrementally —
    * never a `max(flag)` over a finite sliding frame, which re-scans the
    * frame per row (O(rows × pad); the same SlidingWindowFunctionFrame
    * pathology the movingAggregate kernel removes). Records variants
    * compare row numbers (deterministic: ts is UNIQUE per (bucket,
    * entry) by the store's duplicate-ts admission rule); duration
    * variants compare µs under range-to-current frames, which keep the
    * reference's same-µs peer semantics.
    */
  def ctxRewrite(base: DataFrame, pred: Column, d: Directives): DataFrame = {
    val before = padding(d, "#ctx_before")
    val after = padding(d, "#ctx_after")
    val flagged = base.withColumn("__m", when(pred, 1).otherwise(0))
    if (before.isEmpty && after.isEmpty)
      return flagged.filter(col("__m") === 1).drop("__m")
    // Both passes use UNBOUNDED-PRECEDING frames only — the one frame
    // shape Spark evaluates incrementally. The leading (ctx_before)
    // pass gets there by REVERSING the sort: an unbounded-FOLLOWING
    // frame re-aggregates [current..end] per row, O(n^2) per entry
    // (measured: 80x on q_ctx_before at sf0.1), while the same set
    // under ts-DESC ordering is an unbounded-preceding frame.
    val entryWindowDesc =
      Window.partitionBy("bucket", "entry").orderBy(col("ts").desc)
    val cum = entryWindow.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumR = entryWindow.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val fut = entryWindowDesc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val futR = entryWindowDesc.rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val needRn = Seq(before, after).exists(_.exists(_.isInstanceOf[PadRecords]))
    val withRn =
      if (needRn) flagged.withColumn("__rn", row_number().over(entryWindow))
      else flagged
    val trigCol = after match {
      case Some(PadRecords(n)) =>
        max(when(col("__m") === 1, col("__rn"))).over(cum) >=
          col("__rn") - n.toLong
      case Some(PadDuration(us)) =>
        max(when(col("__m") === 1, col("ts"))).over(cumR) >= col("ts") - us
      case None => col("__m") === 1
    }
    val trig = withRn.withColumn("__t", when(trigCol, 1).otherwise(0))
    val emitCol = before match {
      case Some(PadRecords(n)) =>
        min(when(col("__t") === 1, col("__rn"))).over(fut) <=
          col("__rn") + n.toLong
      case Some(PadDuration(us)) =>
        min(when(col("__t") === 1, col("ts"))).over(futR) <= col("ts") + us
      case None => col("__t") === 1
    }
    trig.withColumn("__e", when(emitCol, 1).otherwise(0))
      .filter(col("__e") === 1)
      .drop(Seq("__m", "__t", "__e") ++
        (if (needRn) Seq("__rn") else Nil): _*)
  }

  /** `#select_labels` → map_filter (filters/when/select_labels.rs:14-56). */
  def applySelectLabels(df: DataFrame, d: Directives): DataFrame =
    d.get("#select_labels") match {
      case None => df
      case Some(names) =>
        val keep = array(names.map(v => lit(v.show)): _*)
        df.withColumn("labels",
          map_filter(col("labels"), (k, _) => array_contains(keep, k)))
    }
}
