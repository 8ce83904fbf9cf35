package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication for training-data pipelines, designed scale-first:
  *
  *  - exact: one hash-shuffle on a 16-byte digest (no text shuffled);
  *  - MinHash+LSH near-dup: shingle → 64 minhashes → band-bucket join, so
  *    candidate generation is a shuffle on (band, bucket) keys and the
  *    quadratic Jaccard verification only runs inside buckets;
  *  - SimHash: 64-bit fingerprints + 16-bit block blocking for
  *    Hamming-distance near-dups;
  *  - n-gram Jaccard within an explicit grouping key (bounded cross join);
  *  - embedding cosine near-dup via the LSH machinery in [[Similarity]].
  *
  * Everything is built-in columnar expressions (codegen, no UDFs); the only
  * shuffles are the groupBys noted above. Skew note: a pathological
  * hot bucket (e.g. billions of identical boilerplate docs) is bounded by
  * `maxBucketSize` — pairs beyond it are dropped and counted, not
  * exploded into a cartesian bomb.
  */
object Dedup {

  // ------------------------------------- dropped-work observability

  /** Named-observation prefix for every hot-bucket cap. The caps bound
    * quadratic candidate generation (a necessity at corpus scale), but
    * bounded work must not be SILENT work: each capped stage carries a
    * `CollectMetrics` observation counting the buckets it dropped and
    * the ids inside them, computed on the rows already flowing through
    * the stage — zero extra jobs, zero plan change beyond the metrics
    * node. Read them after an action with [[capDiagnostics]]. */
  val CapObservationPrefix = "graft_cap_"

  /** `op` is the observation key (suffix on [[CapObservationPrefix]]).
    * Operators expose it as `capName` so two instances of the same
    * operator can compose in ONE plan — `CollectMetrics` names must be
    * unique per plan, so composing e.g. two [[minhashPairs]] over
    * different corpora before a single action needs distinct names. */
  private[pipeline] def observeBucketCap(grouped: DataFrame, op: String,
      maxBucketSize: Int): DataFrame =
    grouped.observe(s"$CapObservationPrefix$op",
      coalesce(sum(when(size(col("grp")) > maxBucketSize, 1L)
        .otherwise(0L)), lit(0L)).as("dropped_buckets"),
      coalesce(sum(when(size(col("grp")) > maxBucketSize,
        size(col("grp")).cast("long")).otherwise(0L)), lit(0L))
        .as("dropped_ids"),
      coalesce(max(size(col("grp"))).cast("long"), lit(0L))
        .as("max_bucket_size"))

  /** Cap metrics of the LAST action on `df` (or a derived frame), keyed
    * by operator name: (dropped_buckets, dropped_ids, max_bucket_size).
    * Empty until an action (count/collect/write) has executed the plan.
    *
    * A populated entry with 0 drops is an explicit "nothing was capped".
    * An ABSENT entry after an action means the observation stage never
    * ran: AQE's empty-relation propagation prunes the whole candidate
    * subtree when the final result is empty (the metrics stage is
    * replaced before executing), so "no entry" must be read as UNKNOWN,
    * not zero — re-run with `spark.sql.adaptive.enabled=false` for a
    * guaranteed audit of an empty result. */
  def capDiagnostics(df: DataFrame): Map[String, (Long, Long, Long)] =
    df.queryExecution.observedMetrics.collect {
      case (name, row) if name.startsWith(CapObservationPrefix) =>
        name.stripPrefix(CapObservationPrefix) ->
          (row.getLong(0), row.getLong(1), row.getLong(2))
    }

  // ------------------------------------- bounded-group split (shared)

  /** Routes rows into (small-groups, oversized-groups) frames for the
    * bounded-group pair operators — ADAPTIVELY, at plan-construction
    * time (same precedent as [[dupClusters]]' count-gated driver path):
    *
    *  1. One column-pruned agg finds the oversized group keys. The list
    *     is small by construction — every key owns > `maxGroupSize`
    *     rows, so there are at most N/maxGroupSize of them.
    *  2. Empty list (the overwhelmingly common case): the small frame IS
    *     `d` and the big frame is `None` — the caller builds NO fallback
    *     branch at all, so the operator's plan degenerates to the pure
    *     exact path with zero routing cost (measured: join- or
    *     window-based splits cost 0.3-0.6 s of extra stage barriers per
    *     query at sf0.1 even when the fallback is empty, because the
    *     fallback subtree's CollectMetrics blocks empty-relation
    *     pruning; a window-count split additionally co-locates a hot
    *     group's full rows on one partition — the exact skew the
    *     fallback exists to avoid).
    *  3. ≤ `maxDriverKeys` keys: route with an `isin` predicate (Spark
    *     compiles it to an O(1)-probe InSet) — map-only, no join, no
    *     broadcast stage barrier.
    *  4. Beyond that (degenerate corpora only): anti/semi joins against
    *     ONE shared broadcast of the key list — exchange reuse computes
    *     the agg once and rows still never shuffle by g.
    *
    * The routing decision is taken when the operator is CALLED, not per
    * action — sound for batch pipelines over immutable inputs (which is
    * what these operators are for; the eager key-list job also means the
    * operators reject streaming frames, as before). */
  private[pipeline] def splitByGroupSize(d: DataFrame, maxGroupSize: Int,
      maxDriverKeys: Int = 10000): (DataFrame, Option[DataFrame]) = {
    val bigKeys = d.groupBy(col("g")).agg(count(lit(1)).as("__n"))
      .filter(col("__n") > maxGroupSize).select(col("g"))
    val collected = bigKeys.limit(maxDriverKeys + 1).collect().map(_.get(0))
    if (collected.isEmpty) (d, None)
    else if (collected.length <= maxDriverKeys) {
      val hasNull = collected.contains(null)
      val nonNull = collected.filter(_ != null).toSeq
      // null-safe membership: a null group key is a group like any other
      val inBig0 = if (nonNull.isEmpty) lit(false) else col("g").isin(nonNull: _*)
      val inBig = if (hasNull) col("g").isNull || inBig0
                  else col("g").isNotNull && inBig0
      (d.filter(!inBig), Some(d.filter(inBig)))
    } else {
      val bk = broadcast(bigKeys)
      (d.join(bk, Seq("g"), "left_anti"),
        Some(d.join(bk, Seq("g"), "left_semi")))
    }
  }

  // ------------------------- candidate verification (shared, r19 shape)

  /** Exact-Jaccard verification of a deduplicated (a, b) candidate frame
    * against a hashed-set table `hsTab` = (id, hs) with `hs` the sorted
    * distinct 60-bit hashes. Returns (a, b, jaccard) with jaccard
    * rounded to 6 — the common tail of [[minhashPairs]] and the
    * oversized-group branch of [[groupedJaccardPairs]].
    *
    * Two shape decisions, both from the r19 plan audit
    * (OPTIMIZATION_r19.md):
    *
    *  1. ONE pass over `hsTab`, not two. The candidates are exploded to
    *     (a, b, role-id) rows, joined to `hsTab` ONCE, and regrouped to
    *     (a, b, ha, hb). The previous two-join form (`pairs ⋈ hsTab as
    *     a ⋈ hsTab as b`) streamed the whole corpus through BOTH probe
    *     sides (AQE broadcasts the tiny pair list), so the text-hash
    *     kernel ran corpus-wide once per side — plus once for the
    *     signatures, three full passes per query. This shape pays two,
    *     and the regroup exchange carries only candidate-sized hash
    *     sets (bounded by the bucket caps upstream).
    *  2. The merge kernel runs ONCE per candidate, AFTER the cheap
    *     prefilters. Catalyst pushes a `jaccard >= t` filter into the
    *     join condition and orders it first, so every candidate paid
    *     two [[DedupExprs.sortedIntersectCount]] calls before the
    *     size-ratio prune even ran (visible in the r19 before-plans:
    *     the kernel twice in the join condition, again in the
    *     projection). [[EvalOnceExpr]] pins the kernel to one
    *     evaluation site (a marker COLUMN is not enough — column
    *     pruning strips an unused marker and the pushdown re-fires,
    *     measured in the r19 mid-plans), giving the order:
    *     ratio prune → one kernel call → threshold filter.
    *
    * Result-identical to the two-join form: every candidate id comes
    * from an `hsTab` row upstream, so both roles always resolve, and
    * the jaccard arithmetic is byte-for-byte the same expressions. */
  private def verifiedJaccard(pairs: DataFrame, hsTab: DataFrame,
      threshold: Double): DataFrame = {
    // collect_list (TypedImperativeAggregate → ObjectHashAggregate)
    // rather than max-over-array (whose array-typed buffer forces a
    // SortAggregate + two candidate-set sorts, measured +0.3 s at
    // sf0.1); each group is exactly the pair's two role rows, so the
    // list is 2 structs and role extraction is an O(2) array filter
    val paired = pairs
      .select(col("a"), col("b"),
        explode(array(col("a"), col("b"))).as("id"))
      .join(hsTab, "id")
      .groupBy("a", "b")
      .agg(collect_list(struct((col("id") === col("a")).as("isa"),
        col("hs").as("h"))).as("__rh"))
      .select(col("a"), col("b"),
        element_at(filter(col("__rh"), e => e.getField("isa")), 1)
          .getField("h").as("ha"),
        element_at(filter(col("__rh"), e => !e.getField("isa")), 1)
          .getField("h").as("hb"))
    verifyPairsTail(paired, threshold)
  }

  /** The shared verification tail over a (a, b, ha, hb) frame: ratio
    * prune → ONE pinned kernel call → threshold filter (see
    * [[verifiedJaccard]] point 2). A pair missing a role (null ha/hb —
    * cannot happen when candidates come from `hsTab`, kept for exact
    * parity with the inner-join form) is dropped. */
  private def verifyPairsTail(paired: DataFrame, threshold: Double): DataFrame =
    paired
      .filter(col("ha").isNotNull && col("hb").isNotNull &&
        least(size(col("ha")), size(col("hb"))).cast("double") >=
          lit(threshold) * greatest(size(col("ha")), size(col("hb"))))
      .select(col("a"), col("b"), col("ha"), col("hb"),
        DedupExprs.evalOnce(
          DedupExprs.sortedIntersectCount(col("ha"), col("hb"))).as("ni"))
      .withColumn("jaccard", col("ni").cast("double") /
        (size(col("ha")) + size(col("hb")) - col("ni")))
      .filter(col("jaccard") >= threshold)
      .select(col("a"), col("b"), round(col("jaccard"), 6).as("jaccard"))

  // ------------------------------------------------------------- exact

  /** Exact duplicate groups by content digest. Returns one row per distinct
    * text: (digest, keep_id = min doc_id, dup_count). */
  def exactGroups(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("digest"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("dup_count"))

  /** Paragraph-level boilerplate removal (the repeated-paragraph filter
    * of Lee et al. 2022, "Deduplicating Training Data Makes Language
    * Models Better", and the C4-style line-dedup pass): a paragraph
    * appearing `maxOccurrences`-or-more times corpus-wide (nav text,
    * cookie banners, license headers) is removed from EVERY document.
    * Returns one row per document with a paragraph: (doc_id,
    * n_paragraphs, n_removed, kept_md5 = digest of the surviving
    * paragraphs rejoined in order). Documents whose text has no nonempty
    * paragraph produce no row.
    *
    * Scale shape: two shuffles — the corpus-wide count groups by a
    * 16-byte digest (map-side combined, one row per distinct paragraph),
    * and the per-doc regroup carries (idx, paragraph) once. Occurrence
    * counts join back on the digest; AQE broadcasts the count table when
    * the realized distinct-paragraph set is small. No window over a
    * global order, no driver-side state. */
  def paragraphDedup(docs: DataFrame, maxOccurrences: Long = 10,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val paras = docs
      .select(col(idCol).as("doc_id"),
        posexplode(split(col(textCol), "\\n{2,}")).as(Seq("idx", "para")))
      .filter(length(col("para")) > 0)
      .withColumn("h", md5(col("para")))
    val counts = paras.groupBy("h").agg(count(lit(1)).as("occ"))
    paras.join(counts, "h")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_paragraphs"),
        sum(when(col("occ") >= maxOccurrences, 1L).otherwise(0L))
          .as("n_removed"),
        // collect_list drops the nulls of removed paragraphs; array_sort
        // on (idx, para) structs restores document order deterministically
        array_sort(collect_list(when(col("occ") < maxOccurrences,
          struct(col("idx"), col("para"))))).as("__kept"))
      .select(col("doc_id"), col("n_paragraphs"), col("n_removed"),
        md5(array_join(transform(col("__kept"), _.getField("para")), "\n\n"))
          .as("kept_md5"))
  }

  // ----------------------------------------------------------- minhash

  /** Sorted distinct 60-bit md5 hashes of word k-shingles — one native
    * pass over the text ([[DedupRuntime.shingleHash60]]). md5-based so an
    * external engine (the DuckDB oracle) reproduces the exact values. */
  def shingleHashes(text: Column, k: Int = 3): Column =
    DedupExprs.shingleHash60(text, k)

  /** MinHash signature (array of `numHashes` longs) over hashed shingles —
    * a native tight-loop expression; the equivalent
    * array_min(transform(...)) per permutation evaluates interpreted with
    * per-element boxing (see [[DedupRuntime]]). */
  def minhashSignature(hashedShingles: Column, numHashes: Int = 64): Column =
    DedupExprs.minhashSig(hashedShingles, numHashes)

  /** LSH band-bucket candidate pairs + exact Jaccard verification.
    *
    * Oracle-checkable end to end: shingle hashes and permutation constants
    * are md5-derived, and the LSH bucket key is the band's signature slice
    * VALUE (not an engine hash of it), so candidacy = slice equality — a
    * condition any engine can re-evaluate. Only (id, 4-long slice) rows
    * travel through the bucket shuffle.
    *
    * @param threshold keep pairs with exact shingle-Jaccard ≥ threshold
    * @param bands × rowsPerBand must equal numHashes; with 16×4 the S-curve
    *        catches ~0.5+ similarity reliably.
    */
  def minhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, numHashes: Int = 64,
      bands: Int = 16, threshold: Double = 0.5,
      maxBucketSize: Int = 1000, capName: String = "minhash"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    // hs pinned to one evaluation ([[EvalOnceExpr]]): the non-empty
    // filter above an unpinned projection gets inlined by pushdown and
    // the shingle kernel ran TWICE per row (Filter + Project of the
    // same scan stage, r19 before-plans)
    val hsTab = docs
      .select(col(idCol).as("id"),
        DedupExprs.evalOnce(shingleHashes(col(textCol), k)).as("hs"))
      .filter(size(col("hs")) > 0)
    val withSig = hsTab
      .withColumn("sig", minhashSignature(col("hs"), numHashes))
      .drop("hs")
    // explode to (band, bucket = the band's slice of the signature)
    val banded = withSig.select(col("id"),
      posexplode(transform(sequence(lit(0), lit(bands - 1)),
        b => slice(col("sig"), b * r + 1, lit(r)))).as(Seq("band", "bucket")))
    // candidate pairs inside each (band,bucket); bounded against hot buckets
    val byBucket = Dedup.observeBucketCap(
        banded.groupBy("band", "bucket")
          .agg(collect_list(col("id")).as("grp")),
        capName, maxBucketSize)
      .filter(size(col("grp")).between(2, maxBucketSize))
    // normalize each unordered pair to (min, max) — collect_list order is
    // arbitrary, so filtering on x < y would drop half the pairs
    val pairs = byBucket.select(explode(expr(
      """filter(
           flatten(transform(grp, (x, i) ->
             transform(slice(grp, i + 2, size(grp)), y ->
               struct(least(x, y) as a, greatest(x, y) as b)))),
           p -> p.a < p.b)""")).as("p"))
      .select(col("p.a"), col("p.b"))
      .dropDuplicates("a", "b")
    // exact Jaccard verification over the sorted hash sets (native merge
    // kernel) — recomputed for the (small) candidate set only, one
    // corpus pass + one kernel call per ratio-surviving candidate (the
    // size-ratio prefilter is RESULT-INVARIANT: jaccard(A,B) ≤
    // min|A|,|B| / max|A|,|B| since intersect ≤ min and union ≥ max).
    // See [[verifiedJaccard]] for the measured shape rationale.
    verifiedJaccard(pairs, hsTab, threshold)
  }

  /** [[minhashPairs]] with the banding dial read from the session conf —
    * the OPT-IN recall/cost trade. Defaults are UNCHANGED (64 hashes ×
    * 16 bands of 4): unset keys resolve to them, so behavior — and the
    * oracle — is identical unless a user explicitly dials.
    *
    *  - `spark.graft.minhash.numHashes` (default 64)
    *  - `spark.graft.minhash.bands`     (default 16)
    *
    * Fewer, longer bands (e.g. 8 bands × 8 rows) raise the S-curve knee:
    * a candidate needs a LONGER exact slice match, so hot buckets shrink
    * and the candidate shuffle — the sf1 pair-family cost center — gets
    * cheaper, at the price of recall just above the threshold. With the
    * same signature length, an 8-row band is two adjacent 4-row bands
    * concatenated, so the 8×8 candidate set is a DETERMINISTIC SUBSET of
    * 16×4's (a longer match implies both halves match) —
    * MinhashBandingSpec pins the subset property and quantifies the
    * recall trade on planted near-duplicates. */
  def minhashPairsTuned(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3, threshold: Double = 0.5,
      maxBucketSize: Int = 1000, capName: String = "minhash"): DataFrame = {
    val conf = docs.sparkSession.conf
    minhashPairs(docs, idCol, textCol, k,
      numHashes = conf.get("spark.graft.minhash.numHashes", "64").toInt,
      bands = conf.get("spark.graft.minhash.bands", "16").toInt,
      threshold = threshold, maxBucketSize = maxBucketSize,
      capName = capName)
  }

  // ----------------------------------------------------------- simhash

  /** 60-bit SimHash over whitespace tokens (md5-60 token hashes, with
    * multiplicity) — a native expression (see [[DedupRuntime.simhash60]]);
    * the HOF formulation allocated 64-wide arrays per token. md5-based so
    * the DuckDB oracle recomputes identical fingerprints. */
  def simhash64(text: Column): Column =
    DedupExprs.simhash60(text)

  /** SimHash near-dup pairs: block on the four 16-bit chunks (a pair within
    * Hamming distance ≤ 3 of 64 bits shares at least one exact chunk), then
    * verify with bit_count. */
  def simhashPairs(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", maxHamming: Int = 3,
      maxBucketSize: Int = 1000, capName: String = "simhash"): DataFrame = {
    val withFp = docs.select(col(idCol).as("id"),
      simhash64(col(textCol)).as("fp"))
    val blocked = withFp.select(col("id"), col("fp"),
      posexplode(transform(sequence(lit(0), lit(3)),
        b => call_function("shiftright", col("fp"), b * 16)
          .bitwiseAND(lit(0xFFFFL))))
        .as(Seq("block", "key")))
    val grouped = Dedup.observeBucketCap(
        blocked.groupBy("block", "key")
          .agg(collect_list(struct(col("id"), col("fp"))).as("grp")),
        capName, maxBucketSize)
      .filter(size(col("grp")).between(2, maxBucketSize))
    // a pair sharing k chunks would surface in k buckets — emit it only
    // from the FIRST shared block (no earlier chunk of fpa^fpb is zero),
    // so every pair materializes exactly once and the dedup shuffle over
    // the k-times-duplicated candidate set disappears
    grouped.select(explode(expr(
      """filter(
           flatten(transform(grp, (x, i) ->
             transform(slice(grp, i + 2, size(grp)), y ->
               struct(least(x.id, y.id) as a, greatest(x.id, y.id) as b,
                      x.fp ^ y.fp as d)))),
           p -> p.a < p.b
             AND (block < 1 OR (p.d & 65535) != 0)
             AND (block < 2 OR (shiftright(p.d, 16) & 65535) != 0)
             AND (block < 3 OR (shiftright(p.d, 32) & 65535) != 0))"""))
        .as("p"))
      .select(col("p.a"), col("p.b"), bit_count(col("p.d")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------ n-gram jaccard (oracle-able)

  /** Exact token-set Jaccard for all doc pairs sharing `groupCol` (bounded
    * cross join inside groups; the group key is the shuffle key).
    *
    * The token sets are hashed to sorted long arrays BEFORE the pairwise
    * stage ([[DedupRuntime.shingleHash60]] with k = 1 — md5-60 per
    * distinct token, so an external engine reproduces every value): the
    * per-pair kernel is then a primitive merge
    * ([[DedupRuntime.sortedIntersectCount]]) instead of a boxed-string
    * hash-set intersect — the set cardinalities (and hence Jaccard) are
    * unchanged absent a 60-bit token-hash collision. O(pairs) dominates
    * O(docs), so per-pair cost is the thing to minimize.
    *
    * BOUNDED-GROUP contract (same shape as the minhash/simhash hot-bucket
    * caps): pair count is quadratic in group size — a 10× corpus growth
    * under a fixed group key otherwise costs 100× (measured: SCALE.md sf1
    * probe). A group beyond `maxGroupSize` does NOT silently vanish: it is
    * routed through MinHash band-bucket blocking over the same token-hash
    * sets ([[minhashPairs]] machinery, group-scoped buckets) and verified
    * with the same exact sorted-merge Jaccard, so high-similarity pairs
    * inside oversized groups still surface — only sub-S-curve pairs
    * (probabilistically per the LSH curve, but deterministically
    * reproducible from the md5-derived constants) are traded away for
    * the quadratic bound. The fallback bands 8×8 rather than
    * [[minhashPairs]]'s 16×4: the 8-long slices put the S-curve at
    * ~0.8 similarity — the dedup operating range an oversized-group
    * RESCUE is for — and collide an order of magnitude less on dense
    * near-dup mass (measured on the 10× probe: 16×4 made the whole
    * candidate tail of a 2,500-doc degenerate group a pair; see
    * SCALE.md). Rows carry `capped = true` when they came from the
    * blocked path, so a consumer can see which groups were bounded.
    *
    * `maxBucketSize` (the fallback's hot-bucket cap) defaults TIGHTER
    * than [[minhashPairs]]'s: the fallback only runs on groups already
    * past the quadratic bound, where candidate mass concentrates in
    * mid-size buckets — on the sf1 probe's 2,500-doc degenerate group,
    * cap 200 carries 150k candidates vs 1.04M at cap 1000 (7×) while
    * the planted high-sim pairs keep colliding in small buckets.
    * Dropped buckets are counted ([[capDiagnostics]], key `capName`).
    *
    * Output: (id_a, id_b, jaccard, capped). */
  def groupedJaccardPairs(docs: DataFrame, groupCol: String,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.2, maxGroupSize: Int = 1000,
      numHashes: Int = 64, bands: Int = 8,
      maxBucketSize: Int = 200, capName: String = "jaccard"): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val d0 = docs.select(col(groupCol).as("g"), col(idCol).as("id"),
      DedupExprs.shingleHash60(col(textCol), 1).as("toks"))
    // adaptive plan-time routing — see [[splitByGroupSize]]
    val (small, big0) = splitByGroupSize(d0, maxGroupSize)
    val a = small.as("a"); val b = small.as("b")
    // |A∪B| = |A|+|B|-|A∩B| (inputs are distinct) — avoids building the
    // union array per pair. Size-ratio prefilter in the JOIN condition
    // (result-invariant: jaccard ≤ min/max sizes) prunes lopsided pairs
    // before the merge kernel ever runs.
    // the join condition keeps ONLY the cheap conjuncts (group equality,
    // id order, size-ratio prune); the merge kernel is evaluated once
    // per surviving pair in a projection the threshold filter cannot be
    // pushed below ([[EvalOnceExpr]] — without it Catalyst inlines
    // `j >= t` into the join condition and orders the kernel FIRST, so
    // every group cross-pair paid two kernel calls before the
    // prefilters ran; see [[verifiedJaccard]]).
    val exact = a.join(b, col("a.g") === col("b.g") && col("a.id") < col("b.id") &&
        least(size(col("a.toks")), size(col("b.toks"))).cast("double") >=
          lit(threshold) * greatest(size(col("a.toks")), size(col("b.toks"))))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        size(col("a.toks")).as("__sa"), size(col("b.toks")).as("__sb"),
        DedupExprs.evalOnce(DedupExprs.sortedIntersectCount(
          col("a.toks"), col("b.toks"))).as("ni"))
      .withColumn("j", col("ni").cast("double") /
        (col("__sa") + col("__sb") - col("ni")))
      .filter(col("j") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"),
        lit(false).as("capped"))

    if (big0.isEmpty) return exact

    // ---- oversized groups: minhash-blocked candidates, same exact verify
    val r = numHashes / bands
    // toks pinned ([[EvalOnceExpr]]) so the non-empty filter doesn't
    // re-inline the token-hash kernel (see [[minhashPairs]]'s hsTab);
    // pinned HERE, not in d0, so splitByGroupSize's routing agg keeps
    // pruning the toks column away entirely
    val big = big0.get
      .select(col("g"), col("id"), DedupExprs.evalOnce(col("toks")).as("toks"))
      .filter(size(col("toks")) > 0)
    val banded = big
      .withColumn("sig", DedupExprs.minhashSig(col("toks"), numHashes))
      .select(col("g"), col("id"),
        posexplode(transform(sequence(lit(0), lit(bands - 1)),
          bb => slice(col("sig"), bb * r + 1, lit(r)))).as(Seq("band", "bucket")))
    val cand = Dedup.observeBucketCap(
        banded.groupBy("g", "band", "bucket")
          .agg(collect_list(col("id")).as("grp")),
        capName, maxBucketSize)
      .filter(size(col("grp")).between(2, maxBucketSize))
      .select(explode(expr(
        """filter(
             flatten(transform(grp, (x, i) ->
               transform(slice(grp, i + 2, size(grp)), y ->
                 struct(least(x, y) as a, greatest(x, y) as b)))),
             p -> p.a < p.b)""")).as("p"))
      .select(col("p.a"), col("p.b"))
      .dropDuplicates("a", "b")
    // two-join attach here, NOT [[verifiedJaccard]]'s single-pass
    // regroup: the capped regime is the OPPOSITE of minhash's — the
    // oversized-group row set is small and bounded while the candidate
    // set is quadratic-in-cap large (sf1 probe: 150k candidates from a
    // 2.5k-doc group), so re-streaming the group rows through two
    // broadcast probes is far cheaper than shuffling candidate-sized
    // hash arrays through a regroup (measured +19% on q_jaccard_capped
    // with the regroup at sf0.1). The evaluation discipline still
    // holds: `toks` is pinned in `big`, and [[verifyPairsTail]] keeps
    // ratio prune → one kernel call → threshold filter.
    val paired = cand
      .join(big.select(col("id").as("a"), col("toks").as("ha")), "a")
      .join(big.select(col("id").as("b"), col("toks").as("hb")), "b")
    val blocked = verifyPairsTail(paired, threshold)
      .select(col("a").as("id_a"), col("b").as("id_b"), col("jaccard"),
        lit(true).as("capped"))

    exact.unionByName(blocked)
  }

  // ----------------------------------------------- decontamination

  /** Benchmark decontamination: score every training document by the
    * fraction of its k-shingles that appear anywhere in an evaluation/
    * benchmark corpus, and flag those at or above `threshold` (the
    * standard n-gram-overlap test-set leak check a training pipeline
    * runs before a model ever sees the data).
    *
    * Scale shape: the benchmark corpus is tiny next to a 100 TB training
    * corpus, so its distinct shingle-hash set is reduced once and
    * broadcast — the per-document check is then a single map-side pass
    * (explode → broadcast left join → partial-agg count), one corpus
    * scan, no corpus-sized shuffle (the groupBy ships one combined row
    * per doc per partition). Set `broadcastBenchmark = false` for a
    * benchmark too large to broadcast; the join degrades to a shuffled
    * hash join on the shingle hash.
    *
    * Shingle hashes are md5-derived 60-bit values ([[shingleHashes]]),
    * so an external engine reproduces the exact overlap counts. */
  def decontaminate(docs: DataFrame, benchmark: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3,
      threshold: Double = 0.1, broadcastBenchmark: Boolean = true): DataFrame = {
    val bench0 = benchmark
      .select(explode(shingleHashes(col(textCol), k)).as("h"))
      .distinct().withColumn("__hit", lit(1))
    val bench = if (broadcastBenchmark) broadcast(bench0) else bench0
    // hs pinned ([[EvalOnceExpr]]): unpinned, Catalyst inlined the
    // shingle kernel into the size filter, the isnotnull guard, the
    // ngrams projection AND the explode Generate — four corpus-wide
    // kernel evaluations per row (r19 before-plans)
    docs.select(col(idCol).as("id"),
        DedupExprs.evalOnce(shingleHashes(col(textCol), k)).as("hs"))
      .filter(size(col("hs")) > 0)
      .select(col("id"), size(col("hs")).cast("long").as("ngrams"),
        explode(col("hs")).as("h"))
      .join(bench, Seq("h"), "left")
      .groupBy("id")
      .agg(first("ngrams").as("ngrams"), count("__hit").as("matched"))
      .select(col("id").as(idCol), col("ngrams"), col("matched"),
        round(col("matched").cast("double") / col("ngrams"), 6).as("overlap"),
        (col("matched").cast("double") / col("ngrams") >= threshold)
          .as("contaminated"))
  }

  /** Cross-snapshot (incremental) dedup: score every NEW document
    * against a PREVIOUS corpus snapshot — the stage a recurring crawl
    * pipeline runs before merging a fresh dump into the corpus. Two
    * signals per new doc, one row each:
    *
    *  - `exact_dup`: its content digest already exists in the previous
    *    snapshot (16-byte md5 equality);
    *  - `overlap`: the fraction of its distinct k-shingles present
    *    anywhere in the previous snapshot (the [[decontaminate]] kernel
    *    pointed at the previous dump instead of a benchmark).
    *
    * `keep` = not exact and overlap < `threshold` — the merge filter.
    * Docs with no shingles (empty text) score overlap 0 and keep on the
    * digest alone.
    *
    * Scale shape: the digest check joins on a 16-byte hash and the
    * shingle check on a distinct 60-bit hash set — both reduced once
    * from the previous snapshot and broadcast.
    * `broadcastPrevious = false` is the 100 TB path for a previous
    * snapshot too large to broadcast: both checks become shuffled hash
    * joins, and Spark's runtime Bloom-filter optimization
    * (`spark.sql.optimizer.runtime.bloomFilter.enabled`, default true
    * on this build — verified) injects a creation-side Bloom filter
    * that prunes non-matching new-dump rows map-side before the
    * shuffle, which is exactly the hand-rolled Bloom pre-filter a
    * native pipeline would write. Text never shuffles; per-doc work is
    * one shingle pass. */
  def incrementalDedup(newDocs: DataFrame, previous: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", k: Int = 3,
      threshold: Double = 0.5, broadcastPrevious: Boolean = true): DataFrame = {
    val prevSh0 = previous
      .select(explode(shingleHashes(col(textCol), k)).as("h"))
      .distinct().withColumn("__hit", lit(1))
    val prevSh = if (broadcastPrevious) broadcast(prevSh0) else prevSh0
    val prevDg0 = previous.select(md5(col(textCol)).as("__digest"))
      .distinct().withColumn("__seen", lit(1))
    val prevDg = if (broadcastPrevious) broadcast(prevDg0) else prevDg0
    // hs pinned ([[EvalOnceExpr]]) — one kernel evaluation feeding both
    // the size projection and the explode; the digest-only branch below
    // still prunes the unused hs column away entirely
    val base = newDocs.select(col(idCol).as("id"),
      md5(col(textCol)).as("__digest"),
      DedupExprs.evalOnce(shingleHashes(col(textCol), k)).as("hs"))
    // explode_outer keeps shingle-less docs: their null h never joins a
    // hit, so they score (ngrams 0, matched 0)
    val scored = base
      .select(col("id"), size(col("hs")).cast("long").as("ngrams"),
        explode_outer(col("hs")).as("h"))
      .join(prevSh, Seq("h"), "left")
      .groupBy("id")
      .agg(first("ngrams").as("ngrams"), count("__hit").as("matched"))
    val frac = when(col("ngrams") > 0,
      col("matched").cast("double") / col("ngrams")).otherwise(lit(0.0))
    base.select(col("id"), col("__digest"))
      .join(prevDg, Seq("__digest"), "left")
      .join(scored, "id")
      .select(col("id").as(idCol),
        col("__seen").isNotNull.as("exact_dup"),
        col("ngrams"), col("matched"),
        round(frac, 6).as("overlap"),
        (col("__seen").isNull && frac < threshold).as("keep"))
  }

  /** Corpus-self duplication signal (the "duplicated n-gram fraction"
    * quality feature of the RefinedWeb/Dolma filtering recipes): per
    * document, the fraction of its DISTINCT k-shingles that occur in at
    * least one OTHER document. High values mark boilerplate-heavy or
    * templated documents even when no single pair crosses a near-dup
    * threshold. Docs without a shingle produce no row (the
    * [[paragraphDedup]] convention).
    *
    * Scale shape: explode → groupBy on the 60-bit shingle hash
    * (map-side combined; shingle lists are distinct per doc, so
    * `count(*)` per hash IS the containing-doc count) → join back on
    * the hash → regroup per doc. The widest shuffle carries 8-byte
    * hashes; text never shuffles. */
  def duplicatedNgramFraction(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 3): DataFrame = {
    val hs = docs.select(col(idCol).as("id"),
      explode(shingleHashes(col(textCol), k)).as("h"))
    val counts = hs.groupBy("h").agg(count(lit(1)).as("__nd"))
    hs.join(counts, "h")
      .groupBy("id")
      .agg(count(lit(1)).as("ngrams"),
        sum(when(col("__nd") >= 2, 1L).otherwise(0L)).as("shared"))
      .select(col("id").as(idCol), col("ngrams"), col("shared"),
        round(col("shared").cast("double") / col("ngrams"), 6)
          .as("dup_fraction"))
  }

  /** Within-document line dedup (the Dolma in-document pass, distinct
    * from [[paragraphDedup]]'s corpus-wide filter): each document keeps
    * only the FIRST occurrence of every distinct nonempty line, in
    * order — repeated nav rows, list boilerplate, scraper stutter.
    * Returns (doc_id, lines, removed, kept_text).
    *
    * Scale shape: pure map-only array surgery inside whole-stage codegen
    * — no shuffle, no join, no state; the first-occurrence test is
    * `array_position(ls, x) == i + 1` (O(lines²) per doc, fine for
    * web-document line counts and deliberately explicit rather than
    * leaning on `array_distinct`'s unspecified ordering contract). */
  def lineDedupWithinDoc(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val ls = filter(split(col(textCol), "\n"), l => l =!= "")
    docs.select(col(idCol),
        ls.as("__ls"))
      .withColumn("__kept", filter(col("__ls"),
        (x, i) => array_position(col("__ls"), x) === i + 1))
      .select(col(idCol),
        size(col("__ls")).cast("long").as("lines"),
        (size(col("__ls")) - size(col("__kept"))).cast("long").as("removed"),
        array_join(col("__kept"), "\n").as("kept_text"))
  }

  /** Per-source duplication-rate gating — the source-level filter of a
    * curation stack (drop mirrors, scraped dumps, and spam domains whose
    * content is mostly copies): for every source, the fraction of its
    * documents whose exact text digest occurs more than once CORPUS-wide
    * (cross-source copies count against both sources), plus a keep flag
    * at `maxDupRate`. Returns (source, n_docs, n_dup_docs, dup_rate,
    * keep).
    *
    * Scale shape: one 16-byte-digest shuffle for the corpus-wide counts
    * (map-side combined), the count table joins back on the digest (AQE
    * broadcasts the realized-distinct side when small), then a
    * source-keyed agg whose output is one row per source — text itself
    * never shuffles. */
  def sourceDupRate(docs: DataFrame, maxDupRate: Double = 0.05,
      sourceCol: String = "source", textCol: String = "text"): DataFrame = {
    val d = docs.select(col(sourceCol).as("source"),
      md5(col(textCol)).as("digest"))
    val counts = d.groupBy("digest").agg(count(lit(1)).as("occ"))
    d.join(counts, "digest")
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_dup_docs"),
        round(col("n_dup_docs").cast("double") / col("n_docs"), 6)
          .as("dup_rate"),
        (col("n_dup_docs").cast("double") / col("n_docs") <= maxDupRate)
          .as("keep"))
  }

  /** Exact-substring duplicated-span REMOVAL (the transform half of the
    * Lee et al. 2022 "Deduplicating Training Data" recipe, whose
    * detection half is [[duplicatedNgramFraction]]): strip every token
    * covered by a k-token span that occurs at least twice corpus-wide
    * (including twice inside one document — self-repetition is
    * boilerplate too), and emit the cleaned text plus removal counts.
    * Spans are POSITIONAL k-grams — unlike the distinct shingle sets of
    * the pair operators, every occurrence counts and every occurrence's
    * token range is stripped. Tokens are the dedup-family convention
    * (whitespace split of the trimmed text, case-sensitive); the kept
    * text is the surviving tokens re-joined with single spaces.
    *
    * Scale shape (the 100 TB plan): (1) explode positional gram hashes →
    * one shuffle keyed by the 60-bit md5 hash for the global occurrence
    * count (map-side combined), (2) join the duplicated hashes back to
    * the (id, pos, hash) rows — both sides already hash-partitioned by
    * the same key, (3) regroup covered positions per doc (integer lists
    * only), (4) ONE left join of that small frame (only docs that have a
    * duplicated span) back to the full corpus — AQE broadcasts it when
    * it fits. Document text never shuffles; everything after the join is
    * map-side array surgery. Per-token coverage lookup is
    * O(|covered positions|) via array_contains — fine for web-document
    * token counts; a sorted-merge kernel would replace it for
    * million-token records.
    *
    * Oracle-checkable end to end: md5-derived gram hashes, integer
    * positions, string reassembly — no floats anywhere. */
  def removeDuplicatedSpans(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", k: Int = 4): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val d = docs.select(col(idCol).as("id"), toks.as("toks"))
    // positional k-gram hashes; sequence(0, n-k) would run DESCENDING for
    // n < k (Spark generates reversed ranges), hence the guard
    val grams = d
      .select(col("id"), posexplode(
        when(size(col("toks")) >= k,
          transform(sequence(lit(0), size(col("toks")) - k), i =>
            conv(substring(md5(concat_ws(" ",
              slice(col("toks"), i + 1, lit(k)))), 1, 15), 16, 10)
              .cast("long")))
          .otherwise(array().cast("array<long>"))).as(Seq("pos", "h")))
    val dupHashes = grams.groupBy("h").agg(count(lit(1)).as("__n"))
      .filter(col("__n") >= 2).select("h")
    val covered = grams.join(dupHashes, "h")
      .groupBy("id")
      .agg(sort_array(array_distinct(flatten(collect_list(
        sequence(col("pos"), col("pos") + (k - 1)))))).as("cov"))
    d.join(covered, Seq("id"), "left")
      .select(col("id").as(idCol),
        size(col("toks")).cast("long").as("tokens"),
        // size(NULL) is -1 under legacy sizeOfNull (ANSI off), so gate on
        // the null explicitly rather than coalescing the size
        when(col("cov").isNull, lit(0L))
          .otherwise(size(col("cov")).cast("long")).as("removed"),
        array_join(filter(col("toks"), (_, i) =>
          col("cov").isNull || !array_contains(col("cov"), i)), " ")
          .as("kept_text"))
  }

  // ------------------------------------- duplicate clusters (components)

  /** Connected components over a near-dup pair list → duplicate clusters:
    * every document gets `cluster_id` = the smallest doc id reachable
    * through the pair graph (singletons map to themselves) plus
    * `canonical` = whether this doc is its cluster's keep-representative —
    * the form a dedup pipeline consumes (keep canonical, drop the rest),
    * one step past the raw pair lists.
    *
    * Iterative min-label propagation with a pointer-halving step: each
    * round a vertex takes the min of its label, its neighbors' labels, and
    * its label's label. LSH near-dup graphs are unions of near-cliques
    * (diameter 2-3), so 3-4 rounds close them; the halving step bounds
    * adversarial chains at O(log n) rounds (the public two-phase CC-in-
    * MapReduce family, Kiveris et al. SoCC'14). Each round shuffles only
    * the EDGE list and the (id,label) table — document text never enters
    * the loop — and lineage is truncated per round with an eager local
    * checkpoint so the plan stays flat at any round count. The fixpoint
    * (min reachable id) is unique, so the result is deterministic however
    * rounds interleave — which is what lets an external engine (the DuckDB
    * recursive-CTE oracle) re-derive it. */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
      idCol: String = "doc_id", maxRounds: Int = 25,
      /** Edge count at or below which the components run as a driver-side
        * union-find instead of distributed rounds. A chain-diameter graph
        * costs O(log d) whole-cluster rounds (~0.5 s of scheduling each),
        * so a million-edge graph is CHEAPER to collect (16 MB) and solve
        * in microseconds than to iterate on; beyond the bound the
        * distributed path takes over untouched. Same unique fixpoint
        * (min reachable id) either way — the specs run both paths and
        * compare. Set 0 to force the distributed path. */
      maxDriverEdges: Long = 1000000L): DataFrame = {
    // One bounded probe decides the path AND delivers the driver-side
    // edge list in the same job: limit(maxDriverEdges + 1).collect()
    // either returns the COMPLETE edge set (≤ bound — the common case,
    // LSH near-dup graphs are sparse) or proves it oversized. The
    // previous persist + count + collect shape paid three actions and a
    // cache pin for the same decision (r19: ~0.2-0.3 s per call at
    // sf0.1, inherited by every clusters consumer).
    val p0 = pairs.select(col("a").cast("long").as("a"),
      col("b").cast("long").as("b"))
    // clamp before the Int cast: a caller passing maxDriverEdges >=
    // Int.MaxValue would otherwise overflow into a NEGATIVE limit and
    // fail the query instead of routing to the distributed path
    val cap = math.min(maxDriverEdges, (Int.MaxValue - 1).toLong).toInt
    val head = p0.limit(cap + 1).collect()
    if (head.length <= cap)
      return driverClusters(docs, head.map(r => (r.getLong(0), r.getLong(1))), idCol)
    // oversized: NOW pin the pair pipeline — the distributed rounds (and
    // the symmetric union's two branches) reference it repeatedly
    val pp = p0.persist()
    val nEdges = pp.count()
    val edges = pp.union(pp.select(col("b").as("a"), col("a").as("b")))
    var labels = docs.select(col(idCol).cast("long").as("id"))
      .withColumn("lbl", col("id")).localCheckpoint(true)
    var round = 0
    var converged = nEdges == 0L
    while (!converged && round < maxRounds) {
      val nbrMin = edges
        .join(labels.select(col("id").as("b"), col("lbl").as("nlbl")), "b")
        .groupBy(col("a").as("id")).agg(min("nlbl").as("nmin"))
      val hop = labels.select(col("id").as("lbl"), col("lbl").as("plbl"))
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .join(hop, Seq("lbl"), "left")
        .select(col("id"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl")),
            coalesce(col("plbl"), col("lbl"))).as("lbl"),
          (coalesce(col("nmin"), col("lbl")) < col("lbl") ||
            coalesce(col("plbl"), col("lbl")) < col("lbl")).as("chg"))
        .localCheckpoint(true)
      converged = next.filter(col("chg")).isEmpty
      labels = next.drop("chg")
      round += 1
    }
    pp.unpersist()
    labels.select(col("id").as(idCol), col("lbl").as("cluster_id"),
      (col("id") === col("lbl")).as("canonical"))
  }

  /** Keep-BEST dedup: exactly one survivor per duplicate cluster — the
    * member with the highest `quality` (ascending id tie-break) — instead
    * of [[dupClusters]]'s keep-min-id `canonical`. This is the retention
    * policy a curation pipeline actually wants: when near-copies differ
    * (truncation, boilerplate, OCR noise), the best copy survives, not an
    * arbitrary one. Costs one extra window scan keyed by cluster_id on
    * top of the component computation; quality is any deterministic
    * column expression over the doc row.
    */
  def clusterKeep(docs: DataFrame, pairs: DataFrame, quality: Column,
      idCol: String = "doc_id"): DataFrame = {
    val clusters = dupClusters(docs, pairs, idCol)
      .select(col(idCol), col("cluster_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("cluster_id"))
      .orderBy(col("quality").desc, col(idCol).asc)
    docs.select(col(idCol), quality.cast("double").as("quality"))
      .join(clusters, idCol)
      .withColumn("keep", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col("quality"), col("keep"))
  }

  /** Small-graph path: collected union-find with path compression over
    * an ALREADY-COLLECTED edge list (the caller's routing probe is the
    * collect — no second job); the component label is the min member id,
    * matching the distributed fixpoint exactly. Nodes outside the edge
    * list label themselves via the left join's coalesce. */
  private def driverClusters(docs: DataFrame, edges: Array[(Long, Long)],
      idCol: String): DataFrame = {
    val spark = docs.sparkSession
    val parent = new java.util.HashMap[Long, Long]()
    def find(x0: Long): Long = {
      var x = x0
      while (parent.getOrDefault(x, x) != x) {
        val p = parent.get(x)
        parent.put(x, parent.getOrDefault(p, p)) // halving
        x = parent.getOrDefault(x, x)
      }
      x
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent.put(math.max(ra, rb), math.min(ra, rb))
    }
    // larger roots always link to smaller, so every component's final
    // root IS its min member; nodes never linked (incl. each component's
    // min) label themselves through the join's coalesce
    val labels = {
      import scala.jdk.CollectionConverters._
      parent.keySet().asScala.toSeq.map(n => (n, find(n)))
    }
    import spark.implicits._
    val lblDf = labels.toDF("id", "__lbl")
    docs.select(col(idCol).cast("long").as("id"))
      .join(broadcast(lblDf), Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("__lbl"), col("id")).as("cluster_id"),
        (col("id") === coalesce(col("__lbl"), col("id"))).as("canonical"))
  }
}
