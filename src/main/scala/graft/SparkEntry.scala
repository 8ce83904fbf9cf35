package graft

import graft.core.Records
import graft.engine.{QueryEngine, QuerySpec}
import graft.pipeline.{Analytics, Dedup, Multimodal, Packing, Sampling, Similarity, Sketches, TextAnalysis, TimeSeries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract: one `queries` entry per implemented operator from
  * SURVEY.md §2 (+ the training-data pipeline operators), each with an
  * exact DuckDB oracle. Sequential-state operators (`$each_t`, `$gate`)
  * unroll as recursive CTEs; hash-sketch ops (minhash/simhash/LSH/IVF) use
  * md5-derived constants so the oracle regenerates identical hashes;
  * floating-point pipelines keep every reduction a left fold so doubles
  * are bit-identical across engines.
  */
object SparkEntry {

  private def session(s: SparkSession): SparkSession = {
    // settings this library requires (see SparkTestBase scaladoc)
    s.conf.set("spark.sql.session.timeZone", "UTC")
    s.conf.set("spark.sql.ansi.enabled", "false")
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    s
  }

  /** events.parquet staged into record layout, once per (session, dir).
    * The reference ingests into its store once and serves every query from
    * it — re-deriving the record table (incl. the collision-nudge window)
    * per query would charge that ingest cost to every query instead.
    * MEMORY_AND_DISK: at bench SFs this is a few hundred MB; a real
    * deployment reads the BucketStore parquet layout instead. */
  private val staged =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def events(s: SparkSession, dir: String): DataFrame = {
    val df = staged.getOrElseUpdate((s, dir), {
      val d = Records.fromEvents(session(s).read.parquet(s"$dir/events.parquet"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      d.count() // materialize so no query pays a partial ingest
      d
    })
    // self-heal: an unpersist of a PLAN-EQUAL frame elsewhere (Spark's
    // CacheManager dedups by plan) evicts this entry out from under the
    // memo — without re-staging, every later events query silently pays
    // the full ingest per run (measured 0.45 → 2.2 s, SCALE.md round 15)
    if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE) {
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      df.count(): Unit
    }
    df
  }
  /** Kernel-stage parallelism guard (r20; guide §2). A single-file,
    * single-row-group input scans as ONE task — parquet can't split a
    * row group — so every per-row kernel in the projection above the
    * scan (shingle hashing, embedding folds, tokenization) runs
    * serially no matter the core count. Measured at sf1: the pair/ANN
    * family ran FASTER on 8 cores than 32 (q_minhash_pairs 6.9 vs
    * 8.2 s) because nothing upstream of the first shuffle
    * parallelized; with the guard, 32 cores reads 1.24 s (6.6x) and
    * beats 8. Round-robin repartition to the session's default
    * parallelism (deterministic under retries —
    * spark.sql.execution.sortBeforeRepartition), applied ONLY when
    *   (a) the input is big enough that the serial kernel work
    *       dominates the extra exchange+stage: >= 2 MB on disk
    *       (SPARK_GRAFT_SCAN_FANOUT_MIN_BYTES; below it the A/B showed
    *       the exchange costs MORE than it saves — sf0.1's 0.6 MB docs
    *       lost 0.3-0.4 s/query while sf1's 5.9 MB gained seconds), and
    *   (b) the scan resolves to fewer partitions than the default
    *       parallelism — a no-op at production scale, where file
    *       counts already exceed core counts.
    * Applied to the KERNEL-heavy inputs (documents, embeddings) only:
    * plain relational tables (lineitem, orders) gain nothing — their
    * aggregates reduce map-side BEFORE any exchange, so a pre-agg
    * round-robin of full rows is strictly worse (A/B: q_lineitem_agg
    * 0.24 -> 0.69 s). Results are distribution-independent; the full
    * oracle re-verified at sf0.01, sf0.1 and sf1 with the guard on. */
  private val scanFanoutMinBytes = sys.env
    .getOrElse("SPARK_GRAFT_SCAN_FANOUT_MIN_BYTES", "2097152").toLong
  private val kernelInputs =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), DataFrame]
  private def kernelScan(s: SparkSession, dir: String, file: String): DataFrame =
    kernelInputs.getOrElseUpdate((s, s"$dir/$file"), {
      val df = session(s).read.parquet(s"$dir/$file")
      val p = new org.apache.hadoop.fs.Path(s"$dir/$file")
      val bytes =
        try p.getFileSystem(s.sparkContext.hadoopConfiguration)
          .getFileStatus(p).getLen
        catch { case scala.util.control.NonFatal(_) => 0L }
      val par = s.sparkContext.defaultParallelism
      if (bytes >= scanFanoutMinBytes && df.rdd.getNumPartitions < par)
        df.repartition(par)
      else df
    })

  private def docs(s: SparkSession, dir: String): DataFrame =
    kernelScan(s, dir, "documents.parquet")
  private def embeddings(s: SparkSession, dir: String): DataFrame =
    kernelScan(s, dir, "embeddings.parquet")
  private def table(s: SparkSession, dir: String, name: String): DataFrame =
    session(s).read.parquet(s"$dir/$name.parquet")

  /** Query the record table and project the standard comparable columns. */
  private def q(s: SparkSession, dir: String, spec: QuerySpec): DataFrame =
    QueryEngine.query(events(s, dir), spec)
      .select(
        element_at(col("labels"), "event_id").cast("bigint").as("event_id"),
        col("entry"), col("ts"))
      .orderBy("event_id")

  // 2024-01-01 .. 2024-01-08 (µs)
  private val T0 = 1704067200000000L
  private val T7 = 1704672000000000L

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    QueryEngine.query(
      events(spark, "/root/testdata/sf0.001"),
      QuerySpec(
        start = Some(T0), stop = Some(T7 + 30L * 86400000000L),
        entries = Some(Seq("events/*", "!events/error")),
        when = Some("""{"&value": {"$gt": 50}, "$in": ["&type", "click", "view", "purchase"]}""")))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ----------------------------------------------- reference surface
    "q_time_range" -> ((s, dir) =>
      q(s, dir, QuerySpec(start = Some(T0), stop = Some(T7)))),

    "q_cmp" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"&value": {"$gt": 100}, "&user_id": {"$lte": 7}, "&type": {"$ne": "error"}}""")))),

    "q_logic" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$or": [
           {"$in": ["&type", "click", "view"]},
           {"$and": [{"&value": {"$lt": 10}}, {"&type": {"$eq": "purchase"}}]}
         ],
         "$not": [{"$eq": ["&user_id", 3]}]}""")))),

    "q_arith" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$gt": [{"$add": [{"$mult": ["&value", 2]}, "&user_id"]}, 500],
          "$lt": [{"$div": ["&value", 3]}, 90],
          "$eq": [{"$rem": [{"$cast": ["&user_id", "int"]}, 2]}, 1]}""")))),

    "q_string" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$and": [
           {"&props": {"$starts_with": "{\"k\""}},
           {"&props": {"$contains": "7"}}
         ]}""")))),

    "q_date" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$gte": [{"$hour": ["$timestamp"]}, 6],
          "$lte": [{"$hour": ["$timestamp"]}, 18],
          "$in": [{"$weekday": ["$timestamp"]}, 5, 6]}""")))),

    "q_date_tz" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$eq": [{"$hour": ["$timestamp", "Europe/Berlin"]}, 9]}""")))),

    "q_xor_nin" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$xor": [{"&value": {"$gt": 250}}, {"&user_id": {"$lt": 20}}],
          "$nin": ["&type", "signup", "error"]}""")))),

    "q_arith2" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$lt": [{"$abs": [{"$sub": ["&value", 200]}]}, 60],
          "$eq": [{"$div_num": [{"$cast": ["&user_id", "int"]}, 10]}, 3]}""")))),

    "q_date2" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$and": [
           {"$lt": [{"$minute": ["$timestamp"]}, 15]},
           {"$gte": [{"$second": ["$timestamp"]}, 30]},
           {"$lte": [{"$day": ["$timestamp"]}, 10]},
           {"$eq": [{"$month": ["$timestamp"]}, 1]},
           {"$eq": [{"$year": ["$timestamp"]}, 2024]}
         ]}""")))),

    "q_string2" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"&props": {"$ends_with": "7}"}}""")))),

    "q_cast_exists" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$exists": ["value", "type"], "$gte": [{"$cast": ["&value", "int"]}, 190]}""")))),

    "q_each_n" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"&type": {"$eq": "click"}, "$each_n": 5}""")))),

    "q_limit" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"&type": {"$eq": "view"}, "$limit": 20}""")))),

    "q_ctx_before" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"#ctx_before": 2, "&value": {"$gt": 195}}""")))),

    "q_ctx_after_dur" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"#ctx_after": "1h", "&value": {"$gt": 195}}""")))),

    "q_entries_glob" -> ((s, dir) => q(s, dir, QuerySpec(
      entries = Some(Seq("events/*", "!events/error", "!events/signup"))))),

    "q_select_labels" -> ((s, dir) =>
      QueryEngine.query(events(s, dir), QuerySpec(when = Some(
        """{"#select_labels": ["event_id", "value"], "&type": {"$eq": "purchase"}}""")))
        .select(
          element_at(col("labels"), "event_id").cast("bigint").as("event_id"),
          element_at(col("labels"), "value").as("value_str"),
          size(map_keys(col("labels"))).cast("bigint").as("n_labels"))
        .orderBy("event_id")),

    "q_count" -> ((s, dir) => {
      val n = QueryEngine.count(events(s, dir), QuerySpec(
        start = Some(T0), stop = Some(T7),
        when = Some("""{"&value": {"$gt": 100}}""")))
      session(s).range(1).select(lit(n).as("cnt"))
    }),

    "q_remove_survivors" -> ((s, dir) => {
      val (survivors, _) = QueryEngine.remove(events(s, dir),
        QuerySpec(when = Some("""{"$each_n": 2}""")))
      survivors
        .select(element_at(col("labels"), "event_id").cast("bigint").as("event_id"))
        .orderBy("event_id")
    }),

    // sequential-state operators (oracle: state machines unrolled as
    // DuckDB recursive CTEs)
    "q_each_t" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$each_t": "6h"}""")))),

    "q_gate" -> ((s, dir) => q(s, dir, QuerySpec(when = Some(
      """{"$gate": ["12h", {"&value": {"$gt": 150}}]}""")))),

    // ----------------------------------------------- pipeline: dedup
    "q_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(docs(s, dir))
        .select(col("digest"), col("keep_id"), col("dup_count"))
        .orderBy("keep_id")),

    "q_minhash_pairs" -> ((s, dir) => // oracle: md5-derived hashes + slice-valued LSH buckets
      Dedup.minhashPairs(docs(s, dir), threshold = 0.3).orderBy("a", "b")),

    "q_simhash_pairs" -> ((s, dir) => // oracle: md5-derived 60-bit simhash
      Dedup.simhashPairs(docs(s, dir), maxHamming = 8)
        .select(col("a"), col("b"), col("hamming").cast("bigint").as("hamming"))
        .orderBy("a", "b")),

    "q_jaccard_pairs" -> ((s, dir) =>
      Dedup.groupedJaccardPairs(docs(s, dir), "source", threshold = 0.1)
        .orderBy("id_a", "id_b")),

    // oversized-group fallback: one corpus-wide group far over the bound
    // → minhash-blocked candidates instead of a silent whole-group drop.
    // threshold 0.95 ≈ near-identical token sets: the tiny generator
    // vocabulary makes token-set similarity dense, and the gate compare
    // should stay tens of thousands of rows, not millions
    "q_jaccard_capped" -> ((s, dir) =>
      Dedup.groupedJaccardPairs(docs(s, dir).withColumn("all", lit(0)),
          "all", threshold = 0.95, maxGroupSize = 100)
        .orderBy("id_a", "id_b")),

    "q_dup_clusters" -> ((s, dir) => { // components over the minhash pairs
      val d = docs(s, dir)
      Dedup.dupClusters(d, Dedup.minhashPairs(d, threshold = 0.3))
        .orderBy("doc_id")
    }),

    // paragraph-level boilerplate removal: two boilerplate paragraphs are
    // planted from doc_id (mod-4 → corpus-wide, removed; mod-100 → rare,
    // kept below the occurrence threshold); the oracle re-derives the
    // same text, counts, and kept-paragraph digest
    "q_par_dedup" -> ((s, dir) => {
      val planted = docs(s, dir).withColumn("par_text", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          lit("\n\nsubscribe to our newsletter for updates")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(100)) === 0,
          lit("\n\nfollow us on social media")).otherwise(lit(""))))
      Dedup.paragraphDedup(planted, maxOccurrences = 10, textCol = "par_text")
        .orderBy("doc_id")
    }),

    // retrieval-index build: posting lists digested per term; the tight
    // 31-word corpus vocabulary makes nearly every term a hot key, so the
    // 100-posting truncation path is exercised corpus-wide
    "q_inverted_index" -> ((s, dir) =>
      TextAnalysis.invertedIndex(docs(s, dir), maxPostings = 100)
        .orderBy("term")),

    // concatenate-and-chop sequence packing over the document token
    // stream (budget 512): placement is the exclusive token prefix sum,
    // computed by a distributed two-phase scan, never a global window
    "q_seq_pack" -> ((s, dir) => {
      val counted = docs(s, dir).select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("bigint").as("n_tokens"))
      Packing.packSequences(counted, budget = 512)
        .select(col("doc_id"), col("n_tokens"), col("start"),
          col("pack_id"), col("offset"))
        .orderBy("doc_id")
    }),

    // deterministic ordered-shard export: shard = global-rank bucket on
    // (n_chars, doc_id) — two-phase rank, no global-order window
    "q_ordered_shards" -> ((s, dir) =>
      Packing.orderedShardsExact(
          docs(s, dir).select(col("doc_id"), col("n_chars")),
          "n_chars", "doc_id", nShards = 8)
        .orderBy("doc_id")),

    // benchmark decontamination: src0 is the held-out eval corpus, every
    // other doc is scored by shingle overlap against it
    "q_decontaminate" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.decontaminate(d.filter(col("source") =!= "src0"),
          d.filter(col("source") === "src0"), threshold = 0.1)
        .orderBy("doc_id")
    }),

    // cross-snapshot dedup: the mod-5 doc slice stands in for the
    // previous dump, everything else is the incoming crawl; the
    // generator's planted copy-an-earlier-doc dups exercise the exact
    // path, the dense synthetic vocabulary the overlap path
    "q_incremental_dedup" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.incrementalDedup(d.filter(pmod(col("doc_id"), lit(5)) =!= 0),
          d.filter(pmod(col("doc_id"), lit(5)) === 0), threshold = 0.5)
        .orderBy("doc_id")
    }),

    // corpus-self duplicated-ngram-fraction quality signal
    "q_dup_ngram_frac" -> ((s, dir) =>
      Dedup.duplicatedNgramFraction(docs(s, dir)).orderBy("doc_id")),

    // Lee et al. exact-substring span removal: strip tokens covered by
    // any 4-gram occurring >= 2 times corpus-wide, emit cleaned text
    "q_span_removal" -> ((s, dir) =>
      Dedup.removeDuplicatedSpans(docs(s, dir), k = 4).orderBy("doc_id")),

    // Dolma-style within-document line dedup (map-only)
    "q_line_dedup" -> ((s, dir) =>
      Dedup.lineDedupWithinDoc(docs(s, dir)).orderBy("doc_id")),

    // source-level gating: per-source corpus-wide exact-dup fraction
    "q_source_dup_rate" -> ((s, dir) =>
      Dedup.sourceDupRate(docs(s, dir), maxDupRate = 0.01).orderBy("source")),

    // ----------------------------------------------- pipeline: sampling
    // mixture blend: srcN at weight (N % 4) + 1 → weight-4 sources pass
    // whole, weight-1 sources keep ~25%, integer-exact keep boundary
    "q_weighted_mix" -> ((s, dir) =>
      Sampling.weightedMix(docs(s, dir),
          (0 until 20).map(n => s"src$n" -> ((n % 4) + 1).toLong).toMap)
        .select(col("doc_id"), col("source"))
        .orderBy("doc_id")),

    // deterministic 8/1/1 train/val/test assignment, integer-exact cuts
    "q_split_assign" -> ((s, dir) =>
      Sampling.assignSplits(docs(s, dir),
          Seq("train" -> 8L, "val" -> 1L, "test" -> 1L))
        .select(col("doc_id"), col("split"))
        .orderBy("doc_id")),

    "q_sample_rate" -> ((s, dir) =>
      Sampling.sampleByRate(docs(s, dir), rate = 0.2)
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")),

    "q_sample_stratified" -> ((s, dir) =>
      Sampling.stratifiedExactK(docs(s, dir), "lang", k = 5)
        .select(col("doc_id"), col("lang"), col("rank"))
        .orderBy("lang", "rank")),

    // mixture building: per-lang token budgets filled in hash order;
    // the oracle re-derives the exclusive running sums
    "q_token_budget" -> ((s, dir) => {
      val counted = docs(s, dir).withColumn("n_tokens",
        TextAnalysis.tokenCount(col("text")).cast("bigint"))
      Sampling.byTokenBudget(counted, "lang", "n_tokens", budget = 2000)
        .select(col("doc_id"), col("lang"), col("n_tokens"),
          col("cum_tokens"))
        .orderBy("lang", "cum_tokens")
    }),

    // domain-cap sampling: planted URLs (7 hosts) → host extraction →
    // exact-k per host, the C4-style anti-domination cap; the oracle
    // re-derives host and the md5-order ranks
    "q_domain_cap" -> ((s, dir) => {
      val withHost = docs(s, dir)
        .withColumn("url", concat(lit("https://H"),
          pmod(col("doc_id"), lit(7)).cast("string"),
          lit(".Example.com/p/"), col("doc_id").cast("string")))
        .withColumn("host", TextAnalysis.urlHost(col("url")))
      Sampling.stratifiedExactK(withHost, "host", k = 40)
        .select(col("doc_id"), col("host"), col("rank"))
        .orderBy("host", "rank")
    }),

    // ----------------------------------------------- pipeline: text
    "q_text_quality" -> ((s, dir) =>
      TextAnalysis.withQuality(docs(s, dir))
        .select(col("doc_id"), col("n_tokens").cast("bigint").as("n_tokens"),
          col("mean_word_len"), col("stopword_ratio"), col("punct_ratio"))
        .orderBy("doc_id")),

    "q_lang_guess" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.langGuess(col("text")).as("lang_guess"))
        .orderBy("doc_id")),

    "q_repetition" -> ((s, dir) =>
      TextAnalysis.withRepetition(docs(s, dir))
        .select(col("doc_id"), col("n_tokens"), col("top_word_ratio"),
          col("dup_2gram_ratio"), col("dup_3gram_ratio"),
          col("frac_distinct_words"))
        .orderBy("doc_id")),

    // HTML extraction: each doc is wrapped in a deterministic page
    // skeleton (script/style noise, comments, entities planted from
    // doc_id) and must come back as exactly the original text
    "q_html_extract" -> ((s, dir) => {
      val page = concat(
        lit("<html><head><script>var x = 1 < 2;</script>"),
        lit("<style>body { color: red; }</style></head><body><p>"),
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("</p><p>tail &amp; entities &lt;kept&gt;")).otherwise(lit("")),
        lit("</p><!-- trailing comment --></body></html>"))
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.htmlToText(page).as("extracted"))
        .select(col("doc_id"), md5(col("extracted")).as("text_md5"),
          length(col("extracted")).cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    }),

    // Gopher-rule corpus admission: keep/drop + comma-joined failed-rule
    // reasons, all decided on the oracle-pinned rounded signal columns
    "q_quality_filter" -> ((s, dir) =>
      TextAnalysis.qualityFilter(docs(s, dir))
        .select(col("doc_id"), col("keep"), col("reasons"),
          col("n_tokens"), col("top_word_ratio"))
        .orderBy("doc_id")),

    // PII occurrences are planted deterministically from doc_id (the
    // synthetic corpus contains none) — the same derivation runs in the
    // oracle, so scrub counts and the scrubbed text are fully checked.
    // mod-7 plants parenthesized + international phone shapes; mod-11
    // plants an SSN plus octet-invalid IPs that must NOT be redacted.
    "q_pii_scrub" -> ((s, dir) => {
      val serial = (pmod(col("doc_id"), lit(9000)) + 1000).cast("string")
      val planted = docs(s, dir).withColumn("pii_text", concat(
        col("text"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit(" mail user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(5)) === 0,
          concat(lit(" host 10.0."), pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7 tel 555-010-"), serial))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(7)) === 0,
          concat(lit(" call (555) 010-"), serial,
            lit(" or +1 555 010 "), serial))
          .otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11)) === 0,
          concat(lit(" ssn 123-45-"), serial, lit(" from 999.300.1.2")))
          .otherwise(lit(""))))
      TextAnalysis.scrubPii(planted, "pii_text")
        .select(col("doc_id"), col("n_emails"), col("n_ips"), col("n_ssns"),
          col("n_phones"), md5(col("scrubbed")).as("scrub_md5"))
        .orderBy("doc_id")
    }),

    "q_token_stats" -> ((s, dir) =>
      docs(s, dir).groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(TextAnalysis.tokenCount(col("text")).cast("bigint")).as("total_tokens"),
          round(avg(col("n_chars").cast("double")), 6).as("avg_chars"))
        .orderBy("lang")),

    "q_fingerprint" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy("doc_id")),

    "q_bpe_tokens" -> ((s, dir) =>
      docs(s, dir)
        .select(col("doc_id"),
          TextAnalysis.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy("doc_id")),

    "q_tfidf" -> ((s, dir) => // rank is engine-stable; see tfidfTopTerms
      TextAnalysis.tfidfTopTerms(docs(s, dir), k = 3)
        .orderBy("doc_id", "rank")),

    "q_chunks" -> ((s, dir) =>
      TextAnalysis.chunkByTokens(docs(s, dir), chunkSize = 32, stride = 16)
        .orderBy("doc_id", "chunk_id")),

    // --------------------------------------------- #ext pipeline (§2.7)
    "q_ext_pipeline" -> ((s, dir) => {
      // json_extract produces @k from the payload; the next step's strict
      // when gates on the computed ref; payload_stats adds @size
      // (ext_repository.rs:129-220 pipeline semantics)
      val when =
        """{"#ext": [
             {"json_extract": {"fields": ["k"]}},
             {"payload_stats": {}, "when": {"$gte": [{"$cast": ["@k", "int"]}, 50]}}
           ]}"""
      QueryEngine.query(events(s, dir), QuerySpec(when = Some(when)))
        .select(
          element_at(col("labels"), "event_id").cast("bigint").as("event_id"),
          col("entry"), col("ts"),
          element_at(col("computed_labels"), "k").cast("bigint").as("k"),
          element_at(col("computed_labels"), "size").cast("bigint").as("payload_size"))
        .orderBy("event_id")
    }),

    // ----------------------------------------------- pipeline: similarity
    "q_ann_brute" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.bruteForceTopK(emb, queriesDf, 10)
        .select(col("qid"), col("nid"), col("rank").cast("bigint").as("rank"),
          col("sim"))
        .orderBy("qid", "rank")
    }),

    // contrastive hard negatives: top-k nearest with a DIFFERENT label
    "q_hard_negatives" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val anchors = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"),
          col("label").as("qlabel"))
      Similarity.hardNegatives(emb, anchors, 10)
        .select(col("qid"), col("nid"),
          col("neg_label").cast("bigint").as("neg_label"),
          col("rank").cast("bigint").as("rank"), col("sim"))
        .orderBy("qid", "rank")
    }),

    "q_lsh_ann" -> ((s, dir) => { // oracle: md5-derived hyperplanes
      val emb = embeddings(s, dir)
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.lshTopK(emb, queriesDf, 10)
        .select(col("qid"), col("nid"), col("rank").cast("bigint").as("rank"),
          col("sim"))
        .orderBy("qid", "rank")
    }),

    "q_ivf_ann" -> ((s, dir) => { // oracle: unrefined md5-seeded centroids
      val emb = embeddings(s, dir)
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, queriesDf, 10, refine = false)
        .select(col("qid"), col("nid"), col("rank").cast("bigint").as("rank"),
          col("sim"))
        .orderBy("qid", "rank")
    }),

    "q_ivf_refined" -> ((s, dir) => { // oracle: sorted-fold Lloyd step
      val emb = embeddings(s, dir)
      val queriesDf = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.ivfTopK(emb, queriesDf, 10, refine = true)
        .select(col("qid"), col("nid"), col("rank").cast("bigint").as("rank"),
          col("sim"))
        .orderBy("qid", "rank")
    }),

    "q_embed_dup" -> ((s, dir) =>
      Similarity.cosineDupPairsByGroup(embeddings(s, dir), "label",
          threshold = 0.3).orderBy("id_a", "id_b")),

    "q_embed_lsh_dup" -> ((s, dir) => // oracle: md5-derived hyperplanes
      Similarity.embeddingDupPairs(embeddings(s, dir), threshold = 0.2)
        .orderBy("id_a", "id_b")),

    // connected components over the cosine near-dup graph: the embedding
    // analog of q_dup_clusters — semantic-duplicate groups for keep-one
    // selection (pair set already proven engine-identical by q_embed_dup)
    "q_embed_clusters" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val pairs = Similarity.cosineDupPairsByGroup(emb, "label",
          threshold = 0.3)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      Dedup.dupClusters(emb, pairs, idCol = "vec_id").orderBy("vec_id")
    }),

    // L2 normalization summary (unit vectors for dot-only ANN scoring)
    "q_embed_norm" -> ((s, dir) =>
      Similarity.normalizeEmbeddings(embeddings(s, dir))
        .select(col("vec_id"), col("norm"), col("zero_vec"),
          array_min(col("embedding")).as("nrm_min"),
          array_max(col("embedding")).as("nrm_max"))
        .orderBy("vec_id")),

    // symmetric int8 quantization summary (4x smaller candidate scans)
    "q_embed_quant" -> ((s, dir) =>
      Similarity.quantizeInt8(embeddings(s, dir))
        .select(col("vec_id"), col("scale"),
          array_min(col("qvec")).as("q_min"),
          array_max(col("qvec")).as("q_max"),
          aggregate(col("qvec"), lit(0L), (a, x) => a + x).as("q_sum"))
        .orderBy("vec_id")),

    // int8-scan + full-precision-refine ANN (refine = 3k)
    "q_quantized_ann" -> ((s, dir) => {
      val emb = embeddings(s, dir)
      val queries = emb.filter(col("vec_id") < 5)
        .select(col("vec_id").as("qid"), col("embedding").as("qvec"))
      Similarity.quantizedTopK(emb, queries, k = 5, refine = 15)
        .orderBy("qid", "rank")
    }),

    // SemDeDup semantic dedup: md5-seeded nearest-centroid clustering,
    // within-cluster cosine pairs at 0.9, min-id retention → keep flag
    "q_semantic_dedup" -> ((s, dir) =>
      Similarity.semanticDedup(embeddings(s, dir), threshold = 0.9)
        .orderBy("vec_id")),

    // OOV rate vs the corpus' own top-20 vocabulary (31-word generator
    // vocab → a real in/out split at the deterministic tie-broken cut)
    "q_oov_rate" -> ((s, dir) =>
      TextAnalysis.oovRate(docs(s, dir), topK = 20).orderBy("doc_id")),

    // CCNet-style quality: corpus-self-trained bigram LM perplexity
    "q_lm_perplexity" -> ((s, dir) =>
      TextAnalysis.lmPerplexity(docs(s, dir)).orderBy("doc_id")),

    // Gopher-style trim at corpus-derived [p5, p95] token-count quantiles
    "q_length_trim" -> ((s, dir) =>
      TextAnalysis.lengthTrim(docs(s, dir)).orderBy("doc_id")),

    // keep-BEST dedup: one survivor per minhash duplicate cluster, the
    // highest-quality member (n_chars here), not an arbitrary copy
    "q_cluster_keep" -> ((s, dir) => {
      val d = docs(s, dir)
      Dedup.clusterKeep(d, Dedup.minhashPairs(d, threshold = 0.3),
          col("n_chars"))
        .orderBy("doc_id")
    }),

    // URL canonicalization + exact dedup: synthesized crawl URLs (mixed
    // case, www, default port, utm params, fragment) normalize to one
    // canonical form per (host, path) — raw-string grouping would keep
    // every tracking-link variant
    "q_url_dedup" -> ((s, dir) => {
      val d = docs(s, dir).withColumn("url",
        concat(lit("HTTPS://WWW.Src"), pmod(col("doc_id"), lit(20)),
          lit(".Example.COM:443/docs/"), pmod(col("doc_id"), lit(500)),
          lit("?id="), pmod(col("doc_id"), lit(500)),
          lit("&utm_source=s"), col("doc_id"), lit("#f")))
      TextAnalysis.urlDedup(d, col("url"), "doc_id").orderBy("doc_id")
    }),

    // ----------------------------------------------- time-series analytics
    // 30-min-gap sessionization; one shuffle on user_id
    "q_sessionize" -> ((s, dir) =>
      TimeSeries.sessionize(table(s, dir, "events"), 1800000000L)
        .orderBy("user_id", "session_idx")),

    // as-of join: each purchase picks up the latest strictly-earlier
    // click value of the same user — single interleaved window scan
    "q_asof_join" -> ((s, dir) =>
      TimeSeries.asofJoin(table(s, dir, "events"), "click", "purchase")
        .orderBy("event_id")),

    // two-table as-of join, STRICT, forced through the chunked LOCF
    // lowering (1-hour chunks) so the oracle gates the scale-shape plan
    "q_asof_tables" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val tsUs = Records.eventTsUs(ev)
      val l = ev.where(col("event_type") === "click")
        .select(col("user_id"), tsUs.as("ts"), col("value"))
      val r = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), tsUs.as("ts"))
      TimeSeries.asofJoinTables(l, r, "user_id", "ts", "value",
          strict = true, chunkUs = 3600000000L, naiveMaxRows = 0)
        .orderBy("user_id", "ts")
    }),

    // same join INCLUSIVE, adaptive default (naive interleaved window at
    // this scale) — the strict/inclusive matrix gates both branches
    "q_asof_tables_incl" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val tsUs = Records.eventTsUs(ev)
      val l = ev.where(col("event_type") === "click")
        .select(col("user_id"), tsUs.as("ts"), col("value"))
      val r = ev.where(col("event_type") === "purchase")
        .select(col("user_id"), tsUs.as("ts"))
      TimeSeries.asofJoinTables(l, r, "user_id", "ts", "value",
          strict = false)
        .orderBy("user_id", "ts")
    }),

    // tumbling 1-hour rollup per event type (partial-agg downsample)
    "q_rollup_hour" -> ((s, dir) =>
      TimeSeries.tumblingRollup(table(s, dir, "events"), 3600000000L)
        .orderBy("event_type", "bucket_ts")),

    // 15-min regular-grid downsample with forward fill
    "q_gap_fill" -> ((s, dir) =>
      TimeSeries.gapFill(table(s, dir, "events"), 900000000L)
        .orderBy("event_type", "tick")),

    // 3-sigma deviation flags per event type (decimal-moment formula)
    "q_anomaly" -> ((s, dir) =>
      TimeSeries.anomalies(table(s, dir, "events"), 3.0)
        .orderBy("event_id")),

    // trailing 1-hour moving count/mean per event type (RANGE window)
    "q_moving_avg" -> ((s, dir) =>
      TimeSeries.movingAggregate(table(s, dir, "events"), 3600000000L)
        .orderBy("event_id")),

    // consecutive-event value rate (per second) per event type
    "q_derivative" -> ((s, dir) =>
      TimeSeries.derivative(table(s, dir, "events"))
        .orderBy("event_id")),

    // purchases paired with same-user clicks within ±6 h — the
    // bucketed equi-join lowering of a range θ-join
    "q_interval_join" -> ((s, dir) =>
      TimeSeries.intervalJoin(table(s, dir, "events"),
          "purchase", "click", 21600000000L, 21600000000L)
        .orderBy("l_id", "r_id")),

    // daily × event-type count matrix (static pivot column list)
    "q_pivot_daily" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val tsUs = Records.eventTsUs(ev)
      Analytics.pivotCounts(
          ev.select((tsUs - pmod(tsUs, lit(86400000000L))).as("day"),
            col("event_type")),
          "day", "event_type",
          Seq("click", "view", "purchase", "signup", "error"))
        .orderBy("day")
    }),

    // snapshot diff: old drops the mod-7 slice (→ added), new drops the
    // mod-5 slice (→ removed) and perturbs the mod-11 slice (→ changed)
    "q_snapshot_diff" -> ((s, dir) => {
      val d = docs(s, dir)
      val old = d.filter(pmod(col("doc_id"), lit(7)) =!= 0)
      val nw = d.filter(pmod(col("doc_id"), lit(5)) =!= 0)
        .withColumn("text",
          when(pmod(col("doc_id"), lit(11)) === 0,
            concat(col("text"), lit(" v2"))).otherwise(col("text")))
      Analytics.snapshotDiff(old, nw, "doc_id", Seq("text", "source"))
        .orderBy("doc_id")
    }),

    // hourly OHLC bars per event type (first/high/low/last value)
    "q_ohlc" -> ((s, dir) =>
      TimeSeries.ohlcBars(table(s, dir, "events"), 3600000000L)
        .orderBy("event_type", "bucket_ts")),

    // ordered click → view → purchase funnel per user
    "q_funnel" -> ((s, dir) =>
      TimeSeries.funnel(table(s, dir, "events"),
          Seq("click", "view", "purchase"))
        .orderBy("user_id")),

    // daily cohort retention matrix (first-seen day × day offset)
    "q_cohort" -> ((s, dir) =>
      TimeSeries.cohortRetention(table(s, dir, "events"), 86400000000L)
        .orderBy("cohort", "offset")),

    // ----------------------------------------------- analytics: general
    // top-3 longest docs per source (window row_number)
    "q_topk_source" -> ((s, dir) =>
      Analytics.topKPerGroup(docs(s, dir), "source", "n_chars", "doc_id", 3)
        .select(col("doc_id"), col("source"), col("n_chars"), col("rank"))
        .orderBy("source", "rank")),

    // hierarchical rollup (grouping sets) on lineitem
    "q_rollup_lineitem" -> ((s, dir) =>
      Analytics.rollupSum(table(s, dir, "lineitem"),
          "l_returnflag", "l_linestatus", "l_quantity")
        .orderBy("l_returnflag", "l_linestatus")),

    // exact interpolated p50/p90/p99 of doc length per source
    "q_quantiles" -> ((s, dir) =>
      Analytics.quantilesPerGroup(docs(s, dir), "source", "n_chars",
          Seq(0.5, 0.9, 0.99))
        .orderBy("source")),

    // per-source top-5 terms via the bounded-memory SpaceSaving sketch
    // (capacity 1024 ≥ realized vocab ⇒ counts exact, err = 0 — the
    // contract the oracle checks; SketchesSpec covers the lossy regime)
    "q_heavy_hitters" -> ((s, dir) =>
      Sketches.heavyHittersPerGroupArr(
          docs(s, dir).select(col("source"),
            TextAnalysis.terms(col("text")).as("terms")),
          "source", col("terms"), capacity = 1024, k = 5)
        .select(col("source"), col("term"), col("count").as("cnt"),
          col("rank"))
        .orderBy("source", "rank")),

    // top-20 PMI collocations (adjacent-token pairs, integer-exact rank key)
    "q_pmi_bigrams" -> ((s, dir) =>
      TextAnalysis.pmiBigrams(docs(s, dir), minCount = 5, k = 20)
        .orderBy("rank")),

    // BM25 top-10 docs for a fixed bag-of-terms query
    "q_bm25" -> ((s, dir) =>
      TextAnalysis.bm25TopDocs(docs(s, dir),
          Seq("spark", "join", "window"), k = 10)
        .orderBy("rank")),

    // per-source dataset card (volume, language spread, exact-dup mass)
    "q_dataset_card" -> ((s, dir) =>
      Analytics.datasetCard(docs(s, dir)).orderBy("source")),

    // CDC merge: a deterministic changelog (delete mod-7, upsert mod-5
    // with latest-wins over the deletes, insert new ids for mod-13)
    // applied to the documents snapshot
    "q_cdc_apply" -> ((s, dir) => {
      val base = docs(s, dir)
      val dels = base.filter(pmod(col("doc_id"), lit(7)) === 0)
        .select(col("doc_id"), lit(1L).as("seq"), lit("delete").as("op"),
          col("text"), col("lang"), col("source"), col("n_chars"))
      val ups = base.filter(pmod(col("doc_id"), lit(5)) === 0)
        .select(col("doc_id"), lit(2L).as("seq"), lit("upsert").as("op"),
          concat(col("text"), lit(" v2")).as("text"), col("lang"),
          col("source"), (col("n_chars") + 3).as("n_chars"))
      val ins = base.filter(pmod(col("doc_id"), lit(13)) === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          lit(1L).as("seq"), lit("upsert").as("op"), col("text"),
          col("lang"), lit("srcNew").as("source"), col("n_chars"))
      Analytics.applyChanges(base,
          dels.unionByName(ups).unionByName(ins), "doc_id", "seq", "op")
        .select(col("doc_id"), md5(col("text")).as("text_md5"),
          col("source"), col("n_chars").cast("bigint").as("n_chars"))
        .orderBy("doc_id")
    }),

    // full Count-Min matrix (4×64, md5-hex slots) over the corpus's
    // tokens — every cell oracle-checked, proving the mergeable sketch
    // is bit-reproducible in any engine
    "q_countmin" -> ((s, dir) => {
      val agg = org.apache.spark.sql.functions.udaf(
        new Sketches.CountMinAgg(4, 64),
        org.apache.spark.sql.Encoders.STRING)
      docs(s, dir)
        .select(explode(TextAnalysis.terms(col("text"))).as("term"))
        .agg(agg(col("term")).as("m"))
        .select(posexplode(col("m")))
        .select(expr("pos DIV 64").cast("bigint").as("r"),
          pmod(col("pos"), lit(64)).cast("bigint").as("slot"),
          col("col").as("cnt"))
        .orderBy("r", "slot")
    }),

    // Z-order key assignment over (doc_id, n_chars) on an 8-bit grid —
    // the data-skipping layout key, oracle-checked bit-for-bit
    "q_zorder_key" -> ((s, dir) =>
      graft.pipeline.Layout.withZValue(docs(s, dir), "doc_id", "n_chars",
          bits = 8, "z")
        .select(col("doc_id"), col("n_chars"), col("z"))
        .orderBy("doc_id")),

    // trailing 7-day distinct users per day (sliding WAU, exact)
    "q_wau_sliding" -> ((s, dir) =>
      TimeSeries.slidingActiveUsers(table(s, dir, "events"),
          86400000000L, nPeriods = 7)
        .orderBy("window_end")),

    // per-type least-squares value trend (slope per second, intercept)
    "q_trend_slope" -> ((s, dir) =>
      TimeSeries.trendSlope(table(s, dir, "events"))
        .orderBy("event_type")),

    // robust (median/MAD) anomaly flags — the 50%-breakdown variant of
    // the 3σ q_anomaly
    "q_mad_anomaly" -> ((s, dir) =>
      TimeSeries.madAnomalies(table(s, dir, "events"), k = 5.0)
        .orderBy("event_id")),

    // pairwise source-vocabulary Jaccard (corpus redundancy matrix)
    "q_source_overlap" -> ((s, dir) =>
      TextAnalysis.sourceOverlap(docs(s, dir)).orderBy("src_a", "src_b")),

    // 20-bin value histogram per event type over the global range
    "q_value_histogram" -> ((s, dir) =>
      Analytics.histogram(table(s, dir, "events"), "event_type", "value",
          bins = 20)
        .orderBy("event_type", "bin")),

    // one-pass column profile of the documents dump
    "q_profile_docs" -> ((s, dir) =>
      Analytics.profile(docs(s, dir),
          Seq("doc_id", "text", "lang", "source", "n_chars"))
        .orderBy("col_name")),

    // unicode normalization over deterministically-dirtied text (NBSP/
    // ZWSP/control/ideographic-space planting both engines reproduce)
    "q_normalize_text" -> ((s, dir) => {
      val dirty = concat(lit("\u00A0\u200B "), col("text"), lit("  \t"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          lit("\u0007x\u3000y")).otherwise(lit("")))
      docs(s, dir).select(col("doc_id"),
          md5(TextAnalysis.normalizeText(dirty)).as("norm_md5"),
          length(TextAnalysis.normalizeText(dirty)).cast("bigint")
            .as("norm_len"))
        .orderBy("doc_id")
    }),

    // per-source percentile normalization of the length signal
    "q_percentile_norm" -> ((s, dir) =>
      TextAnalysis.percentileNormalize(docs(s, dir), "source", "n_chars",
          "doc_id")
        .select(col("doc_id"), col("source"), col("n_chars"),
          col("norm_score"))
        .orderBy("doc_id")),

    // skew-salted self-enrichment: every event joined to its type's
    // global stats over (type, salt) — the 5-hot-key join spread across
    // 8 sub-partitions per key; result provably identical to the plain
    // join
    "q_salted_join" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      val stats = ev.groupBy(col("event_type").as("t"))
        .agg(count(lit(1)).as("type_n"),
          round(sum(col("value").cast("decimal(38,6)")).cast("double")
            / count(lit(1)), 6).as("type_avg"))
      Analytics.saltedJoin(ev, stats, "event_type", "t", salts = 8)
        .select(col("event_id"), col("event_type"), col("type_n"),
          col("type_avg"))
        .orderBy("event_id")
    }),

    // daily active users (exact distinct; HLL++ swap-in documented)
    "q_active_users" -> ((s, dir) =>
      TimeSeries.activeUsers(table(s, dir, "events"), 86400000000L)
        .orderBy("period_ts")),

    // Bloom-pruned fact⋈dim join: lineitem pre-filtered map-side by a
    // Bloom of the top-price orders before the exact equi-join (false
    // positives die in the join ⇒ result identical to the plain join)
    "q_bloom_join" -> ((s, dir) =>
      Analytics.bloomPrunedJoin(
          table(s, dir, "lineitem"),
          table(s, dir, "orders").filter(col("o_totalprice") > 480000.0),
          "l_orderkey", "o_orderkey", expectedItems = 100000L)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_lines"),
          round(sum(col("l_extendedprice").cast("decimal(20,4)")), 2)
            .cast("double").as("total_price"))
        .orderBy("o_orderpriority")),

    // ----------------------------------------------- pipeline: multimodal
    "q_multimodal" -> ((s, dir) => { // opaque payloads: hash-fallback path
      val ev = events(s, dir)
      Multimodal.extractFeatures(ev)
        .select(
          element_at(col("labels"), "event_id").cast("bigint").as("event_id"),
          col("features.width"), col("features.height"),
          col("features.byte_size"))
        .orderBy("event_id")
    }),

    // Same hash-fallback feature path over the documents table — keeps
    // multimodal oracle coverage even if the events schema shifts again
    // (the q_multimodal events variant was collateral damage of the r9
    // events-ts refresh; this one has no events dependency)
    "q_multimodal_docs" -> ((s, dir) => {
      // pin-spread first: the docs scan is one small file (one input
      // partition), so an unpartitioned map would decode single-task
      val d = graft.core.Partitioning.pinned(
          docs(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      Multimodal.extractFeatures(d)
        .select(col("doc_id"),
          col("features.width"), col("features.height"),
          col("features.byte_size"))
        .orderBy("doc_id")
    }),

    // Real ImageIO decode: payloads synthesized per doc (PNG / BMP /
    // opaque text by doc_id mod 3) run through the real decoder; the
    // oracle predicts the decoded dimensions from doc_id arithmetic
    // alone, so a wrong decode (or a fallback firing where a codec
    // should have claimed the bytes) hash-mismatches. The synth UDF is
    // test-harness payload generation, not the operator under test.
    "q_multimodal_decode" -> ((s, dir) => {
      val payload = udf((id: Long, text: String) => (id % 3) match {
        case 0 => Multimodal.synthImage("png",
          (8 + id % 24).toInt, (8 + (id / 5) % 24).toInt)
        case 1 => Multimodal.synthImage("bmp",
          (8 + id % 24).toInt, (8 + (id / 5) % 24).toInt)
        case _ => text.getBytes("UTF-8")
      })
      val d = graft.core.Partitioning.pinned( // single-file scan: spread
          docs(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), payload(col("doc_id"), col("text")).as("payload"))
      Multimodal.extractFeatures(d)
        .select(col("doc_id"),
          col("features.decode_ok").as("decode_ok"),
          when(col("features.decode_ok"), col("features.width")).as("width"),
          when(col("features.decode_ok"), col("features.height")).as("height"),
          when(col("features.decode_ok"), col("features.channels")).as("channels"))
        .orderBy("doc_id")
    }),

    // Real resize: synthesized PNGs (dims ≥ 20) are downscaled to
    // maxDim 16 via the decode-ONCE staged kernel (one ImageIO decode
    // feeds both the Graphics2D downscale and the features struct) —
    // the oracle predicts the output dims with the same integer
    // arithmetic
    "q_multimodal_resize" -> ((s, dir) => {
      val payload = udf((id: Long) => Multimodal.synthImage("png",
        (20 + id % 40).toInt, (20 + (id / 7) % 40).toInt))
      val d = graft.core.Partitioning.pinned( // single-file scan: spread
          docs(s, dir).select(col("doc_id")), col("doc_id"))
        .select(col("doc_id"), payload(col("doc_id")).as("payload"))
      Multimodal.resizeFeatures(d, maxDim = 16)
        .select(col("doc_id"),
          col("features.decode_ok").as("decode_ok"),
          col("features.width"), col("features.height"),
          col("features.channels"))
        .orderBy("doc_id")
    }),

    // Real audio decode: WAV payloads synthesized per doc (mod-5 docs get
    // opaque text) run through javax.sound.sampled; the oracle predicts
    // rate/channels/frames from doc_id arithmetic
    "q_multimodal_audio" -> ((s, dir) => {
      val rates = Array(8000, 16000, 44100)
      val payload = udf((id: Long, text: String) =>
        if (id % 5 == 4) text.getBytes("UTF-8")
        else Multimodal.synthWav(rates((id % 3).toInt),
          1 + (id % 2).toInt, 100 + (id % 500).toInt))
      val d = graft.core.Partitioning.pinned( // single-file scan: spread
          docs(s, dir).select(col("doc_id"), col("text")), col("doc_id"))
        .select(col("doc_id"), payload(col("doc_id"), col("text")).as("payload"))
      Multimodal.extractAudio(d)
        .select(col("doc_id"),
          col("audio.decode_ok").as("decode_ok"),
          col("audio.sample_rate"), col("audio.channels"),
          col("audio.bits"), col("audio.n_frames"))
        .orderBy("doc_id")
    }),

    // ----------------------------------------------- analytics (bench)
    // decimal sums ROUND to scale 2 before the double cast: a wide-scale
    // decimal's unscaled value can exceed 2^53, where DuckDB's two-step
    // int→double→divide conversion double-rounds while Java's BigDecimal
    // is correctly rounded (one real sf0.1 group differed by 1e-6);
    // at scale 2 the unscaled value fits a double exactly on both sides
    "q_lineitem_agg" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity").cast("decimal(20,4)")), 2)
            .cast("double").as("sum_qty"),
          round(sum(col("l_extendedprice").cast("decimal(20,4)")), 2)
            .cast("double").as("sum_base_price"),
          round(sum(col("l_extendedprice").cast("decimal(20,4)") *
            (lit(java.math.BigDecimal.ONE).cast("decimal(20,4)") -
              col("l_discount").cast("decimal(20,4)"))), 2)
            .cast("double").as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    "q_orders_join" -> ((s, dir) => {
      val orders = table(s, dir, "orders")
      val customer = table(s, dir, "customer")
      orders.join(broadcast(customer),
          col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice").cast("decimal(20,4)")), 2)
            .cast("double").as("total_price"))
        .orderBy("c_mktsegment")
    }))

  /** DuckDB twin of [[Dedup.minhashPairs]] (threshold 0.3) as a CTE chain
    * ending in `mh_pairs(a, b, jaccard)` — shared by q_minhash_pairs,
    * q_dup_clusters, and q_cluster_keep. Candidacy is the BUCKET JOIN the
    * engine runs — (band, 4-slice) groups under the [2, 1000] hot-bucket
    * cap — not an all-pairs scan with the band test in WHERE: the
    * nested-loop form is O(n²) row pairs (1.25B at sf1 — hours in
    * DuckDB) and silently omits the cap the engine applies. Plain
    * (non-interpolated) string: the regexes keep their backslashes. */
  /** 3-shingle md5-60 hash lists per document (the [[graft.pipeline.Dedup.shingleHashes]]
    * twin) — shared by the cross-snapshot and duplicated-ngram oracles. */
  private val shingle3Cte =
    """hs3 AS (
             SELECT doc_id AS id,
               CASE WHEN trim(text) = '' THEN []::BIGINT[]
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN
                   [('0x' || substring(md5(array_to_string(
                      regexp_split_to_array(trim(text), '\s+'), ' ')), 1, 15))::BIGINT]
                 ELSE list_sort(list_distinct(list_transform(
                   range(len(regexp_split_to_array(trim(text), '\s+')) - 2), i ->
                     ('0x' || substring(md5(array_to_string(
                        regexp_split_to_array(trim(text), '\s+')[i+1:i+3], ' ')),
                        1, 15))::BIGINT)))
               END AS h
             FROM documents)"""

  private val minhashCtes =
    """consts AS (
             SELECT
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:a:' || j), 1, 15))::BIGINT
                   % 2147483646 + 1) AS pa,
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:b:' || j), 1, 15))::BIGINT
                   % 2147483647) AS pb),
           hs AS (
             SELECT doc_id AS id,
               CASE WHEN trim(text) = '' THEN []::BIGINT[]
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN
                   [('0x' || substring(md5(array_to_string(
                      regexp_split_to_array(trim(text), '\s+'), ' ')), 1, 15))::BIGINT]
                 ELSE list_sort(list_distinct(list_transform(
                   range(len(regexp_split_to_array(trim(text), '\s+')) - 2), i ->
                     ('0x' || substring(md5(array_to_string(
                        regexp_split_to_array(trim(text), '\s+')[i+1:i+3], ' ')),
                        1, 15))::BIGINT)))
               END AS h
             FROM documents),
           sigs AS (
             SELECT id, h,
               list_transform(range(64), j ->
                 list_min(list_transform(h, x ->
                   (pa[j+1] * (x % 2147483647) + pb[j+1]) % 2147483647))) AS sig
             FROM hs, consts WHERE len(h) > 0),
           banded AS (
             SELECT id, bb AS band, sig[bb*4+1:bb*4+4] AS bucket
             FROM sigs, unnest(range(16)) AS t(bb)),
           okb AS (
             SELECT band, bucket FROM banded
             GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 1000),
           mh_cand AS (
             SELECT DISTINCT a.id AS a, b.id AS b
             FROM okb
             JOIN banded a ON a.band = okb.band AND a.bucket = okb.bucket
             JOIN banded b ON b.band = okb.band AND b.bucket = okb.bucket
             WHERE a.id < b.id),
           mh_pairs AS (
             SELECT c.a, c.b,
               round(CAST(len(list_intersect(ha.h, hb.h)) AS DOUBLE) /
                 (len(ha.h) + len(hb.h) - len(list_intersect(ha.h, hb.h))), 6)
                 AS jaccard
             FROM mh_cand c
             JOIN sigs ha ON ha.id = c.a
             JOIN sigs hb ON hb.id = c.b
             WHERE CAST(len(list_intersect(ha.h, hb.h)) AS DOUBLE) /
               (len(ha.h) + len(hb.h) - len(list_intersect(ha.h, hb.h))) >= 0.3)"""

  /** Z-order oracle, GENERATED for the same bit count the query uses —
    * the interleave is 2·bits parenthesized shift/mask terms OR'd
    * together, mechanical in any SQL dialect. */
  private val zorderKeyOracle: String = {
    val bits = 8
    def scaled(v: String, lo: String, hi: String) =
      s"least(255, CAST(floor((CAST($v AS DOUBLE) - $lo) / ($hi - $lo) * 256) AS BIGINT))"
    val terms = (0 until bits).flatMap(i => Seq(
      s"(((sa >> $i) & 1) << ${2 * i})",
      s"(((sb >> $i) & 1) << ${2 * i + 1})"))
    s"""WITH mm AS (
         SELECT CAST(min(doc_id) AS DOUBLE) AS loA,
                CAST(max(doc_id) AS DOUBLE) AS hiA,
                CAST(min(n_chars) AS DOUBLE) AS loB,
                CAST(max(n_chars) AS DOUBLE) AS hiB
         FROM documents),
       s AS (
         SELECT doc_id, n_chars,
           ${scaled("doc_id", "loA", "hiA")} AS sa,
           ${scaled("n_chars", "loB", "hiB")} AS sb
         FROM documents, mm)
       SELECT doc_id, n_chars,
         CAST(${terms.mkString(" | ")} AS BIGINT) AS z
       FROM s ORDER BY doc_id"""
  }

  def oracleSql: Map[String, String] = {
    val evCols = "event_id, 'events/' || event_type AS entry, epoch_us(ts) AS ts"
    // the exact Long threshold the Scala side computes — interpolated so
    // both engines compare against the identical integer
    val rateThreshold = (0.2 * (1L << 60).toDouble).toLong
    Map(
      "q_time_range" ->
        s"""SELECT $evCols FROM events
            WHERE epoch_us(ts) >= $T0 AND epoch_us(ts) < $T7
            ORDER BY event_id""",

      "q_cmp" ->
        s"""SELECT $evCols FROM events
            WHERE value > 100 AND user_id <= 7 AND event_type <> 'error'
            ORDER BY event_id""",

      "q_logic" ->
        s"""SELECT $evCols FROM events
            WHERE (event_type IN ('click','view')
                   OR (value < 10 AND event_type = 'purchase'))
              AND NOT (user_id = 3)
            ORDER BY event_id""",

      "q_arith" ->
        s"""SELECT $evCols FROM events
            WHERE value * 2 + user_id > 500
              AND value / 3 < 90
              AND user_id % 2 = 1
            ORDER BY event_id""",

      "q_string" ->
        s"""SELECT $evCols FROM events
            WHERE starts_with(props, '{"k"') AND contains(props, '7')
            ORDER BY event_id""",

      "q_date" ->
        s"""SELECT $evCols FROM events
            WHERE hour(ts) >= 6 AND hour(ts) <= 18 AND (isodow(ts) - 1) IN (5, 6)
            ORDER BY event_id""",

      "q_date_tz" -> // data spans January only: Berlin is a fixed UTC+1
        s"""SELECT $evCols FROM events
            WHERE hour(ts + INTERVAL 1 HOUR) = 9
            ORDER BY event_id""",

      "q_xor_nin" ->
        s"""SELECT $evCols FROM events
            WHERE ((CASE WHEN value > 250 THEN 1 ELSE 0 END +
                    CASE WHEN user_id < 20 THEN 1 ELSE 0 END) = 1)
              AND event_type NOT IN ('signup', 'error')
            ORDER BY event_id""",

      "q_arith2" ->
        s"""SELECT $evCols FROM events
            WHERE abs(value - 200) < 60
              AND (user_id - user_id %% 10) / 10 = 3
            ORDER BY event_id""".replace("%%", "%"),

      "q_date2" ->
        s"""SELECT $evCols FROM events
            WHERE minute(ts) < 15 AND second(ts) >= 30
              AND day(ts) <= 10 AND month(ts) = 1 AND year(ts) = 2024
            ORDER BY event_id""",

      "q_string2" ->
        s"""SELECT $evCols FROM events
            WHERE ends_with(props, '7}') ORDER BY event_id""",

      "q_cast_exists" ->
        s"""SELECT $evCols FROM events
            WHERE CAST(trunc(value) AS BIGINT) >= 190
            ORDER BY event_id""",

      "q_each_n" ->
        s"""SELECT $evCols FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY epoch_us(ts)) AS rn
              FROM events WHERE event_type = 'click') t
            WHERE rn % 5 = 0 ORDER BY event_id""",

      "q_limit" ->
        s"""SELECT $evCols FROM (
              SELECT *, row_number() OVER (PARTITION BY event_type
                ORDER BY epoch_us(ts)) AS rn
              FROM events WHERE event_type = 'view') t
            WHERE rn <= 20 ORDER BY event_id""",

      "q_ctx_before" ->
        s"""SELECT $evCols FROM (
              SELECT *, max(CASE WHEN value > 195 THEN 1 ELSE 0 END)
                OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                      ROWS BETWEEN CURRENT ROW AND 2 FOLLOWING) AS e
              FROM events) t
            WHERE e = 1 ORDER BY event_id""",

      "q_ctx_after_dur" ->
        s"""SELECT $evCols FROM (
              SELECT *, max(CASE WHEN value > 195 THEN 1 ELSE 0 END)
                OVER (PARTITION BY event_type ORDER BY epoch_us(ts)
                      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS e
              FROM events) t
            WHERE e = 1 ORDER BY event_id""",

      "q_entries_glob" ->
        s"""SELECT $evCols FROM events
            WHERE event_type NOT IN ('error', 'signup')
            ORDER BY event_id""",

      "q_select_labels" ->
        """SELECT event_id, CAST(value AS VARCHAR) AS value_str,
                  CAST(2 AS BIGINT) AS n_labels
           FROM events WHERE event_type = 'purchase' ORDER BY event_id""",

      "q_count" ->
        s"""SELECT CAST(count(*) AS BIGINT) AS cnt FROM events
            WHERE epoch_us(ts) >= $T0 AND epoch_us(ts) < $T7 AND value > 100""",

      "q_remove_survivors" ->
        """SELECT event_id FROM (
             SELECT event_id, row_number() OVER (PARTITION BY event_type
               ORDER BY epoch_us(ts)) AS rn
             FROM events) t
           WHERE rn % 2 <> 0 ORDER BY event_id""",

      // $each_t debounce (StateMachines.eachT): first record anchors
      // without emitting; emit when ts - anchor >= 6h, then re-anchor.
      // Recursion JUMPS per EMIT (next emit = first row with tsu >=
      // anchor + T via LATERAL), not per row — the row-wise unroll is
      // O(rows) recursive iterations, which DuckDB cannot finish at sf1
      // (1M events); proven row-for-row equal to the row-wise CTE at
      // sf0.01 AND sf0.1 (round 16)
      "q_each_t" ->
        """WITH RECURSIVE n AS (
             SELECT 'events/' || event_type AS entry, event_id,
               epoch_us(ts) AS tsu
             FROM events),
           r(entry, anchor, eid) AS (
             SELECT entry, min(tsu), NULL::BIGINT FROM n GROUP BY entry
             UNION ALL
             SELECT r.entry, e.tsu, e.event_id
             FROM r, LATERAL (
               SELECT n.tsu, n.event_id FROM n
               WHERE n.entry = r.entry AND n.tsu >= r.anchor + 21600000000
               ORDER BY n.tsu, n.event_id LIMIT 1) e)
           SELECT eid AS event_id, entry, anchor AS ts FROM r
           WHERE eid IS NOT NULL ORDER BY event_id""",

      // $gate edge-triggered window (StateMachines.gate), dur = 12h,
      // input = value > 150. The observable machine: a rising edge
      // (inp, prev row not inp) while the gate is CLOSED opens a window
      // [a, a+dur) — inp rows inside EMIT (the edge row included); the
      // first row with tsu >= a+dur closes the gate without emitting
      // (and never re-opens it itself: the crossing branch outranks the
      // edge branch; the machine's reset latch rr is observationally
      // redundant — the row after an inp crossing row can never be an
      // edge, its prev input is true). Recursion JUMPS per ACTIVATION
      // via LATERAL (crossing row → next edge), not per row: the
      // row-wise unroll cannot finish at sf1; proven row-for-row equal
      // to the row-wise CTE at sf0.01 AND sf0.1 (round 16)
      "q_gate" ->
        """WITH RECURSIVE n AS (
             SELECT 'events/' || event_type AS entry, event_id,
               epoch_us(ts) AS tsu, value > 150 AS inp,
               coalesce(lag(value > 150) OVER (PARTITION BY event_type
                 ORDER BY epoch_us(ts)), false) AS pinp,
               row_number() OVER (PARTITION BY event_type
                 ORDER BY epoch_us(ts)) AS rn
             FROM events),
           act(entry, atsu) AS (
             SELECT entry, min(tsu) FROM n WHERE inp AND NOT pinp GROUP BY entry
             UNION ALL
             SELECT act.entry, nx.tsu
             FROM act, LATERAL (
               SELECT c.rn FROM n c
               WHERE c.entry = act.entry AND c.tsu >= act.atsu + 43200000000
               ORDER BY c.rn LIMIT 1) cr,
             LATERAL (
               SELECT n2.tsu FROM n n2
               WHERE n2.entry = act.entry AND n2.rn > cr.rn
                 AND n2.inp AND NOT n2.pinp
               ORDER BY n2.rn LIMIT 1) nx)
           SELECT n.event_id, n.entry, n.tsu AS ts
           FROM n JOIN act ON n.entry = act.entry
           WHERE n.inp AND n.tsu >= act.atsu
             AND n.tsu < act.atsu + 43200000000
           ORDER BY event_id""",

      "q_dedup_exact" ->
        """SELECT md5(text) AS digest, min(doc_id) AS keep_id,
                  CAST(count(*) AS BIGINT) AS dup_count
           FROM documents GROUP BY md5(text) ORDER BY keep_id""",

      // BOTH adaptive branches, so the oracle gates whichever the data
      // routes to (sf1 flips every 2500-doc source group to the
      // fallback): groups within the 1000-doc bound take the exact
      // all-pairs path (capped = false); bigger groups are minhash-
      // blocked PER GROUP over md5-60 token hashes — candidacy = sharing
      // one of 8 (band, 8-slice) buckets within the [2, 200] hot-bucket
      // cap — then exact-Jaccard-verified (capped = true), mirroring
      // groupedJaccardPairs' big0 branch (Dedup.scala)
      "q_jaccard_pairs" ->
        """WITH consts AS (
             SELECT
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:a:' || j), 1, 15))::BIGINT
                   % 2147483646 + 1) AS pa,
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:b:' || j), 1, 15))::BIGINT
                   % 2147483647) AS pb),
           d0 AS (
             SELECT source, doc_id AS id,
               list_sort(list_distinct(list_transform(
                 regexp_split_to_array(trim(text), '\s+'),
                 t -> ('0x' || substring(md5(t), 1, 15))::BIGINT))) AS h
             FROM documents),
           gs AS (SELECT source, count(*) AS n FROM d0 GROUP BY source),
           small AS (SELECT d0.* FROM d0 JOIN gs USING (source) WHERE gs.n <= 1000),
           exact AS (
             SELECT a.id AS id_a, b.id AS id_b,
               round(CAST(len(list_intersect(a.h, b.h)) AS DOUBLE) /
                 (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))), 6)
                 AS jaccard,
               false AS capped
             FROM small a JOIN small b
               ON a.source = b.source AND a.id < b.id
             WHERE CAST(len(list_intersect(a.h, b.h)) AS DOUBLE) /
               (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 0.1),
           big AS (SELECT d0.* FROM d0 JOIN gs USING (source)
                   WHERE gs.n > 1000 AND len(h) > 0),
           sigs AS (
             SELECT source, id, h,
               list_transform(range(64), j ->
                 list_min(list_transform(h, x ->
                   (pa[j+1] * (x % 2147483647) + pb[j+1]) % 2147483647))) AS sig
             FROM big, consts),
           banded AS (
             SELECT source, id, b AS band, sig[b*8+1:b*8+8] AS bucket
             FROM sigs, unnest(range(8)) AS t(b)),
           ok_buckets AS (
             SELECT source, band, bucket FROM banded
             GROUP BY 1, 2, 3 HAVING count(*) BETWEEN 2 AND 200),
           cand AS (
             SELECT DISTINCT a.id AS ia, b.id AS ib
             FROM ok_buckets ob
             JOIN banded a ON a.source = ob.source AND a.band = ob.band
               AND a.bucket = ob.bucket
             JOIN banded b ON b.source = ob.source AND b.band = ob.band
               AND b.bucket = ob.bucket
             WHERE a.id < b.id),
           blocked AS (
             SELECT ia AS id_a, ib AS id_b,
               round(CAST(len(list_intersect(ta.h, tb.h)) AS DOUBLE) /
                 (len(ta.h) + len(tb.h) - len(list_intersect(ta.h, tb.h))), 6)
                 AS jaccard,
               true AS capped
             FROM cand JOIN big ta ON ta.id = ia JOIN big tb ON tb.id = ib
             WHERE CAST(len(list_intersect(ta.h, tb.h)) AS DOUBLE) /
               (len(ta.h) + len(tb.h) - len(list_intersect(ta.h, tb.h))) >= 0.1)
           SELECT * FROM exact UNION ALL SELECT * FROM blocked
           ORDER BY id_a, id_b""",

      // oversized-group fallback: the single corpus-wide group (> 100
      // docs) is minhash-blocked over md5-60 per-token hashes — candidacy
      // = sharing one of the fallback's 8 (band, 8-slice) buckets whose
      // size is within the enforced [2, 200] hot-bucket cap (mirrored
      // exactly: the degenerate vocabulary overflows the cap with the
      // identical-token-set crowd, and the engine drops those buckets) —
      // then verified with the exact token-set Jaccard >= 0.95;
      // capped = true
      "q_jaccard_capped" ->
        """WITH consts AS (
             SELECT
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:a:' || j), 1, 15))::BIGINT
                   % 2147483646 + 1) AS pa,
               list_transform(range(64), j ->
                 ('0x' || substring(md5('graft:minhash:b:' || j), 1, 15))::BIGINT
                   % 2147483647) AS pb),
           tok AS (
             SELECT doc_id AS id,
               list_sort(list_distinct(list_transform(
                 regexp_split_to_array(trim(text), '\s+'),
                 t -> ('0x' || substring(md5(t), 1, 15))::BIGINT))) AS h
             FROM documents WHERE trim(text) <> ''),
           sigs AS (
             SELECT id, h,
               list_transform(range(64), j ->
                 list_min(list_transform(h, x ->
                   (pa[j+1] * (x % 2147483647) + pb[j+1]) % 2147483647))) AS sig
             FROM tok, consts),
           banded AS (
             SELECT id, b AS band, sig[b*8+1:b*8+8] AS bucket
             FROM sigs, unnest(range(8)) AS t(b)),
           ok_buckets AS (
             SELECT band, bucket FROM banded
             GROUP BY 1, 2 HAVING count(*) BETWEEN 2 AND 200),
           cand AS (
             SELECT DISTINCT a.id AS ia, b.id AS ib
             FROM ok_buckets ob
             JOIN banded a ON a.band = ob.band AND a.bucket = ob.bucket
             JOIN banded b ON b.band = ob.band AND b.bucket = ob.bucket
             WHERE a.id < b.id)
           SELECT ia AS id_a, ib AS id_b,
             round(CAST(len(list_intersect(ta.h, tb.h)) AS DOUBLE) /
               (len(ta.h) + len(tb.h) - len(list_intersect(ta.h, tb.h))), 6)
               AS jaccard,
             true AS capped
           FROM cand JOIN tok ta ON ta.id = ia JOIN tok tb ON tb.id = ib
           WHERE CAST(len(list_intersect(ta.h, tb.h)) AS DOUBLE) /
               (len(ta.h) + len(tb.h) - len(list_intersect(ta.h, tb.h))) >= 0.95
           ORDER BY id_a, id_b""",

      // MinHash near-dup: every stage is md5-reproducible — 60-bit shingle
      // hashes, md5-derived permutation constants, LSH candidacy = equality
      // of a 4-long signature slice in any of 16 bands, then exact
      // hashed-shingle Jaccard >= 0.3
      "q_minhash_pairs" ->
        ("WITH " + minhashCtes + " SELECT * FROM mh_pairs ORDER BY a, b"),

      // connected components over the minhash pair graph: min reachable
      // doc id per node via a recursive walk (UNION dedups visited
      // states, so it terminates on cycles)
      "q_dup_clusters" ->
        ("WITH RECURSIVE " + minhashCtes + """,
           edges AS (
             SELECT a, b FROM mh_pairs
             UNION ALL SELECT b AS a, a AS b FROM mh_pairs),
           walk(id, lbl) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.lbl)
           SELECT id AS doc_id, min(lbl) AS cluster_id,
             (id = min(lbl)) AS canonical
           FROM walk GROUP BY id ORDER BY doc_id"""),

      // keep-best retention over the same minhash cluster walk: highest
      // n_chars survives per cluster, doc_id ascending tie-break
      "q_cluster_keep" ->
        ("WITH RECURSIVE " + minhashCtes + """,
           edges AS (
             SELECT a, b FROM mh_pairs
             UNION ALL SELECT b AS a, a AS b FROM mh_pairs),
           walk(id, lbl) AS (
             SELECT doc_id, doc_id FROM documents
             UNION
             SELECT w.id, e.b FROM walk w JOIN edges e ON e.a = w.lbl),
           cl AS (SELECT id AS doc_id, min(lbl) AS cluster_id
                  FROM walk GROUP BY id)
           SELECT d.doc_id, cl.cluster_id,
             CAST(d.n_chars AS DOUBLE) AS quality,
             (row_number() OVER (PARTITION BY cl.cluster_id
                ORDER BY CAST(d.n_chars AS DOUBLE) DESC, d.doc_id ASC) = 1)
               AS keep
           FROM documents d JOIN cl USING (doc_id) ORDER BY d.doc_id"""),

      "q_url_dedup" ->
        """WITH u AS (SELECT doc_id,
             'HTTPS://WWW.Src' || (doc_id % 20) || '.Example.COM:443/docs/'
               || (doc_id % 500) || '?id=' || (doc_id % 500)
               || '&utm_source=s' || doc_id || '#f' AS url
             FROM documents),
           parts AS (SELECT doc_id, url,
             lower(regexp_extract(url,
               '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             lower(regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host0,
             regexp_extract(url,
               '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]+([^#]*)', 1) AS rest0
             FROM u),
           n AS (SELECT doc_id,
             CASE WHEN scheme = '' OR host0 = '' THEN lower(url)
               ELSE scheme || '://' ||
                 (CASE WHEN scheme = 'http' THEN
                    regexp_replace(regexp_replace(host0, '^www\.', ''),
                      ':80$', '')
                  WHEN scheme = 'https' THEN
                    regexp_replace(regexp_replace(host0, '^www\.', ''),
                      ':443$', '')
                  ELSE regexp_replace(host0, '^www\.', '') END) ||
                 regexp_replace(regexp_replace(
                   regexp_replace(rest0,
                     '(?i)utm_[A-Za-z0-9_]*(=[^&#]*)?&?', '', 'g'),
                   '[?&]$', ''), '\?&', '?')
             END AS url_norm
             FROM parts)
           SELECT doc_id, url_norm,
             (row_number() OVER (PARTITION BY url_norm ORDER BY doc_id) = 1)
               AS keep
           FROM n ORDER BY doc_id""",

      // paragraph-level boilerplate removal: corpus-wide paragraph
      // occurrence counts; >= 10 occurrences → removed from every doc;
      // kept paragraphs rejoined in document order and digested
      "q_par_dedup" ->
        """WITH p AS (
             SELECT doc_id, text ||
               CASE WHEN doc_id % 4 = 0 THEN chr(10) || chr(10) ||
                 'subscribe to our newsletter for updates' ELSE '' END ||
               CASE WHEN doc_id % 100 = 0 THEN chr(10) || chr(10) ||
                 'follow us on social media' ELSE '' END AS t
             FROM documents),
           paras AS (
             SELECT doc_id, unnest(range(len(arr))) AS idx,
               unnest(arr) AS para
             FROM (SELECT doc_id, regexp_split_to_array(t, '\n{2,}') AS arr
                   FROM p)),
           np AS (SELECT * FROM paras WHERE para <> ''),
           cnt AS (SELECT md5(para) AS h, count(*) AS occ
                   FROM np GROUP BY 1),
           j AS (SELECT np.*, cnt.occ FROM np
                 JOIN cnt ON md5(np.para) = cnt.h)
           SELECT doc_id,
             CAST(count(*) AS BIGINT) AS n_paragraphs,
             CAST(sum(CASE WHEN occ >= 10 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_removed,
             md5(coalesce(string_agg(CASE WHEN occ < 10 THEN para END,
               chr(10) || chr(10) ORDER BY idx), '')) AS kept_md5
           FROM j GROUP BY doc_id ORDER BY doc_id""",

      // inverted index: per-term df/total_tf over distinct (term, doc)
      // pairs; postings digest = md5 of the FIRST 100 doc ids ascending
      "q_inverted_index" ->
        """WITH toks AS (
             SELECT doc_id, lower(u) AS term
             FROM (SELECT doc_id,
                     unnest(list_filter(
                       regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
                       x -> x <> '')) AS u
                   FROM documents)),
           td AS (SELECT term, doc_id, count(*) AS tf
                  FROM toks GROUP BY 1, 2),
           fa AS (SELECT term, CAST(count(*) AS BIGINT) AS df,
                    CAST(sum(tf) AS BIGINT) AS total_tf
                  FROM td GROUP BY term),
           ranked AS (SELECT term, doc_id,
                        row_number() OVER (PARTITION BY term
                          ORDER BY doc_id) AS rn
                      FROM td),
           digest AS (SELECT term,
                        md5(string_agg(CAST(doc_id AS VARCHAR), ','
                          ORDER BY doc_id)) AS postings_md5
                      FROM ranked WHERE rn <= 100 GROUP BY term)
           SELECT fa.term, fa.df, fa.total_tf, fa.df > 100 AS truncated,
             digest.postings_md5
           FROM fa JOIN digest ON fa.term = digest.term
           ORDER BY fa.term""",

      // concatenate-and-chop packing: exclusive token prefix sum in
      // doc_id order; pack = integer division by the 512-token budget
      "q_seq_pack" ->
        """WITH d AS (
             SELECT doc_id,
               CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS BIGINT) AS n_tokens
             FROM documents),
           s AS (
             SELECT doc_id, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS "start"
             FROM d)
           SELECT doc_id, n_tokens, "start",
             CAST("start" // 512 AS BIGINT) AS pack_id,
             CAST("start" % 512 AS BIGINT) AS offset
           FROM s ORDER BY doc_id""",

      // deterministic ordered shards: shard = ((rank-1)·8) div N on the
      // (n_chars, doc_id) global rank — a pure function of the data
      "q_ordered_shards" ->
        """WITH t AS (SELECT doc_id, n_chars,
             row_number() OVER (ORDER BY n_chars, doc_id) AS rank,
             count(*) OVER () AS n
           FROM documents)
           SELECT doc_id, n_chars, CAST(rank AS BIGINT) AS rank,
             CAST(((rank - 1) * 8) // n AS BIGINT) AS shard
           FROM t ORDER BY doc_id""",

      // benchmark decontamination: shingle-overlap of every non-src0 doc
      // against the distinct src0 shingle set (same md5-60 shingles as
      // minhash; list_intersect of distinct lists == matched count)
      "q_decontaminate" ->
        """WITH hs AS (
             SELECT doc_id AS id, source,
               CASE WHEN trim(text) = '' THEN []::BIGINT[]
                 WHEN len(regexp_split_to_array(trim(text), '\s+')) < 3 THEN
                   [('0x' || substring(md5(array_to_string(
                      regexp_split_to_array(trim(text), '\s+'), ' ')), 1, 15))::BIGINT]
                 ELSE list_sort(list_distinct(list_transform(
                   range(len(regexp_split_to_array(trim(text), '\s+')) - 2), i ->
                     ('0x' || substring(md5(array_to_string(
                        regexp_split_to_array(trim(text), '\s+')[i+1:i+3], ' ')),
                        1, 15))::BIGINT)))
               END AS h
             FROM documents),
           bench AS (
             SELECT list(DISTINCT x) AS bl
             FROM (SELECT unnest(h) AS x FROM hs WHERE source = 'src0') t)
           SELECT id AS doc_id,
             CAST(len(h) AS BIGINT) AS ngrams,
             CAST(len(list_intersect(h, bl)) AS BIGINT) AS matched,
             round(CAST(len(list_intersect(h, bl)) AS DOUBLE) / len(h), 6)
               AS overlap,
             (CAST(len(list_intersect(h, bl)) AS DOUBLE) / len(h)) >= 0.1
               AS contaminated
           FROM hs, bench WHERE source <> 'src0' AND len(h) > 0
           ORDER BY doc_id""",

      // cross-snapshot dedup: digest membership + shingle overlap of the
      // incoming slice (doc_id % 5 <> 0) against the previous-dump slice
      "q_incremental_dedup" ->
        ("""WITH """ + shingle3Cte + """,
           prevsh AS (
             SELECT list(DISTINCT x) AS bl
             FROM (SELECT unnest(h) AS x FROM hs3 WHERE id % 5 = 0) t),
           prevdg AS (
             SELECT DISTINCT md5(text) AS dg FROM documents
             WHERE doc_id % 5 = 0)
           SELECT hs3.id AS doc_id,
             (md5(d.text) IN (SELECT dg FROM prevdg)) AS exact_dup,
             CAST(len(hs3.h) AS BIGINT) AS ngrams,
             CAST(len(list_intersect(hs3.h, prevsh.bl)) AS BIGINT) AS matched,
             round(CASE WHEN len(hs3.h) > 0 THEN
               CAST(len(list_intersect(hs3.h, prevsh.bl)) AS DOUBLE)
                 / len(hs3.h) ELSE 0 END, 6) AS overlap,
             (NOT (md5(d.text) IN (SELECT dg FROM prevdg)) AND
              CASE WHEN len(hs3.h) > 0 THEN
                CAST(len(list_intersect(hs3.h, prevsh.bl)) AS DOUBLE)
                  / len(hs3.h) ELSE 0 END < 0.5) AS keep
           FROM hs3 JOIN documents d ON d.doc_id = hs3.id, prevsh
           WHERE hs3.id % 5 <> 0
           ORDER BY doc_id"""),

      // duplicated-ngram fraction: corpus-wide containing-doc count per
      // distinct shingle (lists are distinct per doc, so count(*) = docs)
      "q_dup_ngram_frac" ->
        ("""WITH """ + shingle3Cte + """,
           e AS (SELECT id, unnest(h) AS x FROM hs3),
           c AS (SELECT x, count(*) AS nd FROM e GROUP BY x)
           SELECT e.id AS doc_id, CAST(count(*) AS BIGINT) AS ngrams,
             CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS shared,
             round(CAST(sum(CASE WHEN c.nd >= 2 THEN 1 ELSE 0 END)
               AS DOUBLE) / count(*), 6) AS dup_fraction
           FROM e JOIN c ON e.x = c.x
           GROUP BY e.id ORDER BY doc_id"""),

      // span removal: POSITIONAL 4-gram hashes (every occurrence counts,
      // unlike the distinct shingle sets above); tokens covered by a
      // gram seen >= 2x anywhere are stripped; DuckDB list lambda
      // indexes are 1-based hence the i-1
      "q_span_removal" ->
        """WITH t AS (SELECT doc_id AS id,
             CASE WHEN trim(text) = '' THEN []::VARCHAR[]
               ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             FROM documents),
           g AS (SELECT id, i AS pos,
               ('0x' || substring(md5(array_to_string(
                  toks[i+1:i+4], ' ')), 1, 15))::BIGINT AS h
             FROM t, unnest(range(greatest(len(toks) - 3, 0))) AS u(i)),
           c AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2),
           cov AS (SELECT g.id, list_sort(list_distinct(flatten(
               list(range(pos, pos + 4))))) AS cv
             FROM g JOIN c USING (h) GROUP BY g.id)
           SELECT t.id AS doc_id, CAST(len(toks) AS BIGINT) AS tokens,
             CAST(coalesce(len(cv), 0) AS BIGINT) AS removed,
             coalesce(array_to_string(list_filter(toks, (x, i) ->
               cv IS NULL OR NOT list_contains(cv, i - 1)), ' '), '')
               AS kept_text
           FROM t LEFT JOIN cov ON t.id = cov.id ORDER BY doc_id""",

      // within-doc line dedup: first occurrence of each distinct nonempty
      // line survives, in order; DuckDB list lambdas are 1-based
      "q_line_dedup" ->
        """WITH t AS (SELECT doc_id,
             list_filter(split(text, chr(10)), x -> x <> '') AS ls
             FROM documents),
           k AS (SELECT doc_id, ls,
             list_filter(ls, (x, i) -> list_position(ls, x) = i) AS kept
             FROM t)
           SELECT doc_id, CAST(len(ls) AS BIGINT) AS lines,
             CAST(len(ls) - len(kept) AS BIGINT) AS removed,
             coalesce(array_to_string(kept, chr(10)), '') AS kept_text
           FROM k ORDER BY doc_id""",

      // per-source duplication rate: digest occurs >1 corpus-wide →
      // every carrying doc counts as duplicated for its source
      "q_source_dup_rate" ->
        """WITH d AS (SELECT source, md5(text) AS digest FROM documents),
           c AS (SELECT digest, count(*) AS occ FROM d GROUP BY digest)
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_docs,
             round(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::DOUBLE
               / count(*), 6) AS dup_rate,
             (sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END)::DOUBLE
               / count(*)) <= 0.01 AS keep
           FROM d JOIN c USING (digest) GROUP BY source ORDER BY source""",

      // weighted mix: integer-exact keep boundary — 30-bit hash slice
      // times max-weight vs weight << 30, no doubles anywhere
      "q_weighted_mix" ->
        """SELECT doc_id, source FROM documents
           WHERE ((('0x' || substring(md5('graft:mix:' ||
               CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT >> 30) * 4)
             < ((CAST(substring(source, 4) AS BIGINT) % 4 + 1) << 30)
           ORDER BY doc_id""",

      // SimHash near-dup: 60-bit md5 token-hash bit votes; candidacy =
      // sharing any of the four 16-bit fingerprint chunks; hamming <= 8
      // pair candidacy = sharing a 16-bit block, EMITTED only from the
      // first shared block, and only when that block's bucket is within
      // the [2, 1000] hot-bucket cap (simhashPairs drops over-cap
      // buckets by scale design; a pair whose FIRST shared block is
      // over-cap is dropped even if a later shared block is small —
      // the later block's emission guard rejects non-first blocks).
      // sf1's dense fp distribution is where the cap first binds.
      "q_simhash_pairs" ->
        """WITH f AS (
             SELECT doc_id AS id,
               CASE WHEN trim(text) = '' THEN 0 ELSE
                 CAST(list_sum(list_transform(range(60), b ->
                   CASE WHEN 2 * len(list_filter(
                       list_transform(regexp_split_to_array(trim(text), '\s+'), t ->
                         ('0x' || substring(md5(t), 1, 15))::BIGINT),
                       x -> (x >> b) & 1 = 1))
                     - len(regexp_split_to_array(trim(text), '\s+')) > 0
                   THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT)
               END AS fp
             FROM documents),
           bcount AS (
             SELECT c AS block, (fp >> (c*16)) & 65535 AS key, count(*) AS n
             FROM f, unnest(range(4)) t(c)
             GROUP BY 1, 2),
           cand AS (
             SELECT a.id AS ia, b.id AS ib,
               CAST(bit_count(xor(a.fp, b.fp)) AS BIGINT) AS hamming,
               list_min(list_filter(range(4), c ->
                 ((a.fp >> (c*16)) & 65535) = ((b.fp >> (c*16)) & 65535))) AS fb,
               a.fp AS afp
             FROM f a JOIN f b ON a.id < b.id
             WHERE len(list_filter(range(4), c ->
                 ((a.fp >> (c*16)) & 65535) = ((b.fp >> (c*16)) & 65535))) > 0
               AND bit_count(xor(a.fp, b.fp)) <= 8)
           SELECT ia AS a, ib AS b, hamming
           FROM cand
           JOIN bcount ON bcount.block = cand.fb
             AND bcount.key = ((cand.afp >> (cand.fb*16)) & 65535)
           WHERE bcount.n BETWEEN 2 AND 1000
           ORDER BY a, b""",

      "q_text_quality" ->
        """SELECT doc_id,
             CAST(CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS BIGINT)
               AS n_tokens,
             round(CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g')) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\s+')) END, 6)
               AS mean_word_len,
             round(CASE WHEN trim(text) = '' THEN 0.0
               ELSE CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ('the','a','of','and','to','in','is','it'))) AS DOUBLE)
                 / len(regexp_split_to_array(trim(text), '\s+')) END, 6)
               AS stopword_ratio,
             round(CASE WHEN length(text) = 0 THEN 0.0
               ELSE CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
                 AS DOUBLE) / length(text) END, 6) AS punct_ratio
           FROM documents ORDER BY doc_id""",

      "q_lang_guess" ->
        """WITH s AS (
             SELECT doc_id,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ('the','and','of','is'))) AS en,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ('el','la','de','y'))) AS es,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ('der','die','und','das'))) AS de,
               len(list_filter(regexp_split_to_array(trim(text), '\s+'),
                 t -> t IN ('le','et','les','dans'))) AS fr
             FROM documents)
           SELECT doc_id,
             CASE WHEN en >= es AND en >= de AND en >= fr THEN 'en'
                  WHEN es >= de AND es >= fr THEN 'es'
                  WHEN de >= fr THEN 'de'
                  ELSE 'fr' END AS lang_guess
           FROM s ORDER BY doc_id""",

      "q_repetition" ->
        """WITH toks AS (
             SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                 ELSE regexp_split_to_array(trim(text), '\s+') END AS w
             FROM documents),
           g AS (
             SELECT doc_id, w, len(w) AS n,
               CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                 ELSE list_transform(range(len(w) - 1), i ->
                   w[i+1] || ' ' || w[i+2]) END AS g2,
               CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                 ELSE list_transform(range(len(w) - 2), i ->
                   w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) END AS g3
             FROM toks)
           SELECT doc_id,
             CAST(n AS BIGINT) AS n_tokens,
             round(CASE WHEN n = 0 THEN 0.0 ELSE
               CAST(list_max(list_transform(list_distinct(w), x ->
                 len(list_filter(w, y -> y = x)))) AS DOUBLE) / n END, 6)
               AS top_word_ratio,
             round(CASE WHEN len(g2) = 0 THEN 0.0 ELSE
               CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
               END, 6) AS dup_2gram_ratio,
             round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
               CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
               END, 6) AS dup_3gram_ratio,
             round(CASE WHEN n = 0 THEN 0.0 ELSE
               CAST(len(list_distinct(w)) AS DOUBLE) / n END, 6)
               AS frac_distinct_words
           FROM g ORDER BY doc_id""",

      // same strip chain as htmlToText: blocks → tags → entities (&amp;
      // last) → whitespace collapse; RE2's (?s)/non-greedy match Java's
      "q_html_extract" ->
        """WITH p AS (
             SELECT doc_id,
               '<html><head><script>var x = 1 < 2;</script>' ||
               '<style>body { color: red; }</style></head><body><p>' ||
               text ||
               CASE WHEN doc_id % 3 = 0 THEN
                 '</p><p>tail &amp; entities &lt;kept&gt;' ELSE '' END ||
               '</p><!-- trailing comment --></body></html>' AS page
             FROM documents),
           e AS (
             SELECT doc_id, trim(regexp_replace(
               replace(replace(replace(replace(replace(
                 regexp_replace(
                   regexp_replace(regexp_replace(regexp_replace(page,
                     '(?s)<script[^>]*>.*?</script>', ' ', 'g'),
                     '(?s)<style[^>]*>.*?</style>', ' ', 'g'),
                     '(?s)<!--.*?-->', ' ', 'g'),
                   '<[^>]*>', ' ', 'g'),
                 '&lt;', '<'), '&gt;', '>'), '&quot;', '"'),
                 '&#39;', ''''), '&amp;', '&'),
               '\s+', ' ', 'g')) AS x
             FROM p)
           SELECT doc_id, md5(x) AS text_md5,
             CAST(length(x) AS BIGINT) AS n_chars
           FROM e ORDER BY doc_id""",

      // Gopher admission rules over the same signal definitions as
      // q_text_quality / q_repetition; concat_ws skips NULL reasons in
      // both dialects, so the reason list is order-stable
      "q_quality_filter" ->
        """WITH toks AS (
             SELECT doc_id, text,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                 ELSE regexp_split_to_array(trim(text), '\s+') END AS w
             FROM documents),
           sig AS (
             SELECT doc_id, w, len(w) AS n,
               round(CASE WHEN len(w) = 0 THEN 0.0
                 ELSE CAST(length(regexp_replace(trim(text), '\s+', '', 'g'))
                   AS DOUBLE) / len(w) END, 6) AS mwl,
               len(list_filter(w, t -> t IN
                 ('the','a','of','and','to','in','is','it'))) AS n_stop,
               round(CASE WHEN len(w) = 0 THEN 0.0 ELSE
                 CAST(list_max(list_transform(list_distinct(w), x ->
                   len(list_filter(w, y -> y = x)))) AS DOUBLE) / len(w)
                 END, 6) AS twr,
               CASE WHEN len(w) < 2 THEN []::VARCHAR[]
                 ELSE list_transform(range(len(w) - 1), i ->
                   w[i+1] || ' ' || w[i+2]) END AS g2,
               CASE WHEN len(w) < 3 THEN []::VARCHAR[]
                 ELSE list_transform(range(len(w) - 2), i ->
                   w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]) END AS g3
             FROM toks),
           r AS (
             SELECT doc_id, n, mwl, n_stop, twr,
               round(CASE WHEN len(g2) = 0 THEN 0.0 ELSE
                 CAST(len(g2) - len(list_distinct(g2)) AS DOUBLE) / len(g2)
                 END, 6) AS d2,
               round(CASE WHEN len(g3) = 0 THEN 0.0 ELSE
                 CAST(len(g3) - len(list_distinct(g3)) AS DOUBLE) / len(g3)
                 END, 6) AS d3
             FROM sig)
           SELECT doc_id,
             concat_ws(',',
               CASE WHEN n < 50 OR n > 100000 THEN 'n_tokens' END,
               CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len' END,
               CASE WHEN n_stop < 2 THEN 'stopwords' END,
               CASE WHEN twr > 0.2 THEN 'top_word_ratio' END,
               CASE WHEN d2 > 0.2 THEN 'dup_2gram' END,
               CASE WHEN d3 > 0.18 THEN 'dup_3gram' END) AS reasons,
             concat_ws(',',
               CASE WHEN n < 50 OR n > 100000 THEN 'n_tokens' END,
               CASE WHEN mwl < 3.0 OR mwl > 10.0 THEN 'mean_word_len' END,
               CASE WHEN n_stop < 2 THEN 'stopwords' END,
               CASE WHEN twr > 0.2 THEN 'top_word_ratio' END,
               CASE WHEN d2 > 0.2 THEN 'dup_2gram' END,
               CASE WHEN d3 > 0.18 THEN 'dup_3gram' END) = '' AS keep,
             CAST(n AS BIGINT) AS n_tokens,
             twr AS top_word_ratio
           FROM r ORDER BY doc_id""",

      // progressive scrub (email → ip → ssn → phone), each count = the
      // placeholder delta its own pass introduced — mirrors scrubPii
      "q_pii_scrub" ->
        """WITH p AS (
             SELECT doc_id, text ||
               CASE WHEN doc_id % 3 = 0 THEN
                 ' mail user' || doc_id::VARCHAR || '@example.com'
                 ELSE '' END ||
               CASE WHEN doc_id % 5 = 0 THEN
                 ' host 10.0.' || (doc_id % 256)::VARCHAR || '.7 tel 555-010-'
                   || (doc_id % 9000 + 1000)::VARCHAR
                 ELSE '' END ||
               CASE WHEN doc_id % 7 = 0 THEN
                 ' call (555) 010-' || (doc_id % 9000 + 1000)::VARCHAR
                   || ' or +1 555 010 ' || (doc_id % 9000 + 1000)::VARCHAR
                 ELSE '' END ||
               CASE WHEN doc_id % 11 = 0 THEN
                 ' ssn 123-45-' || (doc_id % 9000 + 1000)::VARCHAR
                   || ' from 999.300.1.2'
                 ELSE '' END AS t0
             FROM documents),
           s1 AS (SELECT *, regexp_replace(t0,
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
             '[EMAIL]', 'g') AS t1 FROM p),
           s2 AS (SELECT *, regexp_replace(t1,
             '\b(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})(?:\.(?:25[0-5]|2[0-4][0-9]|1?[0-9]{1,2})){3}\b',
             '[IP]', 'g') AS t2 FROM s1),
           s3 AS (SELECT *, regexp_replace(t2,
             '\b[0-9]{3}-[0-9]{2}-[0-9]{4}\b', '[SSN]', 'g') AS t3 FROM s2),
           s4 AS (SELECT *, regexp_replace(t3,
             '(?:\+[0-9]{1,2}[-. ])?(?:\([0-9]{3}\) ?|\b[0-9]{3}[-. ])[0-9]{3}[-. ][0-9]{4}\b',
             '[PHONE]', 'g') AS t4 FROM s3)
           SELECT doc_id,
             CAST((len(t1) - len(replace(t1, '[EMAIL]', ''))) // 7
                - (len(t0) - len(replace(t0, '[EMAIL]', ''))) // 7 AS BIGINT)
               AS n_emails,
             CAST((len(t2) - len(replace(t2, '[IP]', ''))) // 4
                - (len(t1) - len(replace(t1, '[IP]', ''))) // 4 AS BIGINT)
               AS n_ips,
             CAST((len(t3) - len(replace(t3, '[SSN]', ''))) // 5
                - (len(t2) - len(replace(t2, '[SSN]', ''))) // 5 AS BIGINT)
               AS n_ssns,
             CAST((len(t4) - len(replace(t4, '[PHONE]', ''))) // 7
                - (len(t3) - len(replace(t3, '[PHONE]', ''))) // 7 AS BIGINT)
               AS n_phones,
             md5(t4) AS scrub_md5
           FROM s4 ORDER BY doc_id""",

      "q_token_stats" ->
        """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(CASE WHEN trim(text) = '' THEN 0
               ELSE len(regexp_split_to_array(trim(text), '\s+')) END) AS BIGINT)
               AS total_tokens,
             round(avg(CAST(n_chars AS DOUBLE)), 6) AS avg_chars
           FROM documents GROUP BY lang ORDER BY lang""",

      "q_fingerprint" ->
        """SELECT doc_id, substring(md5(text), 1, 16) AS fp
           FROM documents ORDER BY doc_id""",

      "q_bpe_tokens" ->
        """SELECT doc_id,
             CAST(coalesce(len(regexp_extract_all(text,
               '''(?:s|d|m|t|ll|ve|re)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 ]+')), 0)
               AS BIGINT) AS bpe_tokens
           FROM documents ORDER BY doc_id""",

      // rank by tf-idf score, emit only engine-portable columns (the ln
      // double differs by 1 ulp across engines; the ORDER doesn't — see
      // TextAnalysis.tfidfTopTerms)
      "q_tfidf" ->
        """WITH toks AS (
             SELECT doc_id, lower(t.term) AS term
             FROM documents, unnest(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
               x -> x <> '')) AS t(term)),
           tft AS (
             SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
             FROM toks GROUP BY doc_id, term),
           dft AS (
             SELECT term, CAST(count(*) AS BIGINT) AS df
             FROM tft GROUP BY term),
           n AS (SELECT count(*) AS n FROM documents),
           scored AS (
             SELECT doc_id, tft.term, tf, df,
               CAST(tf AS DOUBLE) *
                 ln(CAST(n + 1 AS DOUBLE) / CAST(df + 1 AS DOUBLE)) AS score
             FROM tft JOIN dft USING (term), n)
           SELECT doc_id, term, tf, df, rank FROM (
             SELECT *, CAST(row_number() OVER (
               PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
             FROM scored)
           WHERE rank <= 3 ORDER BY doc_id, rank""",

      // overlapping token windows: chunk i = tokens[i*16+1 .. i*16+32],
      // last window starts at the first stride multiple reaching the tail
      "q_chunks" ->
        """WITH d AS (
             SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                 ELSE regexp_split_to_array(trim(text), '\s+') END AS toks
             FROM documents),
           k AS (
             SELECT doc_id, toks, len(toks) AS n,
               CAST(ceil(CAST(greatest(len(toks) - 32, 0) AS DOUBLE) / 16)
                 AS BIGINT) + 1 AS nch
             FROM d WHERE len(toks) > 0)
           SELECT doc_id, CAST(g.chunk_id AS BIGINT) AS chunk_id,
             CAST(len(toks[chunk_id*16+1 : chunk_id*16+32]) AS BIGINT)
               AS n_tokens,
             array_to_string(toks[chunk_id*16+1 : chunk_id*16+32], ' ')
               AS chunk_text
           FROM k, unnest(range(nch)) AS g(chunk_id)
           ORDER BY doc_id, chunk_id""",

      "q_sample_rate" ->
        s"""SELECT doc_id, lang FROM documents
            WHERE ('0x' || substring(md5('graft:sample:' ||
                CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT < $rateThreshold
            ORDER BY doc_id""",

      "q_sample_stratified" ->
        """SELECT doc_id, lang, rank FROM (
             SELECT doc_id, lang,
               CAST(row_number() OVER (PARTITION BY lang ORDER BY
                 ('0x' || substring(md5('graft:sample:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                 doc_id) AS BIGINT) AS rank
             FROM documents)
           WHERE rank <= 5 ORDER BY lang, rank""",

      // per-lang budget fill: exclusive running token sum in md5-hash
      // order (same ordering key as q_sample_stratified)
      "q_token_budget" ->
        """WITH d AS (
             SELECT doc_id, lang,
               CAST(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END
                 AS BIGINT) AS n_tokens,
               ('0x' || substring(md5('graft:sample:' ||
                  CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT AS h
             FROM documents),
           s AS (
             SELECT doc_id, lang, n_tokens,
               CAST(coalesce(sum(n_tokens) OVER (PARTITION BY lang
                 ORDER BY h, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS BIGINT) AS cum_tokens
             FROM d)
           SELECT doc_id, lang, n_tokens, cum_tokens
           FROM s WHERE cum_tokens < 2000
           ORDER BY lang, cum_tokens""",

      // host extraction mirrored (lower-cased authority), then the same
      // md5-order exact-k window as q_sample_stratified
      "q_domain_cap" ->
        """SELECT doc_id, host, rank FROM (
             SELECT doc_id, host,
               CAST(row_number() OVER (PARTITION BY host ORDER BY
                 ('0x' || substring(md5('graft:sample:' ||
                    CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT,
                 doc_id) AS BIGINT) AS rank
             FROM (SELECT doc_id,
                     lower(regexp_extract(
                       'https://H' || (doc_id % 7)::VARCHAR ||
                         '.Example.com/p/' || doc_id::VARCHAR,
                       '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]+)', 1)) AS host
                   FROM documents))
           WHERE rank <= 40 ORDER BY host, rank""",

      "q_embed_norm" ->
        """WITH e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
           n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS norm
                 FROM e)
           SELECT vec_id, norm, norm = 0 AS zero_vec,
             CASE WHEN norm > 0
               THEN list_min(list_transform(v, x -> x / norm))
               ELSE list_min(v) END AS nrm_min,
             CASE WHEN norm > 0
               THEN list_max(list_transform(v, x -> x / norm))
               ELSE list_max(v) END AS nrm_max
           FROM n""",

      "q_embed_quant" ->
        """WITH e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
           a AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
           q AS (SELECT vec_id,
                 CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scale,
                 CASE WHEN amax > 0 THEN
                   list_transform(v, x ->
                     CAST(floor(x * 127.0 / amax + 0.5) AS INT))
                 ELSE list_transform(v, x -> 0) END AS qv
                 FROM a)
           SELECT vec_id, scale, list_min(qv) AS q_min,
             list_max(qv) AS q_max,
             CAST(list_sum(qv) AS BIGINT) AS q_sum
           FROM q""",

      // int8 candidate scan (integer dots are exact in doubles: 64 dims
      // x 127^2 << 2^53) → top-15 shortlist → exact-cosine top-5
      "q_quantized_ann" ->
        """WITH e AS (SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
               FROM embeddings),
           z AS (SELECT vec_id, v,
                 list_max(list_transform(v, x -> abs(x))) AS amax FROM e),
           qq AS (SELECT vec_id, v,
                 CASE WHEN amax > 0 THEN amax / 127.0 ELSE 0.0 END AS scale,
                 CASE WHEN amax > 0 THEN list_transform(v, x ->
                     floor(x * 127.0 / amax + 0.5))
                   ELSE list_transform(v, x -> 0.0) END AS q
                 FROM z),
           cand AS (SELECT qr.vec_id AS qid, c.vec_id AS nid,
                 c.v AS nv, qr.v AS qv,
                 list_dot_product(c.q, qr.q) * c.scale * qr.scale AS qsim
               FROM qq c, qq qr
               WHERE qr.vec_id < 5 AND c.vec_id <> qr.vec_id),
           short AS (SELECT * FROM (SELECT qid, nid, nv, qv,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY qsim DESC, nid) AS qrank
               FROM cand) WHERE qrank <= 15),
           scored AS (SELECT qid, nid,
                 list_dot_product(nv, qv) /
                   (sqrt(list_dot_product(nv, nv)) *
                    sqrt(list_dot_product(qv, qv))) AS sim
               FROM short)
           SELECT qid, nid, CAST(rank AS INT) AS rank,
             round(sim, 6) AS sim FROM (
               SELECT *, row_number() OVER (PARTITION BY qid
                 ORDER BY sim DESC, nid) AS rank FROM scored)
           WHERE rank <= 5""",

      // BOTH adaptive branches (sf1 flips every 2000-vector label group
      // to the LSH fallback): groups within the 1000-vector bound take
      // the exact all-pairs path (capped = false); bigger groups pair
      // only within per-(label, sign-bucket) LSH blocks under the
      // [2, 1000] hot-bucket cap, exact-cosine-verified (capped = true)
      // — mirroring cosineDupPairsByGroup's big0 branch
      "q_embed_dup" ->
        """WITH hp AS (
             SELECT i, list_transform(range(64), d ->
               ('0x'||substring(md5('graft:lsh:'||i||':'||d),1,15))::BIGINT::DOUBLE
                 / 576460752303423488.0 - 1.0) AS plane
             FROM range(8) t(i)),
           e AS (
             SELECT label, vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
           gs AS (SELECT label, count(*) AS n FROM e GROUP BY label),
           small AS (SELECT e.* FROM e JOIN gs USING (label) WHERE gs.n <= 1000),
           exact AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                 AS sim,
               false AS capped
             FROM small a, small b
             WHERE a.label = b.label AND a.vec_id < b.vec_id
               AND list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3),
           big AS (SELECT e.* FROM e JOIN gs USING (label) WHERE gs.n > 1000),
           sigs AS (
             SELECT label, vec_id, any_value(v) AS v,
               CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)
                 AS BIGINT) AS bucket
             FROM (
               SELECT big.label, big.vec_id, big.v, hp.i,
                 list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                   big.v[dd+1]*hp.plane[dd+1])), (a,b)->a+b) AS dot
               FROM big, hp)
             GROUP BY label, vec_id),
           bc AS (SELECT label, bucket, count(*) AS n FROM sigs GROUP BY 1, 2),
           blocked AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               round(list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
                 AS sim,
               true AS capped
             FROM sigs a
             JOIN sigs b ON a.label = b.label AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
             JOIN bc ON bc.label = a.label AND bc.bucket = a.bucket
             WHERE bc.n BETWEEN 2 AND 1000
               AND list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.3)
           SELECT * FROM exact UNION ALL SELECT * FROM blocked
           ORDER BY id_a, id_b""",

      // components over the cosine near-dup graph (same recursive walk as
      // q_dup_clusters; pair set = the SAME dual-branch generator as
      // q_embed_dup, so the cluster oracle follows its branch flips)
      "q_embed_clusters" ->
        """WITH RECURSIVE hp AS (
             SELECT i, list_transform(range(64), d ->
               ('0x'||substring(md5('graft:lsh:'||i||':'||d),1,15))::BIGINT::DOUBLE
                 / 576460752303423488.0 - 1.0) AS plane
             FROM range(8) t(i)),
           e AS (
             SELECT label, vec_id,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
             FROM embeddings),
           gs AS (SELECT label, count(*) AS n FROM e GROUP BY label),
           small AS (SELECT e.* FROM e JOIN gs USING (label) WHERE gs.n <= 1000),
           prs_small AS (
             SELECT a.vec_id AS a, b.vec_id AS b
             FROM small a, small b
             WHERE a.label = b.label AND a.vec_id < b.vec_id
               AND list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))) >= 0.3),
           big AS (SELECT e.* FROM e JOIN gs USING (label) WHERE gs.n > 1000),
           sigs AS (
             SELECT label, vec_id, any_value(v) AS v,
               CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)
                 AS BIGINT) AS bucket
             FROM (
               SELECT big.label, big.vec_id, big.v, hp.i,
                 list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                   big.v[dd+1]*hp.plane[dd+1])), (a,b)->a+b) AS dot
               FROM big, hp)
             GROUP BY label, vec_id),
           bc AS (SELECT label, bucket, count(*) AS n FROM sigs GROUP BY 1, 2),
           prs_big AS (
             SELECT a.vec_id AS a, b.vec_id AS b
             FROM sigs a
             JOIN sigs b ON a.label = b.label AND a.bucket = b.bucket
               AND a.vec_id < b.vec_id
             JOIN bc ON bc.label = a.label AND bc.bucket = a.bucket
             WHERE bc.n BETWEEN 2 AND 1000
               AND list_dot_product(a.v, b.v) /
                 (sqrt(list_dot_product(a.v, a.v)) *
                  sqrt(list_dot_product(b.v, b.v))) >= 0.3),
           prs AS (SELECT * FROM prs_small UNION ALL SELECT * FROM prs_big),
           edges AS (
             SELECT a, b FROM prs
             UNION ALL SELECT b AS a, a AS b FROM prs),
           walk(id, lbl) AS (
             SELECT vec_id, vec_id FROM embeddings
             UNION
             SELECT w.id, e2.b FROM walk w JOIN edges e2 ON e2.a = w.lbl)
           SELECT id AS vec_id, min(lbl) AS cluster_id,
             (id = min(lbl)) AS canonical
           FROM walk GROUP BY id ORDER BY vec_id""",

      // #ext pipeline: json_extract → computed-ref when → payload stats.
      // payload bytes == strlen(props): the payload IS the props JSON.
      "q_ext_pipeline" ->
        s"""SELECT event_id, 'events/' || event_type AS entry,
             epoch_us(ts) AS ts,
             CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
             CAST(strlen(props) AS BIGINT) AS payload_size
           FROM events
           WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) >= 50
           ORDER BY event_id""",

      // LSH-bucketed embedding near-dup: same md5 hyperplanes as q_lsh_ann;
      // all same-bucket pairs with left-fold cosine >= threshold
      "q_embed_lsh_dup" ->
        """WITH hp AS (
             SELECT i, list_transform(range(64), d ->
               ('0x'||substring(md5('graft:lsh:'||i||':'||d),1,15))::BIGINT::DOUBLE
                 / 576460752303423488.0 - 1.0) AS plane
             FROM range(8) t(i)),
           e AS (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> x::DOUBLE), x -> x*x)),
                 (a,b)->a+b)) AS nrm
             FROM embeddings),
           sigs AS (
             SELECT vec_id, any_value(v) AS v, any_value(nrm) AS nrm,
               CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)
                 AS BIGINT) AS bucket
             FROM (
               SELECT e.vec_id, e.v, e.nrm, hp.i,
                 list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                   e.v[dd+1]*hp.plane[dd+1])), (a,b)->a+b) AS dot
               FROM e, hp)
             GROUP BY vec_id),
           bc AS (SELECT bucket, count(*) AS n FROM sigs GROUP BY 1),
           cand AS (
             SELECT a.vec_id AS id_a, b.vec_id AS id_b,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 a.v[dd+1]*b.v[dd+1])), (a,b)->a+b) / (a.nrm * b.nrm) AS sim
             FROM sigs a JOIN sigs b
               ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             JOIN bc ON bc.bucket = a.bucket
             WHERE bc.n BETWEEN 2 AND 1000)
           SELECT id_a, id_b, round(sim, 6) AS sim FROM cand
           WHERE sim >= 0.2 ORDER BY id_a, id_b""",

      "q_ann_brute" ->
        """WITH q AS (
             SELECT vec_id AS qid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
             FROM embeddings WHERE vec_id < 5),
           c AS (
             SELECT vec_id AS nid, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
             FROM embeddings),
           s AS (
             SELECT qid, nid,
               list_dot_product(qv, nv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS sim
             FROM q, c WHERE nid <> qid),
           r AS (
             SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             FROM s)
           SELECT qid, nid, rank, round(sim, 6) AS sim FROM r
           WHERE rank <= 10 ORDER BY qid, rank""",

      // hard negatives: ann_brute with a label-mismatch filter; the
      // anchor's own label rides along from the embeddings table
      "q_hard_negatives" ->
        """WITH q AS (
             SELECT vec_id AS qid, label AS qlabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
             FROM embeddings WHERE vec_id < 5),
           c AS (
             SELECT vec_id AS nid, label AS nlabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS nv
             FROM embeddings),
           s AS (
             SELECT qid, nid, nlabel,
               list_dot_product(qv, nv) /
                 (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(nv, nv))) AS sim
             FROM q, c WHERE nid <> qid AND nlabel <> qlabel),
           r AS (
             SELECT qid, nid, nlabel, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             FROM s)
           SELECT qid, nid, CAST(nlabel AS BIGINT) AS neg_label, rank,
             round(sim, 6) AS sim FROM r
           WHERE rank <= 10 ORDER BY qid, rank""",

      // LSH ANN: md5-derived hyperplanes; sign-bucket + Hamming-1 probes;
      // every dot product is a left fold, bit-identical across engines
      "q_lsh_ann" ->
        """WITH hp AS (
             SELECT i, list_transform(range(64), d ->
               ('0x'||substring(md5('graft:lsh:'||i||':'||d),1,15))::BIGINT::DOUBLE
                 / 576460752303423488.0 - 1.0) AS plane
             FROM range(8) t(i)),
           e AS (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> x::DOUBLE), x -> x*x)),
                 (a,b)->a+b)) AS nrm
             FROM embeddings),
           sigs AS (
             SELECT vec_id, any_value(v) AS v, any_value(nrm) AS nrm,
               CAST(sum(CASE WHEN dot > 0 THEN (1::BIGINT << i) ELSE 0 END)
                 AS BIGINT) AS bucket
             FROM (
               SELECT e.vec_id, e.v, e.nrm, hp.i,
                 list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                   e.v[dd+1]*hp.plane[dd+1])), (a,b)->a+b) AS dot
               FROM e, hp)
             GROUP BY vec_id),
           probes AS (
             SELECT qid, qv, qnrm, unnest(list_prepend(bucket,
               list_transform(range(8), i -> xor(bucket, (1::BIGINT << i))))) AS bucket
             FROM (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket
                   FROM sigs WHERE vec_id < 5)),
           cand AS (
             SELECT p.qid, s.vec_id AS nid,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 s.v[dd+1]*p.qv[dd+1])), (a,b)->a+b) / (s.nrm * p.qnrm) AS sim
             FROM probes p JOIN sigs s ON s.bucket = p.bucket
             WHERE s.vec_id <> p.qid),
           r AS (
             SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             FROM cand)
           SELECT qid, nid, rank, round(sim, 6) AS sim FROM r
           WHERE rank <= 10 ORDER BY qid, rank""",

      // IVF ANN (unrefined configuration): centroids = 16 corpus vectors in
      // md5-of-id order; assignment/probes = cosine argmax with (score,
      // centroid) DESC tie-break, mirroring Spark's struct array_max
      "q_ivf_ann" ->
        """WITH e AS (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> x::DOUBLE), x -> x*x)),
                 (a,b)->a+b)) AS nrm
             FROM embeddings),
           cents AS (
             SELECT row_number() OVER (ORDER BY
                 ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id) - 1 AS ci,
               v AS cv,
               sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)),
                 (a,b)->a+b)) AS cnrm
             FROM e
             ORDER BY ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id
             LIMIT 16),
           scores AS (
             SELECT e.vec_id, e.v, e.nrm, c.ci,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 e.v[dd+1]*c.cv[dd+1])), (a,b)->a+b) / c.cnrm AS s
             FROM e, cents c),
           assigned AS (
             SELECT vec_id, v, nrm, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores) WHERE rn = 1),
           probes AS (
             SELECT vec_id AS qid, v AS qv, nrm AS qnrm, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores WHERE vec_id < 5) WHERE rn <= 4),
           cand AS (
             SELECT p.qid, a.vec_id AS nid,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 a.v[dd+1]*p.qv[dd+1])), (a2,b2)->a2+b2) / (a.nrm * p.qnrm) AS sim
             FROM probes p JOIN assigned a ON a.bucket = p.bucket
             WHERE a.vec_id <> p.qid),
           r AS (
             SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             FROM cand)
           SELECT qid, nid, rank, round(sim, 6) AS sim FROM r
           WHERE rank <= 10 ORDER BY qid, rank""",

      // SemDeDup: seed-centroid assignment (same CTEs as q_ivf_ann), all
      // within-cluster pairs at cosine >= 0.9, keep = never the larger
      // id of a pair. No cap mirror needed: cluster sizes stay far under
      // the operator's maxGroupSize at both checked SFs (verified), so
      // only the exact path runs.
      "q_semantic_dedup" ->
        """WITH e AS (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> x::DOUBLE), x -> x*x)),
                 (a,b)->a+b)) AS nrm
             FROM embeddings),
           cents AS (
             SELECT row_number() OVER (ORDER BY
                 ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id) - 1 AS ci,
               v AS cv,
               sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)),
                 (a,b)->a+b)) AS cnrm
             FROM e
             ORDER BY ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id
             LIMIT 16),
           scores AS (
             SELECT e.vec_id, e.v, e.nrm, c.ci,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 e.v[dd+1]*c.cv[dd+1])), (a,b)->a+b) / c.cnrm AS s
             FROM e, cents c),
           assigned AS (
             SELECT vec_id, v, nrm, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores) WHERE rn = 1),
           pairs AS (
             SELECT a.vec_id AS ia, b.vec_id AS ib
             FROM assigned a JOIN assigned b
               ON a.bucket = b.bucket AND a.vec_id < b.vec_id
             WHERE list_reduce(list_prepend(0.0, list_transform(range(64),
                 dd -> a.v[dd+1]*b.v[dd+1])), (x,y)->x+y)
               / (a.nrm * b.nrm) >= 0.9)
           SELECT a.vec_id, CAST(a.bucket AS BIGINT) AS cluster,
             a.vec_id NOT IN (SELECT ib FROM pairs) AS keep
           FROM assigned a ORDER BY vec_id""",

      // split assignment: 30-bit hash slice times total weight against
      // cumulative-weight << 30 — integers end to end
      "q_split_assign" ->
        """SELECT doc_id,
             CASE WHEN h * 10 < (8::BIGINT << 30) THEN 'train'
                  WHEN h * 10 < (9::BIGINT << 30) THEN 'val'
                  ELSE 'test' END AS split
           FROM (SELECT doc_id,
                   (('0x' || substring(md5('graft:split:' ||
                     CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT >> 30) AS h
                 FROM documents)
           ORDER BY doc_id""",

      // OOV rate: top-20 vocabulary by (count DESC, term ASC) — the same
      // deterministic cut the Spark side takes
      "q_oov_rate" ->
        """WITH toks AS (
             SELECT doc_id, lower(u) AS t
             FROM (SELECT doc_id, unnest(list_filter(
                 regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> '')) AS u
               FROM documents)),
           vocab AS (
             SELECT t FROM (SELECT t, count(*) AS n FROM toks GROUP BY t)
             ORDER BY n DESC, t LIMIT 20)
           SELECT doc_id, CAST(count(*) AS BIGINT) AS tokens,
             CAST(sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 0 ELSE 1 END)
               AS BIGINT) AS oov,
             round(CAST(sum(CASE WHEN t IN (SELECT t FROM vocab) THEN 0
               ELSE 1 END) AS DOUBLE) / count(*), 6) AS oov_rate
           FROM toks GROUP BY doc_id ORDER BY doc_id""",

      // length trim: linear-interpolation quantiles (quantile_cont ==
      // Spark percentile on integer inputs, bit-exact, no rounding)
      "q_length_trim" ->
        """WITH t AS (SELECT doc_id,
             CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
               x -> x <> '')) AS BIGINT) AS tokens
             FROM documents),
           b AS (SELECT quantile_cont(tokens, 0.05) AS lo,
                        quantile_cont(tokens, 0.95) AS hi FROM t)
           SELECT doc_id, tokens FROM t, b
           WHERE tokens >= lo AND tokens <= hi ORDER BY doc_id""",

      // bigram LM perplexity: add-one smoothing over the bigram-participant
      // vocabulary (single-token docs contribute no vocab mass — mirrors
      // the Spark side deriving V from the compact bigram-count table);
      // prefix counts are w1-as-prefix occurrence counts
      "q_lm_perplexity" ->
        """WITH t AS (SELECT doc_id AS id,
             list_transform(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
               x -> lower(x)) AS toks
             FROM documents),
           bi AS (SELECT id, toks[i+1] AS w1, toks[i+2] AS w2
             FROM t, unnest(range(greatest(len(toks) - 1, 0))) AS u(i)),
           cb AS (SELECT w1, w2, count(*) AS cnt FROM bi GROUP BY 1, 2),
           cp AS (SELECT w1, sum(cnt) AS pn FROM cb GROUP BY 1),
           v AS (SELECT count(*) AS vs FROM
             (SELECT w1 AS w FROM cb UNION SELECT w2 FROM cb)),
           sc AS (SELECT id, count(*) AS nb,
               sum(-ln((cnt + 1)::DOUBLE / (pn + vs))) AS nll
             FROM bi JOIN cb USING (w1, w2) JOIN cp USING (w1)
               CROSS JOIN v
             GROUP BY id)
           SELECT t.id AS doc_id,
             CAST(coalesce(nb, 0) AS BIGINT) AS n_bigrams,
             round(nll / nb, 4) AS avg_nll,
             round(exp(nll / nb), 2) AS ppl
           FROM t LEFT JOIN sc USING (id) ORDER BY doc_id""",

      // IVF with one SAMPLE-TRAINED Lloyd refinement step: the training
      // pass assigns only the first 2048 (= 2 * nCentroids * dims)
      // vectors in md5-of-id order to the md5-seeded centroids, then the
      // per-(centroid,dim) means are LEFT FOLDS OVER THE VALUE-SORTED
      // member lists (bit-identical to Spark's
      // aggregate(sort_array(collect_list(x))) over the bounded sample);
      // empty centroids keep their seed vector; buckets/probes re-score
      // the FULL corpus against the refined centroids with the same
      // (score, ci) DESC tie-break
      "q_ivf_refined" ->
        """WITH e AS (
             SELECT vec_id, list_transform(embedding, x -> x::DOUBLE) AS v,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 list_transform(embedding, x -> x::DOUBLE), x -> x*x)),
                 (a,b)->a+b)) AS nrm
             FROM embeddings),
           cents AS (
             SELECT row_number() OVER (ORDER BY
                 ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id) - 1 AS ci,
               v AS cv,
               sqrt(list_reduce(list_prepend(0.0, list_transform(v, x -> x*x)),
                 (a,b)->a+b)) AS cnrm
             FROM e
             ORDER BY ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id
             LIMIT 16),
           samp AS (
             SELECT vec_id, v FROM e
             ORDER BY ('0x'||substring(md5(vec_id::VARCHAR),1,15))::BIGINT, vec_id
             LIMIT 2048),
           scores AS (
             SELECT sp.vec_id, sp.v, c.ci,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 sp.v[dd+1]*c.cv[dd+1])), (a,b)->a+b) / c.cnrm AS s
             FROM samp sp, cents c),
           assigned AS (
             SELECT vec_id, v, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores) WHERE rn = 1),
           cell AS (
             SELECT a.bucket AS ci, dd.d AS d,
               list_reduce(list_prepend(0.0, list_sort(list(a.v[dd.d+1]))),
                 (x,y)->x+y) / CAST(count(*) AS DOUBLE) AS m
             FROM assigned a, range(64) dd(d)
             GROUP BY a.bucket, dd.d),
           rvec AS (
             SELECT ci, list(m ORDER BY d) AS cv FROM cell GROUP BY ci),
           rcents AS (
             SELECT c.ci, coalesce(r.cv, c.cv) AS cv,
               sqrt(list_reduce(list_prepend(0.0, list_transform(
                 coalesce(r.cv, c.cv), x -> x*x)), (a,b)->a+b)) AS cnrm
             FROM cents c LEFT JOIN rvec r ON r.ci = c.ci),
           scores2 AS (
             SELECT e.vec_id, e.v, e.nrm, c.ci,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 e.v[dd+1]*c.cv[dd+1])), (a,b)->a+b) / c.cnrm AS s
             FROM e, rcents c),
           assigned2 AS (
             SELECT vec_id, v, nrm, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores2) WHERE rn = 1),
           probes2 AS (
             SELECT vec_id AS qid, v AS qv, nrm AS qnrm, ci AS bucket FROM (
               SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY s DESC, ci DESC) AS rn
               FROM scores2 WHERE vec_id < 5) WHERE rn <= 4),
           cand AS (
             SELECT p.qid, a.vec_id AS nid,
               list_reduce(list_prepend(0.0, list_transform(range(64), dd ->
                 a.v[dd+1]*p.qv[dd+1])), (a2,b2)->a2+b2) / (a.nrm * p.qnrm) AS sim
             FROM probes2 p JOIN assigned2 a ON a.bucket = p.bucket
             WHERE a.vec_id <> p.qid),
           r AS (
             SELECT qid, nid, sim,
               row_number() OVER (PARTITION BY qid ORDER BY sim DESC, nid) AS rank
             FROM cand)
           SELECT qid, nid, rank, round(sim, 6) AS sim FROM r
           WHERE rank <= 10 ORDER BY qid, rank""",

      // multimodal stub decode: the deterministic fake dimensions are a
      // wrapping signed-64 polynomial hash of the payload bytes —
      // reproduced in HUGEINT mod-2^64 arithmetic (floorMod(h, 1024) of
      // the signed value == unsigned value % 1024)
      "q_multimodal" ->
        """WITH h AS (
             SELECT event_id,
               CAST(length(props) AS INT) AS byte_size,
               list_reduce(
                 list_prepend(1125899906842597::HUGEINT,
                   list_transform(range(length(props)), i ->
                     ascii(props[i+1:i+1])::HUGEINT)),
                 (a, b) -> (31*a + b) % 18446744073709551616::HUGEINT) AS u
             FROM events)
           SELECT event_id,
             CAST(64 + u % 1024 AS INT) AS width,
             CAST(64 + (u // 1024) % 1024 AS INT) AS height,
             byte_size
           FROM h ORDER BY event_id""",

      // same fallback-hash arithmetic over the documents text (pure
      // ASCII, so ascii() per char == the byte the Scala kernel folds)
      "q_multimodal_docs" ->
        """WITH h AS (
             SELECT doc_id,
               CAST(length(text) AS INT) AS byte_size,
               list_reduce(
                 list_prepend(1125899906842597::HUGEINT,
                   list_transform(range(length(text)), i ->
                     ascii(text[i+1:i+1])::HUGEINT)),
                 (a, b) -> (31*a + b) % 18446744073709551616::HUGEINT) AS u
             FROM documents)
           SELECT doc_id,
             CAST(64 + u % 1024 AS INT) AS width,
             CAST(64 + (u // 1024) % 1024 AS INT) AS height,
             byte_size
           FROM h ORDER BY doc_id""",

      // real ImageIO decode: the payloads are synthesized with dimensions
      // that are pure doc_id arithmetic, so the oracle predicts the
      // decoder's output without seeing the bytes; opaque rows (mod 3 = 2)
      // must come back decode_ok = false with nulled dimensions
      "q_multimodal_decode" ->
        """SELECT doc_id,
             doc_id % 3 < 2 AS decode_ok,
             CASE WHEN doc_id % 3 < 2 THEN CAST(8 + doc_id % 24 AS INT) END AS width,
             CASE WHEN doc_id % 3 < 2 THEN CAST(8 + (doc_id // 5) % 24 AS INT) END AS height,
             CASE WHEN doc_id % 3 < 2 THEN 3 END AS channels
           FROM documents ORDER BY doc_id""",

      // resized dims: nw = max(1, w*16 // max(w,h)), same integer math as
      // Multimodal.resizeImage; source dims are >= 20, so every payload
      // is downscaled and re-decoded
      "q_multimodal_resize" ->
        """WITH d AS (
             SELECT doc_id,
               20 + doc_id % 40 AS w,
               20 + (doc_id // 7) % 40 AS h
             FROM documents),
           m AS (SELECT doc_id, w, h,
                   CASE WHEN w > h THEN w ELSE h END AS mx FROM d)
           SELECT doc_id, TRUE AS decode_ok,
             CAST(CASE WHEN w * 16 // mx < 1 THEN 1 ELSE w * 16 // mx END
               AS INT) AS width,
             CAST(CASE WHEN h * 16 // mx < 1 THEN 1 ELSE h * 16 // mx END
               AS INT) AS height,
             3 AS channels
           FROM m ORDER BY doc_id""",

      // WAV metadata from doc_id arithmetic; mod-5 docs are opaque
      "q_multimodal_audio" ->
        """SELECT doc_id,
             doc_id % 5 <> 4 AS decode_ok,
             CASE WHEN doc_id % 5 <> 4 THEN CAST(CASE doc_id % 3
               WHEN 0 THEN 8000 WHEN 1 THEN 16000 ELSE 44100 END AS INT)
               END AS sample_rate,
             CASE WHEN doc_id % 5 <> 4 THEN CAST(1 + doc_id % 2 AS INT)
               END AS channels,
             CASE WHEN doc_id % 5 <> 4 THEN CAST(16 AS INT) END AS bits,
             CASE WHEN doc_id % 5 <> 4 THEN CAST(100 + doc_id % 500 AS BIGINT)
               END AS n_frames
           FROM documents ORDER BY doc_id""",

      // round(…, 2) before the double cast — see the Spark-side comment
      "q_lineitem_agg" ->
        """SELECT l_returnflag, l_linestatus,
             CAST(round(sum(CAST(l_quantity AS DECIMAL(20,4))), 2) AS DOUBLE)
               AS sum_qty,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,4))), 2)
               AS DOUBLE) AS sum_base_price,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,4)) *
               (CAST(1 AS DECIMAL(20,4)) - CAST(l_discount AS DECIMAL(20,4)))),
               2) AS DOUBLE) AS sum_disc_price,
             CAST(count(*) AS BIGINT) AS count_order
           FROM lineitem GROUP BY l_returnflag, l_linestatus
           ORDER BY l_returnflag, l_linestatus""",

      "q_orders_join" ->
        """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
             CAST(round(sum(CAST(o_totalprice AS DECIMAL(20,4))), 2)
               AS DOUBLE) AS total_price
           FROM orders JOIN customer ON o_custkey = c_custkey
           GROUP BY c_mktsegment ORDER BY c_mktsegment""",

      "q_sessionize" ->
        """WITH e AS (SELECT user_id, epoch_us(ts) AS ts_us, event_id, value
                      FROM events),
           s AS (SELECT *, CASE WHEN prev IS NULL
                   OR ts_us - prev > 1800000000 THEN 1 ELSE 0 END AS isnew
                 FROM (SELECT *, lag(ts_us) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
                   FROM e)),
           t AS (SELECT *, CAST(sum(isnew) OVER
                   (PARTITION BY user_id ORDER BY ts_us, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_idx
                 FROM s)
           SELECT user_id, session_idx,
             min(ts_us) AS session_start, max(ts_us) AS session_end,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value
           FROM t GROUP BY user_id, session_idx""",

      // the (ts, value) pair travels as ONE struct (like q_asof_tables):
      // two independent IGNORE NULLS columns would let a null-valued
      // left event pair an older value with a newer timestamp
      "q_asof_join" ->
        """WITH e AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us,
                        event_type, value
                      FROM events WHERE event_type IN ('click', 'purchase')),
           w AS (SELECT *,
             last_value(CASE WHEN event_type = 'click'
                 THEN struct_pack(t := ts_us, v := value) END
               IGNORE NULLS) OVER
               (PARTITION BY user_id ORDER BY ts_us, event_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pair
             FROM e)
           SELECT event_id, user_id, ts_us AS ts, value,
             struct_extract(pair, 'v') AS asof_value,
             struct_extract(pair, 't') AS asof_ts
           FROM w WHERE event_type = 'purchase'""",

      // two-table as-of, STRICT: right rows sort before left rows at an
      // equal timestamp (side DESC) and the frame stops 1 row back; among
      // equal-ts left rows the largest value wins (v ASC NULLS FIRST +
      // last_value). The (ts, v) pair travels as ONE struct so a
      // null-valued left row cannot split asof_value from asof_ts.
      // NB: "asof" is a reserved word in DuckDB (ASOF JOIN) — the
      // carried column is named "pair".
      "q_asof_tables" ->
        """WITH l AS (SELECT user_id, epoch_us(ts) AS ts, value AS v,
                        0 AS side
                      FROM events WHERE event_type = 'click'),
           rt AS (SELECT user_id, epoch_us(ts) AS ts,
                    CAST(NULL AS DOUBLE) AS v, 1 AS side
                  FROM events WHERE event_type = 'purchase'),
           u AS (SELECT * FROM l UNION ALL SELECT * FROM rt),
           w AS (SELECT user_id, ts, side,
             last_value(CASE WHEN side = 0
                 THEN struct_pack(ts := ts, v := v) END IGNORE NULLS) OVER
               (PARTITION BY user_id
                ORDER BY ts ASC, side DESC, v ASC NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pair
             FROM u)
           SELECT user_id, ts, struct_extract(pair, 'v') AS asof_value,
             struct_extract(pair, 'ts') AS asof_ts
           FROM w WHERE side = 1 ORDER BY user_id, ts""",

      // INCLUSIVE variant: left rows sort first at an equal timestamp
      // (side ASC) and the frame includes the current row
      "q_asof_tables_incl" ->
        """WITH l AS (SELECT user_id, epoch_us(ts) AS ts, value AS v,
                        0 AS side
                      FROM events WHERE event_type = 'click'),
           rt AS (SELECT user_id, epoch_us(ts) AS ts,
                    CAST(NULL AS DOUBLE) AS v, 1 AS side
                  FROM events WHERE event_type = 'purchase'),
           u AS (SELECT * FROM l UNION ALL SELECT * FROM rt),
           w AS (SELECT user_id, ts, side,
             last_value(CASE WHEN side = 0
                 THEN struct_pack(ts := ts, v := v) END IGNORE NULLS) OVER
               (PARTITION BY user_id
                ORDER BY ts ASC, side ASC, v ASC NULLS FIRST
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS pair
             FROM u)
           SELECT user_id, ts, struct_extract(pair, 'v') AS asof_value,
             struct_extract(pair, 'ts') AS asof_ts
           FROM w WHERE side = 1 ORDER BY user_id, ts""",

      // floor bucketing (((x % w) + w) % w): matches the engine's pmod —
      // truncating % would diverge for pre-epoch timestamps
      "q_rollup_hour" ->
        """SELECT event_type,
             epoch_us(ts) - ((epoch_us(ts) % 3600000000) + 3600000000) % 3600000000 AS bucket_ts,
             CAST(count(*) AS BIGINT) AS n_events,
             CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS sum_value,
             min(value) AS min_value, max(value) AS max_value
           FROM events GROUP BY 1, 2""",

      "q_gap_fill" ->
        """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
                        value FROM events),
           t AS (SELECT event_type, tick, value AS tick_value FROM (
                   SELECT *, row_number() OVER
                     (PARTITION BY event_type, tick
                      ORDER BY ts_us DESC, event_id DESC) AS rn
                   FROM (SELECT event_type,
                           ts_us - ((ts_us % 900000000) + 900000000) % 900000000 AS tick,
                           ts_us, event_id, value FROM e))
                 WHERE rn = 1),
           r AS (SELECT event_type, min(tick) AS t0, max(tick) AS t1
                 FROM t GROUP BY 1),
           g AS (SELECT event_type,
                   unnest(range(t0, t1 + 1, 900000000)) AS tick FROM r),
           j AS (SELECT g.event_type, g.tick, t.tick_value
                 FROM g LEFT JOIN t USING (event_type, tick))
           SELECT event_type, tick,
             last_value(tick_value IGNORE NULLS) OVER
               (PARTITION BY event_type ORDER BY tick
                ROWS UNBOUNDED PRECEDING) AS value,
             tick_value IS NULL AS filled
           FROM j""",

      "q_anomaly" ->
        """WITH m AS (SELECT event_type, count(*) AS n,
                        CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE) AS s1,
                        CAST(sum(CAST(value * value AS DECIMAL(38,6)))
                          AS DOUBLE) AS s2
                      FROM events GROUP BY 1 HAVING count(*) > 1),
           mm AS (SELECT event_type, s1 / n AS mean,
                    sqrt((s2 - s1 * s1 / n) / (n - 1)) AS sigma FROM m)
           SELECT event_id, e.event_type, epoch_us(ts) AS ts, value,
             round((value - mean) / sigma, 6) AS z
           FROM events e JOIN mm USING (event_type)
           WHERE abs(value - mean) > 3 * sigma""",

      // length-prefixed tokens with 'N' for NULL, '|'-joined — the
      // engine's injective digest encoding (Analytics.snapshotDiff)
      "q_snapshot_diff" ->
        """WITH old AS (SELECT doc_id,
                 md5((CASE WHEN text IS NULL THEN 'N'
                       ELSE length(text) || ':' || text END) || '|' ||
                     (CASE WHEN source IS NULL THEN 'N'
                       ELSE length(source) || ':' || source END)) AS old_digest
               FROM documents WHERE doc_id % 7 <> 0),
           nw AS (SELECT doc_id,
                 md5((CASE WHEN t2 IS NULL THEN 'N'
                       ELSE length(t2) || ':' || t2 END) || '|' ||
                     (CASE WHEN source IS NULL THEN 'N'
                       ELSE length(source) || ':' || source END)) AS new_digest
               FROM (SELECT doc_id, source,
                       CASE WHEN doc_id % 11 = 0 THEN text || ' v2'
                         ELSE text END AS t2
                     FROM documents WHERE doc_id % 5 <> 0))
           SELECT coalesce(old.doc_id, nw.doc_id) AS doc_id,
             CASE WHEN old_digest IS NULL THEN 'added'
                  WHEN new_digest IS NULL THEN 'removed'
                  WHEN old_digest <> new_digest THEN 'changed'
                  ELSE 'unchanged' END AS change
           FROM old FULL OUTER JOIN nw USING (doc_id)""",

      "q_ohlc" ->
        """WITH e AS (SELECT event_type, epoch_us(ts) AS ts_us, event_id,
                        value FROM events),
           b AS (SELECT event_type,
                   ts_us - ((ts_us % 3600000000) + 3600000000) % 3600000000 AS bucket_ts,
                   ts_us, event_id, value FROM e),
           o AS (SELECT event_type, bucket_ts, value AS open FROM (
                   SELECT *, row_number() OVER
                     (PARTITION BY event_type, bucket_ts
                      ORDER BY ts_us ASC, event_id ASC) AS rn FROM b)
                 WHERE rn = 1),
           c AS (SELECT event_type, bucket_ts, value AS close FROM (
                   SELECT *, row_number() OVER
                     (PARTITION BY event_type, bucket_ts
                      ORDER BY ts_us DESC, event_id DESC) AS rn FROM b)
                 WHERE rn = 1),
           hl AS (SELECT event_type, bucket_ts, max(value) AS high,
                    min(value) AS low, CAST(count(*) AS BIGINT) AS n_events
                  FROM b GROUP BY 1, 2)
           SELECT hl.event_type, hl.bucket_ts, o.open, hl.high, hl.low,
             c.close, hl.n_events
           FROM hl JOIN o USING (event_type, bucket_ts)
             JOIN c USING (event_type, bucket_ts)""",

      "q_funnel" ->
        """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS ts_us
                      FROM events
                      WHERE event_type IN ('click', 'view', 'purchase')),
           s0 AS (SELECT user_id, min(CASE WHEN event_type = 'click'
                    THEN ts_us END) AS t0 FROM e GROUP BY 1),
           s1 AS (SELECT e.user_id, min(CASE WHEN event_type = 'view'
                    AND t0 IS NOT NULL AND ts_us > t0 THEN ts_us END) AS t1
                  FROM e JOIN s0 USING (user_id) GROUP BY 1),
           s2 AS (SELECT e.user_id, min(CASE WHEN event_type = 'purchase'
                    AND t1 IS NOT NULL AND ts_us > t1 THEN ts_us END) AS t2
                  FROM e JOIN s1 USING (user_id) GROUP BY 1)
           SELECT s0.user_id, t0, t1, t2,
             CAST((CASE WHEN t0 IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN t1 IS NULL THEN 0 ELSE 1 END)
               + (CASE WHEN t2 IS NULL THEN 0 ELSE 1 END) AS INT) AS depth
           FROM s0 JOIN s1 USING (user_id) JOIN s2 USING (user_id)""",

      "q_cohort" ->
        """WITH e AS (SELECT user_id,
                        CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS period
                      FROM events),
           c AS (SELECT user_id, min(period) AS cohort FROM e GROUP BY 1)
           SELECT cohort, period - cohort AS "offset",
             CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
           FROM e JOIN c USING (user_id) GROUP BY 1, 2""",

      "q_topk_source" ->
        """SELECT doc_id, source, n_chars, rank FROM (
             SELECT doc_id, source, n_chars, CAST(row_number() OVER
               (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC)
               AS INT) AS rank
             FROM documents) WHERE rank <= 3""",

      "q_rollup_lineitem" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS l_returnflag,
             coalesce(l_linestatus, 'ALL') AS l_linestatus,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(l_quantity AS DECIMAL(38,6))) AS DOUBLE) AS total
           FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""",

      "q_quantiles" ->
        """SELECT source, CAST(count(*) AS BIGINT) AS n,
             round(quantile_cont(n_chars, 0.5), 6) AS p50,
             round(quantile_cont(n_chars, 0.9), 6) AS p90,
             round(quantile_cont(n_chars, 0.99), 6) AS p99
           FROM documents GROUP BY source""",

      "q_moving_avg" ->
        """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                        value FROM events)
           SELECT event_id, event_type, ts_us AS ts, value,
             CAST(count(*) OVER w AS BIGINT) AS win_n,
             CAST(sum(CAST(value AS DECIMAL(38,6))) OVER w AS DOUBLE)
               / (count(*) OVER w) AS win_avg
           FROM e WINDOW w AS (PARTITION BY event_type ORDER BY ts_us
             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""",

      "q_derivative" ->
        """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                        value FROM events),
           d AS (SELECT *, value - lag(value) OVER w AS dv,
                   ts_us - lag(ts_us) OVER w AS dt
                 FROM e WINDOW w AS
                   (PARTITION BY event_type ORDER BY ts_us, event_id))
           SELECT event_id, event_type, ts_us AS ts, value,
             CASE WHEN dt > 0
               THEN round(dv / (CAST(dt AS DOUBLE) / 1e6), 6) END AS rate
           FROM d WHERE dt IS NOT NULL""",

      "q_interval_join" ->
        """SELECT l.user_id, l.event_id AS l_id, r.event_id AS r_id,
             epoch_us(r.ts) - epoch_us(l.ts) AS delta_us
           FROM events l JOIN events r ON l.user_id = r.user_id
             AND l.event_type = 'purchase' AND r.event_type = 'click'
             AND epoch_us(r.ts) >= epoch_us(l.ts) - 21600000000
             AND epoch_us(r.ts) <= epoch_us(l.ts) + 21600000000""",

      "q_pivot_daily" ->
        """SELECT epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000 AS day,
             CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
               AS BIGINT) AS click,
             CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
               AS BIGINT) AS view,
             CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS purchase,
             CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END)
               AS BIGINT) AS signup,
             CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
               AS BIGINT) AS error
           FROM events GROUP BY 1""",

      // exact top-5 per source — valid oracle because the sketch capacity
      // exceeds the realized vocabulary (counts exact by the SpaceSaving
      // no-eviction contract)
      "q_heavy_hitters" ->
        """WITH toks AS (
             SELECT source, lower(t.term) AS term
             FROM documents, unnest(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
               x -> x <> '')) AS t(term)),
           c AS (
             SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
             FROM toks GROUP BY source, term)
           SELECT source, term, cnt, rank FROM (
             SELECT *, CAST(row_number() OVER (
               PARTITION BY source ORDER BY cnt DESC, term) AS BIGINT)
               AS rank FROM c)
           WHERE rank <= 5 ORDER BY source, rank""",

      "q_pmi_bigrams" ->
        """WITH d AS (
             SELECT list_transform(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
               x -> lower(x)) AS toks
             FROM documents),
           bi AS (
             SELECT t.g AS pair FROM d,
               unnest(list_zip(toks[1:len(toks)-1], toks[2:len(toks)]))
               AS t(g)
             WHERE len(toks) >= 2),
           cab AS (
             SELECT pair[1] AS w1, pair[2] AS w2,
               CAST(count(*) AS BIGINT) AS c_ab
             FROM bi GROUP BY 1, 2),
           ca AS (SELECT w1, CAST(sum(c_ab) AS BIGINT) AS c_a
                  FROM cab GROUP BY w1),
           cb2 AS (SELECT w2, CAST(sum(c_ab) AS BIGINT) AS c_b
                   FROM cab GROUP BY w2),
           n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n FROM cab),
           scored AS (
             SELECT w1, w2, c_ab, c_a, c_b,
               CAST(c_ab AS DOUBLE) * CAST(n AS DOUBLE)
                 / (CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)) AS ratio
             FROM cab JOIN ca USING (w1) JOIN cb2 USING (w2), n
             WHERE c_ab >= 5)
           SELECT w1, w2, c_ab, c_a, c_b, round(ln(ratio), 6) AS pmi,
             CAST(row_number() OVER (
               ORDER BY round(ln(ratio), 6) DESC, w1, w2) AS BIGINT) AS rank
           FROM (SELECT * FROM scored ORDER BY ratio DESC, w1, w2 LIMIT 20)
           ORDER BY rank""",

      "q_bm25" ->
        """WITH d AS (
             SELECT doc_id, list_transform(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'), x -> x <> ''),
               x -> lower(x)) AS toks
             FROM documents),
           dl AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl FROM d),
           tf AS (
             SELECT doc_id, t.term, CAST(count(*) AS BIGINT) AS tf
             FROM d, unnest(toks) AS t(term)
             WHERE t.term IN ('spark', 'join', 'window')
             GROUP BY doc_id, t.term),
           dfreq AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                     FROM tf GROUP BY term),
           stats AS (SELECT CAST(count(*) AS BIGINT) AS n,
                       CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
           scored AS (
             SELECT tf.doc_id, CAST(count(*) AS BIGINT) AS matched,
               round(sum(ln(1 + (n - df + 0.5) / (df + 0.5))
                 * tf * 2.2
                 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))), 6) AS score
             FROM tf JOIN dfreq USING (term) JOIN dl USING (doc_id), stats
             GROUP BY tf.doc_id)
           SELECT doc_id, matched, score,
             CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS BIGINT)
               AS rank
           FROM (SELECT * FROM scored ORDER BY score DESC, doc_id LIMIT 10)
           ORDER BY rank""",

      "q_dataset_card" ->
        """WITH dig AS (
             SELECT source, md5(text) AS digest, count(*) AS c
             FROM documents GROUP BY source, md5(text)),
           dups AS (
             SELECT source, CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END)
               AS BIGINT) AS dup_docs
             FROM dig GROUP BY source),
           base AS (
             SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars,
               CAST(sum(CASE WHEN trim(text) = '' THEN 0
                 ELSE len(regexp_split_to_array(trim(text), '\s+')) END)
                 AS BIGINT) AS total_tokens
             FROM documents GROUP BY source)
           SELECT source, n_docs, n_langs, total_chars, total_tokens,
             dup_docs,
             round(CAST(n_docs - dup_docs AS DOUBLE) * 100.0 / n_docs, 6)
               AS uniq_pct
           FROM base JOIN dups USING (source) ORDER BY source""",

      "q_cdc_apply" ->
        """WITH dels AS (
             SELECT doc_id, 1 AS seq, 'delete' AS op, text, source, n_chars
             FROM documents WHERE doc_id % 7 = 0),
           ups AS (
             SELECT doc_id, 2 AS seq, 'upsert' AS op, text || ' v2' AS text,
               source, n_chars + 3 AS n_chars
             FROM documents WHERE doc_id % 5 = 0),
           ins AS (
             SELECT doc_id + 1000000 AS doc_id, 1 AS seq, 'upsert' AS op,
               text, 'srcNew' AS source, n_chars
             FROM documents WHERE doc_id % 13 = 0),
           changes AS (
             SELECT * FROM dels UNION ALL
             SELECT * FROM ups UNION ALL
             SELECT * FROM ins),
           latest AS (
             SELECT * FROM (
               SELECT *, row_number() OVER (
                 PARTITION BY doc_id ORDER BY seq DESC, op ASC) AS rn
               FROM changes) WHERE rn = 1),
           merged AS (
             SELECT doc_id,
               CASE WHEN l.op = 'upsert' THEN l.text ELSE b.text END AS text,
               CASE WHEN l.op = 'upsert' THEN l.source ELSE b.source END
                 AS source,
               CASE WHEN l.op = 'upsert' THEN l.n_chars ELSE b.n_chars END
                 AS n_chars,
               l.op AS op
             FROM documents b FULL OUTER JOIN latest l USING (doc_id))
           SELECT doc_id, md5(text) AS text_md5, source,
             CAST(n_chars AS BIGINT) AS n_chars
           FROM merged WHERE op IS NULL OR op <> 'delete'
           ORDER BY doc_id""",

      "q_countmin" ->
        """WITH toks AS (
             SELECT lower(t.term) AS term
             FROM documents, unnest(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
               x -> x <> '')) AS t(term)),
           cells AS (
             SELECT rr.r AS r,
               ('0x' || substring(md5(CAST(rr.r AS VARCHAR) || ':' || term),
                 1, 15))::BIGINT % 64 AS slot,
               CAST(count(*) AS BIGINT) AS cnt
             FROM toks CROSS JOIN range(4) rr(r) GROUP BY 1, 2),
           grid AS (
             SELECT a.r AS r, b.s AS slot
             FROM range(4) a(r) CROSS JOIN range(64) b(s))
           SELECT grid.r, grid.slot, coalesce(cnt, 0) AS cnt
           FROM grid LEFT JOIN cells
             ON grid.r = cells.r AND grid.slot = cells.slot
           ORDER BY grid.r, grid.slot""",

      "q_zorder_key" -> zorderKeyOracle,

      "q_wau_sliding" ->
        """WITH ud AS (
             SELECT DISTINCT epoch_us(ts)
               - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000
               AS period, user_id FROM events),
           mx AS (SELECT max(period) AS mx FROM ud),
           w AS (
             SELECT t.we AS window_end, user_id
             FROM ud, mx, unnest(generate_series(period,
               least(period + 6 * 86400000000, mx), 86400000000)) AS t(we))
           SELECT window_end,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active_users
           FROM w GROUP BY 1 ORDER BY 1""",

      "q_trend_slope" ->
        """WITH e AS (
             SELECT event_type, epoch_us(ts) AS ts_us, value FROM events),
           tm AS (SELECT event_type, min(ts_us) AS tmin
                  FROM e GROUP BY 1),
           d AS (
             SELECT e.event_type,
               CAST(ts_us - tmin AS DECIMAL(38,0)) AS x,
               CAST(value AS DECIMAL(38,6)) AS y
             FROM e JOIN tm USING (event_type)),
           m AS (
             SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(x) AS DOUBLE) AS sx,
               CAST(sum(y) AS DOUBLE) AS sy,
               CAST(sum(x * y) AS DOUBLE) AS sxy,
               CAST(sum(x * x) AS DOUBLE) AS sxx
             FROM d GROUP BY event_type)
           SELECT event_type, n,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx) * 1e6, 8)
               AS slope,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
               / n, 8) AS intercept
           FROM m ORDER BY event_type""",

      "q_mad_anomaly" ->
        """WITH e AS (SELECT event_id, event_type, epoch_us(ts) AS ts_us,
                        value FROM events),
           med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                   FROM e GROUP BY 1),
           mad AS (SELECT e.event_type, med,
                     quantile_cont(abs(value - med), 0.5) AS mad
                   FROM e JOIN med USING (event_type)
                   GROUP BY e.event_type, med)
           SELECT event_id, e.event_type, ts_us AS ts, value,
             round(med, 6) AS med, round(mad, 6) AS mad
           FROM e JOIN mad ON e.event_type = mad.event_type
           WHERE mad > 0 AND abs(value - med) > 5.0 * mad
           ORDER BY event_id""",

      "q_source_overlap" ->
        """WITH ts AS (
             SELECT DISTINCT source AS src, lower(t.term) AS term
             FROM documents, unnest(list_filter(
               regexp_split_to_array(text, '[^a-zA-Z0-9]+'),
               x -> x <> '')) AS t(term)),
           sizes AS (SELECT src, CAST(count(*) AS BIGINT) AS n_terms
                     FROM ts GROUP BY 1),
           inter AS (
             SELECT a.src AS src_a, b.src AS src_b,
               CAST(count(*) AS BIGINT) AS n_common
             FROM ts a JOIN ts b ON a.term = b.term AND a.src < b.src
             GROUP BY 1, 2)
           SELECT src_a, src_b, n_common, sa.n_terms AS n_a,
             sb.n_terms AS n_b,
             round(CAST(n_common AS DOUBLE)
               / (sa.n_terms + sb.n_terms - n_common), 6) AS jaccard
           FROM inter JOIN sizes sa ON src_a = sa.src
             JOIN sizes sb ON src_b = sb.src
           ORDER BY src_a, src_b""",

      "q_value_histogram" ->
        """WITH mm AS (
             SELECT min(CAST(value AS DOUBLE)) AS lo,
               max(CAST(value AS DOUBLE)) AS hi FROM events
             WHERE value IS NOT NULL),
           b AS (
             SELECT event_type,
               CAST(least(19, floor((CAST(value AS DOUBLE) - lo)
                 / (hi - lo) * 20)) AS BIGINT) AS bin
             FROM events, mm WHERE value IS NOT NULL)
           SELECT event_type, bin,
             round(lo + bin * ((hi - lo) / 20), 6) AS bin_lo,
             round(lo + (bin + 1) * ((hi - lo) / 20), 6) AS bin_hi,
             CAST(count(*) AS BIGINT) AS n
           FROM b, mm GROUP BY event_type, bin, lo, hi
           ORDER BY event_type, bin""",

      "q_profile_docs" ->
        """SELECT 'doc_id' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_nulls,
             CAST(count(DISTINCT doc_id) AS BIGINT) AS n_distinct,
             CAST(min(doc_id) AS VARCHAR) AS min_val,
             CAST(max(doc_id) AS VARCHAR) AS max_val
           FROM documents
           UNION ALL
           SELECT 'text', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT text) AS BIGINT),
             CAST(min(text) AS VARCHAR), CAST(max(text) AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'lang', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN lang IS NULL THEN 1 ELSE 0 END) AS BIGINT),
             CAST(count(DISTINCT lang) AS BIGINT),
             CAST(min(lang) AS VARCHAR), CAST(max(lang) AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'source', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN source IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(count(DISTINCT source) AS BIGINT),
             CAST(min(source) AS VARCHAR), CAST(max(source) AS VARCHAR)
           FROM documents
           UNION ALL
           SELECT 'n_chars', CAST(count(*) AS BIGINT),
             CAST(sum(CASE WHEN n_chars IS NULL THEN 1 ELSE 0 END)
               AS BIGINT),
             CAST(count(DISTINCT n_chars) AS BIGINT),
             CAST(min(n_chars) AS VARCHAR), CAST(max(n_chars) AS VARCHAR)
           FROM documents
           ORDER BY col_name""",

      "q_normalize_text" ->
        """WITH dirty AS (
             SELECT doc_id,
               chr(160) || chr(8203) || ' ' || text || '  ' || chr(9) ||
                 CASE WHEN doc_id % 3 = 0
                   THEN chr(7) || 'x' || chr(12288) || 'y' ELSE '' END
                 AS d
             FROM documents),
           norm AS (
             SELECT doc_id, trim(regexp_replace(regexp_replace(
               regexp_replace(d,
                 '[\x{00}-\x{08}\x{0B}\x{0C}\x{0E}-\x{1F}\x{7F}]', '', 'g'),
                 '[\x{00A0}\x{2000}-\x{200B}\x{202F}\x{3000}]', ' ', 'g'),
                 '\s+', ' ', 'g')) AS n
             FROM dirty)
           SELECT doc_id, md5(n) AS norm_md5,
             CAST(len(n) AS BIGINT) AS norm_len
           FROM norm ORDER BY doc_id""",

      "q_percentile_norm" ->
        """SELECT doc_id, source, n_chars,
             round(percent_rank() OVER (
               PARTITION BY source ORDER BY n_chars, doc_id), 6)
               AS norm_score
           FROM documents ORDER BY doc_id""",

      // the salt is invisible to the result — the oracle is the plain join
      "q_salted_join" ->
        """WITH st AS (
             SELECT event_type AS t, CAST(count(*) AS BIGINT) AS type_n,
               round(CAST(sum(CAST(value AS DECIMAL(38,6))) AS DOUBLE)
                 / count(*), 6) AS type_avg
             FROM events GROUP BY 1)
           SELECT event_id, event_type, type_n, type_avg
           FROM events JOIN st ON event_type = t ORDER BY event_id""",

      "q_active_users" ->
        """SELECT epoch_us(ts) - ((epoch_us(ts) % 86400000000) + 86400000000) % 86400000000 AS period_ts,
             CAST(count(DISTINCT user_id) AS BIGINT) AS active_users,
             CAST(count(*) AS BIGINT) AS n_events
           FROM events GROUP BY 1 ORDER BY 1""",

      // the Bloom pre-filter is invisible to the result (exact join
      // eliminates false positives) — the oracle is the plain join
      "q_bloom_join" ->
        """SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_lines,
             CAST(round(sum(CAST(l_extendedprice AS DECIMAL(20,4))), 2)
               AS DOUBLE) AS total_price
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey
           WHERE o_totalprice > 480000
           GROUP BY o_orderpriority ORDER BY o_orderpriority""")
  }
}
