package graft

import org.apache.spark.sql.SparkSession

/** The recommended SparkSession configuration for this engine, in one
  * place instead of copy-pasted builder blocks. Every graded main
  * (Bench/Verify) and probe uses these settings; a library caller
  * embedding the engine in their own session should apply the same
  * (each line carries its rationale; ARCHITECTURE.md §6 has the
  * 100 TB translation).
  *
  * `GraftSession.builder(master)` returns a pre-configured builder the
  * caller can override/extend before `getOrCreate()`.
  */
object GraftSession {

  /** Number of distinct query shapes a serving process can hold before
    * Spark's default 100-entry generated-class cache starts re-paying
    * janino + cold JIT per execution (measured 10x on 1M-row cached
    * scans — SCALE.md round 14). */
  val CodegenCacheEntries = 1024

  def builder(master: String = "local[32]",
      appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName(appName)
      // local parallelism stand-in for cluster shuffle partitioning;
      // at cluster scale set ~2-3x total executor cores (SCALE.md)
      .config("spark.sql.shuffle.partitions", "32")
      // partition discovery lists a level of more than 32 dirs (a bucket
      // of many entries) with one Spark task per dir up to this cap,
      // default 10000: a 10k-entry store listed in 65-80 s on 4 cores,
      // against 2-3 s with 32 tasks each listing ~300 dirs (local fs).
      // At cluster scale set it like shuffle.partitions.
      .config("spark.sql.sources.parallelPartitionDiscovery.parallelism", "32")
      // oracle determinism contract (ARCHITECTURE.md §2): UTC sessions,
      // non-ANSI coercions, TIMESTAMP(NANOS) parquet read as long
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // local-fs stores: skip Hadoop's client-side .crc siblings (they
      // double file creates; ~19 ms chmod fork each without libhadoop);
      // integrity moves to parquet page checksums, verified on read.
      // hdfs/s3a deployments are unaffected by either setting.
      .config("spark.hadoop.fs.file.impl",
        "org.apache.hadoop.fs.RawLocalFileSystem")
      .config("spark.hadoop.parquet.page.verify-checksum.enabled", "true")
      // BucketStore's rename-swap seam relies on committer algorithm v1:
      // task output stays under _temporary until the job commits, so an
      // aborted job leaves nothing visible. Spark defaults it to 1, but
      // the bundled Hadoop's own default is 2 — pin it, don't assume it.
      .config("spark.hadoop.mapreduce.fileoutputcommitter.algorithm.version", "1")
      // >100 live query shapes otherwise thrash the generated-class cache
      .config("spark.sql.codegen.cache.maxEntries",
        CodegenCacheEntries.toString)
  // AQE stays at Spark 4 defaults (adaptive + coalescePartitions ON,
  // parallelismFirst=true). The r20 #8 experiment flipped
  // parallelismFirst=false + advisoryPartitionSizeInBytes=4m so tiny
  // events-family aggregates would coalesce to one partition: MEASURED
  // WORSE at sf0.1 — the 14-query events probe regressed 3.88 → 4.39 s
  // (every query slower; size-based coalescing collapses the staged
  // record table's window exchange to ONE partition and serializes every
  // downstream filter stage). The sub-0.3 s tail is per-STAGE scheduling
  // overhead, not partition-count overhead — documented no-go.
}
