package graftbench

import java.nio.file.{Files, Path, Paths}

/** `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir>`: one run of one workload on one process at
  * `local[nproc]`. Prints the workload's detailed figures, then as the
  * last stdout line the contract JSON; exits 1 when an output check
  * failed. */
object Main {
  val Workloads: Seq[String] = Seq("mixed", "analytics")

  /** End-to-end metrics every workload reports (`--trace 0`). */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "op_p50_ms" -> "ms", "ops_per_s" -> "1/s", "heap_retained_mb" -> "MB")

  /** Per-layer metrics of the traced run (`--trace 1`); a layer a
    * workload leaves idle reports 0. */
  val PerLayer: Seq[(String, String)] =
    Seq("write", "query_open", "batch_fetch", "update", "remove", "list").map(o => s"http.$o.overhead_ms" -> "ms") ++
    Seq("http.requests" -> "count", "http.refused" -> "count",
      "coalescer.fan_in" -> "ratio", "store.mutations" -> "count") ++
    Seq("write", "update", "remove", "table", "list").map(n => s"store.${n}_ms" -> "ms") ++
    Seq("store.files" -> "count", "store.dirs" -> "count", "store.bytes_written_per_user_byte" -> "ratio",
      "store.compactions" -> "count", "store.rewrite_epochs" -> "count",
      "cond.parse_us" -> "us", "cond.compile_us" -> "us", "query.plan_ms" -> "ms") ++
    Corpus.Classes.flatMap(c => Seq(s"query.first_row_ms.$c" -> "ms", s"query.drain_ms.$c" -> "ms")) ++
    Seq("query.rows_read_per_row_returned" -> "ratio",
      "spark.jobs" -> "count", "spark.stages" -> "count", "spark.tasks" -> "count") ++
    Seq("write", "query", "update", "remove", "list", "analytics_query").map(o => s"spark.jobs_per_$o" -> "count") ++
    Seq("spark.shuffle_read_bytes" -> "B", "spark.shuffle_write_bytes" -> "B", "spark.output_bytes" -> "B",
      "spark.executor_run_ms" -> "ms", "spark.executor_cpu_ms" -> "ms", "spark.scheduler_delay_ms" -> "ms",
      "spark.gc_ms" -> "ms") ++
    AnalyticsWorkload.Families.map(f => s"analytics.${f}_s" -> "s") ++
    Seq("trace.spans" -> "count")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Workloads.contains(workload), s"--workload must be one of ${Workloads.mkString(", ")}")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toInt
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = Files.createDirectories(Paths.get(opts("work")).toAbsolutePath)
    val out = Files.createDirectories(Paths.get(opts("out")).toAbsolutePath)
    val cpus = Runtime.getRuntime.availableProcessors()

    val spark = graft.GraftSession.builder(s"local[$cpus]", "graftbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val trace = new Trace(traced)
    val counts = if (traced) {
      val c = new SparkCounts; spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val run = new Run(spark, work, seed, seconds, trace, counts, cores = math.min(4, cpus))
    val result = new Result
    run.log(s"session up; $workload, seed $seed")
    try workload match {
      case "mixed" => new Serving(run, result).mixed()
      case "analytics" => new AnalyticsWorkload(run, result)()
    } catch { case scala.util.control.NonFatal(e) =>
      e.printStackTrace()
      result.check(ok = false, s"$workload aborted: $e")
    }
    run.log("workload done")
    result.e2e("heap_retained_mb") = (Bench.heapRetainedMb(), "MB")
    spark.stop()
    run.log("session stopped")

    val tag = s"$workload-seed$seed-trace${if (traced) 1 else 0}"
    if (traced) {
      result.layer("trace.spans") = (trace.all.size.toDouble, "count")
      trace.write(out.resolve(s"spans-$tag.jsonl"))
    }
    val declared = if (traced) PerLayer else EndToEnd
    val source = if (traced) result.layer else result.e2e
    val metrics = declared.map { case (name, unit) =>
      name -> (source.get(name) match {
        case Some((v, _)) if !v.isNaN && !v.isInfinite => v
        case _ if traced => 0.0
        case _ => result.check(ok = false, s"$name was not measured"); 0.0
      }, unit)
    }
    for ((name, (v, unit)) <- result.e2e ++ result.detail)
      println(f"# $workload%-9s $name%-28s ${fmt(v)}%14s $unit")
    val line = json(result, metrics)
    Files.write(out.resolve(s"result-$tag.json"), (detailJson(result) + "\n").getBytes("UTF-8"))
    println(line)
    System.out.flush()
    sys.exit(if (result.correct) 0 else 1)
  }

  private def fmt(v: Double): String = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString else v.toString

  private def json(r: Result, metrics: Seq[(String, (Double, String))]): String =
    s"""{"correct": ${r.correct}, "attempted": ${math.max(1L, r.attempted.sum)}, "failed": ${r.failed.sum}, "metrics": {""" +
      metrics.map { case (n, (v, u)) => s""""$n": {"value": $v, "unit": "$u"}""" }.mkString(", ") + "}}"

  /** Everything the run measured, for the steadiness and trace reports. */
  private def detailJson(r: Result): String = {
    def obj(m: collection.Map[String, (Double, String)]) =
      m.map { case (n, (v, u)) => s""""$n": {"value": ${if (v.isNaN || v.isInfinite) "null" else v.toString}, "unit": "$u"}""" }
        .mkString("{", ", ", "}")
    s"""{"correct": ${r.correct}, "attempted": ${r.attempted.sum}, "failed": ${r.failed.sum}, "end_to_end": ${obj(r.e2e)}, "detail": ${obj(r.detail)}, "per_layer": ${obj(r.layer)}}"""
  }
}
