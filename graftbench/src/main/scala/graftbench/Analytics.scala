package graftbench

import java.nio.file.Path
import java.time.LocalDateTime
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.collection.mutable

/** The `analytics` workload: `SparkEntry.queries` over seeded tables, one
  * thread, queries in a seed-shuffled order. */
final class AnalyticsWorkload(run: Run, result: Result) {
  import AnalyticsWorkload._

  def apply(): Unit = {
    val g0 = System.nanoTime()
    val tables = run.freshDir("tables")
    Tables.write(run.spark, tables, run.seed)
    result.detail("tables_s") = ((System.nanoTime() - g0) / 1e9, "s")
    run.log("tables written")
    val queries = graft.SparkEntry.queries
    def count(dir: Path, q: String): Long = queries(q)(run.spark, dir.toString).count()
    // a set-up is a fresh copy of the tables and one run of every query on
    // it, one query per core at a time: the first run of a query on a
    // directory reads, stages and plans what later runs reuse (the first
    // set-up also compiles). Every set-up must return the first one's row
    // counts, and so must every timed run.
    val want = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val (dir, setupS) = run.setupRepeated(3) { _ =>
      val d = run.freshDir("copy")
      Bench.copyTree(tables, d)
      val next = new java.util.concurrent.atomic.AtomicInteger(0)
      Serving.parallel(run.cores) { _ =>
        var i = next.getAndIncrement()
        while (i < Sweep.size) {
          val q = Sweep(i)
          val c = count(d, q)
          val first = want.computeIfAbsent(q, _ => c)
          result.check(first == c, s"set-up: $q returned $c rows, first set-up $first")
          i = next.getAndIncrement()
        }
      }
      d
    }(Bench.deleteTree)
    val rng = new scala.util.Random(run.seed)
    val lat = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val jobs = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var n = 0
    val counts0 = run.sparkCounts.map(Snap(_))
    val t0 = System.nanoTime()
    val deadline = t0 + run.seconds * 1000000000L
    // passes in a seed-shuffled order until the deadline; the pass in
    // flight stops there, so a query has one sample more or less than
    // another, which its median absorbs
    val passMs = mutable.ArrayBuffer.empty[Double]
    while (n < Sweep.size || System.nanoTime() < deadline) {
      val p0 = System.nanoTime()
      for (q <- rng.shuffle(Sweep) if n < Sweep.size || System.nanoTime() < deadline) {
        result.attempted.increment()
        val j0 = run.sparkCounts.map(_.jobs.sum).getOrElse(0L)
        val q0 = System.nanoTime()
        val got = try Some(run.trace.span(s"analytics.${family(q)}")(count(dir, q)))
          catch { case scala.util.control.NonFatal(e) =>
            System.err.println(s"[graftbench] $q failed: $e"); None }
        val ms = (System.nanoTime() - q0) / 1e6
        jobs += (run.sparkCounts.map(_.jobs.sum).getOrElse(0L) - j0).toDouble
        got match {
          case Some(c) =>
            lat.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += ms
            rows += c
            result.check(c == want.get(q), s"$q returned $c rows, set-up returned ${want.get(q)}")
          case None => result.check(ok = false, s"$q raised an error")
        }
        n += 1
      }
      if (n % Sweep.size == 0) passMs += (System.nanoTime() - p0) / 1e6
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    run.log(s"measured $n queries")
    val counts1 = run.sparkCounts.map(Snap(_))
    val medians = lat.map { case (q, xs) => q -> Stats.median(xs.toSeq) }
    result.e2e("setup_s") = (setupS, "s")
    // per-query medians, combined by their geometric mean so every query
    // weighs the same whatever its cost; ops_per_s, queries over elapsed
    // time, is the arithmetic counterpart and moves with it
    result.e2e("op_p50_ms") = (Stats.geomean(Sweep.flatMap(medians.get)), "ms")
    result.e2e("ops_per_s") = (n / elapsed, "1/s")
    result.detail("rows_per_s") = (rows / elapsed, "1/s")
    result.detail("analytics_sweep_s") = (Stats.median(passMs.toSeq) / 1000, "s")
    result.detail("queries") = (Sweep.size.toDouble, "count")
    result.detail("passes") = (n.toDouble / Sweep.size, "count")
    for (q <- Sweep; m <- medians.get(q)) result.detail(s"${q}_p50_ms") = (m, "ms")
    if (run.trace.enabled) {
      for (f <- Families)
        result.layer(s"analytics.${f}_s") = (Sweep.filter(family(_) == f).flatMap(medians.get).sum / 1000, "s")
      result.layer("spark.jobs_per_analytics_query") = (Stats.median(jobs.toSeq), "count")
      for (a <- counts0; b <- counts1) a.layerDelta(b, result)
    }
    Bench.deleteTree(dir)
    Bench.deleteTree(tables)
  }
}

object AnalyticsWorkload {
  /** One entry of `SparkEntry.queries` per `graft.pipeline` family plus a
    * condition-language entry, each among the heavier of its family:
    * running every entry takes longer than one run may. */
  val Sweep: Vector[String] = Vector(
    "q_each_t", "q_minhash_pairs", "q_ivf_ann", "q_bm25", "q_sessionize",
    "q_rollup_lineitem", "q_sample_stratified")

  val Families: Seq[String] = Seq("cond", "dedup", "similarity", "text", "timeseries", "analytics", "sampling")

  def family(q: String): String = Families(Sweep.indexOf(q))
}

/** Spark execution counters at one instant. */
final case class Snap(v: Map[String, Long]) {
  def layerDelta(later: Snap, result: Result): Unit =
    for ((k, a) <- v) result.layer(s"spark.$k") = ((later.v(k) - a).toDouble,
      if (k.endsWith("_ms")) "ms" else if (k.endsWith("bytes")) "B" else "count")
}

object Snap {
  def apply(s: SparkCounts): Snap = Snap(Map(
    "jobs" -> s.jobs.sum, "stages" -> s.stages.sum, "tasks" -> s.tasks.sum,
    "shuffle_read_bytes" -> s.shuffleRead.sum, "shuffle_write_bytes" -> s.shuffleWrite.sum,
    "output_bytes" -> s.outputBytes.sum, "executor_run_ms" -> s.runMs.sum,
    "executor_cpu_ms" -> s.cpuNs.sum / 1000000L, "scheduler_delay_ms" -> s.schedulerDelayMs.sum,
    "gc_ms" -> s.gcMs.sum))
}

/** Seeded tables at the sizes and value distributions of the sf0.1 test
  * set the program's own `graft.Bench` runs on (`tools/gen_sf1.py`
  * records those distributions): only the four tables the sweep reads.
  * Sizes are fixed; the seed draws the values. Each table is one parquet
  * file, as in sf0.1, so scans split the way they do there. Timestamps
  * are written without a time zone. */
object Tables {
  val Events = 100000L
  val Orders = 150000L // lineitem: 1-7 lines per order, ~600,000 rows
  val Documents = 5000
  val Embeddings = 2000
  val Vocab: IndexedSeq[String] = "a agg batch big column customer data dup fast filter group hash join key line merge order part query row scan slow small sort spark stream table the value vector window".split(' ').toIndexedSeq

  /** A uniform draw in [0, 1) per row: a hash of the row key, the seed and
    * the column number `k`, so it does not depend on partitioning. */
  private def u(key: Column, seed: Long, k: Int): Column =
    xxhash64(key, lit(seed), lit(k)).bitwiseAND(lit((1L << 53) - 1)).cast("double") / (1L << 53).toDouble

  private def pick(xs: Seq[String], draw: Column): Column =
    element_at(array(xs.map(lit): _*), floor(draw * xs.size).cast("int") + 1)

  private def micros(us: Column): Column = timestamp_micros(us.cast("long")).cast(TimestampNTZType)

  private def usOf(t: LocalDateTime): Long = t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L

  def write(spark: SparkSession, dir: Path, seed: Long): Unit = {
    def save(name: String, df: DataFrame): Unit =
      df.coalesce(1).write.parquet(dir.resolve(s"$name.parquet").toString)
    events(spark, seed, save); lineitem(spark, seed, save)
    documents(spark, seed, save); embeddings(spark, seed, save)
  }

  private type Save = (String, DataFrame) => Unit

  private def rows(spark: SparkSession, save: Save, name: String, schema: StructType, rs: Seq[Row]): Unit = {
    import scala.jdk.CollectionConverters._
    save(name, spark.createDataFrame(rs.asJava, schema))
  }

  private def f(n: String, t: DataType) = StructField(n, t, nullable = true)

  private def events(spark: SparkSession, seed: Long, save: Save): Unit = {
    // events: ts sorted-uniform over 30 days, ~67 events per user,
    // value ~ Exp(mean 50)
    val t0 = usOf(LocalDateTime.of(2024, 1, 1, 0, 0))
    val step = 30L * 86400L * 1000000L / Events
    val id = col("id")
    save("events", spark.range(0, Events, 1, 1).select(
      id.as("event_id"),
      micros(lit(t0) + id * step + floor(u(id, seed, 1) * step)).as("ts"),
      floor(u(id, seed, 2) * (Events / 67 + 1)).cast("long").as("user_id"),
      pick(Seq("click", "view", "purchase", "signup", "error"), u(id, seed, 3)).as("event_type"),
      round(-log(lit(1.0) - u(id, seed, 4)) * 50, 2).as("value"),
      concat(lit("{\"k\": "), floor(u(id, seed, 5) * 100).cast("string"), lit("}")).as("props")))
  }

  private def lineitem(spark: SparkSession, seed: Long, save: Save): Unit = {
    // lineitem: 1-7 lines per order, uniform value ranges
    val d0 = usOf(LocalDateTime.of(1995, 1, 1, 0, 0))
    val d1 = usOf(LocalDateTime.of(2001, 8, 1, 0, 0))
    val id = col("id")
    val key = col("l_orderkey") * 8 + col("l_linenumber")
    save("lineitem", spark.range(0, Orders, 1, 1)
      .select(id.as("l_orderkey"),
        explode(sequence(lit(1), floor(u(id, seed, 10) * 7).cast("int") + 1)).as("l_linenumber"))
      .select(col("l_orderkey"),
        floor(u(key, seed, 11) * 20000).cast("long").as("l_partkey"),
        floor(u(key, seed, 12) * 1000).cast("long").as("l_suppkey"),
        col("l_linenumber"),
        (floor(u(key, seed, 13) * 50) + 1).cast("double").as("l_quantity"),
        round(lit(900.0) + u(key, seed, 14) * 104100, 2).as("l_extendedprice"),
        round(u(key, seed, 15) * 0.1, 2).as("l_discount"),
        round(u(key, seed, 16) * 0.08, 2).as("l_tax"),
        pick(Seq("A", "N", "R"), u(key, seed, 17)).as("l_returnflag"),
        pick(Seq("O", "F"), u(key, seed, 18)).as("l_linestatus"),
        micros(lit(d0) + floor(u(key, seed, 19) * (d1 - d0))).as("l_shipdate")))
  }

  private def documents(spark: SparkSession, seed: Long, save: Save): Unit = {
    val rng = new scala.util.Random(seed)
    // documents: 10-100 tokens from a 31-word vocabulary, 0.32% exact
    // copies of an earlier document
    val texts = mutable.ArrayBuffer.empty[String]
    rows(spark, save, "documents", StructType(Seq(f("doc_id", LongType), f("text", StringType), f("lang", StringType),
      f("source", StringType), f("n_chars", LongType))),
      (0 until Documents).map { i =>
        val text = if (i > 0 && rng.nextDouble() < 0.0032) texts(rng.nextInt(i))
          else Seq.fill(10 + rng.nextInt(91))(Vocab(rng.nextInt(Vocab.size))).mkString(" ")
        texts += text
        val v = rng.nextDouble()
        val lang = if (v < 0.4) "en" else Seq("de", "es", "fr", "zh")(((v - 0.4) / 0.15).toInt.min(3))
        Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
      })
  }

  private def embeddings(spark: SparkSession, seed: Long, save: Save): Unit = {
    val rng = new scala.util.Random(seed + 1)
    // embeddings: 64-dim unit vectors with a weak pull to one of 10
    // label centroids
    val centroids = Vector.fill(10) {
      val c = Vector.fill(64)(rng.nextGaussian()); val n = math.sqrt(c.map(x => x * x).sum); c.map(_ / n)
    }
    rows(spark, save, "embeddings", StructType(Seq(f("vec_id", LongType), f("embedding", ArrayType(FloatType, containsNull = true)),
      f("label", IntegerType))),
      (0 until Embeddings).map { i =>
        val label = rng.nextInt(10)
        val v = Vector.tabulate(64)(d => rng.nextGaussian() + 0.56 * centroids(label)(d))
        val norm = math.sqrt(v.map(x => x * x).sum)
        Row(i.toLong, v.map(x => (x / norm).toFloat), label)
      })
  }
}
