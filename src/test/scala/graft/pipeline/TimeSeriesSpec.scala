package graft.pipeline

import graft.SparkTestBase
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Semantics + plan shapes for the time-series and general analytics
  * operators. Events use the legacy LONG-ns `ts` encoding here; the
  * oracle queries exercise the TIMESTAMP_NTZ path on the driver tables,
  * so both ingest arms stay covered.
  */
class TimeSeriesSpec extends AnyFunSuite with SparkTestBase {
  import spark.implicits._

  /** (event_id, ts µs, user, type, value) → events-shaped frame (ns ts). */
  private def ev(rows: (Long, Long, Long, String, Double)*): DataFrame =
    rows.toSeq.toDF("event_id", "ts_in", "user_id", "event_type", "value")
      .select(col("event_id"), (col("ts_in") * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))

  test("sessionize: gap starts a new session; sums/bounds per session") {
    val df = ev(
      (1L, 0L, 7L, "click", 1.0), (2L, 10L, 7L, "click", 2.0),
      (3L, 200L, 7L, "view", 4.0), // gap 190 > 100 → new session
      (4L, 0L, 8L, "click", 8.0)) // other user: own numbering
    val out = TimeSeries.sessionize(df, gapUs = 100L)
      .orderBy("user_id", "session_idx")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (7L, 1L, 0L, 10L, 2L, 3.0),
      (7L, 2L, 200L, 200L, 1L, 4.0),
      (8L, 1L, 0L, 0L, 1L, 8.0)))
  }

  test("asof join: latest strictly-earlier left value; null before first") {
    val df = ev(
      (1L, 10L, 7L, "click", 1.0),
      (2L, 5L, 7L, "purchase", 50.0), // before any click → null
      (3L, 20L, 7L, "purchase", 51.0), // after click@10
      (4L, 30L, 7L, "click", 3.0),
      (5L, 40L, 7L, "purchase", 52.0), // after click@30
      (6L, 40L, 7L, "click", 9.9), // same ts, larger id → NOT visible to 5
      (7L, 15L, 8L, "purchase", 53.0)) // other user: isolated
    val out = TimeSeries.asofJoin(df, "click", "purchase")
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0),
        Option(r.get(4)).map(_.asInstanceOf[Double]),
        Option(r.get(5)).map(_.asInstanceOf[Long])))
    assert(out.toSeq == Seq(
      (2L, None, None),
      (3L, Some(1.0), Some(10L)),
      (5L, Some(3.0), Some(30L)),
      (7L, None, None)))
  }

  test("asof join: a null-valued left event advances the pair, never splits it") {
    // (ts, value) travel as one struct: the null-valued click@20 is the
    // latest left event for purchase@30 — asof_value must be null WITH
    // asof_ts=20, not click@10's value paired with click@20's ts
    val df = ev((1L, 10L, 7L, "click", 1.0), (3L, 30L, 7L, "purchase", 50.0))
      .union(spark.sql( // ev frames carry ns-long ts: 20 µs = 20000 ns
        """SELECT CAST(2 AS BIGINT), CAST(20000 AS BIGINT),
             CAST(7 AS BIGINT), 'click', CAST(NULL AS DOUBLE), '{}'"""))
    val out = TimeSeries.asofJoin(df, "click", "purchase").collect()(0)
    assert(out.isNullAt(out.fieldIndex("asof_value")), s"got $out")
    assert(out.getLong(out.fieldIndex("asof_ts")) == 20L, s"got $out")
  }

  test("tumbling rollup: floor buckets pre-epoch, agreeing with rollupWindows") {
    val df = ev((1L, -1L, 7L, "click", 1.0), (2L, 1L, 7L, "click", 2.0),
      (3L, -3600000000L, 7L, "click", 3.0))
    def canon(d: org.apache.spark.sql.DataFrame) =
      d.select("event_type", "bucket_ts", "n_events", "sum_value")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    val batch = canon(TimeSeries.tumblingRollup(df, 3600000000L))
    val declarative = canon(TimeSeries.rollupWindows(
      df.withColumn("tsc", timestamp_micros(expr("ts DIV 1000"))),
      col("tsc"), "1 hour"))
    // truncating % put ts=-1 in the bucket STARTING AFTER it (0) and
    // diverged from the window() twin; floor agrees: -1 → -3600000000
    assert(batch == declarative, s"batch $batch vs declarative $declarative")
    assert(batch.exists { case (_, b, n, s) => b == -3600000000L && n == 2 && s == 4.0 })
  }

  test("interval join: zero-width interval is rejected, not silently empty") {
    val df = ev((1L, 10L, 7L, "click", 1.0))
    intercept[IllegalArgumentException] {
      TimeSeries.intervalJoin(df, "click", "view", 0L, 0L)
    }
  }

  test("asof join plan: one window scan, no join node") {
    val df = ev((1L, 10L, 7L, "click", 1.0), (2L, 20L, 7L, "purchase", 2.0))
    val plan = TimeSeries.asofJoin(df, "click", "purchase")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Join"), s"as-of must not plan a join:\n$plan")
    assert("ShuffleExchange".r.findAllIn(plan).size <= 1,
      "as-of is a single keyed shuffle")
  }

  test("tumbling rollup: bucket floor + aggregates") {
    val df = ev(
      (1L, 0L, 7L, "a", 1.0), (2L, 99L, 7L, "a", 2.0), // bucket 0
      (3L, 100L, 7L, "a", 5.0), // bucket 100
      (4L, 250L, 7L, "b", 7.0)) // bucket 200
    val out = TimeSeries.tumblingRollup(df, widthUs = 100L)
      .orderBy("event_type", "bucket_ts")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      ("a", 0L, 2L, 3.0, 1.0, 2.0),
      ("a", 100L, 1L, 5.0, 5.0, 5.0),
      ("b", 200L, 1L, 7.0, 7.0, 7.0)))
  }

  test("gap fill: grid covers span per type; LOCF into empty ticks") {
    val df = ev(
      (1L, 5L, 7L, "a", 1.0), (2L, 35L, 7L, "a", 2.0),
      (3L, 8L, 7L, "a", 1.5), // later id, same tick 0: 1.5 wins tick 0
      (4L, 12L, 7L, "b", 9.0))
    val out = TimeSeries.gapFill(df, stepUs = 10L)
      .orderBy("event_type", "tick")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3)))
    assert(out.toSeq == Seq(
      ("a", 0L, 1.5, false), ("a", 10L, 1.5, true),
      ("a", 20L, 1.5, true), ("a", 30L, 2.0, false),
      ("b", 10L, 9.0, false)))
  }

  test("anomalies: 3-sigma flag from decimal moments") {
    val base = (1 to 10).map(i => (i.toLong, i.toLong * 10, 7L, "a", 0.0))
    val df = ev(base :+ ((11L, 200L, 7L, "a", 100.0)): _*)
    val out = TimeSeries.anomalies(df, nSigma = 3.0)
      .select("event_id").as[Long].collect()
    assert(out.toSeq == Seq(11L)) // |100-9.09| = 90.9 > 3σ = 90.45
    val plan = TimeSeries.anomalies(df, nSigma = 3.0)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      "per-type moments must broadcast back onto the stream")
  }

  test("trendSlope: exact least-squares line on planted linear data") {
    // y = 3·x_seconds + 5 exactly (ev()'s ts_in IS µs; steps of 1 s)
    val df = ev((1 to 9).map(i =>
      (i.toLong, i.toLong * 1000000, 1L, "a", 3.0 * i + 5.0)): _*)
    val r = TimeSeries.trendSlope(df).collect()(0)
    assert(r.getAs[Long]("n") == 9L)
    assert(r.getAs[Double]("slope") == 3.0, s"slope ${r.getAs[Double]("slope")}")
    // intercept is at x=0 = the FIRST event's time (x rebased): y(1s)=8
    assert(r.getAs[Double]("intercept") == 8.0)
  }

  test("madAnomalies: robust to the outliers the z-score misses") {
    // 12 inliers at 10±1 plus TWO huge outliers: the larger one drags σ
    // so far that the z-score MASKS the smaller (classic masking);
    // median/MAD isolates both
    val base = (1 to 12).map(i =>
      (i.toLong, i.toLong * 10, 7L, "a", 10.0 + (i % 3) - 1))
    val df = ev(base ++ Seq((13L, 130L, 7L, "a", 1000.0),
      (14L, 140L, 7L, "a", 2000.0)): _*)
    val z = TimeSeries.anomalies(df, nSigma = 3.0)
      .select("event_id").as[Long].collect().toSet
    val mad = TimeSeries.madAnomalies(df, k = 5.0)
      .select("event_id").as[Long].collect().toSet
    assert(z == Set(14L), s"z-score masks the smaller outlier, got $z")
    assert(mad == Set(13L, 14L), s"MAD must flag both outliers, got $mad")
  }

  test("sourceOverlap: exact vocabulary jaccard per source pair") {
    import graft.pipeline.TextAnalysis
    val docs = Seq(
      (1L, "a b c", "s1"), (2L, "b c d", "s2"), (3L, "x y z", "s3")
    ).toDF("doc_id", "text", "source")
    val out = TextAnalysis.sourceOverlap(docs)
      .select("src_a", "src_b", "n_common", "jaccard").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    // s1∩s2 = {b,c} of union {a,b,c,d}; s3 shares nothing (pairs absent)
    assert(out == Set(("s1", "s2", 2L, 0.5)))
  }

  test("topK per group: descending with ascending tie-break") {
    val docs = Seq(
      (1L, "s1", 10L), (2L, "s1", 30L), (3L, "s1", 30L), (4L, "s1", 5L),
      (5L, "s2", 1L)).toDF("doc_id", "source", "n_chars")
    val out = Analytics.topKPerGroup(docs, "source", "n_chars", "doc_id", 2)
      .orderBy("source", "rank")
      .select("doc_id", "rank").as[(Long, Int)].collect()
    assert(out.toSeq == Seq((2L, 1), (3L, 2), (5L, 1)))
  }

  test("rollup: leaf, per-key, and grand-total levels in one pass") {
    val df = Seq(("A", "X", 1.0), ("A", "Y", 2.0), ("B", "X", 4.0))
      .toDF("f", "s", "v")
    val out = Analytics.rollupSum(df, "f", "s", "v")
      .orderBy("f", "s")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3)))
    assert(out.toSeq == Seq(
      ("A", "ALL", 2L, 3.0), ("A", "X", 1L, 1.0), ("A", "Y", 1L, 2.0),
      ("ALL", "ALL", 3L, 7.0), ("B", "ALL", 1L, 4.0), ("B", "X", 1L, 4.0)))
  }

  test("quantiles per group: exact interpolated percentiles") {
    val df = (1 to 5).map(i => ("s", i.toLong)).toDF("source", "n_chars")
    val r = Analytics.quantilesPerGroup(df, "source", "n_chars",
      Seq(0.5, 0.9, 0.99)).collect().head
    assert(r.getString(0) == "s" && r.getLong(1) == 5L)
    assert(r.getDouble(2) == 3.0) // p50 of 1..5
    assert(r.getDouble(3) == 4.6) // p90: 4 + 0.6
    assert(r.getDouble(4) == 4.96) // p99
  }

  test("moving aggregate: trailing range window includes edge events") {
    val df = ev(
      (1L, 0L, 7L, "a", 2.0), (2L, 50L, 7L, "a", 4.0),
      (3L, 100L, 7L, "a", 6.0), // window 100: includes ts 0 (inclusive)
      (4L, 161L, 7L, "a", 8.0), // window [61,161]: only 100 and itself
      (5L, 0L, 7L, "b", 1.0))
    val out = TimeSeries.movingAggregate(df, windowUs = 100L)
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), r.getLong(4), r.getDouble(5)))
    assert(out.toSeq == Seq(
      (1L, 1L, 2.0), (2L, 2L, 3.0), (3L, 3L, 4.0), (4L, 2L, 7.0),
      (5L, 1L, 1.0)))
  }

  test("chunked windows: results match the naive whole-series window") {
    // random-ish series crossing MANY chunk boundaries, with ties at
    // boundaries and multi-chunk gaps — the differential proof that the
    // two-phase lowering is exact
    val rows = (0 until 600).map { i =>
      val ts = (i.toLong * 37 + (i % 5) * 1000) % 9000 // collisions + gaps
      (i.toLong, ts, 7L, if (i % 3 == 0) "a" else "b", (i % 11).toDouble)
    } ++ Seq((600L, 40000L, 7L, "a", 3.0)) // isolated event, empty chunks
    val df = ev(rows: _*)

    // naive references: single per-type window (the formulation the
    // chunked lowering replaces)
    import org.apache.spark.sql.expressions.Window
    val tsd = df.withColumn("ts_us", graft.core.Records.eventTsUs(df))
    val wNaive = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
      .rangeBetween(-100L, 0)
    val expMoving = tsd
      .withColumn("win_n", count(lit(1)).over(wNaive))
      .withColumn("win_avg", sum(col("value").cast("decimal(38,6)"))
        .over(wNaive).cast("double") / col("win_n"))
      .select("event_id", "win_n", "win_avg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val gotMoving = TimeSeries.movingAggregate(df, windowUs = 100L,
        naiveMaxRows = 0)
      .select("event_id", "win_n", "win_avg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(gotMoving == expMoving, "movingAggregate chunked != naive")

    val wLag = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val expDeriv = tsd
      .withColumn("__dt", col("ts_us") - lag(col("ts_us"), 1).over(wLag))
      .withColumn("rate", when(col("__dt") > 0,
        round((col("value") - lag(col("value"), 1).over(wLag)) /
          (col("__dt").cast("double") / 1e6), 6)))
      .where(col("__dt").isNotNull)
      .select("event_id", "rate").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    val gotDeriv = TimeSeries.derivative(df, chunkUs = 500L,
        naiveMaxRows = 0)
      .select("event_id", "rate").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(gotDeriv == expDeriv, "derivative chunked != naive")
    // the ADAPTIVE defaults (naive branch at this scale) agree too
    val adaptDeriv = TimeSeries.derivative(df, chunkUs = 500L)
      .select("event_id", "rate").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(adaptDeriv == expDeriv, "derivative adaptive != naive")

    // gapFill: tiny chunks (2 ticks) vs one huge chunk (≡ naive fill)
    val gotFill = TimeSeries.gapFill(df, stepUs = 50L, chunkTicks = 2,
        naiveMaxRows = 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    val expFill = TimeSeries.gapFill(df, stepUs = 50L,
        chunkTicks = Int.MaxValue / 100, naiveMaxRows = 0)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2),
        r.getBoolean(3))).toSet
    assert(gotFill == expFill, "gapFill chunked != single-chunk")
  }

  test("chunked windows: randomized differential across widths and factors") {
    // seeded random series — clustered timestamps, duplicate ts, sparse
    // stretches — checked against the naive windows for several
    // (windowUs, chunkFactor/chunkUs) combinations; the fixed-pattern
    // differential above plus this sweep pin the lowering from two sides
    val rnd = new scala.util.Random(20260814L)
    val rows = (0 until 800).map { i =>
      val base = rnd.nextInt(4) match {
        case 0 => rnd.nextInt(500)          // dense head
        case 1 => 3000 + rnd.nextInt(200)   // tight cluster
        case 2 => 10000 + rnd.nextInt(5000) // sparse tail
        case _ => rnd.nextInt(15000)
      }
      (i.toLong, base.toLong, 7L, s"t${rnd.nextInt(3)}", rnd.nextInt(9).toDouble)
    }
    val df = ev(rows: _*)
    val tsd = df.withColumn("ts_us", graft.core.Records.eventTsUs(df))
    import org.apache.spark.sql.expressions.Window
    for (windowUs <- Seq(50L, 700L, 20000L); factor <- Seq(1, 4)) {
      val wN = Window.partitionBy(col("event_type")).orderBy(col("ts_us"))
        .rangeBetween(-windowUs, 0)
      val exp = tsd.withColumn("win_n", count(lit(1)).over(wN))
        .select("event_id", "win_n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val got = TimeSeries.movingAggregate(df, windowUs,
          chunkFactor = factor, naiveMaxRows = 0)
        .select("event_id", "win_n").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got == exp, s"movingAggregate W=$windowUs factor=$factor")
    }
    val wL = Window.partitionBy(col("event_type"))
      .orderBy(col("ts_us"), col("event_id"))
    val expD = tsd.withColumn("__dt", col("ts_us") - lag(col("ts_us"), 1).over(wL))
      .where(col("__dt").isNotNull)
      .select("event_id").collect().map(_.getLong(0)).toSet
    for (chunkUs <- Seq(100L, 1000L, 100000L)) {
      val gotD = TimeSeries.derivative(df, chunkUs = chunkUs,
          naiveMaxRows = 0)
        .select("event_id").collect().map(_.getLong(0)).toSet
      assert(gotD == expD, s"derivative chunkUs=$chunkUs")
    }
    val expF = TimeSeries.gapFill(df, stepUs = 100L,
        chunkTicks = Int.MaxValue / 200, naiveMaxRows = 0).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
      .toSet
    for (ticks <- Seq(1, 3, 16)) {
      val gotF = TimeSeries.gapFill(df, stepUs = 100L, chunkTicks = ticks,
          naiveMaxRows = 0)
        .collect()
        .map(r => (r.getString(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
        .toSet
      assert(gotF == expF, s"gapFill chunkTicks=$ticks")
    }
  }

  test("chunked windows: NULL event_type series survives chunk boundaries") {
    // a window treats NULL as its own partition; the boundary joins must
    // too (bare-column equi-joins would drop each chunk's first row)
    val df = ev(
      (1L, 100L, 7L, "a", 1.0), (2L, 900L, 7L, "a", 2.0),
      (3L, 100L, 7L, null, 10.0), (4L, 900L, 7L, null, 30.0))
    val rates = TimeSeries.derivative(df, chunkUs = 500L, naiveMaxRows = 0)
      .select("event_id", "rate").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toMap
    // null-type: (30-10)/(800µs/1e6 s) = 25000/s; crosses chunk 0 → 1
    assert(rates == Map(2L -> 1250.0, 4L -> 25000.0), s"got $rates")
    val fills = TimeSeries.gapFill(df, stepUs = 200L, chunkTicks = 2,
        naiveMaxRows = 0)
      .collect().map(r => (Option(r.getString(0)), r.getLong(1),
        r.getDouble(2), r.getBoolean(3)))
    val nullRows = fills.filter(_._1.isEmpty).sortBy(_._2)
    assert(nullRows.map(x => (x._2, x._3, x._4)).toSeq == Seq(
      (0L, 10.0, false), (200L, 10.0, true), (400L, 10.0, true),
      (600L, 10.0, true), (800L, 30.0, false)),
      s"null-type series must gap-fill: ${nullRows.toSeq}")
  }

  test("chunked windows: no per-type partition carries the whole series") {
    val df = ev((1L, 0L, 7L, "a", 1.0), (2L, 10L, 7L, "a", 2.0))
    def windowPartitionSpecs(d: DataFrame): Seq[String] =
      "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
        .findAllMatchIn(d.queryExecution.executedPlan.toString)
        .map(_.group(1)).toSeq
    // the OUTPUT-producing window of each operator must partition on
    // (event_type, __chunk), never event_type alone — a handful of event
    // types over a 100-TB stream must not serialize through one task.
    // (The boundary-pass windows DO key on event_type alone, by design:
    // they run over per-chunk tables whose size is ∝ time span.)
    // naiveMaxRows = 0 stands in for "a type exceeded the probe bound"
    // movingAggregate's chunked branch is the sliding-deque KERNEL: no
    // window node at all (a sliding RANGE frame re-aggregates per row —
    // O(rows x frame)), just the (type, chunk) exchange + mapPartitions
    val mPlan = TimeSeries.movingAggregate(df, 100L, naiveMaxRows = 0)
      .queryExecution.executedPlan.toString
    val m = windowPartitionSpecs(TimeSeries.movingAggregate(df, 100L,
      naiveMaxRows = 0))
    assert(m.isEmpty, s"chunked movingAggregate must not plan a window: $m")
    assert(mPlan.contains("MapPartitions") &&
      mPlan.contains("hashpartitioning(event_type"),
      s"kernel must run per (type, chunk) partition:\n$mPlan")
    val dv = windowPartitionSpecs(TimeSeries.derivative(df, naiveMaxRows = 0))
    assert(dv.exists(_.contains("__chunk")),
      s"derivative per-event window must include __chunk: $dv")
    val g = windowPartitionSpecs(TimeSeries.gapFill(df, 10L, naiveMaxRows = 0))
    assert(g.exists(_.contains("__chunk")),
      s"gapFill fill window must include __chunk: $g")
    // below the threshold, the adaptive default plans the plain window —
    // no __chunk routing anywhere
    val mN = windowPartitionSpecs(TimeSeries.movingAggregate(df, 100L))
    assert(mN.nonEmpty && mN.forall(!_.contains("__chunk")),
      s"movingAggregate naive branch must not chunk: $mN")
  }

  test("chunked windows: the per-task slice stays below the per-type series") {
    // one event type whose series spans 100 chunks: once chunking
    // engages each task holds a few (type, chunk) slices, never the
    // whole series; the naive branch is the control that does
    val n = 4000
    val df = ev((0 until n).map(i => (i.toLong, i * 10L, 7L, "a", 1.0)): _*)
    def maxSlice(out: DataFrame): Long = out
      .groupBy(spark_partition_id()).count().agg(max("count"))
      .first().getLong(0)
    // the hazard is a partition too big to coalesce; at test scale AQE
    // would merge the tiny shuffle into one partition and hide the split
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val mov = maxSlice(TimeSeries.movingAggregate(df, 100L,
        naiveMaxRows = 0))
      assert(mov * 2 < n, s"movingAggregate slice $mov of a $n-row series")
      val der = maxSlice(TimeSeries.derivative(df, chunkUs = 400L,
        naiveMaxRows = 0))
      assert(der * 2 < n, s"derivative slice $der of a $n-row series")
      assert(maxSlice(TimeSeries.derivative(df, chunkUs = 400L)) == n - 1,
        "control: the naive per-type lag holds the whole series in one task")
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("movingAggregate: null values count into win_n but not the sum, " +
      "both branches") {
    val df = Seq(
      (1L, 0L, 7L, "a", Some(2.0)), (2L, 50L, 7L, "a", None),
      (3L, 80L, 7L, "a", Some(4.0)), (4L, 300L, 7L, "a", None))
      .toDF("event_id", "ts_in", "user_id", "event_type", "value")
      .select(col("event_id"), (col("ts_in") * 1000).as("ts"),
        col("user_id"), col("event_type"), col("value"),
        lit("{}").as("props"))
    for (branch <- Seq(Long.MaxValue, 0L)) {
      val out = TimeSeries.movingAggregate(df, windowUs = 100L,
          naiveMaxRows = branch)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(4), Option(r.get(5))))
      val expected = Seq(
        (1L, 1L, Some(2.0)),  // sum 2 / 1 row
        (2L, 2L, Some(1.0)),  // sum 2 / 2 rows (null counted, not summed)
        (3L, 3L, Some(2.0)),  // sum 6 / 3 rows
        (4L, 1L, None))       // frame holds only the null row → null avg
      assert(out.toSeq == expected, s"naiveMaxRows=$branch: ${out.toSeq}")
    }
  }

  test("movingAggregate: NaN/Inf/overflow values match the window's " +
      "cast-to-null semantics, both branches") {
    // the RANGE window's sum rides a double→decimal(38,6) cast, which
    // nulls NaN, ±Inf, and magnitudes past 32 integer digits; the
    // kernel must drop the same values from its running sum (and must
    // not crash on BigDecimal(NaN))
    val df = Seq(
      (1L, 0L, 2.0), (2L, 10L, Double.NaN),
      (3L, 20L, Double.PositiveInfinity), (4L, 30L, 1e33),
      (5L, 40L, 4.0))
      .toDF("event_id", "ts_in", "value")
      .select(col("event_id"), (col("ts_in") * 1000).as("ts"),
        lit(7L).as("user_id"), lit("a").as("event_type"), col("value"),
        lit("{}").as("props"))
    for (branch <- Seq(Long.MaxValue, 0L)) {
      val out = TimeSeries.movingAggregate(df, windowUs = 100000L,
          naiveMaxRows = branch)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(4), Option(r.get(5))))
      assert(out.last == ((5L, 5L, Some(6.0 / 5))),
        s"naiveMaxRows=$branch: ${out.toSeq}")
      assert(out(1)._2 == 2L && out(1)._3 == Some(2.0 / 2),
        s"naiveMaxRows=$branch NaN row: ${out.toSeq}")
    }
    // a long cast would silently null a string id — refused instead;
    // a scale-0 decimal id fits a long losslessly — accepted
    val bad = df.withColumn("event_id", concat(lit("e"), col("event_id")))
    intercept[IllegalArgumentException] {
      TimeSeries.movingAggregate(bad, windowUs = 100000L)
    }
    val decId = df.withColumn("event_id",
      col("event_id").cast("decimal(18,0)"))
    assert(TimeSeries.movingAggregate(decId, windowUs = 100000L)
      .count() == 5L)
    // >2^53 long values: both branches aggregate the value AS A DOUBLE
    // (the kernel's representation), so branch choice cannot change
    // win_avg even where the double rounds the long
    val wide = Seq((1L, 0L, 9007199254740993L), (2L, 10L, 1L))
      .toDF("event_id", "ts_in", "value")
      .select(col("event_id"), (col("ts_in") * 1000).as("ts"),
        lit(7L).as("user_id"), lit("a").as("event_type"), col("value"),
        lit("{}").as("props"))
    val byBranch = Seq(Long.MaxValue, 0L).map { b =>
      TimeSeries.movingAggregate(wide, windowUs = 100000L,
          naiveMaxRows = b)
        .orderBy("event_id").collect()
        .map(r => (r.getLong(0), r.getLong(4), r.getDouble(5))).toSeq
    }
    assert(byBranch(0) == byBranch(1),
      s"wide-long branches diverge: ${byBranch(0)} vs ${byBranch(1)}")
  }

  test("derivative: per-type consecutive rate; zero gap → null rate") {
    val df = ev(
      (1L, 0L, 7L, "a", 1.0), (2L, 2000000L, 7L, "a", 5.0), // +4 over 2 s
      (3L, 2000000L, 7L, "a", 6.0), // same ts as 2 → dt=0 → null
      (4L, 0L, 7L, "b", 9.0)) // first of its type: no row
    val out = TimeSeries.derivative(df)
      .orderBy("event_id")
      .collect().map(r => (r.getLong(0), Option(r.get(4))))
    assert(out.toSeq == Seq((2L, Some(2.0)), (3L, None)))
  }

  test("interval join: bucketed equi-join matches the θ-join exactly") {
    val df = ev(
      (1L, 1000L, 7L, "purchase", 1.0),
      (2L, 400L, 7L, "click", 0.0), // within [-700, +300] of 1000? 400>=300 ✓
      (3L, 299L, 7L, "click", 0.0), // outside (befor 1000-700=300)
      (4L, 1300L, 7L, "click", 0.0), // right edge inclusive
      (5L, 1301L, 7L, "click", 0.0), // outside
      (6L, 1000L, 8L, "click", 0.0)) // other user
    val out = TimeSeries.intervalJoin(df, "purchase", "click",
        beforeUs = 700L, afterUs = 300L)
      .orderBy("r_id")
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, -600L), (1L, 4L, 300L)))
    val plan = TimeSeries.intervalJoin(df, "purchase", "click", 700L, 300L)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("NestedLoop") && !plan.contains("Cartesian"),
      s"range join must lower to an equi-join:\n$plan")
  }

  test("pivot counts: static columns, zero-filled cells") {
    val df = Seq((1L, "x"), (1L, "x"), (2L, "y")).toDF("day", "t")
    val out = Analytics.pivotCounts(df, "day", "t", Seq("x", "y", "z"))
      .orderBy("day")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3)))
    assert(out.toSeq == Seq((1L, 2L, 0L, 0L), (2L, 0L, 1L, 0L)))
  }

  test("sessionWindows (batch): same sessions as the window-scan form") {
    val df = ev(
      (1L, 0L, 7L, "click", 1.0), (2L, 10L, 7L, "click", 2.0),
      (3L, 200L, 7L, "view", 4.0),
      (4L, 0L, 8L, "click", 8.0))
    val viaWindows = TimeSeries.sessionWindows(df,
        timestamp_micros((col("ts") / 1000).cast("long")), "100 microseconds")
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getDouble(4)))
    // session_end is start-of-last + gap here, so compare on start/n/sum
    val viaScan = TimeSeries.sessionize(df, gapUs = 100L)
      .orderBy("user_id", "session_start")
      .collect().map(r => (r.getLong(0), r.getLong(2), r.getLong(4),
        r.getDouble(5)))
    assert(viaWindows.toSeq == viaScan.toSeq)
  }

  test("sessionWindows (streaming): sessions close as the watermark passes") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("sw-src").toString
    val ck = Files.createTempDirectory("sw-ck").toString
    val out = Files.createTempDirectory("sw-out").toString
    def writeEvents(rows: Seq[(Long, Long, Double)]): Unit =
      rows.toDF("user_id", "ts_us", "value")
        .select(col("user_id"), timestamp_micros(col("ts_us")).as("ts"),
          col("value"))
        .write.mode("append").parquet(src)
    def run(): Unit = {
      val stream = spark.readStream
        .schema("user_id LONG, ts TIMESTAMP, value DOUBLE")
        .parquet(src)
        .withWatermark("ts", "10 seconds")
      TimeSeries.sessionWindows(stream, col("ts"), "30 seconds")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ck)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
    }
    def sessions(): Seq[(Long, Long, Long)] = spark.read.parquet(out)
      .select("user_id", "session_start", "n_events")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .toSeq.sorted
    val S = 1000000L // 1 s in µs
    // watermark after this batch = 100s - 10s = 90s: the 0..10s session
    // (window end 40s) closes within the run (AvailableNow's trailing
    // no-data batch applies the advanced watermark); the 100s session
    // (window end 130s) stays open in the state store
    writeEvents(Seq((7L, 0L * S, 1.0), (7L, 10 * S, 2.0), (7L, 100 * S, 4.0)))
    run()
    assert(sessions() == Seq((7L, 0L, 2L)),
      "only the session behind the watermark closes")
    // advancing the stream (watermark → 490s) closes the 100s session,
    // not the new 500s one
    writeEvents(Seq((7L, 500 * S, 8.0)))
    run()
    assert(sessions() == Seq((7L, 0L, 2L), (7L, 100 * S, 1L)))
  }

  test("funnel: in-order stage times; out-of-order events don't count") {
    val df = ev(
      // user 7: view BEFORE first click must not satisfy stage 2
      (1L, 10L, 7L, "view", 0.0), (2L, 20L, 7L, "click", 0.0),
      (3L, 30L, 7L, "view", 0.0), (4L, 40L, 7L, "purchase", 0.0),
      // user 8: click only
      (5L, 5L, 8L, "click", 0.0),
      // user 9: full funnel but purchase precedes view → depth 2
      (6L, 10L, 9L, "click", 0.0), (7L, 15L, 9L, "purchase", 0.0),
      (8L, 20L, 9L, "view", 0.0))
    val out = TimeSeries.funnel(df, Seq("click", "view", "purchase"))
      .orderBy("user_id")
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2)),
        Option(r.get(3)), r.getInt(4)))
    assert(out.toSeq == Seq(
      (7L, Some(20L), Some(30L), Some(40L), 3),
      (8L, Some(5L), None, None, 1),
      (9L, Some(10L), Some(20L), None, 2)))
    val plan = TimeSeries.funnel(df, Seq("click", "view", "purchase"))
      .queryExecution.executedPlan.toString
    assert("ShuffleExchange".r.findAllIn(plan).size <= 1,
      s"all funnel stages must share one user shuffle:\n$plan")
  }

  test("cohort retention: first-seen period cohorts, distinct users") {
    val df = ev(
      (1L, 0L, 7L, "a", 0.0), (2L, 5L, 7L, "a", 0.0), // p0 twice → 1 user
      (3L, 25L, 7L, "a", 0.0), // p2: offset 2
      (4L, 10L, 8L, "a", 0.0), (5L, 25L, 8L, "a", 0.0)) // cohort p1
    val out = TimeSeries.cohortRetention(df, periodUs = 10L)
      .orderBy("cohort", "offset")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq(
      (0L, 0L, 1L), (0L, 2L, 1L), (1L, 0L, 1L), (1L, 1L, 1L)))
  }

  test("approx sketches: HLL distinct within rsd; KLL quantiles bounded") {
    val df = (1 to 5000).map(i => ("g", i.toLong % 1000, i.toLong))
      .toDF("g", "v", "x")
    val approx = Analytics.approxDistinctPerGroup(df, "g", "v")
      .collect().head.getLong(1)
    assert(math.abs(approx - 1000) <= 1000 * 0.15,
      s"HLL estimate $approx too far from 1000")
    val pcts = Analytics.approxQuantilesPerGroup(df, "g", "x", Seq(0.5, 0.9))
      .collect().head
    // accuracy 10000 on 5000 rows → exact rank selection
    assert(pcts.getLong(1) == 2500L && pcts.getLong(2) == 4500L,
      s"got ${pcts.getLong(1)}, ${pcts.getLong(2)}")
  }

  test("ohlc bars: first/high/low/last by (ts, id) within bucket") {
    val df = ev(
      (1L, 10L, 7L, "a", 5.0), (2L, 20L, 7L, "a", 9.0),
      (3L, 30L, 7L, "a", 1.0), (4L, 40L, 7L, "a", 7.0),
      (5L, 40L, 7L, "a", 6.0), // same ts as 4, higher id → close = 6.0
      (6L, 150L, 7L, "a", 2.0))
    val out = TimeSeries.ohlcBars(df, widthUs = 100L)
      .orderBy("event_type", "bucket_ts")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(out.toSeq == Seq(
      (0L, 5.0, 9.0, 1.0, 6.0, 5L), (100L, 2.0, 2.0, 2.0, 2.0, 1L)))
  }

  test("asofJoinTables: strict vs inclusive on equal timestamps") {
    val quotes = Seq((7L, 10L, 1.0), (7L, 20L, 2.0), (8L, 5L, 9.0))
      .toDF("user_id", "ts", "price")
    val trades = Seq((7L, 20L), (7L, 25L), (7L, 5L), (8L, 6L))
      .toDF("user_id", "ts")
    def run(strict: Boolean, naiveMaxRows: Long) =
      TimeSeries.asofJoinTables(quotes, trades, "user_id", "ts", "price",
          strict, chunkUs = 8L, naiveMaxRows = naiveMaxRows)
        .orderBy("user_id", "ts")
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)).map(_.asInstanceOf[Double])))
    for (branch <- Seq(Long.MaxValue, 0L)) { // naive window / forced chunked
      // strict: the 20-quote is NOT visible to the 20-trade
      assert(run(strict = true, branch).toSeq == Seq(
        (7L, 5L, None), (7L, 20L, Some(1.0)), (7L, 25L, Some(2.0)),
        (8L, 6L, Some(9.0))), s"strict, naiveMaxRows=$branch")
      // inclusive: it is
      assert(run(strict = false, branch).toSeq == Seq(
        (7L, 5L, None), (7L, 20L, Some(2.0)), (7L, 25L, Some(2.0)),
        (8L, 6L, Some(9.0))), s"inclusive, naiveMaxRows=$branch")
    }
    // naive branch (the adaptive default here): a single interleaved
    // window scan, no join node at all
    val plan = TimeSeries.asofJoinTables(quotes, trades, "user_id", "ts",
      "price").queryExecution.executedPlan.toString
    assert(!plan.contains("Join"),
      "two-table as-of naive branch must not plan a join")
    // chunked branch: the output window must carry __chunk (no per-key
    // whole-history sort), and its boundary joins must stay equi-joins
    val cPlan = TimeSeries.asofJoinTables(quotes, trades, "user_id", "ts",
        "price", strict = true, chunkUs = 8L, naiveMaxRows = 0)
      .queryExecution.executedPlan.toString
    val cSpecs = "Window \\[[^\\]]*\\], \\[([^\\]]*)\\]".r
      .findAllMatchIn(cPlan).map(_.group(1)).toSeq
    assert(cSpecs.exists(_.contains("__chunk")),
      s"chunked as-of output window must include __chunk: $cSpecs")
    assert(!cPlan.contains("CartesianProduct") &&
      !cPlan.contains("BroadcastNestedLoopJoin"),
      "chunked as-of must join on (key, chunk) only")
  }

  test("asofJoinTables: randomized chunked == naive across chunk widths " +
      "and strictness") {
    val rnd = new scala.util.Random(20260814L)
    // few keys (the low-cardinality shape), colliding timestamps on and
    // off chunk boundaries, interleaved left/right, value ties
    val quotes = (0 until 500).map { i =>
      (rnd.nextInt(3).toLong, rnd.nextInt(2000).toLong,
        rnd.nextInt(5).toDouble)
    }.toDF("sym", "ts", "price")
    val trades = (0 until 500).map { i =>
      (rnd.nextInt(3).toLong, rnd.nextInt(2000).toLong)
    }.toDF("sym", "ts")
    for (strict <- Seq(true, false)) {
      val exp = TimeSeries.asofJoinTables(quotes, trades, "sym", "ts",
          "price", strict, naiveMaxRows = Long.MaxValue)
        .collect().map(r => (r.getLong(0), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).sortBy(x => (x._1, x._2)).toSeq
      for (chunkUs <- Seq(7L, 64L, 1000L, 100000L)) {
        val got = TimeSeries.asofJoinTables(quotes, trades, "sym", "ts",
            "price", strict, chunkUs = chunkUs, naiveMaxRows = 0)
          .collect().map(r => (r.getLong(0), r.getLong(1),
            Option(r.get(2)), Option(r.get(3)))).sortBy(x => (x._1, x._2)).toSeq
        assert(got == exp, s"asofJoinTables strict=$strict chunkUs=$chunkUs")
      }
    }
  }

  test("asofJoinTables: NULL keys and null left values survive both branches") {
    val quotes = Seq((Option(7L), 10L, Option(1.0)),
      (Option.empty[Long], 5L, Option(3.0)),
      (Option.empty[Long], 8L, Option.empty[Double]))
      .toDF("sym", "ts", "price")
    val trades = Seq((Option(7L), 12L), (Option.empty[Long], 9L))
      .toDF("sym", "ts")
    for (branch <- Seq(Long.MaxValue, 0L)) {
      val out = TimeSeries.asofJoinTables(quotes, trades, "sym", "ts",
          "price", strict = true, chunkUs = 4L, naiveMaxRows = branch)
        .collect().map(r => (Option(r.get(0)), r.getLong(1),
          Option(r.get(2)), Option(r.get(3)))).sortBy(_._2)
      // the null-key trade matches the null-key quote stream; the later
      // null-VALUED quote is still the as-of row (the pair is one struct)
      assert(out.toSeq == Seq(
        (None, 9L, None, Some(8L)),
        (Some(7L), 12L, Some(1.0), Some(10L))),
        s"naiveMaxRows=$branch: ${out.toSeq}")
    }
  }

  test("snapshotDiff: added/removed/changed/unchanged classification") {
    val old = Seq((1L, "a", "s"), (2L, "b", "s"), (3L, "c", "s"))
      .toDF("doc_id", "text", "source")
    val nw = Seq((2L, "b", "s"), (3L, "C2", "s"), (4L, "d", "s"))
      .toDF("doc_id", "text", "source")
    val out = Analytics.snapshotDiff(old, nw, "doc_id", Seq("text", "source"))
      .orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(out.toSeq == Seq((1L, "removed"), (2L, "unchanged"),
      (3L, "changed"), (4L, "added")))
  }

  test("shuffle budgets: sessionize ≤2, rollup 1 keyed shuffle") {
    def shuffles(df: DataFrame): Int =
      "ShuffleExchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
    val df = ev((1L, 0L, 7L, "a", 1.0), (2L, 10L, 8L, "b", 2.0))
    assert(shuffles(TimeSeries.sessionize(df, 100L)) <= 2,
      "sessionize: user window + session agg only")
    assert(shuffles(TimeSeries.tumblingRollup(df, 100L)) <= 1,
      "rollup: one keyed agg shuffle")
    assert(shuffles(TimeSeries.gapFill(df, 10L)) <= 3,
      "gap fill: tick agg + span agg + fill window")
  }
}
