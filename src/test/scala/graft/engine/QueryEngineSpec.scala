package graft.engine

import graft.SparkTestBase
import graft.cond.Parser
import graft.core.Records
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end query semantics against small record fixtures, replaying the
  * reference's query/filter test scenarios (storage/query/base.rs:108-230,
  * filters/when.rs:109-400, integration_tests/api/entry_api/query_test.py).
  */
class QueryEngineSpec extends AnyFunSuite with SparkTestBase {

  private def recordsDf(rows: Seq[(String, Long, Map[String, String])]): DataFrame = {
    import scala.jdk.CollectionConverters._
    val data = rows.map { case (entry, ts, labels) =>
      Row("b", entry, ts, labels, Map.empty[String, String],
        "", Records.State.Finished, Array[Byte]())
    }.asJava
    spark.createDataFrame(data, Records.schema)
  }

  private def tss(df: DataFrame): Seq[Long] =
    df.select("ts").collect().map(_.getLong(0)).toSeq

  test("time range scan: start inclusive, stop exclusive; ts order") {
    val df = recordsDf(Seq(("e", 0L, Map("k" -> "1")), ("e", 5L, Map("k" -> "2")),
      ("e", 1000L, Map("k" -> "3"))))
    assert(tss(QueryEngine.query(df, QuerySpec(start = Some(900)))) == Seq(1000L))
    assert(tss(QueryEngine.query(df, QuerySpec(start = Some(0), stop = Some(1000)))) == Seq(0L, 5L))
    assert(tss(QueryEngine.query(df, QuerySpec())) == Seq(0L, 5L, 1000L))
  }

  test("only FINISHED records are returned") {
    import scala.jdk.CollectionConverters._
    val rows = Seq(
      Row("b", "e", 1L, Map.empty[String, String], Map.empty[String, String], "", 0, Array[Byte]()),
      Row("b", "e", 2L, Map.empty[String, String], Map.empty[String, String], "", 1, Array[Byte]()),
      Row("b", "e", 3L, Map.empty[String, String], Map.empty[String, String], "", 2, Array[Byte]())).asJava
    val df = spark.createDataFrame(rows, Records.schema)
    assert(tss(QueryEngine.query(df, QuerySpec())) == Seq(2L))
  }

  test("when condition over labels (compiled path)") {
    val df = recordsDf(Seq(
      ("e", 1L, Map("score" -> "5")), ("e", 2L, Map("score" -> "15")),
      ("e", 3L, Map("score" -> "25")), ("e", 4L, Map.empty)))
    val spec = QuerySpec(when = Some("""{"&score": {"$gt": 10}}"""))
    assert(tss(QueryEngine.query(df, spec)) == Seq(2L, 3L)) // missing label -> false
  }

  test("strict mode raises on missing label") {
    val df = recordsDf(Seq(("e", 1L, Map("a" -> "1")), ("e", 2L, Map.empty)))
    val spec = QuerySpec(when = Some("""{"&a": {"$gt": 0}}"""), strict = true)
    val ex = intercept[Exception] {
      QueryEngine.query(df, spec).collect()
    }
    assert(ex.getMessage != null)
  }

  test("ctx_before + limit interplay (filters/when.rs:165-196)") {
    val labels = Seq("false", "false", "false", "true", "true")
    val df = recordsDf(labels.zipWithIndex.map { case (v, i) =>
      ("e", i.toLong, Map("label" -> v))
    })
    val when = """{"#ctx_before": 2, "$and": [true, "&label"], "$limit": [1]}"""
    // reference: drain emits records 1,2,3 (0-based ts), then Interrupt
    val expect = Seq(1L, 2L, 3L)
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(when)))) == expect,
      "window-lowered path")
    val kernel = StatefulKernel.run(df, Parser.parse(when), strict = false)
      .orderBy("ts")
    assert(tss(kernel) == expect, "kernel path")
  }

  test("ctx_after records and duration (filters/when.rs:197-300)") {
    val df = recordsDf(Seq(
      ("e", 3000L, Map("label" -> "false")), ("e", 4000L, Map("label" -> "false")),
      ("e", 5000L, Map("label" -> "true")), ("e", 6000L, Map("label" -> "false")),
      ("e", 7000L, Map("label" -> "false")), ("e", 9001L, Map("label" -> "false"))))
    val whenAfterDur = """{"#ctx_after": "2ms", "$and": [true, "&label"]}"""
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(whenAfterDur)))) ==
      Seq(5000L, 6000L, 7000L)) // 9001 is beyond 5000+2000
    val whenBeforeDur = """{"#ctx_before": "2ms", "$and": [true, "&label"]}"""
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(whenBeforeDur)))) ==
      Seq(3000L, 4000L, 5000L))
  }

  test("each_n trailing lowering == kernel semantics") {
    val df = recordsDf((1 to 20).map(i => ("e", i.toLong, Map("v" -> i.toString))))
    val when = """{"&v": {"$gt": 4}, "$each_n": 3}"""
    // candidates 5..20 in order; every 3rd evaluated -> 7,10,13,16,19
    val expect = Seq(7L, 10L, 13L, 16L, 19L)
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(when)))) == expect)
    val kernel = StatefulKernel.run(df, Parser.parse(when), strict = false).orderBy("ts")
    assert(tss(kernel) == expect)
  }

  test("nested stateful ops tick per short-circuit evaluation (kernel)") {
    // {"$or": [cond, {"$each_n": 2}]}: each_n ticks ONLY when cond is
    // false (any_of.rs short-circuits on the first truthy operand)
    val df = recordsDf((1 to 8).map(i =>
      ("e", i.toLong, Map("v" -> (if (i <= 2) "1" else "0")))))
    val when = """{"$or": [{"&v": {"$eq": 1}}, {"$each_n": 2}]}"""
    // rows 1,2: cond true → match, no tick. rows 3..8: ticks 1..6 →
    // true on even ticks: rows 4, 6, 8
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(when)))) ==
      Seq(1L, 2L, 4L, 6L, 8L))
  }

  test("each_n with label-driven operand (kernel; non-lowerable)") {
    // n comes from the record's own label — evaluated per record
    val df = recordsDf((1 to 6).map(i => ("e", i.toLong, Map("n" -> "2"))))
    val when = """{"$each_n": ["&n"]}"""
    assert(tss(QueryEngine.query(df, QuerySpec(when = Some(when)))) ==
      Seq(2L, 4L, 6L))
  }

  test("each_t debounce on the kernel (each_t.rs:37-66)") {
    val df = recordsDf((0 to 10).map(i => ("e", i * 1000L, Map.empty[String, String])))
    val when = """{"$each_t": "2ms"}"""
    val out = tss(QueryEngine.query(df, QuerySpec(when = Some(when))))
    // first record arms state (not emitted); then every >=2ms
    assert(out == Seq(2000L, 4000L, 6000L, 8000L, 10000L))
  }

  test("stateful kernel: many entries split across tasks, one entry stays whole") {
    // the kernel is sequential WITHIN an entry (the reference's cursor
    // order) and parallel ACROSS entries: the same rows as one entry land
    // in one task, as 1000 entries they spread over every partition
    val n = 4000L
    def maxTaskShare(entryOf: org.apache.spark.sql.Column): (Long, Long) = {
      val records = spark.range(n).select(lit("b").as("bucket"),
        entryOf.as("entry"), col("id").as("ts"),
        typedLit(Map("k" -> "v")).as("labels"),
        typedLit(Map.empty[String, String]).as("computed_labels"),
        lit("").as("content_type"), lit(Records.State.Finished).as("state"),
        lit(Array.emptyByteArray).as("payload"))
      // $each_t has no window lowering: it always runs on the kernel
      val perTask = QueryEngine.matching(records,
          QuerySpec(when = Some("""{"$each_t": 0}""")))
        .groupBy(spark_partition_id()).count().collect().map(_.getLong(1))
      (perTask.max, perTask.sum)
    }
    val (oneMax, oneTotal) = maxTaskShare(lit("e0"))
    assert(oneTotal > 0 && oneMax == oneTotal,
      s"one entry must stay one task's slice: $oneMax of $oneTotal")
    val (manyMax, manyTotal) =
      maxTaskShare(concat(lit("e"), pmod(col("id"), lit(1000L))))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(parts > 1)
    assert(manyMax * parts <= manyTotal * 3 / 2,
      s"1000 entries must split across $parts tasks: max $manyMax of $manyTotal")
  }

  test("gate opens on rising edge for duration then requires reset (gate.rs)") {
    // input true at ts 0..3ms, false at 4ms, true 5..6ms; gate 2ms
    val inputs = Seq(0L -> "1", 1000L -> "1", 2000L -> "1", 3000L -> "1",
      4000L -> "0", 5000L -> "1", 6000L -> "1")
    val df = recordsDf(inputs.map { case (ts, v) => ("e", ts, Map("in" -> v)) })
    val when = """{"$gate": ["2ms", {"&in": {"$eq": 1}}]}"""
    val out = tss(QueryEngine.query(df, QuerySpec(when = Some(when))))
    // rising edge at 0 -> open until 2000 (exclusive), mirror input: 0,1000
    // at 2000 deadline hit -> reset latch until input false at 4000
    // rising edge 5000 -> open until 7000: 5000,6000
    assert(out == Seq(0L, 1000L, 5000L, 6000L))
  }

  test("multi-entry glob + merge order (storage/bucket/query.rs:341-380)") {
    val df = recordsDf(Seq(
      ("acc-a/x", 1L, Map.empty), ("acc-b/y", 1L, Map.empty),
      ("other", 1L, Map.empty), ("acc-a/x", 2L, Map.empty)))
    val q = QueryEngine.query(df, QuerySpec(entries = Some(Seq("acc-*"))))
    val got = q.select("ts", "entry").collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    assert(got == Seq((1L, "acc-a/x"), (1L, "acc-b/y"), (2L, "acc-a/x")))
    val excl = QueryEngine.query(df,
      QuerySpec(entries = Some(Seq("acc-*", "!acc-b/y"))))
    assert(excl.select("entry").distinct().collect().map(_.getString(0)).toSeq ==
      Seq("acc-a/x"))
  }

  test("wildcard and default queries never match system $meta entries (ADVICE r1)") {
    val df = recordsDf(Seq(
      ("a", 1L, Map.empty), ("$meta", 1L, Map.empty),
      ("app/$meta", 2L, Map.empty), ("b", 2L, Map.empty)))
    def names(spec: QuerySpec) = QueryEngine.query(df, spec)
      .select("entry").distinct().collect().map(_.getString(0)).toSet
    assert(names(QuerySpec()) == Set("a", "b"), "default query")
    assert(names(QuerySpec(entries = Some(Seq("*")))) == Set("a", "b"), "bare *")
    assert(names(QuerySpec(entries = Some(Seq.empty))) == Set("a", "b"), "empty list")
    // explicit naming still reaches a $meta entry
    assert(names(QuerySpec(entries = Some(Seq("$meta")))) == Set("$meta"))
    // wildcard remove must not delete $meta either
    val (survivors, removed) = QueryEngine.remove(df, QuerySpec(entries = Some(Seq("*"))))
    assert(removed == 2L)
    assert(survivors.select("entry").distinct().collect().map(_.getString(0)).toSet ==
      Set("$meta", "app/$meta"))
  }

  test("invalid timezone degrades to per-record false, not a crash (ADVICE r1)") {
    val df = recordsDf(Seq(
      ("e", 3600000000L, Map("tz" -> "Europe/Berlin")),
      ("e", 7200000000L, Map("tz" -> "Bogus/Zone"))))
    // constant bad tz: every record errors → false; query must not throw
    val bad = QueryEngine.query(df,
      QuerySpec(when = Some("""{"$gte": [{"$hour": ["$timestamp", "Bogus/Zone"]}, 0]}""")))
    assert(bad.count() == 0)
    // label-driven tz: one bad value must not poison the valid record
    val mixed = QueryEngine.query(df,
      QuerySpec(when = Some("""{"$gte": [{"$hour": ["$timestamp", "&tz"]}, 0]}""")))
    assert(tss(mixed) == Seq(3600000000L))
    // strict mode surfaces the error instead
    intercept[Exception] {
      QueryEngine.query(df, QuerySpec(strict = true,
        when = Some("""{"$gte": [{"$hour": ["$timestamp", "Bogus/Zone"]}, 0]}"""))).count()
    }
  }

  test("select_labels projection (filters/when/select_labels.rs)") {
    val df = recordsDf(Seq(("e", 1L, Map(
      "label" -> "true", "label1" -> "v1", "label2" -> "v2", "label3" -> "v3"))))
    val when = """{"#select_labels": ["label1", "label3"], "$and": [true, "&label"]}"""
    val out = QueryEngine.query(df, QuerySpec(when = Some(when))).collect()
    assert(out.length == 1)
    val labels = out(0).getMap[String, String](out(0).fieldIndex("labels"))
    assert(labels.keySet == Set("label1", "label3"))
  }

  test("count and remove queries ($each_n benchmark shape)") {
    val df = recordsDf((0 until 10).map(i => ("e", i.toLong, Map.empty[String, String])))
    val spec = QuerySpec(when = Some("""{"$each_n": 2}"""))
    assert(QueryEngine.count(df, spec) == 5L)
    val (survivors, removed) = QueryEngine.remove(df, spec)
    assert(removed == 5L)
    assert(survivors.count() == 5L)
    assert(tss(survivors.orderBy("ts")) == Seq(0L, 2L, 4L, 6L, 8L))
  }

  test("only_metadata drops payload") {
    val df = recordsDf(Seq(("e", 1L, Map.empty[String, String])))
    val out = QueryEngine.query(df, QuerySpec(onlyMetadata = true))
    assert(!out.columns.contains("payload"))
  }
}
