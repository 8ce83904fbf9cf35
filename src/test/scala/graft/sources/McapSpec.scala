package graft.sources

import graft.SparkTestBase
import graft.engine.{QueryEngine, QuerySpec}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}

/** MCAP container ingest (mcap.dev spec) + the record-model bridge that
  * runs `#ext` pipelines over robotics payloads — the analog of the
  * reference's mcap extension fixture (integration_tests/api/data/
  * file.mcap). */
class McapSpec extends AnyFunSuite with SparkTestBase {

  private def writeMcap(name: String, bytes: Array[Byte]): String = {
    val dir = Files.createTempDirectory("graft-mcap")
    val f = dir.resolve(name)
    Files.write(f, bytes)
    f.toString
  }

  private val messages = Seq(
    ("/imu/data", 0L, 1_000_000_000L, """{"ax": 0.1, "temp": 21}""".getBytes),
    ("/imu/data", 1L, 2_000_000_000L, """{"ax": 9.8, "temp": 22}""".getBytes),
    ("/camera/image", 0L, 1_500_000_000L, Array[Byte](1, 2, 3, 4)))

  test("uncompressed mcap: messages join channel + schema metadata") {
    val path = writeMcap("plain.mcap",
      Mcap.synthMcap(messages, jsonTopics = Set("/imu/data")))
    val rows = Mcap.read(spark, path).orderBy("log_time_ns").collect()
    assert(rows.length == 3)
    val first = rows(0)
    assert(first.getAs[String]("topic") == "/imu/data")
    assert(first.getAs[String]("message_encoding") == "json")
    assert(first.getAs[String]("schema_name") == "graft.synth._imu_data")
    assert(first.getAs[String]("schema_encoding") == "jsonschema")
    assert(first.getAs[Long]("log_time_ns") == 1_000_000_000L)
    assert(new String(first.getAs[Array[Byte]]("payload")).contains("\"ax\": 0.1"))
    assert(rows(1).getAs[String]("topic") == "/camera/image")
    assert(rows(1).getAs[String]("message_encoding") == "cdr")
  }

  test("zstd and lz4 chunked mcap decode to the same messages") {
    for (c <- Seq("", "zstd", "lz4")) {
      val path = writeMcap(s"chunk-$c.mcap",
        Mcap.synthMcap(messages, compression = Some(c)))
      val got = Mcap.read(spark, path)
        .select("topic", "sequence", "log_time_ns").orderBy("log_time_ns")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == Seq(("/imu/data", 0L, 1_000_000_000L),
        ("/camera/image", 0L, 1_500_000_000L),
        ("/imu/data", 1L, 2_000_000_000L)), s"compression '$c'")
    }
  }

  test("truncated mcap keeps the parsed prefix") {
    val full = Mcap.synthMcap(messages)
    val cut = java.util.Arrays.copyOf(full, full.length - 60) // into a record
    val path = writeMcap("trunc.mcap", cut)
    val n = Mcap.read(spark, path).count()
    assert(n >= 1 && n < 3)
  }

  test("a forged string length keeps the parsed prefix without allocating it") {
    // the data section up to its closing records (data end 13 B, footer
    // 29 B, magic 8 B), then a schema record whose name length reads
    // Int.MaxValue over 4 bytes that are really there
    val prefix = Mcap.synthMcap(messages).dropRight(13 + 29 + 8)
    val forged = new java.io.ByteArrayOutputStream()
    forged.write(prefix)
    val content = java.nio.ByteBuffer.allocate(10).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putShort(9.toShort).putInt(Int.MaxValue).putInt(0).array()
    val header = java.nio.ByteBuffer.allocate(9).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put(0x03.toByte).putLong(content.length.toLong).array()
    forged.write(header)
    forged.write(content)
    val t0 = System.nanoTime()
    val rows = Mcap.parseBytes("forged", forged.toByteArray)
    assert(rows.map(_.getLong(4)) == // log_time_ns
      Seq(1_000_000_000L, 2_000_000_000L, 1_500_000_000L))
    assert((System.nanoTime() - t0) / 1000000L < 5000L, "the parse must return at once")
  }

  test("non-mcap bytes yield zero rows rather than a job failure") {
    val path = writeMcap("not.mcap", "hello world".getBytes)
    assert(Mcap.read(spark, path).count() == 0)
  }

  test("record bridge + #ext pipeline over mcap payloads (reference mcap fixture analog)") {
    val path = writeMcap("bridge.mcap",
      Mcap.synthMcap(messages, jsonTopics = Set("/imu/data")))
    val records = Mcap.fromMessages(Mcap.read(spark, path))
    // entry = topic sans leading '/', ts in µs, json content type
    val meta = records.orderBy("ts")
      .select("entry", "ts", "content_type").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq
    assert(meta == Seq(
      ("imu/data", 1_000_000L, "application/json"),
      ("camera/image", 1_500_000L, "application/octet-stream"),
      ("imu/data", 2_000_000L, "application/json")))
    // extension pipeline over the robotics payloads: extract @temp from
    // the imu JSON, then gate on it — computed labels propagate between
    // steps exactly as over any other record frame
    val out = QueryEngine.query(records, QuerySpec(
      entries = Some(Seq("imu/**")),
      when = Some(
        """{"#ext": [
             {"json_extract": {"fields": ["temp"]}},
             {"payload_stats": {}, "when": {"@temp": {"$gte": 22}}}
           ]}""")))
      .collect()
    assert(out.length == 1)
    val computed = out(0).getMap[String, String](out(0).fieldIndex("computed_labels"))
    assert(computed("temp") == "22")
    assert(computed.contains("crc32"))
  }
}
