package graft.sources

import java.io.{BufferedInputStream, ByteArrayInputStream, DataInputStream, EOFException, InputStream}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** MCAP ingest — the container format robotics logs arrive in (the
  * modern ROS bag; public spec at mcap.dev). One row per Message record,
  * joined with its Channel (topic, encoding) and Schema (name, encoding)
  * metadata, ready for the record model / extension pipelines — the
  * analog of the reference's mcap extension fixture
  * (integration_tests/api/data/file.mcap driving its `#ext` pipelines).
  *
  * Execution model mirrors [[Warc]]: MCAP files are not splittable at the
  * record level without the summary index, so parallelism is per FILE —
  * a fleet of robot logs maps 1:1 onto executors. Files stream
  * sequentially; only one record's content (or one decompressed chunk —
  * chunks are MB-scale by construction) is in memory per task at a time.
  *
  * Scope: the data section — Header, Schema, Channel, Message, and Chunk
  * records (chunk compression "", "zstd", "lz4"; zstd-jni and lz4-java
  * ship on the Spark classpath). Index/summary records are skipped: they
  * only accelerate random access, which a full scan doesn't need.
  * Malformed trailing bytes end the file's iteration (a crash-truncated
  * robot log keeps its parsed prefix, like truncated WARC segments).
  */
object Mcap {

  private val Magic: Array[Byte] =
    Array(0x89.toByte, 'M', 'C', 'A', 'P', '0', '\r', '\n')

  val schema: StructType = StructType(Seq(
    StructField("mcap_file", StringType),
    StructField("topic", StringType),
    StructField("channel_id", IntegerType),
    StructField("sequence", LongType),
    StructField("log_time_ns", LongType),
    StructField("publish_time_ns", LongType),
    StructField("schema_name", StringType),
    StructField("schema_encoding", StringType),
    StructField("message_encoding", StringType),
    StructField("payload", BinaryType)))

  /** All Message records of the `.mcap` files under `path`. */
  def read(spark: SparkSession, path: String): DataFrame = {
    val rdd = spark.sparkContext.binaryFiles(path).flatMap {
      case (file, pds) =>
        val in = new DataInputStream(new BufferedInputStream(pds.open(), 1 << 16))
        new MessageIterator(file, in)
    }
    spark.createDataFrame(rdd, schema)
  }

  /** Map messages into the record model: entry = the topic (leading '/'
    * stripped — topic names are the keyexpr/entry analog), ts = log_time
    * in µs (the record-ID resolution), channel/schema metadata as labels,
    * content type from the message encoding. Feed the result to
    * QueryEngine / `#ext` pipelines like any other record frame. */
  def fromMessages(messages: DataFrame, bucket: String = "default"): DataFrame =
    messages.select(
      lit(bucket).as("bucket"),
      regexp_replace(col("topic"), "^/+", "").as("entry"),
      expr("log_time_ns DIV 1000").as("ts"),
      map(
        lit("topic"), col("topic"),
        lit("schema"), coalesce(col("schema_name"), lit("")),
        lit("sequence"), col("sequence").cast("string"),
        lit("encoding"), coalesce(col("message_encoding"), lit(""))).as("labels"),
      map().cast("map<string,string>").as("computed_labels"),
      when(col("message_encoding") === "json", lit("application/json"))
        .otherwise(lit("application/octet-stream")).as("content_type"),
      lit(graft.core.Records.State.Finished).as("state"),
      col("payload"))

  /** Upper bound on a chunk's declared uncompressed size (the
    * decompressor allocates it upfront). Real MCAP chunks are megabytes;
    * the bound only rejects forged headers. */
  private val MaxChunkBytes = 256L * 1024 * 1024

  /** Test seam: parse raw MCAP bytes driver-side (the same iterator the
    * distributed `read` runs per file) — lets robustness fuzzing hit the
    * parser without a Spark job per case. */
  private[graft] def parseBytes(name: String, bytes: Array[Byte]): Seq[Row] =
    new MessageIterator(name, new DataInputStream(
      new java.io.ByteArrayInputStream(bytes))).toVector

  // ---------------------------------------------------------- opcodes
  private val OpHeader = 0x01
  private val OpFooter = 0x02
  private val OpSchema = 0x03
  private val OpChannel = 0x04
  private val OpMessage = 0x05
  private val OpChunk = 0x06
  private val OpDataEnd = 0x0f

  // ---------------------------------------------------------- parsing

  private final class MessageIterator(file: String, in: DataInputStream)
      extends Iterator[Row] {
    private val schemas = scala.collection.mutable.Map.empty[Int, (String, String)]
    private val channels = scala.collection.mutable.Map.empty[Int, (String, String, Int)]
    /** rows decoded from the chunk currently being drained */
    private var pending: Iterator[Row] = Iterator.empty
    private var nextRow: Row = _
    private var done = false
    private var started = false

    override def hasNext: Boolean = {
      if (nextRow == null && !done) advance()
      nextRow != null
    }
    override def next(): Row = {
      if (!hasNext) throw new NoSuchElementException
      val r = nextRow; nextRow = null; r
    }

    private def advance(): Unit =
      try {
        if (!started) { expectMagic(); started = true }
        while (nextRow == null && !done) {
          if (pending.hasNext) { nextRow = pending.next() }
          else {
            val op = in.read()
            // EOF or the closing magic (0x89 — not a record opcode): done
            if (op < 0 || op == 0x89) { finish(); return }
            val len = readU64(in)
            op match {
              case OpFooter => finish()
              case OpMessage =>
                val content = readN(in, len)
                nextRow = decodeMessage(content)
              case OpSchema => decodeSchema(readN(in, len))
              case OpChannel => decodeChannel(readN(in, len))
              case OpChunk => pending = decodeChunk(readN(in, len))
              case _ => skipN(in, len) // header, indexes, stats, data-end…
            }
          }
        }
      } catch {
        // truncated/corrupt tail: keep the parsed prefix. NonFatal, not
        // just EOF/IAE — fuzzed size fields reach BufferUnderflow /
        // NegativeArraySize / zstd errors through decodeChunk, and a
        // corrupt record must degrade to a damage-bounded short read,
        // never a task failure (r15 decoder-robustness pass). LOGGED:
        // silent truncation would hide real parser bugs and bound
        // rejections from operators.
        case scala.util.control.NonFatal(e) =>
          System.err.println(s"[mcap] $file: kept parsed prefix, dropping tail: $e")
          finish()
      }

    private def finish(): Unit = { done = true; in.close() }

    private def expectMagic(): Unit = {
      val m = new Array[Byte](8)
      in.readFully(m)
      if (!java.util.Arrays.equals(m, Magic))
        throw new IllegalArgumentException(s"$file: not an MCAP file")
    }

    /** Schema record: id u16, name string, encoding string, data. */
    private def decodeSchema(b: Array[Byte]): Unit = {
      val buf = le(b)
      val id = buf.getShort & 0xffff
      val name = getString(buf)
      val encoding = getString(buf)
      schemas(id) = (name, encoding)
    }

    /** Channel record: id u16, schema_id u16, topic string,
      * message_encoding string, metadata. */
    private def decodeChannel(b: Array[Byte]): Unit = {
      val buf = le(b)
      val id = buf.getShort & 0xffff
      val schemaId = buf.getShort & 0xffff
      val topic = getString(buf)
      val msgEncoding = getString(buf)
      channels(id) = (topic, msgEncoding, schemaId)
    }

    /** Message record: channel_id u16, sequence u32, log_time u64,
      * publish_time u64, data = rest. */
    private def decodeMessage(b: Array[Byte]): Row = {
      val buf = le(b)
      val channelId = buf.getShort & 0xffff
      val sequence = buf.getInt.toLong & 0xffffffffL
      val logTime = buf.getLong
      val publishTime = buf.getLong
      val data = new Array[Byte](buf.remaining())
      buf.get(data)
      val (topic, msgEncoding, schemaId) =
        channels.getOrElse(channelId, ("", null, 0))
      val (schemaName, schemaEncoding) =
        schemas.get(schemaId).map(s => (s._1, s._2)).getOrElse((null, null))
      Row(file, topic, channelId, sequence, logTime, publishTime,
        schemaName, schemaEncoding, msgEncoding, data)
    }

    /** Chunk record: start/end times u64×2, uncompressed_size u64,
      * crc u32, compression string, records (u64-prefixed). The chunk's
      * records (schemas/channels/messages) parse recursively; ONE
      * decompressed chunk is held at a time. */
    private def decodeChunk(b: Array[Byte]): Iterator[Row] = {
      val buf = le(b)
      buf.position(buf.position() + 8 + 8) // message start/end times
      val uncompressedSize = buf.getLong
      buf.getInt // crc (not verified on the scan path)
      val compression = getString(buf)
      val recLen = buf.getLong
      // a lying records-length can't exceed the bytes actually present
      require(recLen >= 0 && recLen <= buf.remaining(),
        s"chunk records length $recLen > ${buf.remaining()} available")
      // decompression allocates uncompressedSize upfront — bound it so a
      // forged header can't request multi-GB (real chunks are ~MBs)
      require(uncompressedSize >= 0 && uncompressedSize <= MaxChunkBytes,
        s"chunk uncompressed size $uncompressedSize")
      val comp = new Array[Byte](recLen.toInt)
      buf.get(comp)
      val records: Array[Byte] = compression match {
        case "" => comp
        case "zstd" =>
          com.github.luben.zstd.Zstd.decompress(comp, uncompressedSize.toInt)
        case "lz4" =>
          val s = new net.jpountz.lz4.LZ4FrameInputStream(
            new ByteArrayInputStream(comp))
          val out = new java.io.ByteArrayOutputStream(uncompressedSize.toInt)
          val tmp = new Array[Byte](1 << 16)
          var n = s.read(tmp)
          while (n >= 0) {
            out.write(tmp, 0, n)
            // the declared-size bound must also bind the STREAMED path —
            // an lz4 frame packing max-ratio blocks would otherwise
            // expand a small chunk into gigabytes on-heap (review r15)
            require(out.size() <= MaxChunkBytes,
              s"lz4 chunk decompressed past $MaxChunkBytes bytes")
            n = s.read(tmp)
          }
          out.toByteArray
        case other =>
          throw new IllegalArgumentException(s"unsupported chunk compression '$other'")
      }
      val cin = new DataInputStream(new ByteArrayInputStream(records))
      val rows = scala.collection.mutable.ArrayBuffer.empty[Row]
      var op = cin.read()
      while (op >= 0) {
        val len = readU64(cin)
        op match {
          case OpMessage => rows += decodeMessage(readN(cin, len))
          case OpSchema => decodeSchema(readN(cin, len))
          case OpChannel => decodeChannel(readN(cin, len))
          case _ => skipN(cin, len)
        }
        op = cin.read()
      }
      rows.iterator
    }

    // little-endian helpers -------------------------------------------
    private def le(b: Array[Byte]): ByteBuffer =
      ByteBuffer.wrap(b).order(ByteOrder.LITTLE_ENDIAN)

    private def getString(buf: ByteBuffer): String = {
      val n = buf.getInt
      // a forged length must not allocate past the record's own bytes
      require(n >= 0 && n <= buf.remaining(),
        s"string length $n > ${buf.remaining()} available")
      val b = new Array[Byte](n)
      buf.get(b)
      new String(b, StandardCharsets.UTF_8)
    }

    private def readU64(in: DataInputStream): Long = {
      val b = new Array[Byte](8)
      in.readFully(b)
      le(b).getLong
    }

    /** Read exactly `len` bytes — INCREMENTALLY (64 KiB steps), so a
      * lying length field in a corrupt file can't force a multi-GB
      * upfront allocation; a truncated stream EOFs having buffered only
      * the bytes that exist. */
    private def readN(in: DataInputStream, len: Long): Array[Byte] = {
      require(len >= 0 && len <= Int.MaxValue - 8, s"record length $len")
      val out = new java.io.ByteArrayOutputStream(math.min(len, 1L << 16).toInt)
      val tmp = new Array[Byte](1 << 16)
      var left = len
      while (left > 0) {
        val n = in.read(tmp, 0, math.min(left, tmp.length.toLong).toInt)
        if (n < 0) throw new EOFException(s"truncated record: $left of $len left")
        out.write(tmp, 0, n)
        left -= n
      }
      out.toByteArray
    }

    private def skipN(in: DataInputStream, len: Long): Unit = {
      var left = len
      while (left > 0) {
        val n = in.skip(left)
        if (n <= 0) { if (in.read() < 0) throw new EOFException; left -= 1 }
        else left -= n
      }
    }
  }

  // ---------------------------------------------------------- writing

  /** Deterministic MCAP bytes for specs: one schema + channel per topic,
    * messages `(topic, sequence, logTimeNs, payload)`, optionally inside
    * one chunk with `compression` ("", "zstd", "lz4"). Encodings are
    * per-topic: `jsonTopics` get message_encoding "json". */
  def synthMcap(messages: Seq[(String, Long, Long, Array[Byte])],
      compression: Option[String] = None,
      jsonTopics: Set[String] = Set.empty): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(Magic)
    writeRecord(out, OpHeader, { b =>
      putString(b, "") // profile
      putString(b, "graft-synth") // library
    })

    val body = new java.io.ByteArrayOutputStream()
    val topics = messages.map(_._1).distinct
    val channelId = topics.zipWithIndex.toMap
    for ((t, i) <- topics.zipWithIndex) {
      writeRecord(body, OpSchema, { b =>
        putU16(b, i + 1)
        putString(b, s"graft.synth.${t.replace('/', '_')}")
        putString(b, if (jsonTopics(t)) "jsonschema" else "ros2msg")
        putU32(b, 0) // empty schema data
      })
      writeRecord(body, OpChannel, { b =>
        putU16(b, i); putU16(b, i + 1)
        putString(b, t)
        putString(b, if (jsonTopics(t)) "json" else "cdr")
        putU32(b, 0) // empty metadata map
      })
    }
    for ((t, seq, ts, payload) <- messages)
      writeRecord(body, OpMessage, { b =>
        putU16(b, channelId(t)); putU32(b, seq.toInt)
        putU64(b, ts); putU64(b, ts)
        b.write(payload)
      })

    compression match {
      case None => out.write(body.toByteArray)
      case Some(c) =>
        val raw = body.toByteArray
        val comp = c match {
          case "" => raw
          case "zstd" => com.github.luben.zstd.Zstd.compress(raw)
          case "lz4" =>
            val bos = new java.io.ByteArrayOutputStream()
            val s = new net.jpountz.lz4.LZ4FrameOutputStream(bos)
            s.write(raw); s.close()
            bos.toByteArray
          case other =>
            throw new IllegalArgumentException(s"compression '$other'")
        }
        val times = messages.map(_._3)
        writeRecord(out, OpChunk, { b =>
          putU64(b, if (times.isEmpty) 0 else times.min)
          putU64(b, if (times.isEmpty) 0 else times.max)
          putU64(b, raw.length.toLong)
          putU32(b, 0) // crc 0 = not computed (spec-allowed)
          putString(b, c)
          putU64(b, comp.length.toLong)
          b.write(comp)
        })
    }

    writeRecord(out, OpDataEnd, b => putU32(b, 0))
    writeRecord(out, OpFooter, { b =>
      putU64(b, 0); putU64(b, 0); putU32(b, 0) // no summary section
    })
    out.write(Magic)
    out.toByteArray
  }

  private def writeRecord(out: java.io.ByteArrayOutputStream, op: Int,
      fill: java.io.ByteArrayOutputStream => Unit): Unit = {
    val content = new java.io.ByteArrayOutputStream()
    fill(content)
    out.write(op)
    putU64(out, content.size().toLong)
    content.writeTo(out)
  }

  private def putU16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def putU32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    var i = 0
    while (i < 4) { out.write((v >> (8 * i)) & 0xff); i += 1 }
  }
  private def putU64(out: java.io.ByteArrayOutputStream, v: Long): Unit = {
    var i = 0
    while (i < 8) { out.write(((v >> (8 * i)) & 0xff).toInt); i += 1 }
  }
  private def putString(out: java.io.ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    putU32(out, b.length)
    out.write(b)
  }
}
