package graft.engine

import scala.collection.mutable

/** The reference's batched wire protocols, re-expressed over plain header
  * pairs (no HTTP dependency) so any transport — the [[HttpApi]] façade, a
  * test, or an external client — can assemble/consume batches.
  *
  * v1 (reduct_base/src/batch/v1.rs): one header per record,
  * `x-reduct-time-<ts>: <len>,<content-type>,k=v,k2="v,with,commas"`.
  *
  * v2 (reduct_base/src/batch/v2.rs): multi-entry batches with
  * percent-encoded entry/label dictionaries and per-record delta headers
  * `x-reduct-<entryIdx>-<tsDelta>` whose values omit unchanged
  * content-type/labels ("123" = reuse, "123,<ct>" = new ct,
  * "123,,<delta>" = label delta with `k=` unsetting a key).
  *
  * Every parse error mirrors the reference's unprocessable_entity cases as
  * IllegalArgumentException with the same message.
  *
  * Each wire — single record, v1 and v2 — decodes into one typed request
  * per operation ([[WriteRequest]], [[RemoveRequest]], [[UpdateRequest]])
  * that names its [[Wire]]: how a body-size mismatch and a per-record
  * clash or miss are answered. [[HttpApi]] keeps one body per operation
  * over these; each page read passes only the wire's header encoder.
  */
object BatchWire {

  final case class RecordHeader(
      contentLength: Long,
      contentType: String,
      labels: Map[String, String])

  final case class EntryRecordHeader(
      entry: String, timestamp: Long, header: RecordHeader)

  val HeaderPrefix = "x-reduct-"
  val ErrorHeaderPrefix = "x-reduct-error-"
  val EntriesHeader = "x-reduct-entries"
  val StartTsHeader = "x-reduct-start-ts"
  val LabelsHeader = "x-reduct-labels"
  val QueryIdHeader = "x-reduct-query-id"
  val TimeHeaderPrefix = "x-reduct-time-"

  private def bad(msg: String): Nothing = throw new IllegalArgumentException(msg)

  // ------------------------------------------------------------------ v1

  /** v1.rs:26-73 — `<len>,<ct>,<labels>` with `"`-quoting for comma values. */
  def parseBatchedHeader(header: String): RecordHeader = {
    val i = header.indexOf(',')
    if (i < 0) bad("Invalid batched header")
    val contentLength =
      try header.substring(0, i).trim.toLong
      catch { case _: NumberFormatException => bad("Invalid content length") }
    // the reference parses u64: a negative length must 422 here, not
    // surface later as a NegativeArraySizeException in an executor
    if (contentLength < 0) bad("Invalid content length")
    val rest0 = header.substring(i + 1)
    val (ctRaw, rest1) = rest0.indexOf(',') match {
      case -1 => (rest0, "")
      case j  => (rest0.substring(0, j), rest0.substring(j + 1))
    }
    val contentType =
      if (ctRaw.isEmpty) "application/octet-stream" else ctRaw.trim
    val labels = mutable.LinkedHashMap.empty[String, String]
    var rest = rest1
    var continue = rest.contains('=')
    while (continue) {
      val eq = rest.indexOf('=')
      val key = rest.substring(0, eq).trim
      val value = rest.substring(eq + 1)
      if (value.startsWith("\"")) {
        val inner = value.substring(1)
        val close = inner.indexOf('"')
        if (close < 0) bad("Invalid batched header")
        labels(key) = inner.substring(0, close).trim
        rest = inner.substring(close + 1).dropWhile(_ == ',').trim
      } else value.indexOf(',') match {
        case -1 =>
          labels(key) = value.trim
          rest = ""
        case j =>
          labels(key) = value.substring(0, j).trim
          rest = value.substring(j + 1).trim
      }
      continue = rest.contains('=')
    }
    RecordHeader(contentLength, contentType, labels.toMap)
  }

  /** Inverse of [[parseBatchedHeader]]: values containing commas are
    * quoted (the reference client's convention). */
  def formatBatchedHeader(h: RecordHeader): String = {
    val parts = Seq(h.contentLength.toString, h.contentType) ++
      h.labels.toSeq.sortBy(_._1).map { case (k, v) =>
        if (v.contains(',')) s"""$k="$v"""" else s"$k=$v"
      }
    parts.mkString(",")
  }

  def makeTimeHeaderName(tsUs: Long): String = s"$TimeHeaderPrefix$tsUs"

  /** v1.rs:75-100 — select `x-reduct-time-*` headers, ts-sorted. */
  def sortHeadersByTime(headers: Seq[(String, String)]): Seq[(Long, String)] =
    headers
      .filter(_._1.toLowerCase.startsWith(TimeHeaderPrefix))
      .map { case (name, value) =>
        val raw = name.substring(TimeHeaderPrefix.length)
        val ts =
          try raw.toLong
          catch {
            case _: NumberFormatException => bad(
              s"Invalid header '$name': must be an unix timestamp in microseconds")
          }
        (ts, value)
      }
      .sortBy(_._1)

  // ------------------------------------------------------------------ v2

  private def isTchar(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z') ||
      (b >= '0' && b <= '9') || "!#$%&'*+-.^_`|~".indexOf(b.toChar) >= 0

  /** v2.rs:89-100 — percent-encode for header use (tchars pass through).
    * NOTE: '%' is a tchar in the reference's set, so encoding is only
    * unambiguous for names without literal '%' — same as the reference. */
  def encodeEntryName(entry: String): String = {
    val sb = new StringBuilder
    for (b <- entry.getBytes("UTF-8")) {
      if (isTchar(b) && b != '%') sb.append(b.toChar)
      else sb.append(f"%%${b & 0xFF}%02X")
    }
    sb.toString
  }

  /** v2.rs:102-133. */
  def decodeEntryName(encoded: String): String = {
    val bytes = encoded.getBytes("UTF-8")
    val out = mutable.ArrayBuffer.empty[Byte]
    var pos = 0
    while (pos < bytes.length) {
      if (bytes(pos) == '%') {
        if (pos + 2 >= bytes.length) bad(
          s"Invalid entry encoding in header name: '$encoded'")
        val hi = Character.digit(bytes(pos + 1).toChar, 16)
        val lo = Character.digit(bytes(pos + 2).toChar, 16)
        if (hi < 0 || lo < 0) bad(
          s"Invalid entry encoding in header name: '$encoded'")
        out += (hi * 16 + lo).toByte
        pos += 3
      } else { out += bytes(pos); pos += 1 }
    }
    new String(out.toArray, "UTF-8")
  }

  def makeEntriesHeader(entries: Seq[String]): String =
    entries.map(encodeEntryName).mkString(",")

  def parseEntriesHeader(value: String): Seq[String] = {
    if (value.trim.isEmpty) bad("x-reduct-entries header is required")
    value.split(",", -1).toSeq.map { e =>
      val t = e.trim
      if (t.isEmpty) bad("x-reduct-entries header must not contain empty entry names")
      decodeEntryName(t)
    }
  }

  def parseLabelsHeader(value: String): Seq[String] = {
    if (value.trim.isEmpty) bad("x-reduct-labels header is empty")
    value.split(",", -1).toSeq.map { l =>
      // same strictness as parseEntriesHeader: an empty element would
      // mint a label with an EMPTY NAME, silently stored and unqueryable
      if (l.trim.isEmpty) bad("x-reduct-labels header has an empty element")
      decodeEntryName(l.trim)
    }
  }

  /** v2.rs LabelIndex — shared label-name dictionary for a batch. */
  final class LabelIndex {
    private val nameSeq = mutable.ArrayBuffer.empty[String]
    private val lookup = mutable.HashMap.empty[String, Int]
    def ensure(name: String): Int =
      lookup.getOrElseUpdate(name, { nameSeq += name; nameSeq.size - 1 })
    def names: Seq[String] = nameSeq.toSeq
    def asHeader: Option[String] =
      if (nameSeq.isEmpty) None
      else Some(nameSeq.map(encodeEntryName).mkString(","))
  }

  /** v2.rs:229-287 build_label_delta — only changed labels travel; `k=`
    * unsets; computed labels ship as `@name`. Protocol-level caveat
    * (v2.rs:23 defines `k=` AS the unset form): the wire cannot
    * distinguish an empty-string label VALUE from removal, so a label
    * stored with value "" does not survive a v2 batched read round
    * trip — reference clients share the limitation by construction. */
  def buildLabelDelta(labels: Map[String, String],
      computedLabels: Map[String, String],
      previousLabels: Option[Map[String, String]],
      index: LabelIndex): String = {
    def fmt(v: String) = if (v.contains(',')) s""""$v"""" else v
    val deltas = mutable.ArrayBuffer.empty[(Int, String)]
    previousLabels match {
      case Some(prev) =>
        for (key <- (prev.keySet ++ labels.keySet).toSeq.sorted) {
          (prev.get(key), labels.get(key)) match {
            case (Some(p), Some(c)) if p == c => ()
            case (Some(_), None) => deltas += ((index.ensure(key), ""))
            case (_, Some(c))    => deltas += ((index.ensure(key), fmt(c)))
            case _               => ()
          }
        }
      case None =>
        for ((k, v) <- labels.toSeq.sortBy(_._1))
          deltas += ((index.ensure(k), fmt(v)))
    }
    for ((k, v) <- computedLabels.toSeq.sortBy(_._1))
      deltas += ((index.ensure(s"@$k"), fmt(v)))
    deltas.sortBy(_._1).map { case (i, v) => s"$i=$v" }.mkString(",")
  }

  /** v2.rs:290-320 make_record_header_value. */
  def makeRecordHeaderValue(contentLength: Long, contentType: String,
      labels: Map[String, String], computedLabels: Map[String, String],
      previousContentType: Option[String],
      previousLabels: Option[Map[String, String]],
      index: LabelIndex): String = {
    val parts = mutable.ArrayBuffer(contentLength.toString)
    val ct = previousContentType match {
      case Some(prev) if prev == contentType => ""
      case _ => contentType
    }
    val delta = buildLabelDelta(labels, computedLabels, previousLabels, index)
    if (ct.nonEmpty || delta.nonEmpty) parts += ct
    if (delta.nonEmpty) parts += delta
    parts.mkString(",")
  }

  def makeBatchedHeaderName(entryIndex: Int, timeDelta: Long): String =
    s"$HeaderPrefix$entryIndex-$timeDelta"

  /** v2.rs:326-348 — `x-reduct-<idx>-<delta>` → (idx, delta). */
  def parseBatchedHeaderName(name: String): (Int, Long) = {
    if (!name.startsWith(HeaderPrefix)) bad(s"Invalid batched header '$name'")
    val rest = name.substring(HeaderPrefix.length)
    val dash = rest.lastIndexOf('-')
    if (dash < 0) bad(s"Invalid batched header '$name'")
    val idx =
      try rest.substring(0, dash).toInt
      catch { case _: NumberFormatException =>
        bad(s"Invalid header '$name': entry index must be a number") }
    val delta =
      try rest.substring(dash + 1).toLong
      catch { case _: NumberFormatException =>
        bad(s"Invalid header '$name': must be an unix timestamp in microseconds") }
    (idx, delta)
  }

  /** v2.rs resolve_label_name — numeric keys index the labels dictionary;
    * bare `@` names are reserved. */
  def resolveLabelName(raw: String, labelNames: Option[Seq[String]]): String = {
    labelNames match {
      case Some(names) if raw.forall(_.isDigit) && raw.nonEmpty =>
        val i = raw.toInt
        if (i < names.length) return names(i)
        bad(s"Label index '$raw' is out of range")
      case _ => ()
    }
    if (raw.startsWith("@"))
      bad("Label names must not start with '@': reserved for computed labels")
    raw
  }

  /** v2.rs parse_label_delta_ops — `k=v` ops; empty value = unset. */
  private def parseLabelDeltaOps(rawLabels: String,
      labelNames: Option[Seq[String]]): Seq[(String, Option[String])] = {
    val ops = mutable.ArrayBuffer.empty[(String, Option[String])]
    var rest = rawLabels.trim
    if (rest.isEmpty) return ops.toSeq
    var continue = true
    while (continue) {
      val eq = rest.indexOf('=')
      if (eq < 0) bad("Invalid batched header")
      val key = resolveLabelName(rest.substring(0, eq).trim, labelNames)
      val valuePart = rest.substring(eq + 1)
      val (value, nextRest) =
        if (valuePart.startsWith("\"")) {
          val inner = valuePart.substring(1)
          val close = inner.indexOf('"')
          if (close < 0) bad("Invalid batched header")
          (inner.substring(0, close).trim,
            inner.substring(close + 1).dropWhile(_ == ',').trim)
        } else valuePart.indexOf(',') match {
          case -1 => (valuePart.trim, "")
          case j  => (valuePart.substring(0, j).trim, valuePart.substring(j + 1).trim)
        }
      ops += ((key, if (value.isEmpty) None else Some(value)))
      if (nextRest.isEmpty) continue = false else rest = nextRest
    }
    ops.toSeq
  }

  /** v2.rs parse_label_delta — split into updates + removals (the batch
    * UPDATE verb's form). */
  def parseLabelDelta(rawLabels: String, labelNames: Option[Seq[String]]):
      (Map[String, String], Set[String]) = {
    val ops = parseLabelDeltaOps(rawLabels, labelNames)
    (ops.collect { case (k, Some(v)) => k -> v }.toMap,
      ops.collect { case (k, None) => k }.toSet)
  }

  /** v2.rs parse_record_header_with_defaults — delta decoding against the
    * entry's previous record. */
  def parseRecordHeaderWithDefaults(raw: String,
      previous: Option[RecordHeader],
      labelNames: Option[Seq[String]]): RecordHeader = {
    val (lenStr, restOpt) = raw.indexOf(',') match {
      case -1 => (raw.trim, None)
      case i  => (raw.substring(0, i).trim, Some(raw.substring(i + 1)))
    }
    val contentLength =
      try lenStr.toLong
      catch { case _: NumberFormatException => bad("Invalid batched header") }
    if (contentLength < 0) bad("Invalid content length") // u64 parity
    restOpt match {
      case None =>
        val prev = previous.getOrElse(bad(
          "Content-type and labels must be provided for the first record of an entry"))
        RecordHeader(contentLength, prev.contentType, prev.labels)
      case Some(rest) =>
        val (ctRaw, labelsRaw) = rest.indexOf(',') match {
          case -1 => (rest, None)
          case i  => (rest.substring(0, i), Some(rest.substring(i + 1)))
        }
        val contentType =
          if (ctRaw.trim.nonEmpty) ctRaw.trim
          else previous.map(_.contentType).getOrElse("application/octet-stream")
        val labels = labelsRaw match {
          case None => previous.map(_.labels).getOrElse(Map.empty)
          case Some(lr) =>
            val base = previous.map(_.labels).getOrElse(Map.empty)
            val ops = parseLabelDeltaOps(lr, labelNames)
            ops.foldLeft(base) {
              case (acc, (k, Some(v))) => acc + (k -> v)
              case (acc, (k, None))    => acc - k
            }
        }
        RecordHeader(contentLength, contentType, labels)
    }
  }

  // ------------------------------------------ batch assembly round trip

  /** Encode a ts-sorted multi-entry batch into v2 headers (metadata +
    * per-record), mirroring the reference writer: records are grouped by
    * entry (index = first-appearance order), deltas computed against each
    * entry's previous record. */
  def encodeBatchV2(records: Seq[(String, Long, RecordHeader)]):
      Seq[(String, String)] = {
    if (records.isEmpty) return Seq.empty
    val entries = records.map(_._1).distinct
    val entryIdx = entries.zipWithIndex.toMap
    val startTs = records.map(_._2).min
    val index = new LabelIndex
    val prevByEntry = mutable.HashMap.empty[String, RecordHeader]
    val recordHeaders = records
      .sortBy(r => (entryIdx(r._1), r._2))
      .map { case (entry, ts, h) =>
        val prev = prevByEntry.get(entry)
        val value = makeRecordHeaderValue(h.contentLength, h.contentType,
          h.labels, Map.empty, prev.map(_.contentType), prev.map(_.labels), index)
        prevByEntry(entry) = h
        (makeBatchedHeaderName(entryIdx(entry), ts - startTs), value)
      }
    Seq(EntriesHeader -> makeEntriesHeader(entries),
      StartTsHeader -> startTs.toString) ++
      index.asHeader.map(LabelsHeader -> _) ++
      recordHeaders
  }


  /** The v2 dictionaries and record headers `(idx, delta, value)` in
    * (idx, delta) order. Record headers are exactly
    * `x-reduct-<digits>-<digits>`; other x-reduct-* metadata (entries,
    * start-ts, labels, query id, errors, v1 times) is not. */
  private def parseV2(headers: Seq[(String, String)]):
      (V2, Seq[(Int, Long, String)]) = {
    val hmap = headers.toMap
    val startTs = hmap.get(StartTsHeader) match {
      case None => bad("x-reduct-start-ts header is required")
      case Some(v) =>
        try v.toLong
        catch { case _: NumberFormatException => bad("Invalid x-reduct-start-ts header") }
    }
    val entries = hmap.get(EntriesHeader).map(parseEntriesHeader)
      .getOrElse(bad("x-reduct-entries header is required"))
    val recs = headers
      .collect { case (n, v) if n.startsWith(HeaderPrefix) &&
          n.substring(HeaderPrefix.length).headOption.exists(_.isDigit) =>
        val (i, d) = parseBatchedHeaderName(n)
        if (i >= entries.length) bad(s"Entry index '$i' is out of range")
        (i, d, v)
      }
      .sortBy(t => (t._1, t._2))
    (V2(entries, startTs), recs)
  }

  private def labelNamesV2(headers: Seq[(String, String)]): Option[Seq[String]] =
    headers.toMap.get(LabelsHeader).map(parseLabelsHeader)

  private def recordsV2(headers: Seq[(String, String)]):
      (V2, Seq[EntryRecordHeader]) = {
    val (wire, recs) = parseV2(headers)
    val labelNames = labelNamesV2(headers)
    val prevByEntry = mutable.HashMap.empty[Int, RecordHeader]
    (wire, recs.map { case (idx, delta, value) =>
      val h = parseRecordHeaderWithDefaults(value, prevByEntry.get(idx), labelNames)
      prevByEntry(idx) = h
      EntryRecordHeader(wire.entries(idx), wire.startTs + delta, h)
    })
  }

  /** Decode v2 headers back into (entry, ts, header) triples in
    * (entryIdx, ts) order. */
  def decodeBatchV2(headers: Seq[(String, String)]): Seq[EntryRecordHeader] =
    recordsV2(headers)._2

  // ---------------------------------------------------- typed requests

  /** How a wire answers a decoded request. */
  sealed trait Wire {
    /** Status and message when the body holds `actual` bytes where the
      * request's records claim `expected`. */
    def lengthMismatch(actual: Long, expected: Long): (Int, String) =
      (422, "Content length mismatch with record headers")
  }

  /** The single-record routes (`/b/:b/:e?ts=`): a clash or a miss fails
    * the whole request, and the body is bound by the record writer
    * (record_writer.rs:133 bigger, write_batched.rs:162 shorter). */
  case object Single extends Wire {
    override def lengthMismatch(actual: Long, expected: Long): (Int, String) =
      if (actual > expected) (400, "Content is bigger than in content-length")
      else (400, "Content is shorter than expected: no more data to read")
  }

  /** A batch wire: a record's clash or miss is an entry of the
    * reference's per-record error map, one response header each. */
  sealed trait Batch extends Wire {
    def errorHeader(entry: String, ts: Long): String
    /** The message of a miss (404) in the error map. */
    def notFound(ts: Long): String
  }

  /** v1 `/b/:b/:e/batch`: errors keyed `x-reduct-error-<ts>`. */
  case object V1 extends Batch {
    def errorHeader(entry: String, ts: Long): String = s"$ErrorHeaderPrefix$ts"
    def notFound(ts: Long): String = s"No record with timestamp $ts"
  }

  /** v2 `/io/:b/...`: errors keyed `x-reduct-error-<idx>-<delta>` against
    * the batch's dictionaries (io/write.rs:101-103). */
  final case class V2(entries: Seq[String], startTs: Long) extends Batch {
    def errorHeader(entry: String, ts: Long): String =
      s"$ErrorHeaderPrefix${entries.indexOf(entry)}-${ts - startTs}"
    def notFound(ts: Long): String = "Record not found"
  }

  /** A write: its records in body order and the body size they claim. */
  final case class WriteRequest(wire: Wire, records: Seq[EntryRecordHeader],
      expected: Long)

  /** Removes by (entry, ts) key. */
  final case class RemoveRequest(wire: Batch, keys: Seq[(String, Long)])

  /** Label updates: per key, the labels to set and the ones to unset. */
  final case class UpdateRequest(wire: Wire,
      deltas: Seq[(String, Long, Map[String, String], Set[String])])

  val LabelHeaderPrefix = "x-reduct-label-"

  /** `x-reduct-label-<k>` headers of a single-record request. */
  def singleLabels(headers: Seq[(String, String)]): Map[String, String] =
    headers.collect { case (k, v) if k.toLowerCase.startsWith(LabelHeaderPrefix) =>
      (k.toLowerCase.stripPrefix(LabelHeaderPrefix), v)
    }.groupMap(_._1)(_._2).map { case (k, vs) => k -> vs.mkString(",") }

  /** The body size the records claim; a declared length must match it. */
  private def bodySize(records: Seq[EntryRecordHeader], declared: Option[Long]): Long = {
    val sum = try records.foldLeft(0L)((s, r) => Math.addExact(s, r.header.contentLength))
      catch { case _: ArithmeticException => bad("Invalid content length") }
    if (declared.exists(_ != sum)) bad(
      "content-length header does not match the sum of the content-lengths in the headers")
    sum
  }

  private def required(declared: Option[Long]): Long =
    declared.getOrElse(bad("content-length header is required"))

  private def decodeTimed(headers: Seq[(String, String)],
      none: String): Seq[(Long, RecordHeader)] = {
    val timed = sortHeadersByTime(headers).map { case (ts, raw) =>
      (ts, parseBatchedHeader(raw)) }
    if (timed.isEmpty) bad(none)
    timed
  }

  /** An empty label value unsets (update_labels.rs:116, update_batched.rs:71-82). */
  private def labelDelta(entry: String, ts: Long, labels: Map[String, String]) = {
    val (set, unset) = labels.partition(_._2.nonEmpty)
    (entry, ts, set, unset.keySet)
  }

  /** Single-record write: the body is the record, `Content-Type` and
    * `x-reduct-label-*` carry its header, and the declared length is
    * required (common.rs:12-19). */
  def decodeWriteSingle(entry: String, ts: Long, headers: Seq[(String, String)],
      declared: Option[Long]): WriteRequest = {
    val len = required(declared)
    val ct = headers.collectFirst { case (k, v) if k.equalsIgnoreCase("content-type") => v }
      .getOrElse("application/octet-stream")
    WriteRequest(Single,
      Seq(EntryRecordHeader(entry, ts, RecordHeader(len, ct, singleLabels(headers)))), len)
  }

  /** v1 write to one entry (write_batched.rs): the body is the payloads
    * in ts order. A declared length is optional — a body sent with
    * Content-Encoding has none — but must match the records' sum
    * (write_batched.rs:278-298). */
  def decodeWriteV1(entry: String, headers: Seq[(String, String)],
      declared: Option[Long]): WriteRequest = {
    val timed = decodeTimed(headers, "No records in batch")
    if (timed.exists(_._2.contentLength > Int.MaxValue))
      bad("Record content length too large")
    val records = timed.map { case (ts, h) => EntryRecordHeader(entry, ts, h) }
    WriteRequest(V1, records, bodySize(records, declared))
  }

  /** v2 multi-entry write: the declared length is required and must
    * match the records' sum (io/write.rs:154-173). */
  def decodeWriteV2(headers: Seq[(String, String)],
      declared: Option[Long]): WriteRequest = {
    val (wire, records) = recordsV2(headers)
    WriteRequest(wire, records, bodySize(records, Some(required(declared))))
  }

  /** v1 remove (remove_batched.rs): the `x-reduct-time-<ts>` names. */
  def decodeRemoveV1(entry: String, headers: Seq[(String, String)]): RemoveRequest = {
    val times = sortHeadersByTime(headers).map(_._1)
    if (times.isEmpty) bad("No records to remove")
    RemoveRequest(V1, times.map((entry, _)))
  }

  /** v2 remove: keys by record header name; values carry nothing. */
  def decodeRemoveV2(headers: Seq[(String, String)]): RemoveRequest = {
    val (wire, recs) = parseV2(headers)
    RemoveRequest(wire, recs.map { case (i, d, _) => (wire.entries(i), wire.startTs + d) })
  }

  def decodeUpdateSingle(entry: String, ts: Long,
      headers: Seq[(String, String)]): UpdateRequest =
    UpdateRequest(Single, Seq(labelDelta(entry, ts, singleLabels(headers))))

  /** v1 label update: the v1 record form with the labels to change. */
  def decodeUpdateV1(entry: String, headers: Seq[(String, String)]): UpdateRequest =
    UpdateRequest(V1, decodeTimed(headers, "No records to update").map {
      case (ts, h) => labelDelta(entry, ts, h.labels) })

  /** v2 label update: each record value is a label delta (`k=` unsets). */
  def decodeUpdateV2(headers: Seq[(String, String)]): UpdateRequest = {
    val (wire, recs) = parseV2(headers)
    val labelNames = labelNamesV2(headers)
    UpdateRequest(wire, recs.map { case (i, d, v) =>
      val (set, unset) = parseLabelDelta(v, labelNames)
      (wire.entries(i), wire.startTs + d, set, unset)
    })
  }

  /** A page's v1 record headers (read_batched.rs): `x-reduct-time-<ts>`. */
  def encodeBatchV1(records: Seq[(String, Long, RecordHeader)]): Seq[(String, String)] =
    records.map { case (_, ts, h) => makeTimeHeaderName(ts) -> formatBatchedHeader(h) }

  /** A single record's headers (read_single.rs). */
  def encodeSingle(records: Seq[(String, Long, RecordHeader)]): Seq[(String, String)] =
    records.flatMap { case (_, ts, h) =>
      Seq("Content-Type" -> h.contentType, "x-reduct-time" -> ts.toString,
        "x-reduct-last" -> "true") ++
        h.labels.map { case (k, v) => s"$LabelHeaderPrefix$k" -> v }
    }
}
