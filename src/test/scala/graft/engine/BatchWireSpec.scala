package graft.engine

import org.scalatest.funsuite.AnyFunSuite
import BatchWire._

/** Wire-protocol port pinned to the reference's own test vectors
  * (reduct_base/src/batch/v1.rs:102-175 and v2.rs test module). */
class BatchWireSpec extends AnyFunSuite {

  // ------------------------------------------------------------------ v1

  test("v1: parse header row (v1.rs test_parse_batched_header_row)") {
    val h = parseBatchedHeader("123, text/plain, label1=value1, label2=value2")
    assert(h.contentLength == 123)
    assert(h.contentType == "text/plain")
    assert(h.labels == Map("label1" -> "value1", "label2" -> "value2"))
  }

  test("v1: quoted values keep commas (test_parse_batched_header_row_quotes)") {
    val h = parseBatchedHeader("""123, text/plain, label1="[1, 2, 3]", label2="value2"""")
    assert(h.labels == Map("label1" -> "[1, 2, 3]", "label2" -> "value2"))
  }

  test("v1: no labels; defaults; bad headers; computed labels") {
    assert(parseBatchedHeader("123, text/plain").labels.isEmpty)
    assert(parseBatchedHeader("123,").contentType == "application/octet-stream")
    intercept[IllegalArgumentException](parseBatchedHeader(""))
    intercept[IllegalArgumentException](parseBatchedHeader("xxx"))
    val h = parseBatchedHeader("123, text/plain, @label1=value1, label2=value2")
    assert(h.labels("@label1") == "value1" && h.labels("label2") == "value2")
  }

  test("v1: format/parse round trip incl. comma values") {
    val h = RecordHeader(9, "text/plain", Map("a" -> "x,y", "b" -> "z"))
    assert(parseBatchedHeader(formatBatchedHeader(h)) == h)
  }

  test("v1: sort_headers_by_time") {
    val hs = Seq(
      "x-reduct-time-200" -> "2,text/plain", "other" -> "x",
      "x-reduct-time-100" -> "1,text/plain")
    assert(sortHeadersByTime(hs).map(_._1) == Seq(100L, 200L))
    intercept[IllegalArgumentException](
      sortHeadersByTime(Seq("x-reduct-time-abc" -> "1")))
  }

  // ------------------------------------------------------------------ v2

  test("v2: entry name percent-encoding round trip") {
    for (name <- Seq("simple", "path/with/slash", "sp ace", "uni-cødé", "a,b"))
      assert(decodeEntryName(encodeEntryName(name)) == name)
    assert(encodeEntryName("a/b") == "a%2Fb")
    intercept[IllegalArgumentException](decodeEntryName("bad%2"))
    intercept[IllegalArgumentException](decodeEntryName("bad%zz"))
  }

  test("v2: entries header parse/make") {
    val entries = Seq("e1", "dir/e2", "e 3")
    assert(parseEntriesHeader(makeEntriesHeader(entries)) == entries)
    intercept[IllegalArgumentException](parseEntriesHeader(" "))
    intercept[IllegalArgumentException](parseEntriesHeader("a,,b"))
  }

  test("v2: batched header name make/parse") {
    assert(makeBatchedHeaderName(3, 1500) == "x-reduct-3-1500")
    assert(parseBatchedHeaderName("x-reduct-3-1500") == ((3, 1500L)))
    intercept[IllegalArgumentException](parseBatchedHeaderName("x-reduct-3"))
    intercept[IllegalArgumentException](parseBatchedHeaderName("nope-3-1500"))
  }

  test("v2: label delta build/apply with dictionary indexes and unset") {
    val index = new LabelIndex
    val delta = buildLabelDelta(
      labels = Map("keep" -> "same", "changed" -> "new", "added" -> "v"),
      computedLabels = Map.empty,
      previousLabels = Some(Map("keep" -> "same", "changed" -> "old", "dropped" -> "x")),
      index = index)
    // only changed/added/dropped travel; indexes into the dictionary
    val (updates, removes) = parseLabelDelta(delta, Some(index.names))
    assert(updates == Map("changed" -> "new", "added" -> "v"))
    assert(removes == Set("dropped"))
    // reserved computed-label names
    intercept[IllegalArgumentException](resolveLabelName("@x", None))
  }

  test("v2: record header value delta decoding (reuse ct / labels)") {
    val index = new LabelIndex
    val first = makeRecordHeaderValue(10, "text/plain",
      Map("a" -> "1"), Map.empty, None, None, index)
    val h1 = parseRecordHeaderWithDefaults(first, None, Some(index.names))
    assert(h1 == RecordHeader(10, "text/plain", Map("a" -> "1")))
    // unchanged ct + labels → bare length, decoded against previous
    val second = makeRecordHeaderValue(20, "text/plain",
      Map("a" -> "1"), Map.empty, Some("text/plain"), Some(h1.labels), index)
    assert(second == "20")
    val h2 = parseRecordHeaderWithDefaults(second, Some(h1), Some(index.names))
    assert(h2 == RecordHeader(20, "text/plain", Map("a" -> "1")))
    // bare length with no previous is an error (first record of an entry)
    intercept[IllegalArgumentException](
      parseRecordHeaderWithDefaults("20", None, None))
  }

  test("v2: multi-entry batch encode/decode round trip") {
    val recs = Seq(
      ("sensor/a", 1000L, RecordHeader(5, "text/plain", Map("k" -> "1"))),
      ("sensor/a", 2000L, RecordHeader(6, "text/plain", Map("k" -> "2"))),
      ("sensor/a", 3000L, RecordHeader(7, "text/plain", Map("k" -> "2"))),
      ("sensor/b", 1500L, RecordHeader(8, "application/json", Map("x,y" -> "a,b"))))
    val headers = encodeBatchV2(recs)
    assert(headers.exists(_._1 == EntriesHeader))
    assert(headers.find(_._1 == StartTsHeader).get._2 == "1000")
    val decoded = decodeBatchV2(headers)
    assert(decoded == recs.map { case (e, ts, h) => EntryRecordHeader(e, ts, h) })
    // third record of sensor/a reused everything → bare length on the wire
    val bare = headers.find(_._1 == makeBatchedHeaderName(0, 2000)).get._2
    assert(bare == "7")
  }

  // ------------------------------------------------------ typed requests

  test("typed form: single-record write round trip; the declared length is required") {
    val h = RecordHeader(4, "text/plain", Map("k" -> "v", "x" -> "a,b"))
    val wire = encodeSingle(Seq(("e", 7L, h)))
    assert(decodeWriteSingle("e", 7L, wire, Some(4L)) ==
      WriteRequest(Single, Seq(EntryRecordHeader("e", 7L, h)), 4L))
    intercept[IllegalArgumentException](decodeWriteSingle("e", 7L, wire, None))
    assert(Single.lengthMismatch(5, 4)._1 == 400 && Single.lengthMismatch(3, 4)._1 == 400)
    // an empty label value unsets on the single PATCH
    assert(decodeUpdateSingle("e", 7L, Seq("x-reduct-label-k" -> "", "X-Reduct-Label-n" -> "1")) ==
      UpdateRequest(Single, Seq(("e", 7L, Map("n" -> "1"), Set("k")))))
  }

  test("typed form: v1 write, update and remove round trip with ts error keys") {
    val recs = Seq(
      ("e", 200L, RecordHeader(3, "text/plain", Map("k" -> "2"))),
      ("e", 100L, RecordHeader(2, "application/json", Map.empty[String, String])))
    val wire = encodeBatchV1(recs)
    val w = decodeWriteV1("e", wire, None)
    assert(w == WriteRequest(V1, recs.sortBy(_._2).map { case (e, ts, h) =>
      EntryRecordHeader(e, ts, h) }, 5L))
    assert(decodeWriteV1("e", wire, Some(5L)) == w)
    intercept[IllegalArgumentException](decodeWriteV1("e", wire, Some(4L)))
    intercept[IllegalArgumentException](decodeWriteV1("e", Seq.empty, None))
    assert(w.wire.lengthMismatch(4, 5)._1 == 422)
    assert(V1.errorHeader("e", 100L) == "x-reduct-error-100")
    assert(decodeRemoveV1("e", wire) == RemoveRequest(V1, Seq(("e", 100L), ("e", 200L))))
    assert(decodeUpdateV1("e", Seq(makeTimeHeaderName(100L) -> "0,,k=,n=1")) ==
      UpdateRequest(V1, Seq(("e", 100L, Map("n" -> "1"), Set("k")))))
  }

  test("typed form: v2 write, key-only remove and label-delta update round " +
      "trip; an out-of-range entry index is an IllegalArgumentException") {
    val recs = Seq(
      ("a", 1000L, RecordHeader(2, "text/plain", Map("k" -> "1"))),
      ("b", 1005L, RecordHeader(3, "text/plain", Map.empty[String, String])))
    val wire = encodeBatchV2(recs)
    val v2 = V2(Seq("a", "b"), 1000L)
    assert(decodeWriteV2(wire, Some(5L)) ==
      WriteRequest(v2, recs.map { case (e, ts, h) => EntryRecordHeader(e, ts, h) }, 5L))
    intercept[IllegalArgumentException](decodeWriteV2(wire, None))
    intercept[IllegalArgumentException](decodeWriteV2(wire, Some(6L)))
    assert(v2.errorHeader("b", 1005L) == "x-reduct-error-1-5")
    // remove: keys by header name, values carry nothing
    val meta = Seq(EntriesHeader -> makeEntriesHeader(Seq("a", "b")), StartTsHeader -> "1000")
    val keys = meta ++ Seq(makeBatchedHeaderName(1, 5) -> "0", makeBatchedHeaderName(0, 0) -> "0")
    assert(decodeRemoveV2(keys) == RemoveRequest(v2, Seq(("a", 1000L), ("b", 1005L))))
    // update: each value is a label delta against the labels dictionary
    val index = new LabelIndex
    val delta = buildLabelDelta(Map("mark" -> "yes"), Map.empty, Some(Map("k" -> "1")), index)
    val upd = meta ++ Seq(LabelsHeader -> index.asHeader.get,
      makeBatchedHeaderName(0, 0) -> delta)
    assert(decodeUpdateV2(upd) == UpdateRequest(v2, Seq(("a", 1000L, Map("mark" -> "yes"), Set("k")))))
    val outOfRange = meta :+ (makeBatchedHeaderName(2, 0) -> "1,text/plain")
    intercept[IllegalArgumentException](decodeRemoveV2(outOfRange))
    intercept[IllegalArgumentException](decodeUpdateV2(outOfRange))
    intercept[IllegalArgumentException](decodeWriteV2(outOfRange, Some(1L)))
  }
}
