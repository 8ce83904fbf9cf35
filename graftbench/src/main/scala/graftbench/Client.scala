package graftbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._

/** A minimal ReductStore v1 client speaking the batched wire protocol
  * (`x-reduct-time-<ts>: <length>,<content-type>,<k=v,...>` headers, payloads
  * concatenated in the body). One instance per client thread: each call
  * awaits its reply before returning, so a client is a closed loop. */
final class Client(port: Int, token: String) {
  private val http = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1).build()
  private val base = s"http://127.0.0.1:$port/api/v1"

  final case class Reply(status: Int, headers: Map[String, String], body: Array[Byte]) {
    def text: String = new String(body, UTF_8)
    /** Per-record errors the server reports in `x-reduct-error-<ts>`. */
    def recordErrors: Map[Long, String] = headers.collect {
      case (k, v) if k.startsWith("x-reduct-error-") =>
        k.stripPrefix("x-reduct-error-").toLong -> v
    }
  }

  private def send(method: String, path: String, body: Array[Byte] = Array.emptyByteArray,
      headers: Seq[(String, String)] = Nil): Reply = {
    val b = HttpRequest.newBuilder(URI.create(base + path))
      .header("Authorization", s"Bearer $token")
      .method(method, HttpRequest.BodyPublishers.ofByteArray(body))
    headers.foreach { case (k, v) => b.header(k, v) }
    val r = http.send(b.build(), HttpResponse.BodyHandlers.ofByteArray())
    val h = r.headers().map().asScala.iterator
      .map { case (k, vs) => k.toLowerCase -> vs.asScala.mkString(",") }.toMap
    Reply(r.statusCode(), h, r.body())
  }

  private def labelText(labels: Map[String, String]): String =
    labels.toSeq.sortBy(_._1).map { case (k, v) => s"$k=$v" }.mkString(",")

  /** POST /b/:bucket/:entry/batch; returns the reply (200 with a
    * `written_records` count, per-record errors in headers). */
  def writeBatch(bucket: String, entry: String, recs: Seq[Rec]): Reply = {
    val hdrs = recs.map(r => s"x-reduct-time-${r.ts}" ->
      s"${r.payload.length},application/octet-stream,${labelText(r.labels)}")
    val body = new java.io.ByteArrayOutputStream(recs.iterator.map(_.payload.length).sum)
    recs.foreach(r => body.write(r.payload))
    send("POST", s"/b/$bucket/$entry/batch", body.toByteArray, hdrs)
  }

  /** PATCH /b/:bucket/:entry/batch: merge `labels` into each record. */
  def updateBatch(bucket: String, entry: String, ts: Seq[Long],
      labels: Map[String, String]): Reply =
    send("PATCH", s"/b/$bucket/$entry/batch", headers =
      ts.map(t => s"x-reduct-time-$t" -> s"0,,${labelText(labels)}"))

  /** DELETE /b/:bucket/:entry/batch: remove the named records. */
  def removeBatch(bucket: String, entry: String, ts: Seq[Long]): Reply =
    send("DELETE", s"/b/$bucket/$entry/batch", headers =
      ts.map(t => s"x-reduct-time-$t" -> "0"))

  /** POST /b/:bucket/:entry/q with `query_type` REMOVE. */
  def removeWhere(bucket: String, entry: String, queryJson: String): Reply =
    send("POST", s"/b/$bucket/$entry/q",
      ("{\"query_type\":\"REMOVE\"," + queryJson.trim.stripPrefix("{")).getBytes(UTF_8))

  /** POST /b/:bucket/:entry/q: open a cursor; returns (reply, id). */
  def openQuery(bucket: String, entry: String, queryJson: String): (Reply, Long) = {
    val r = send("POST", s"/b/$bucket/$entry/q", queryJson.getBytes(UTF_8))
    val id = if (r.status == 200) "\\d+".r.findFirstIn(r.text).map(_.toLong).getOrElse(-1L) else -1L
    (r, id)
  }

  /** GET /b/:bucket/:entry/batch?q=id: the next page of a cursor. */
  def fetch(bucket: String, entry: String, id: Long): Page = {
    val r = send("GET", s"/b/$bucket/$entry/batch?q=$id")
    if (r.status == 204) Page(r.status, Nil, Array.emptyByteArray, last = true)
    else {
      val recs = r.headers.collect {
        case (k, v) if k.startsWith("x-reduct-time-") =>
          val parts = v.split(",", 3)
          PageRec(k.stripPrefix("x-reduct-time-").toLong, parts(0).trim.toLong,
            if (parts.length > 2) parseLabels(parts(2)) else Map.empty)
      }.toSeq.sortBy(_.ts)
      Page(r.status, recs, r.body, r.headers.get("x-reduct-last").contains("true"))
    }
  }

  def list(): Reply = send("GET", "/list")
  def info(): Reply = send("GET", "/info")

  private def parseLabels(s: String): Map[String, String] =
    s.split(",").iterator.filter(_.contains("=")).map { kv =>
      val i = kv.indexOf('='); kv.substring(0, i).trim -> kv.substring(i + 1).trim
    }.toMap
}

/** One record a client writes. */
final case class Rec(ts: Long, labels: Map[String, String], payload: Array[Byte])

/** One record header of a fetched page. */
final case class PageRec(ts: Long, length: Long, labels: Map[String, String])

final case class Page(status: Int, recs: Seq[PageRec], body: Array[Byte], last: Boolean)
