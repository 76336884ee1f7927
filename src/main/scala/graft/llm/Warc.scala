package graft.llm

import java.nio.charset.StandardCharsets.UTF_8

/** WARC (ISO 28500) record codec — the web-archive container every
  * crawl-derived training corpus starts from. A .warc.gz file is
  * concatenated gzip members ([[Gzip]] walks those), each holding one
  * record: a `WARC/1.x` version line, named headers, a blank line, then
  * exactly `Content-Length` payload bytes, then a blank-line record
  * separator. For `WARC-Type: response` records the payload is an HTTP
  * response (status line, headers, blank line, body) — the crawl-ingest
  * operator must split that too before any text processing can start.
  *
  * Spec behaviors honored (WarcSpec): CRLF header lines, header names
  * case-insensitive (stored lower), Content-Length counted in BYTES,
  * multiple records per buffer, the two-CRLF record separator, versions
  * 1.0/1.1. [[Codec]] quarantine (None) for: bad version line, malformed
  * header lines, missing/invalid Content-Length, payload running past
  * the buffer, missing separator, and (for responses) an unparseable
  * HTTP status line. Non-response records (warcinfo, request, metadata)
  * are walked and counted but carry no HTTP fields.
  */
object Warc extends Codec {

  type Out = Seq[Record]

  /** One parsed record; HTTP fields are empty/-1 for non-response types. */
  final case class Record(
      idx: Int,
      warcType: String,
      targetUri: String,
      httpStatus: Int,
      contentType: String,
      body: String)

  /** Canonical response-record bytes (the shape a crawler writes). */
  def encodeResponse(
      uri: String,
      date: String,
      status: Int,
      contentType: String,
      body: String): Array[Byte] = {
    val http = s"HTTP/1.1 $status OK\r\nContent-Type: $contentType\r\n\r\n$body"
    val httpBytes = http.getBytes(UTF_8)
    val head =
      "WARC/1.0\r\n" +
        "WARC-Type: response\r\n" +
        s"WARC-Target-URI: $uri\r\n" +
        s"WARC-Date: $date\r\n" +
        "Content-Type: application/http;msgtype=response\r\n" +
        s"Content-Length: ${httpBytes.length}\r\n" +
        "\r\n"
    head.getBytes(UTF_8) ++ httpBytes ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Minimal non-response record (warcinfo/metadata) for mixed streams. */
  def encodeInfo(warcType: String, payload: String): Array[Byte] = {
    val p = payload.getBytes(UTF_8)
    (s"WARC/1.0\r\nWARC-Type: $warcType\r\nContent-Length: ${p.length}\r\n\r\n")
      .getBytes(UTF_8) ++ p ++ "\r\n\r\n".getBytes(UTF_8)
  }

  /** Walk every record in the buffer; None if any is malformed. */
  def decode(bytes: Array[Byte]): Option[Seq[Record]] = {
    if (bytes == null || bytes.length == 0) return None
    val out = Vector.newBuilder[Record]
    var off = 0
    var idx = 0
    while (off < bytes.length) {
      parseRecord(bytes, off, idx) match {
        case Some((rec, next)) => out += rec; off = next; idx += 1
        case None              => return None
      }
    }
    val recs = out.result()
    if (recs.isEmpty) None else Some(recs)
  }

  private def parseRecord(b: Array[Byte], start: Int, idx: Int): Option[(Record, Int)] = {
    // version line
    val (version, afterVersion) = line(b, start) match {
      case Some(v) => v
      case None    => return None
    }
    if (version != "WARC/1.0" && version != "WARC/1.1") return None
    // headers until blank line
    var off = afterVersion
    val headers = scala.collection.mutable.Map[String, String]()
    var blank = false
    while (!blank) {
      line(b, off) match {
        case None => return None
        case Some(("", next)) => blank = true; off = next
        case Some((h, next)) =>
          val colon = h.indexOf(':')
          if (colon <= 0) return None
          headers(h.substring(0, colon).trim.toLowerCase) = h.substring(colon + 1).trim
          off = next
      }
    }
    val len = headers.get("content-length") match {
      case Some(l) if l.nonEmpty && l.length <= 9 && l.forall(_.isDigit) => l.toInt
      case _ => return None
    }
    if (len > b.length - off) return None // overflow-safe form of off+len > length
    val payload = java.util.Arrays.copyOfRange(b, off, off + len)
    off += len
    // record separator: two CRLFs
    for (_ <- 0 until 2) line(b, off) match {
      case Some(("", next)) => off = next
      case _                => return None
    }
    val warcType = headers.getOrElse("warc-type", "")
    if (warcType.isEmpty) return None
    val uri = headers.getOrElse("warc-target-uri", "")
    if (warcType == "response") {
      httpSplit(payload) match {
        case Some((status, ct, body)) =>
          Some((Record(idx, warcType, uri, status, ct, body), off))
        case None => None
      }
    } else Some((Record(idx, warcType, uri, -1, "", new String(payload, UTF_8)), off))
  }

  /** status line + headers + blank line + body → (status, content-type, body). */
  private def httpSplit(payload: Array[Byte]): Option[(Int, String, String)] = {
    val (statusLine, afterStatus) = line(payload, 0) match {
      case Some(v) => v
      case None    => return None
    }
    val parts = statusLine.split(" ", 3)
    if (parts.length < 2 || !parts(0).startsWith("HTTP/")) return None
    if (parts(1).length != 3 || !parts(1).forall(_.isDigit)) return None
    val status = parts(1).toInt
    var off = afterStatus
    var ct = ""
    var blank = false
    while (!blank) {
      line(payload, off) match {
        case None => return None
        case Some(("", next)) => blank = true; off = next
        case Some((h, next)) =>
          val colon = h.indexOf(':')
          if (colon <= 0) return None
          if (h.substring(0, colon).trim.equalsIgnoreCase("content-type"))
            ct = h.substring(colon + 1).trim
          off = next
      }
    }
    Some((status, ct, new String(payload, off, payload.length - off, UTF_8)))
  }

  /** CRLF-terminated line at `off` → (text-without-CRLF, offset-after). */
  private def line(b: Array[Byte], off: Int): Option[(String, Int)] = {
    var i = off
    while (i + 1 < b.length && !(b(i) == '\r' && b(i + 1) == '\n')) i += 1
    if (i + 1 >= b.length) None
    else Some((new String(b, off, i - off, UTF_8), i + 2))
  }

  /** Crawl-ingest rows: (doc_id, rec_idx, warc_type, uri, status,
    * content_type, body) per record; unparseable archives contribute zero
    * rows (quarantine-by-omission — pair with a valid-flag audit query
    * when counting losses). */
  final case class IngestRow(
      doc_id: Long,
      rec_idx: Int,
      warc_type: String,
      target_uri: String,
      http_status: Int,
      content_type: String,
      body: String)

  def ingest(blobs: org.apache.spark.sql.Dataset[Multimodal.Blob]): org.apache.spark.sql.Dataset[IngestRow] =
    Multimodal.perBlob(blobs, decode) { (id, recs) =>
      recs.iterator.flatten.map(r => IngestRow(id, r.idx, r.warcType, r.targetUri,
        r.httpStatus, r.contentType, r.body))
    }
}
