package graft.llm

import graft.SparkSpec

class WarcSpec extends SparkSpec {

  private val resp = Warc.encodeResponse(
    "https://h.com/p", "2026-01-01T00:00:00Z", 200, "text/html", "the body text")

  test("response record round-trips: uri, status, content-type, body") {
    val recs = Warc.decode(resp).getOrElse(fail("parse failed"))
    assert(recs == Seq(Warc.Record(0, "response", "https://h.com/p", 200,
      "text/html", "the body text")))
  }

  test("multiple records walk in order; non-response types carry no HTTP") {
    val bytes = Warc.encodeInfo("warcinfo", "crawler=graft") ++
      resp ++ Warc.encodeInfo("metadata", "note")
    val recs = Warc.decode(bytes).getOrElse(fail("parse failed"))
    assert(recs.map(r => (r.idx, r.warcType)) ==
      Seq((0, "warcinfo"), (1, "response"), (2, "metadata")))
    assert(recs(0).httpStatus == -1 && recs(0).body == "crawler=graft")
    assert(recs(1).httpStatus == 200)
  }

  test("Content-Length is bytes, not chars; WARC/1.1 accepted") {
    val uni = Warc.encodeResponse("https://h.com/u", "2026-01-01T00:00:00Z",
      200, "text/plain", "héllo ✓") // multi-byte UTF-8 body
    val recs = Warc.decode(uni).getOrElse(fail("unicode body failed"))
    assert(recs.head.body == "héllo ✓")
    val v11 = new String(resp, "UTF-8").replaceFirst("WARC/1\\.0", "WARC/1.1")
    assert(Warc.decode(v11.getBytes("UTF-8")).nonEmpty)
  }

  test("malformed archives quarantine, never throw") {
    val s = new String(resp, "UTF-8")
    def b(x: String) = x.getBytes("UTF-8")
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "not warc" -> b("HTTP/1.1 200 OK\r\n\r\n"),
      "bad version" -> b(s.replaceFirst("WARC/1\\.0", "WARC/2.0")),
      "LF-only line endings" -> b(s.replace("\r\n", "\n")),
      "headerless" -> b("WARC/1.0\r\n\r\n"),
      "no colon in header" -> b(s.replaceFirst("WARC-Type: response", "WARC-Type response")),
      "missing content-length" -> b(s.replaceFirst("Content-Length: \\d+\r\n", "")),
      "non-numeric content-length" -> b(s.replaceFirst("Content-Length: \\d+", "Content-Length: ten")),
      "length past buffer" -> b(s.replaceFirst("Content-Length: \\d+", "Content-Length: 99999")),
      "missing record separator" -> resp.dropRight(2),
      "bad http status line" -> b(s.replaceFirst("HTTP/1.1 200 OK", "ICY 200 OK")),
      "4-digit status" -> b(s.replaceFirst("HTTP/1.1 200 OK", "HTTP/1.1 2000 OK")),
      "trailing garbage" -> (resp ++ b("junk")))
    cases.foreach { case (label, x) =>
      assert(Warc.decode(x).isEmpty, s"accepted: $label")
    }
  }

  test("ingest dataset: gzip members → records, quarantine-by-omission") {
    import spark.implicits._
    val members = Seq(
      new String(Warc.encodeInfo("warcinfo", "v1"), "UTF-8"),
      new String(resp, "UTF-8"))
    val rows = Warc.ingest(Seq(
      Multimodal.Blob(1L, Gzip.encodeMembers(members)),
      Multimodal.Blob(2L, "garbage".getBytes("UTF-8")))
      .map { b => // the .warc.gz chain: decode members first, as q146 does
        Multimodal.Blob(b.doc_id,
          Gzip.text(b.payload).map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))
      }.toDS())
      .collect().sortBy(r => (r.doc_id, r.rec_idx))
    assert(rows.map(_.doc_id).forall(_ == 1L), "garbage leaked rows")
    assert(rows.map(_.warc_type).toSeq == Seq("warcinfo", "response"))
  }
}
