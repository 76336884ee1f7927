package graft.llm

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.zip.Deflater

import scala.collection.mutable.ArrayBuffer

/** PDF text extraction — the document-format member of the decode tier:
  * a meaningful share of any crawl corpus is PDF, and its text lives in
  * content streams behind real structure (objects, stream dictionaries,
  * Flate compression, text operators), not in anything a regex can
  * reach. Spec-aware in the [[Wav]]/[[Bmp]] sense:
  *
  *   - `%PDF-` header required; objects scanned leniently (no xref
  *     dependence — the file-trailer xref is a random-access index, and
  *     a sequential scan is the standard repair path real extractors
  *     take on the broken-xref files crawls are full of)
  *   - each `stream` keyword's dictionary is found by NESTING-AWARE
  *     backward `<< >>` matching; payload bounds come from the
  *     `endstream` keyword (lenient authority — `/Length` may be an
  *     indirect reference)
  *   - `/FlateDecode` streams inflate through `java.util.zip.Inflater`
  *     (zlib DECODE is bijective on valid input — deterministic even
  *     though encoder output bytes are not); other filters are skipped
  *     as non-text; corrupt deflate data skips the stream
  *   - a [[Codec]]: inflated bytes count against
  *     [[Codec.MaxDecodedBytes]] across ALL streams of the file — a
  *     per-stream cap lets a small file of many bombs through — and a
  *     file past it quarantines whole (None)
  *   - text operators inside `BT…ET` only: `(literal)` strings with
  *     the full escape set (`\( \) \\ \n \r \t \ooo`, line
  *     continuation) and balanced NESTED parens, `<hex>` strings
  *     (odd-length pads a trailing 0), `Tj`/`'`/`"` show ops, `TJ`
  *     arrays (kern numbers ignored), `Td`/`TD`/`T*`/`'` line breaks
  *     (suppressed when the buffer is empty or already at a break)
  *   - `n_pages` counts `/Type /Page` dictionaries (not `/Pages`)
  *
  * [[build]] is the deterministic fixture writer: a structurally
  * complete single-xref PDF (catalog → pages → page → contents).
  */
object Pdf extends Codec {

  type Out = Extracted

  final case class Extracted(nPages: Int, nFlate: Int, text: String)

  // ---------------------------------------------------------------- parse

  def decode(bytes: Array[Byte]): Option[Extracted] = {
    if (bytes == null || bytes.length < 8) return None
    val s = new String(bytes, ISO_8859_1)
    if (!s.startsWith("%PDF-")) return None
    var nPages = 0
    var nFlate = 0
    var left = Codec.MaxDecodedBytes.toLong // inflate budget for the whole file
    val text = new StringBuilder

    // ---- page count: /Type /Page but not /Pages
    var p = s.indexOf("/Type", 0)
    while (p >= 0) {
      var q = p + 5
      while (q < s.length && (s.charAt(q) == ' ' || s.charAt(q) == '\r' ||
        s.charAt(q) == '\n' || s.charAt(q) == '\t')) q += 1
      if (s.regionMatches(q, "/Page", 0, 5) &&
        (q + 5 >= s.length || s.charAt(q + 5) != 's')) nPages += 1
      p = s.indexOf("/Type", p + 5)
    }

    // ---- stream walk
    var i = s.indexOf("stream", 0)
    while (i >= 0) {
      // must be the keyword, not part of "endstream"
      val isKeyword = i < 9 || !s.regionMatches(i - 3, "end", 0, 3)
      if (isKeyword) {
        // dictionary: nesting-aware backward << >> match
        val dictEnd = s.lastIndexOf(">>", i)
        var dictStart = -1
        if (dictEnd >= 0) {
          var depth = 1
          var k = dictEnd - 1
          while (k >= 1 && dictStart < 0) {
            if (s.charAt(k - 1) == '<' && s.charAt(k) == '<') {
              depth -= 1
              if (depth == 0) dictStart = k - 1 else k -= 2
            } else if (s.charAt(k - 1) == '>' && s.charAt(k) == '>') {
              depth += 1; k -= 2
            } else k -= 1
          }
        }
        val dict = if (dictStart >= 0) s.substring(dictStart, dictEnd + 2) else ""
        // payload bounds: after the keyword's EOL to "endstream"
        var ds = i + 6
        if (ds < s.length && s.charAt(ds) == '\r') ds += 1
        if (ds < s.length && s.charAt(ds) == '\n') ds += 1
        val end = s.indexOf("endstream", ds)
        if (end >= 0) {
          var de = end
          // strip at most one EOL before the keyword
          if (de > ds && s.charAt(de - 1) == '\n') de -= 1
          if (de > ds && s.charAt(de - 1) == '\r') de -= 1
          val raw = java.util.Arrays.copyOfRange(bytes, ds, de)
          val hasFilter = dict.contains("/Filter")
          val isFlate = dict.contains("/FlateDecode")
          val payload: Option[Array[Byte]] =
            if (isFlate) {
              val inflated = Codec.inflate(raw, nowrap = false, left)
              left -= inflated.fold(0)(_.length)
              if (left < 0) return None
              inflated.map { b => nFlate += 1; b }
            } else if (hasFilter) None // unsupported filter: not our text
            else Some(raw)
          payload.foreach { content =>
            appendContentText(new String(content, ISO_8859_1), text)
          }
          i = s.indexOf("stream", end + 9)
        } else i = -1 // unterminated stream: stop the walk
      } else i = s.indexOf("stream", i + 6)
    }
    Some(Extracted(nPages, nFlate, text.toString))
  }

  /** Tokenize one content stream; append shown text to `out`. */
  private def appendContentText(c: String, out: StringBuilder): Unit = {
    val n = c.length
    var i = 0
    var inText = false
    val pending = ArrayBuffer.empty[String]
    def break(): Unit =
      if (out.nonEmpty && out.charAt(out.length - 1) != '\n') out.append('\n')
    def flushShow(): Unit = { pending.foreach(out ++= _); pending.clear() }
    while (i < n) {
      val ch = c.charAt(i)
      if (ch == '(') {
        val (str, next) = literalString(c, i)
        if (inText) pending += str
        i = next
      } else if (ch == '<' && (i + 1 >= n || c.charAt(i + 1) != '<')) {
        val close = c.indexOf('>', i + 1)
        val end = if (close < 0) n else close
        if (inText) pending += hexString(c.substring(i + 1, end))
        i = if (close < 0) n else close + 1
      } else if (ch == '<') i += 2 // '<<' dict open inside content: skip
      else if (ch.isLetter || ch == '\'' || ch == '"' || ch == '*') {
        // operator token
        val start = i
        while (i < n && (c.charAt(i).isLetterOrDigit || c.charAt(i) == '*' ||
          c.charAt(i) == '\'' || c.charAt(i) == '"')) i += 1
        val op = c.substring(start, i)
        op match {
          case "BT" => inText = true; pending.clear()
          case "ET" => inText = false; pending.clear()
          case "Tj" | "TJ" if inText => flushShow()
          case "'" | "\"" if inText => break(); flushShow()
          case "Td" | "TD" | "T*" if inText => pending.clear(); break()
          case _ => pending.clear() // other op consumed its operands
        }
      } else i += 1
    }
  }

  /** PDF literal string at `i` (pointing at '('): nested parens, escape
    * set, line continuation. Returns (decoded, next index). */
  private def literalString(c: String, i: Int): (String, Int) = {
    val sb = new StringBuilder
    var depth = 1
    var k = i + 1
    val n = c.length
    while (k < n && depth > 0) {
      val ch = c.charAt(k)
      if (ch == '\\' && k + 1 < n) {
        c.charAt(k + 1) match {
          case 'n' => sb.append('\n'); k += 2
          case 'r' => sb.append('\r'); k += 2
          case 't' => sb.append('\t'); k += 2
          case 'b' => sb.append('\b'); k += 2
          case 'f' => sb.append('\f'); k += 2
          case '(' => sb.append('('); k += 2
          case ')' => sb.append(')'); k += 2
          case '\\' => sb.append('\\'); k += 2
          case '\n' => k += 2 // line continuation
          case '\r' =>
            k += 2
            if (k < n && c.charAt(k) == '\n') k += 1
          case d if d >= '0' && d <= '7' =>
            var v = 0
            var cnt = 0
            k += 1
            while (cnt < 3 && k < n && c.charAt(k) >= '0' && c.charAt(k) <= '7') {
              v = v * 8 + (c.charAt(k) - '0'); k += 1; cnt += 1
            }
            sb.append((v & 0xff).toChar)
          case other => sb.append(other); k += 2 // \x → x
        }
      } else if (ch == '(') { depth += 1; sb.append(ch); k += 1 }
      else if (ch == ')') {
        depth -= 1
        if (depth > 0) sb.append(ch)
        k += 1
      } else { sb.append(ch); k += 1 }
    }
    (sb.toString, k)
  }

  /** PDF hex string body (between '<' '>'): whitespace ignored,
    * odd-length pads a trailing 0. */
  private def hexString(body: String): String = {
    val hex = body.filterNot(_.isWhitespace)
    val padded = if (hex.length % 2 == 1) hex + "0" else hex
    val sb = new StringBuilder(padded.length / 2)
    var k = 0
    while (k + 1 < padded.length + 1 && k + 2 <= padded.length) {
      val hi = Character.digit(padded.charAt(k), 16)
      val lo = Character.digit(padded.charAt(k + 1), 16)
      if (hi < 0 || lo < 0) return sb.toString // junk hex: stop
      sb.append(((hi << 4) | lo).toChar)
      k += 2
    }
    sb.toString
  }

  // ---------------------------------------------------------------- build

  /** Deterministic fixture writer: structurally complete PDF with one
    * content stream per page; `flate` compresses every content stream. */
  def build(pageOps: Seq[String], flate: Boolean): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    def w(str: String): Unit = out.write(str.getBytes(ISO_8859_1))
    val offsets = ArrayBuffer.empty[Int]
    def beginObj(num: Int): Unit = { offsets += out.size(); w(s"$num 0 obj\n") }
    val nPages = pageOps.length
    val pageObjAt = 3 // page i → obj 3+2i, contents → obj 4+2i
    w("%PDF-1.4\n")
    beginObj(1); w("<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    beginObj(2)
    val kids = (0 until nPages).map(i => s"${pageObjAt + 2 * i} 0 R").mkString(" ")
    w(s"<< /Type /Pages /Kids [$kids] /Count $nPages >>\nendobj\n")
    pageOps.zipWithIndex.foreach { case (ops, idx) =>
      val pageNum = pageObjAt + 2 * idx
      beginObj(pageNum)
      w(s"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] " +
        s"/Contents ${pageNum + 1} 0 R >>\nendobj\n")
      val raw = ops.getBytes(ISO_8859_1)
      val payload =
        if (flate) {
          val d = new Deflater()
          d.setInput(raw); d.finish()
          val acc = new ByteArrayOutputStream(raw.length + 64)
          val buf = new Array[Byte](8192)
          while (!d.finished()) {
            val len = d.deflate(buf)
            acc.write(buf, 0, len)
          }
          d.end()
          acc.toByteArray
        } else raw
      beginObj(pageNum + 1)
      val filter = if (flate) " /Filter /FlateDecode" else ""
      w(s"<< /Length ${payload.length}$filter >>\nstream\n")
      out.write(payload)
      w("\nendstream\nendobj\n")
    }
    val xrefAt = out.size()
    w(s"xref\n0 ${offsets.length + 1}\n0000000000 65535 f \n")
    offsets.foreach(o => w(f"$o%010d 00000 n \n"))
    w(s"trailer\n<< /Size ${offsets.length + 1} /Root 1 0 R >>\n" +
      s"startxref\n$xrefAt\n%%EOF\n")
    out.toByteArray
  }
}
