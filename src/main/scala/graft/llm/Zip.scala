package graft.llm

import java.io.ByteArrayOutputStream
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayBuffer

/** ZIP archive parsing — the container format office documents live in
  * (`.docx`/`.xlsx`/`.pptx` are ZIP archives of XML parts; `.epub` and
  * `.jar` likewise), so a crawl pipeline's document tier needs a real
  * member walk before it can extract any office text.
  *
  * Spec-aware in the [[Wav]]/[[Bmp]] sense — parsed from the END, the
  * way the format is designed to be read:
  *   - the End-Of-Central-Directory record (`PK\x05\x06`) is found by
  *     scanning backward through the up-to-64KiB comment zone
  *   - the central directory (`PK\x01\x02` entries) gives names, sizes,
  *     CRCs, methods, and local-header offsets; entry counts and
  *     offsets are bounds-checked (crafted-header quarantine)
  *   - member bytes come from the local header (`PK\x03\x04`) at each
  *     offset, skipping ITS name/extra lengths (they may differ from
  *     the central copy — the spec allows it and real zippers do it)
  *   - method 0 (stored) is copied, method 8 (deflate) inflates through
  *     a RAW `Inflater(nowrap=true)`; other methods surface the member
  *     in the listing but yield no content
  *   - extracted bytes are verified against the central-directory CRC32
  *     (stored AND deflated — size alone would pass a corrupted member)
  *   - a [[Codec]]: no EOCD / out-of-bounds directory or data, or
  *     member contents that together pass [[Codec.MaxDecodedBytes]]
  *     (counted across ALL members — a per-member cap lets a small
  *     archive of many bombs through) → None; a single unreadable or
  *     CRC-mismatched member yields that member with empty content, not
  *     a poisoned archive
  */
object Zip extends Codec {

  type Out = Seq[Member]

  final case class Member(name: String, size: Long, method: Int,
      content: Array[Byte])

  private val MaxMembers = 4096

  def decode(bytes: Array[Byte]): Option[Seq[Member]] = {
    if (bytes == null || bytes.length < 22) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    def u16(at: Int): Int = buf.getShort(at) & 0xffff
    def u32(at: Int): Long = buf.getInt(at) & 0xffffffffL
    // EOCD: scan backward over the comment zone
    var eocd = -1
    var k = bytes.length - 22
    val floor = math.max(0, bytes.length - 22 - 0xffff)
    while (eocd < 0 && k >= floor) {
      if (bytes(k) == 0x50 && bytes(k + 1) == 0x4b &&
        bytes(k + 2) == 0x05 && bytes(k + 3) == 0x06) eocd = k
      else k -= 1
    }
    if (eocd < 0) return None
    val count = u16(eocd + 10)
    val cdSize = u32(eocd + 12)
    val cdOff = u32(eocd + 16)
    if (count > MaxMembers || cdOff + cdSize > eocd) return None
    val out = ArrayBuffer.empty[Member]
    var left = Codec.MaxDecodedBytes.toLong // decoded-output budget for the whole archive
    var pos = cdOff.toInt
    var i = 0
    while (i < count) {
      if (pos + 46 > bytes.length || u32(pos) != 0x02014b50L) return None
      val method = u16(pos + 10)
      val crc = u32(pos + 16)
      val csize = u32(pos + 20)
      val usize = u32(pos + 24)
      val nameLen = u16(pos + 28)
      val extraLen = u16(pos + 30)
      val commentLen = u16(pos + 32)
      val lho = u32(pos + 42)
      if (pos + 46 + nameLen > bytes.length) return None
      val name = new String(bytes, pos + 46, nameLen, UTF_8)
      // central-directory CRC32 is the integrity check for BOTH methods
      // (stored members have no other one): mismatch = the documented
      // per-member quarantine — listed, empty content, archive survives
      // every inflated byte counts, kept or not: a CRC-failing bomb member
      // must not buy unbounded inflate work either
      val read = readMember(bytes, buf, lho, method, csize, left)
      left -= read.fold(0)(_.length)
      if (left < 0) return None
      val content = read.filter { data =>
        val c = new java.util.zip.CRC32(); c.update(data)
        (method == 0 || data.length == usize) && c.getValue == crc
      }
      out += Member(name, usize, method, content.getOrElse(Array.emptyByteArray))
      pos += 46 + nameLen + extraLen + commentLen
      i += 1
    }
    Some(out.toSeq)
  }

  /** One member's bytes (stored, or inflated up to `limit` — a result
    * longer than `limit` means the member ran past the archive's budget). */
  private def readMember(bytes: Array[Byte], buf: ByteBuffer, lho: Long,
      method: Int, csize: Long, limit: Long): Option[Array[Byte]] = {
    def u16(at: Int): Int = buf.getShort(at) & 0xffff
    def u32(at: Int): Long = buf.getInt(at) & 0xffffffffL
    if (lho < 0 || lho + 30 > bytes.length) return None
    val p = lho.toInt
    if (u32(p) != 0x04034b50L) return None
    val nameLen = u16(p + 26)
    val extraLen = u16(p + 28)
    val dataAt = p + 30 + nameLen + extraLen
    if (dataAt + csize > bytes.length) return None
    val raw = java.util.Arrays.copyOfRange(bytes, dataAt, dataAt + csize.toInt)
    method match {
      case 0 => Some(raw)
      case 8 => Codec.inflate(raw, nowrap = true, limit) // zip strips the zlib wrapper
      case _ => None // unsupported method: listed, no content
    }
  }

  // ------------------------------------------------------------- docx

  /** Extracted office text: paragraphs joined by '\n'. */
  final case class Doc(nParas: Int, text: String)

  /** WordprocessingML text: every `<w:t>` run's text in document order
    * (entity-decoded via the shared [[Html.reference]] decoder; CDATA
    * not part of OOXML text runs), `</w:p>` closes a paragraph (break
    * suppressed while empty), `<w:tab/>` a tab, `<w:br/>` a line break.
    * Matched by LOCAL name so any namespace prefix works. */
  def wordText(xml: String): Doc = {
    if (xml == null || xml.isEmpty) return Doc(0, "")
    val out = new StringBuilder
    var nParas = 0
    var inT = false
    var i = 0
    val n = xml.length
    def break(): Unit =
      if (out.nonEmpty && out.charAt(out.length - 1) != '\n') out.append('\n')
    while (i < n) {
      val c = xml.charAt(i)
      if (c == '<') {
        if (xml.regionMatches(i, "<!--", 0, 4)) {
          val close = xml.indexOf("-->", i + 4)
          i = if (close < 0) n else close + 3
        } else if (xml.regionMatches(i, "<?", 0, 2)) {
          val close = xml.indexOf("?>", i + 2)
          i = if (close < 0) n else close + 2
        } else {
          val gt = xml.indexOf('>', i)
          val end = if (gt < 0) n else gt
          val rawTag = xml.substring(i + 1, end)
          val closing = rawTag.startsWith("/")
          val body = if (closing) rawTag.substring(1) else rawTag
          // local name: after the prefix colon, before whitespace or '/'
          var e = body.length
          var j = 0
          var done = false
          while (j < body.length && !done) {
            val ch = body.charAt(j)
            if (ch == ' ' || ch == '\t' || ch == '\n' || ch == '\r' || ch == '/') {
              e = j; done = true
            } else j += 1
          }
          var st = 0
          j = 0
          while (j < e) { if (body.charAt(j) == ':') st = j + 1; j += 1 }
          val name = body.substring(st, e).toLowerCase
          name match {
            case "t" => inT = !closing && !rawTag.endsWith("/")
            case "p" if closing => nParas += 1; break()
            case "tab" if !closing => out.append('\t')
            case "br" if !closing => out.append('\n')
            case _ => ()
          }
          i = if (gt < 0) n else gt + 1
        }
      } else if (c == '&') {
        val (decoded, next) = Html.reference(xml, i)
        if (inT) out.append(decoded)
        i = next
      } else {
        if (inT) out.append(c)
        i += 1
      }
    }
    // trailing paragraph break is structure, not text
    while (out.nonEmpty && out.charAt(out.length - 1) == '\n')
      out.deleteCharAt(out.length - 1): Unit
    Doc(nParas, out.toString)
  }

  /** Honest write path (and fixture writer): JDK ZipOutputStream with
    * explicit stored/deflated method per entry. */
  def build(entries: Seq[(String, Array[Byte], Boolean)]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val z = new java.util.zip.ZipOutputStream(bos)
    entries.foreach { case (name, data, stored) =>
      val e = new java.util.zip.ZipEntry(name)
      if (stored) {
        e.setMethod(java.util.zip.ZipEntry.STORED)
        e.setSize(data.length.toLong)
        val crc = new java.util.zip.CRC32(); crc.update(data)
        e.setCrc(crc.getValue)
      } else e.setMethod(java.util.zip.ZipEntry.DEFLATED)
      z.putNextEntry(e)
      z.write(data)
      z.closeEntry()
    }
    z.close()
    bos.toByteArray
  }

  /** `.docx` → text: the ZIP member walk + `word/document.xml`. None
    * when the bytes are not a readable archive or lack the part. */
  def docxText(bytes: Array[Byte]): Option[Doc] =
    decode(bytes).flatMap { ms =>
      ms.find(_.name == "word/document.xml")
        .map(m => wordText(new String(m.content, UTF_8)))
    }
}
