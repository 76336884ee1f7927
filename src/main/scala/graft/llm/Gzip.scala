package graft.llm

import java.util.zip.{CRC32, DataFormatException, Deflater, Inflater}

/** Gzip (RFC 1952) member codec over JDK zlib — the compressed-TEXT scan
  * shape: web-crawl corpora arrive as concatenated gzip members (WARC
  * convention), so a 100 TB text pipeline's first operator is often
  * "walk members, inflate, verify, decode". A [[Codec]] like the binary
  * decoders: spec-complete member walk (FLG bit handling, CRC32 + ISIZE
  * verification, multi-member concatenation) to the inflated bytes, with
  * [[text]] the strict-UTF-8 form on top.
  *
  * The JDK's `GZIPInputStream` is NOT used: it silently stops at the
  * first member boundary it can't parse and hides trailing garbage —
  * exactly the corruption a corpus scan must surface, not swallow.
  *
  * Encoding is deterministic (fixed header: MTIME=0, XFL=0, OS=255;
  * deflate at the default level of the pinned JDK zlib), which is what
  * lets q145's decode output hash-check against a parser-free oracle.
  */
object Gzip extends Codec {

  type Out = Array[Byte]

  private val Magic0 = 0x1f
  private val Magic1 = 0x8b

  /** One deterministic gzip member for `text` (UTF-8). */
  def encode(text: String): Array[Byte] = encodeMembers(Seq(text))

  /** Concatenated members, one per input string — the WARC layout. */
  def encodeMembers(texts: Seq[String]): Array[Byte] = {
    require(texts.nonEmpty, "no members")
    val out = new java.io.ByteArrayOutputStream()
    texts.foreach { t =>
      val data = t.getBytes("UTF-8")
      // header: magic, CM=8 (deflate), FLG=0, MTIME=0, XFL=0, OS=255
      out.write(Array[Byte](Magic0.toByte, Magic1.toByte, 8, 0, 0, 0, 0, 0, 0, 0xff.toByte))
      val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
      d.setInput(data); d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) {
        val n = d.deflate(buf)
        out.write(buf, 0, n)
      }
      d.end()
      val crc = new CRC32(); crc.update(data)
      writeIntLE(out, crc.getValue.toInt)
      writeIntLE(out, data.length)
    }
    out.toByteArray
  }

  private def writeIntLE(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  /** Walk ALL members, inflate + verify each (CRC32 and ISIZE), return
    * the concatenated bytes (e.g. the `.tar` inside a `.tar.gz`, which
    * [[Tar.decode]] then walks). None for: bad magic/CM, reserved FLG
    * bits, truncated stream, deflate corruption, CRC/ISIZE mismatch,
    * trailing garbage after the last member, or output past
    * [[Codec.MaxDecodedBytes]]. FEXTRA/FNAME/FCOMMENT/FHCRC fields are
    * skipped per-spec (real crawls carry FNAME constantly). */
  def decode(bytes: Array[Byte]): Option[Array[Byte]] = {
    if (bytes == null || bytes.length < 20) return None
    val all = new java.io.ByteArrayOutputStream()
    var off = 0
    while (off < bytes.length) {
      off = member(bytes, off, all) match {
        case -1 => return None
        case n  => n
      }
    }
    Some(all.toByteArray)
  }

  /** [[decode]] plus strict UTF-8 — the compressed-TEXT form; None also
    * for invalid UTF-8. */
  def text(bytes: Array[Byte]): Option[String] =
    decode(bytes).flatMap { data =>
      val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
        .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
      try Some(dec.decode(java.nio.ByteBuffer.wrap(data)).toString)
      catch { case _: java.nio.charset.CharacterCodingException => None }
    }

  /** Parse one member at `off`; append inflated bytes; return the offset
    * past its trailer, or -1 if malformed. */
  private def member(b: Array[Byte], off: Int, out: java.io.ByteArrayOutputStream): Int = {
    if (off + 10 > b.length) return -1
    if ((b(off) & 0xff) != Magic0 || (b(off + 1) & 0xff) != Magic1) return -1
    if (b(off + 2) != 8) return -1 // CM: deflate only
    val flg = b(off + 3) & 0xff
    if ((flg & 0xe0) != 0) return -1 // reserved bits
    var p = off + 10
    if ((flg & 4) != 0) { // FEXTRA: u16-LE length + payload
      if (p + 2 > b.length) return -1
      val xlen = (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8)
      p += 2 + xlen
      if (p > b.length) return -1
    }
    if ((flg & 8) != 0) p = skipZeroTerminated(b, p) // FNAME
    if (p < 0) return -1
    if ((flg & 16) != 0) p = skipZeroTerminated(b, p) // FCOMMENT
    if (p < 0) return -1
    if ((flg & 2) != 0) { // FHCRC: u16 header crc (not verified, skipped)
      p += 2
      if (p > b.length) return -1
    }

    val inf = new Inflater(true)
    inf.setInput(b, p, b.length - p)
    val crc = new CRC32()
    val tmp = new Array[Byte](8192)
    var isize = 0L
    try {
      while (!inf.finished()) {
        val n = try inf.inflate(tmp) catch { case _: DataFormatException => return -1 }
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return -1 // truncated
        crc.update(tmp, 0, n)
        out.write(tmp, 0, n)
        isize += n
        if (out.size() > Codec.MaxDecodedBytes) return -1
      }
      val consumed = (b.length - p) - inf.getRemaining
      val trailer = p + consumed
      if (trailer + 8 > b.length) return -1
      if (readIntLE(b, trailer) != crc.getValue.toInt) return -1
      if (readIntLE(b, trailer + 4) != (isize & 0xffffffffL).toInt) return -1
      trailer + 8
    } finally inf.end()
  }

  private def skipZeroTerminated(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p < b.length && b(p) != 0) p += 1
    if (p >= b.length) -1 else p + 1
  }

  private def readIntLE(b: Array[Byte], p: Int): Int =
    (b(p) & 0xff) | ((b(p + 1) & 0xff) << 8) |
      ((b(p + 2) & 0xff) << 16) | ((b(p + 3) & 0xff) << 24)

  /** Decoded text per blob: (doc_id, valid, text, n_chars) — the
    * compressed-crawl scan as a Dataset operator; quarantined blobs keep
    * their row with valid=false (audit-not-drop). */
  final case class TextRow(doc_id: Long, valid: Boolean, text: String, n_chars: Int)

  def decodeAll(blobs: org.apache.spark.sql.Dataset[Multimodal.Blob]): org.apache.spark.sql.Dataset[TextRow] =
    Multimodal.perBlob(blobs, text) { (id, r) =>
      Iterator.single(r.fold(TextRow(id, valid = false, "", 0))(t => TextRow(id, valid = true, t, t.length)))
    }
}
