package graft.llm

/** WebP dimension/feature census — the RIFF-contained image format a
  * crawl meets beside PNG/GIF/JPEG (Google's container spec; RIFF is
  * WAV's own layout, little-endian fourcc chunks): 'RIFF' + u32le size
  * + 'WEBP', then chunks of fourcc + u32le size + payload padded to
  * even length. Pixel decode is perceptual-codec territory (VP8 is a
  * full video intra frame) and stays out of scope; the DIMENSIONS and
  * feature flags are byte/bit-structured in three different ways —
  * which is exactly what makes a census query worth certifying:
  *
  *   - VP8X (extended): 1 flag byte + 3 reserved + width−1 and
  *     height−1 as 24-bit LITTLE-endian each (canvas size).
  *   - VP8 (lossy): 3-byte frame tag (bit0 must be 0 = key frame),
  *     start code 9D 01 2A, then width and height as u16le with the
  *     low 14 bits significant (upper 2 bits are scaling hints).
  *   - VP8L (lossless): signature byte 2F, then width−1 (14 bits) and
  *     height−1 (14 bits) bit-packed LSB-first across 4 bytes.
  *
  * STRICT bounds (the Zip/Rle8 discipline): bad RIFF/WEBP magic, a
  * declared RIFF size disagreeing with the buffer, a truncated or
  * over-long chunk, a bad start code / signature / reserved bit, or a
  * missing image chunk each quarantine the WHOLE blob (None). */
object Webp extends Codec {

  type Out = Features

  /** (format ∈ VP8|VP8L|VP8X, width, height, hasAlpha, hasAnim) —
    * alpha/anim only meaningful for VP8X (false otherwise). */
  final case class Features(format: String, width: Int, height: Int,
      hasAlpha: Boolean, hasAnim: Boolean)

  def decode(data: Array[Byte]): Option[Features] = {
    if (data == null || data.length < 12 + 8) return None
    def u8(o: Int): Int = data(o) & 0xff
    def u16le(o: Int): Int = u8(o) | (u8(o + 1) << 8)
    def u24le(o: Int): Int = u8(o) | (u8(o + 1) << 8) | (u8(o + 2) << 16)
    def u32le(o: Int): Long = u24le(o).toLong | (u8(o + 3).toLong << 24)
    def fourcc(o: Int): String = new String(data, o, 4, "US-ASCII")
    if (fourcc(0) != "RIFF" || fourcc(8) != "WEBP") return None
    val riffLen = u32le(4)
    // RIFF size counts everything after the size field
    if (riffLen + 8 != data.length) return None
    var off = 12
    while (off + 8 <= data.length) {
      val cc = fourcc(off)
      val len = u32le(off + 4)
      val p = off + 8
      if (len > data.length - p) return None
      cc match {
        case "VP8X" =>
          if (len != 10) return None
          val flags = u8(p)
          if ((flags & 0xc1) != 0) return None // reserved bits must be 0
          return Some(Features("VP8X", u24le(p + 4) + 1, u24le(p + 7) + 1,
            (flags & 0x10) != 0, (flags & 0x02) != 0))
        case "VP8 " =>
          if (len < 10) return None
          // frame tag: bit0 = frame type, 0 = key frame (required here)
          if ((u8(p) & 0x01) != 0) return None
          if (u8(p + 3) != 0x9d || u8(p + 4) != 0x01 || u8(p + 5) != 0x2a)
            return None
          return Some(Features("VP8", u16le(p + 6) & 0x3fff,
            u16le(p + 8) & 0x3fff, hasAlpha = false, hasAnim = false))
        case "VP8L" =>
          if (len < 5 || u8(p) != 0x2f) return None
          val bits = u32le(p + 1)
          val w = ((bits & 0x3fff) + 1).toInt
          val h = (((bits >> 14) & 0x3fff) + 1).toInt
          return Some(Features("VP8L", w, h, hasAlpha = false,
            hasAnim = false))
        case _ => // skippable chunk (ICCP/EXIF/XMP/...), padded to even
      }
      off = p + len.toInt + (len.toInt & 1)
    }
    None // no image chunk found
  }

  // ------------------------------------------------------------ builders
  private def le32(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte, (v >> 24).toByte)
  private def le24(v: Int): Array[Byte] =
    Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte)

  /** Raw RIFF assembly — fixtures place skippable chunks BEFORE the
    * image chunk to exercise the skip-with-even-padding path. */
  private[llm] def riff(chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val body = chunks.flatMap { case (cc, payload) =>
      cc.getBytes("US-ASCII") ++ le32(payload.length) ++ payload ++
        (if ((payload.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    }.toArray
    "RIFF".getBytes("US-ASCII") ++ le32(body.length + 4) ++
      "WEBP".getBytes("US-ASCII") ++ body
  }

  def buildVp8x(w: Int, h: Int, alpha: Boolean, anim: Boolean): Array[Byte] = {
    val flags = (if (alpha) 0x10 else 0) | (if (anim) 0x02 else 0)
    riff(Seq(("VP8X", Array[Byte](flags.toByte, 0, 0, 0) ++ le24(w - 1) ++
      le24(h - 1))))
  }

  def buildVp8(w: Int, h: Int): Array[Byte] =
    riff(Seq(("VP8 ", Array[Byte](0, 0, 0, 0x9d.toByte, 0x01, 0x2a) ++
      Array((w & 0xff).toByte, (w >> 8).toByte,
        (h & 0xff).toByte, (h >> 8).toByte))))

  def buildVp8l(w: Int, h: Int): Array[Byte] = {
    val bits = ((w - 1) & 0x3fff) | (((h - 1) & 0x3fff) << 14)
    riff(Seq(("VP8L", Array[Byte](0x2f) ++ le32(bits))))
  }
}
