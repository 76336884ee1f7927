package graft.llm

/** NetPBM decoder (PGM/PPM, the P2/P3/P5/P6 quartet) — the lingua
  * franca of image-processing pipelines and the simplest raster
  * format a media lake still meets (scientific tooling, OCR corpora,
  * ffmpeg image2 output). Deceptively simple: the header is
  * whitespace-tokenized with `#` comment lines legal ANYWHERE between
  * tokens, ASCII variants allow arbitrary whitespace runs between
  * samples, and binary variants begin exactly ONE whitespace byte
  * after maxval — each a classic parser trap.
  *
  * Supported: P2 (gray ASCII), P3 (RGB ASCII), P5 (gray binary),
  * P6 (RGB binary), maxval 1..255 (single-byte samples; 16-bit
  * two-byte samples are out of scope and quarantine on maxval).
  * Gray decodes with the value replicated to r=g=b, so downstream
  * channel arithmetic is format-blind.
  *
  * STRICT bounds (Rle8/Qoi discipline): dims guarded against
  * [[Codec.MaxPixels]] BEFORE allocation, an ASCII body too short for
  * its sample count rejected before the sample buffer exists, any sample > maxval, short data,
  * non-numeric ASCII token, or trailing non-whitespace bytes
  * quarantine the image (None, the [[Codec]] contract). */
object Pnm extends Codec {

  type Out = Image

  /** Row-major packed 0xRRGGBB. */
  final case class Image(kind: String, w: Int, h: Int, maxval: Int,
      px: Array[Int])

  def decode(data: Array[Byte]): Option[Image] = {
    if (data == null || data.length < 2 || data(0) != 'P') return None
    val kind = data(1) match {
      case '2' => "P2"; case '3' => "P3"; case '5' => "P5"; case '6' => "P6"
      case _ => return None
    }
    val ascii = kind == "P2" || kind == "P3"
    val rgb = kind == "P3" || kind == "P6"
    var i = 2
    val n = data.length
    def isWs(c: Byte) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    // skip whitespace and #-to-EOL comments between header tokens
    def skipWsAndComments(): Unit = {
      var go = true
      while (go && i < n) {
        if (isWs(data(i))) i += 1
        else if (data(i) == '#') { while (i < n && data(i) != '\n') i += 1 }
        else go = false
      }
    }
    def headerInt(): Option[Int] = {
      skipWsAndComments()
      val start = i
      var v = 0L
      while (i < n && data(i) >= '0' && data(i) <= '9') {
        v = v * 10 + (data(i) - '0')
        if (v > Int.MaxValue) return None
        i += 1
      }
      if (i == start) None else Some(v.toInt)
    }
    for {
      w <- headerInt()
      h <- headerInt()
      maxval <- headerInt()
      if w > 0 && h > 0 && w.toLong * h <= Codec.MaxPixels
      if maxval >= 1 && maxval <= 255
      px <- {
        val count = w * h * (if (rgb) 3 else 1)
        if (ascii) readAscii(data, i, count, maxval)
        else readBinary(data, i, count, maxval)
      }
    } yield {
      val out = new Array[Int](w * h)
      var p = 0
      while (p < w * h) {
        if (rgb) out(p) = (px(3 * p) << 16) | (px(3 * p + 1) << 8) | px(3 * p + 2)
        else out(p) = (px(p) << 16) | (px(p) << 8) | px(p)
        p += 1
      }
      Image(kind, w, h, maxval, out)
    }
  }

  /** Binary samples start exactly ONE whitespace byte after maxval. */
  private def readBinary(data: Array[Byte], pos: Int, count: Int,
      maxval: Int): Option[Array[Int]] = {
    var i = pos
    if (i >= data.length || !(data(i) == ' ' || data(i) == '\t' ||
        data(i) == '\n' || data(i) == '\r')) return None
    i += 1
    if (i + count != data.length) return None // short OR trailing garbage
    val out = new Array[Int](count)
    var p = 0
    while (p < count) {
      val v = data(i + p) & 0xff
      if (v > maxval) return None
      out(p) = v
      p += 1
    }
    Some(out)
  }

  private def readAscii(data: Array[Byte], pos: Int, count: Int,
      maxval: Int): Option[Array[Int]] = {
    var i = pos
    val n = data.length
    def isWs(c: Byte) = c == ' ' || c == '\t' || c == '\n' || c == '\r'
    if (2L * count - 1 > n - i) return None // each sample: a digit + a separator
    val out = new Array[Int](count)
    var p = 0
    while (p < count) {
      while (i < n && (isWs(data(i)) || data(i) == '#')) {
        if (data(i) == '#') { while (i < n && data(i) != '\n') i += 1 }
        else i += 1
      }
      if (i >= n) return None
      var v = 0
      val start = i
      while (i < n && data(i) >= '0' && data(i) <= '9' && v <= maxval) {
        v = v * 10 + (data(i) - '0')
        i += 1
      }
      if (i == start || v > maxval) return None
      out(p) = v
      p += 1
    }
    // only whitespace (or comments) may follow the last sample
    while (i < n && (isWs(data(i)) || data(i) == '#')) {
      if (data(i) == '#') { while (i < n && data(i) != '\n') i += 1 }
      else i += 1
    }
    if (i != n) return None
    Some(out)
  }
}
