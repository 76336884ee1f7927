package graft.llm

/** QOI ("Quite OK Image") decoder — the 2021 single-page lossless
  * format (qoiformat.org spec, public domain) now common for game
  * textures and fast intermediate storage; a media-lake scan meets it
  * beside PNG/BMP/TGA. One pass, no entropy coding: each chunk is a
  * byte-tagged op against DECODER STATE (previous pixel + a 64-slot
  * seen-pixel index), which is exactly what makes a sloppy decoder
  * dangerous — a single mis-stepped op poisons every later pixel.
  *
  * Grammar (8-bit tags, 2-bit prefixes):
  *   11111110 r g b      RGB    — new pixel, alpha carried over
  *   11111111 r g b a    RGBA
  *   00iiiiii            INDEX  — emit index[i]
  *   01drdgdb            DIFF   — channel deltas −2..1 (bias 2)
  *   10dddddd drdb       LUMA   — dg −32..31 (bias 32), dr−dg / db−dg
  *                                −8..7 (bias 8) in the second byte
  *   11cccccc            RUN    — repeat previous pixel 1..62 times
  *                                (63/64 collide with the RGB/RGBA
  *                                tags and cannot be encoded)
  * Every emitted pixel (from every op) is written to
  * index[(3r+5g+7b+11a) mod 64]. Stream starts from pixel
  * (0,0,0,255) and a zeroed index; ends with 7×0x00 then 0x01.
  *
  * STRICT bounds (the Zip-CRC/Rle8 discipline): bad magic, zero or
  * overflowing dims (w·h > [[Codec.MaxPixels]] — dims come from an
  * untrusted header and the buffer must be guarded BEFORE it exists),
  * bad channels/colorspace, a truncated chunk, a run overshooting
  * w·h, or a missing/misplaced end marker each quarantine the whole
  * image (None, the [[Codec]] contract — never a half-decoded grid). */
object Qoi extends Codec {

  type Out = Image

  /** Decoded image: row-major packed 0xAARRGGBB ints. */
  final case class Image(w: Int, h: Int, px: Array[Int])

  def decode(data: Array[Byte]): Option[Image] = {
    if (data == null || data.length < 14 + 8) return None
    if (data(0) != 'q' || data(1) != 'o' || data(2) != 'i' || data(3) != 'f')
      return None
    def u32(o: Int): Long =
      ((data(o) & 0xffL) << 24) | ((data(o + 1) & 0xffL) << 16) |
        ((data(o + 2) & 0xffL) << 8) | (data(o + 3) & 0xffL)
    val w = u32(4)
    val h = u32(8)
    val channels = data(12) & 0xff
    val colorspace = data(13) & 0xff
    // reject each dimension BEFORE multiplying: w=h=0xFFFFFFFF makes
    // w*h overflow Long (wraps negative, then (w*h).toInt truncates to 1),
    // silently bypassing the pixel cap; per-dim bounds make the product safe
    if (w <= 0 || h <= 0 || w > Codec.MaxPixels || h > Codec.MaxPixels ||
      w * h > Codec.MaxPixels) return None
    if ((channels != 3 && channels != 4) || colorspace > 1) return None
    // the best a chunk byte does is a 62-pixel RUN: a header claiming more
    // pixels than its chunk bytes can encode quarantines before the buffer
    if (w * h > (data.length - 22).toLong * 62) return None
    val n = (w * h).toInt
    val px = new Array[Int](n)
    val index = new Array[Int](64) // packed ARGB; zeroed = (0,0,0,0)
    var r = 0; var g = 0; var b = 0; var a = 255
    var out = 0
    var i = 14
    val end = data.length - 8 // chunks may not run into the marker
    def emit(count: Int): Boolean = {
      if (out + count > n) return false // overshoot = corrupt stream
      val v = (a << 24) | (r << 16) | (g << 8) | b
      var c = 0
      while (c < count) { px(out) = v; out += 1; c += 1 }
      index((3 * r + 5 * g + 7 * b + 11 * a) % 64) = v
      true
    }
    while (out < n) {
      if (i >= end) return None // truncated
      val tag = data(i) & 0xff
      i += 1
      if (tag == 0xfe) { // RGB
        if (i + 3 > end) return None
        r = data(i) & 0xff; g = data(i + 1) & 0xff; b = data(i + 2) & 0xff
        i += 3
        if (!emit(1)) return None
      } else if (tag == 0xff) { // RGBA
        if (i + 4 > end) return None
        r = data(i) & 0xff; g = data(i + 1) & 0xff
        b = data(i + 2) & 0xff; a = data(i + 3) & 0xff
        i += 4
        if (!emit(1)) return None
      } else (tag >> 6) match {
        case 0 => // INDEX
          val v = index(tag & 0x3f)
          a = (v >>> 24) & 0xff; r = (v >> 16) & 0xff
          g = (v >> 8) & 0xff; b = v & 0xff
          if (!emit(1)) return None
        case 1 => // DIFF, bias 2
          r = (r + ((tag >> 4) & 3) - 2) & 0xff
          g = (g + ((tag >> 2) & 3) - 2) & 0xff
          b = (b + (tag & 3) - 2) & 0xff
          if (!emit(1)) return None
        case 2 => // LUMA, dg bias 32; second byte dr-dg / db-dg bias 8
          if (i + 1 > end) return None
          val dg = (tag & 0x3f) - 32
          val d2 = data(i) & 0xff
          i += 1
          r = (r + dg + ((d2 >> 4) & 0xf) - 8) & 0xff
          g = (g + dg) & 0xff
          b = (b + dg + (d2 & 0xf) - 8) & 0xff
          if (!emit(1)) return None
        case _ => // RUN of 1..62 (0xfe/0xff handled above)
          if (!emit((tag & 0x3f) + 1)) return None
      }
    }
    // end marker must follow the final chunk EXACTLY (i == end), then EOF
    if (i != end) return None
    var k = 0
    while (k < 7) { if (data(end + k) != 0) return None; k += 1 }
    if (data(end + 7) != 1) return None
    Some(Image(w.toInt, h.toInt, px))
  }
}
