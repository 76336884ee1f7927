package graft.llm

/** Truevision TGA — the texture/frame format decades of game assets,
  * scanned film frames, and render pipelines shipped in. Joins the
  * real-decode tier next to [[Bmp]] (truecolor headers) and [[Rle8]]
  * (BMP's RLE): TGA's RLE is a DIFFERENT grammar — per-scanline packet
  * streams with a 1-bit kind + 7-bit count header — and TGA carries an
  * ORIGIN flag (top-down vs bottom-up) in the image descriptor instead
  * of BMP's sign convention.
  *
  * Supported (the overwhelmingly common shapes): imageType 2
  * (uncompressed truecolor) and 10 (RLE truecolor), 24 bpp, no color
  * map; the id field skips by length. Pixels are BGR on the wire,
  * decoded to packed RGB ints, rows normalized to TOP-DOWN.
  *
  * STRICT bounds (the [[Rle8]] / Zip-CRC discipline): short header,
  * bad type/depth/colormap, dims over [[Codec.MaxPixels]], truncated pixel
  * data, or an RLE packet CROSSING a scanline boundary (the original
  * spec forbids it; lenient decoders hide encoder bugs) → quarantine
  * (None), never a half-decoded frame.
  *
  * Scale shape: row-local decode, no shuffle, streaming-safe. */
object Tga extends Codec {

  type Out = Image

  final case class Image(w: Int, h: Int, topDown: Boolean, px: Array[Int])

  private def u16le(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  /** Decode to top-down packed-RGB pixels, or None. */
  def decode(data: Array[Byte]): Option[Image] = {
    if (data == null || data.length < 18) return None
    val idLen = data(0) & 0xff
    val colorMapType = data(1) & 0xff
    val imageType = data(2) & 0xff
    if (colorMapType != 0) return None
    if (imageType != 2 && imageType != 10) return None
    val w = u16le(data, 12)
    val h = u16le(data, 14)
    val depth = data(16) & 0xff
    val descriptor = data(17) & 0xff
    if (w <= 0 || h <= 0 || depth != 24) return None
    if (w.toLong * h > Codec.MaxPixels) return None
    val topDown = (descriptor & 0x20) != 0
    var p = 18 + idLen
    // the fewest bytes w×h pixels take: 3 each raw; in RLE one 4-byte
    // packet per 128 pixels, and a packet never crosses a scanline. A
    // header claiming more quarantines before the buffer is allocated.
    val least = if (imageType == 2) 3L * w * h else 4L * h * ((w + 127) / 128)
    if (p + least > data.length) return None
    val px = new Array[Int](w * h)

    // fill pixel (streamRow, x); stream rows map straight for top-down,
    // mirrored for bottom-up
    def imageRow(streamRow: Int): Int = if (topDown) streamRow else h - 1 - streamRow

    if (imageType == 2) {
      var sr = 0
      while (sr < h) {
        val row = imageRow(sr)
        var x = 0
        while (x < w) {
          val b = data(p) & 0xff
          val g = data(p + 1) & 0xff
          val r = data(p + 2) & 0xff
          px(row * w + x) = (r << 16) | (g << 8) | b
          p += 3
          x += 1
        }
        sr += 1
      }
      Some(Image(w, h, topDown, px))
    } else {
      var sr = 0
      while (sr < h) {
        val row = imageRow(sr)
        var x = 0
        while (x < w) {
          if (p >= data.length) return None
          val head = data(p) & 0xff
          p += 1
          val count = (head & 0x7f) + 1
          if (x + count > w) return None // packet crosses the scanline
          if ((head & 0x80) != 0) { // RLE packet: one pixel repeated
            if (p + 3 > data.length) return None
            val v = ((data(p + 2) & 0xff) << 16) |
              ((data(p + 1) & 0xff) << 8) | (data(p) & 0xff)
            p += 3
            var i = 0
            while (i < count) { px(row * w + x + i) = v; i += 1 }
          } else { // raw packet: count literal pixels
            if (p + 3L * count > data.length) return None
            var i = 0
            while (i < count) {
              px(row * w + x + i) = ((data(p + 2) & 0xff) << 16) |
                ((data(p + 1) & 0xff) << 8) | (data(p) & 0xff)
              p += 3
              i += 1
            }
          }
          x += count
        }
        sr += 1
      }
      Some(Image(w, h, topDown, px))
    }
  }
}
