package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

/** Real BMP (Windows DIB) 24-bit codec — the image-modality twin of
  * [[Wav]]: uncompressed BI_RGB bitmaps are self-describing byte layout,
  * so a spec-complete encoder/parser needs no native imaging library.
  * [[Multimodal.decodeBmp]] runs [[decode]] partition-batched; compressed
  * image formats (JPEG/PNG) remain the documented stub tier.
  *
  * Format notes honored here (BITMAPINFOHEADER spec): pixel rows are
  * stored BOTTOM-UP when `height` is positive and top-down when negative;
  * each stored row is padded to a 4-byte boundary (the padding is where
  * real parser bugs live — any width ≢ 0 (mod 4) desyncs a parser that
  * forgets it); channels are stored B,G,R. [[decode]] normalizes both row
  * orders to top-down row-major 0xRRGGBB ints.
  */
object Bmp extends Codec {

  type Out = Img

  /** Decoded image: row-major, top-down, packed 0xRRGGBB. */
  final case class Img(width: Int, height: Int, pixels: Array[Int])

  private val FileHeaderSize = 14
  private val InfoHeaderSize = 40
  private val BiRgb = 0

  private def rowStride(width: Int): Int = (width * 3 + 3) & ~3

  /** Canonical bottom-up 24-bit BI_RGB BMP bytes; parses under any
    * spec-compliant reader (round-trip property-tested in BmpSpec). */
  def encode24(width: Int, height: Int, pixels: Array[Int]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(pixels.length == width * height, "pixel count != width*height")
    val stride = rowStride(width)
    val dataSize = stride * height
    val buf = ByteBuffer.allocate(FileHeaderSize + InfoHeaderSize + dataSize)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put('B'.toByte).put('M'.toByte)
      .putInt(FileHeaderSize + InfoHeaderSize + dataSize)
      .putShort(0).putShort(0)
      .putInt(FileHeaderSize + InfoHeaderSize) // pixel-data offset
    buf.putInt(InfoHeaderSize).putInt(width).putInt(height)
      .putShort(1) // planes
      .putShort(24).putInt(BiRgb).putInt(dataSize)
      .putInt(2835).putInt(2835) // 72 DPI in px/m
      .putInt(0).putInt(0) // palette sizes (none for 24-bit)
    var row = height - 1 // bottom-up storage: last image row first
    while (row >= 0) {
      var x = 0
      while (x < width) {
        val p = pixels(row * width + x)
        buf.put((p & 0xff).toByte) // B
          .put(((p >> 8) & 0xff).toByte) // G
          .put(((p >> 16) & 0xff).toByte) // R
        x += 1
      }
      var pad = stride - width * 3
      while (pad > 0) { buf.put(0.toByte); pad -= 1 }
      row -= 1
    }
    buf.array()
  }

  /** Parse 24-bit BI_RGB BMP bytes (both row orders); None for anything
    * malformed (the [[Codec]] contract). */
  def decode(bytes: Array[Byte]): Option[Img] = {
    if (bytes == null || bytes.length < FileHeaderSize + InfoHeaderSize) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.get() != 'B'.toByte || buf.get() != 'M'.toByte) return None
    buf.getInt() // declared file size; tolerated if it disagrees
    buf.getShort(); buf.getShort() // reserved
    val dataOffset = buf.getInt()
    val infoSize = buf.getInt()
    if (infoSize < InfoHeaderSize) return None // BITMAPCOREHEADER not supported
    val width = buf.getInt()
    val rawHeight = buf.getInt()
    val planes = buf.getShort()
    val bits = buf.getShort()
    val compression = buf.getInt()
    // width/height sanity BEFORE any arithmetic on them: crafted headers
    // must quarantine (None), never throw — Int.MinValue survives
    // math.abs (stays negative, making the truncation product negative so
    // the old check false-passed into a negative-size allocation), and
    // widths ≥ ~715M overflow rowStride's int math into a tiny stride that
    // passes the bounds check and then indexes past the buffer. The pixel
    // count is also bounded long-side, at Codec.MaxPixels, so width*height
    // cannot wrap and the decoded raster stays inside the blob bound.
    val MaxDim = 1 << 24
    if (width <= 0 || width > MaxDim || rawHeight == 0 ||
      rawHeight == Int.MinValue || planes != 1 ||
      bits != 24 || compression != BiRgb) return None
    val topDown = rawHeight < 0
    val height = math.abs(rawHeight)
    if (height > MaxDim || width.toLong * height > Codec.MaxPixels) return None
    val stride = rowStride(width)
    if (dataOffset < 0 || dataOffset.toLong + stride.toLong * height > bytes.length)
      return None // truncated pixel data
    val px = new Array[Int](width * height)
    var row = 0
    while (row < height) {
      val srcRow = if (topDown) row else height - 1 - row
      var off = dataOffset + srcRow * stride
      var x = 0
      while (x < width) {
        val b = bytes(off) & 0xff
        val g = bytes(off + 1) & 0xff
        val r = bytes(off + 2) & 0xff
        px(row * width + x) = (r << 16) | (g << 8) | b
        off += 3
        x += 1
      }
      row += 1
    }
    Some(Img(width, height, px))
  }
}
