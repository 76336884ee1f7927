package graft.llm

import java.awt.image.{BufferedImage, IndexColorModel}

/** Real GIF codec via the JDK's ImageIO reader/writer — the second
  * compressed format (after [[Png]]) that escapes B35's stub tier with a
  * FULL arithmetic oracle: GIF stores an explicit RGB palette plus
  * LZW-compressed indices, both lossless, so an image authored as
  * palette+indices round-trips bit-exactly and the q128 oracle re-derives
  * every decoded pixel from the (palette, index) constructions without a
  * GIF parser on its side — a hash match certifies the palette encoding,
  * the LZW round-trip, and the feature math together.
  *
  * [[encodeIndexed]] takes the palette and indices EXPLICITLY rather than
  * quantizing an RGB image: the JDK GIF writer color-quantizes anything
  * that is not already indexed, and a quantizer in the encode path would
  * make the round-trip approximate — the opposite of what an oracle-grade
  * fixture needs. Production GIFs are palette-indexed by construction, so
  * this is also the honest shape of the format.
  *
  * A [[Codec]] through [[ImageIoCodec]]: both signatures (GIF87a and
  * GIF89a) accepted, first frame only — animation is out of scope for a
  * feature-extraction decode.
  *
  * The JDK reader pads missing LZW data with zeros, so before it runs the
  * first frame's block chain is walked: a frame whose image-data
  * sub-blocks do not terminate inside the blob, or whose LZW codes end
  * before its declared w×h pixels, quarantines like every other
  * truncated input.
  */
object Gif extends ImageIoCodec(
  "GIF87a".getBytes("US-ASCII"), "GIF89a".getBytes("US-ASCII")) {

  override def decode(bytes: Array[Byte]): Option[RgbImage] =
    if (bytes == null || !firstFrameWhole(bytes)) None else super.decode(bytes)

  /** True iff the first frame's image-data sub-blocks terminate inside
    * `b` and their LZW codes encode at least the frame's w×h pixels. The
    * codes are counted, never expanded: one 4096-entry table of string
    * lengths is the only allocation. */
  private def firstFrameWhole(b: Array[Byte]): Boolean = {
    def u8(i: Int): Int = if (i >= 0 && i < b.length) b(i) & 0xff else -1
    def table(packed: Int): Int = if ((packed & 0x80) != 0) 3 << ((packed & 7) + 1) else 0
    if (b.length < 13) return false
    var p = 13 + table(u8(10))
    while (u8(p) == 0x21) { // extensions: label, then sub-blocks
      p += 2
      while (u8(p) > 0) p += 1 + u8(p)
      if (u8(p) != 0) return false
      p += 1
    }
    if (u8(p) != 0x2c || p + 10 >= b.length) return false
    val want = (u8(p + 5) | u8(p + 6) << 8).toLong * (u8(p + 7) | u8(p + 8) << 8)
    p += 10 + table(u8(p + 9))
    val minCode = u8(p)
    if (minCode < 1 || minCode > 11) return false
    // the image-data sub-blocks must terminate inside the blob
    var end = p + 1
    while (u8(end) > 0) end += 1 + u8(end)
    if (u8(end) != 0) return false
    // count the pixels the codes stand for
    var at = p + 1; var left = 0; var acc = 0; var nAcc = 0
    def code(size: Int): Int = {
      while (nAcc < size) {
        if (left == 0) { left = u8(at); at += 1; if (left == 0) return -1 }
        acc |= u8(at) << nAcc; at += 1; left -= 1; nAcc += 8
      }
      val c = acc & ((1 << size) - 1)
      acc >>>= size; nAcc -= size
      c
    }
    val clear = 1 << minCode
    val len = Array.tabulate(4096)(i => if (i < clear) 1 else 0)
    var size = minCode + 1; var next = clear + 2; var prev = -1; var n = 0L
    while (n < want) {
      val c = code(size)
      if (c == clear) { size = minCode + 1; next = clear + 2; prev = -1 }
      else {
        if (c < 0 || c == clear + 1 || c > next || (prev < 0 && c >= clear)) return false
        n += (if (c == next) len(prev) + 1 else len(c))
        if (prev >= 0 && next < 4096) {
          len(next) = len(prev) + 1
          next += 1
          if (next == (1 << size) && size < 12) size += 1
        }
        prev = c
      }
    }
    true
  }

  /** Encode `indices(y*width + x)` into `palette` (≤ 256 0xRRGGBB entries)
    * as a GIF. Every index must be < palette.length. */
  def encodeIndexed(width: Int, height: Int, palette: Array[Int],
      indices: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(palette.nonEmpty && palette.length <= 256,
      s"palette size ${palette.length} not in 1..256")
    require(indices.length == width * height,
      s"indices.length ${indices.length} != ${width}x$height")
    require(indices.forall(i => (i & 0xff) < palette.length),
      "index out of palette range")
    val bits = math.max(1, 32 - Integer.numberOfLeadingZeros(palette.length - 1))
    val cm = new IndexColorModel(bits, palette.length,
      palette.map(p => ((p >> 16) & 0xff).toByte),
      palette.map(p => ((p >> 8) & 0xff).toByte),
      palette.map(p => (p & 0xff).toByte))
    val img = new BufferedImage(width, height,
      BufferedImage.TYPE_BYTE_INDEXED, cm)
    img.getRaster.setDataElements(0, 0, width, height, indices)
    ImageIoCodec.encode(img, "gif")
  }
}
