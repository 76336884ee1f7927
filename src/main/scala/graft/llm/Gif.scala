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
  */
object Gif extends ImageIoCodec(
  "GIF87a".getBytes("US-ASCII"), "GIF89a".getBytes("US-ASCII")) {

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
