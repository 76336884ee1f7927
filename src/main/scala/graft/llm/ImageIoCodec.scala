package graft.llm

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

/** Shared ImageIO mechanics for the JDK-decodable compressed image formats
  * ([[Png]], [[Gif]], [[Jpeg]]): each of them is this [[Codec]] with its
  * own signatures. The signature check comes first — the ImageIO reader
  * registry would happily decode any format it knows, and a decoder
  * named for one format accepting another is a contract violation.
  */
private[llm] abstract class ImageIoCodec(magics: Array[Byte]*) extends Codec {

  type Out = RgbImage

  /** Decode to top-down row-major 0xRRGGBB pixels; None for a foreign
    * signature or anything malformed. Declared dimensions are
    * bounds-checked against [[Codec.MaxPixels]] from the header BEFORE
    * the pixel decode allocates — a crafted header must not OOM an
    * executor. All decode exceptions (CRC/deflate/huffman corruption,
    * truncation) quarantine as None. */
  def decode(bytes: Array[Byte]): Option[RgbImage] = {
    if (!magics.exists(ImageIoCodec.hasMagic(bytes, _))) return None
    try {
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) return None
        val reader = readers.next()
        try {
          reader.setInput(iis, true /* seekForwardOnly */, true /* ignoreMetadata */)
          val w = reader.getWidth(0)
          val h = reader.getHeight(0)
          if (w <= 0 || h <= 0 || w.toLong * h > Codec.MaxPixels) return None
          val img = reader.read(0)
          val px = new Array[Int](w * h)
          img.getRGB(0, 0, w, h, px, 0, w)
          var j = 0
          while (j < px.length) { px(j) &= 0xffffff; j += 1 }
          Some(RgbImage(w, h, px))
        } finally reader.dispose()
      } finally iis.close()
    } catch {
      case _: Exception => None
    }
  }
}

private[llm] object ImageIoCodec {

  // once per JVM, before any decode: keep ImageIO's stream cache in
  // memory — the default spills every ImageInputStream to a /tmp cache
  // file, a per-row disk write a 100 TB scan cannot afford
  ImageIO.setUseCache(false)

  /** Encode a BufferedImage through the named ImageIO writer. */
  def encode(img: BufferedImage, format: String): Array[Byte] = {
    val out = new ByteArrayOutputStream(1024)
    val wrote = ImageIO.write(img, format, out)
    require(wrote, s"JDK $format writer unavailable") // never on a compliant JDK
    out.toByteArray
  }

  /** True iff `bytes` starts with `magic`. */
  def hasMagic(bytes: Array[Byte], magic: Array[Byte]): Boolean = {
    if (bytes == null || bytes.length < magic.length) return false
    var i = 0
    while (i < magic.length) {
      if (bytes(i) != magic(i)) return false
      i += 1
    }
    true
  }
}
