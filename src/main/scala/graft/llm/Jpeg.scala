package graft.llm

import java.awt.image.BufferedImage

import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}

/** Real JPEG decode via the JDK's ImageIO — the LOSSY member of the
  * compressed-image tier. Unlike [[Png]]/[[Gif]], JPEG cannot carry a
  * q127/q128-style exact arithmetic oracle: the DCT quantization makes
  * decoded pixels a codec-defined approximation of the encoded ones, and
  * no cross-engine arithmetic derivation of the decoded values exists.
  * Correctness is therefore property-bounded instead (JpegSpec): a
  * round-trip at high quality must reproduce smooth images within a small
  * per-pixel error, solid 8×8-aligned blocks near-exactly. The decode
  * itself is fully real — any baseline/progressive JFIF payload decodes
  * — and is a [[Codec]] through [[ImageIoCodec]] (signature FF D8 FF:
  * SOI + first marker, shared by JFIF and EXIF streams).
  *
  * [[encodeRgb]] exists for fixtures and as the honest write path; the
  * `quality` knob maps to the IJG quantization-table scaling every JPEG
  * encoder exposes.
  */
object Jpeg extends ImageIoCodec(Array[Byte](0xff.toByte, 0xd8.toByte, 0xff.toByte)) {

  /** Encode top-down row-major 0xRRGGBB pixels as baseline JPEG at the
    * given quality (0..1]. */
  def encodeRgb(width: Int, height: Int, pixels: Array[Int],
      quality: Float = 0.95f): Array[Byte] = {
    require(width > 0 && height > 0, s"bad dims: ${width}x$height")
    require(pixels.length == width * height,
      s"pixels.length ${pixels.length} != ${width}x$height")
    require(quality > 0f && quality <= 1f, s"quality $quality not in (0,1]")
    val img = new BufferedImage(width, height, BufferedImage.TYPE_INT_RGB)
    img.setRGB(0, 0, width, height, pixels, 0, width)
    val writers = ImageIO.getImageWritersByFormatName("jpg")
    require(writers.hasNext, "JDK JPEG writer unavailable")
    val writer = writers.next()
    try {
      val param = writer.getDefaultWriteParam
      param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      param.setCompressionQuality(quality)
      val out = new java.io.ByteArrayOutputStream(1024)
      val ios = ImageIO.createImageOutputStream(out)
      try {
        writer.setOutput(ios)
        writer.write(null, new IIOImage(img, null, null), param)
      } finally ios.close()
      out.toByteArray
    } finally writer.dispose()
  }
}
