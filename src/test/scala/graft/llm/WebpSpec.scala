package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class WebpSpec extends AnyFunSuite {

  test("VP8X: 24-bit LE canvas dims, alpha/anim flag bits") {
    val m = Webp.decode(Webp.buildVp8x(70000, 300, alpha = true,
      anim = false)).get
    assert(m.width == 70000)
    assert(m == Webp.Features("VP8X", 70000, 300, hasAlpha = true,
      hasAnim = false), "24-bit dims must survive (70000 > 16 bits)")
    assert(Webp.decode(Webp.buildVp8x(2, 2, alpha = false, anim = true))
      .get.hasAnim)
  }

  test("VP8 lossy: start code gates, 14-bit dims mask scaling hints") {
    val m = Webp.decode(Webp.buildVp8(640, 480)).get
    assert(m == Webp.Features("VP8", 640, 480, hasAlpha = false,
      hasAnim = false))
    // scaling bits (upper 2 of the u16) must not leak into the width
    val b = Webp.buildVp8(640, 480)
    b(b.length - 3) = (b(b.length - 3) | 0xc0).toByte // set h's hint bits
    assert(Webp.decode(b).get.height == 480)
  }

  test("VP8L lossless: 14+14 bits packed LSB-first") {
    val m = Webp.decode(Webp.buildVp8l(16383, 1)).get
    assert(m == Webp.Features("VP8L", 16383, 1, hasAlpha = false,
      hasAnim = false), "max 14-bit width must round-trip")
    assert(Webp.decode(Webp.buildVp8l(3, 5)).get ==
      Webp.Features("VP8L", 3, 5, hasAlpha = false, hasAnim = false))
  }

  test("skippable chunks skip with even padding before the image chunk") {
    // odd-length unknown payload forces the pad byte; the image chunk
    // follows and must still be found at the padded offset
    val bits = ((10 - 1) & 0x3fff) | (((20 - 1) & 0x3fff) << 14)
    val withExtra = Webp.riff(Seq(
      ("EXIF", Array[Byte](1, 2, 3)),
      ("VP8L", Array[Byte](0x2f, bits.toByte, (bits >> 8).toByte,
        (bits >> 16).toByte, (bits >> 24).toByte))))
    assert(Webp.decode(withExtra).contains(
      Webp.Features("VP8L", 10, 20, hasAlpha = false, hasAnim = false)))
  }

  test("quarantine: every malformed container returns None") {
    val good = Webp.buildVp8(64, 64)
    assert(Webp.decode(good).isDefined)
    assert(Webp.decode(good.updated(0, 'X'.toByte)).isEmpty, "bad RIFF")
    assert(Webp.decode(good.updated(8, 'X'.toByte)).isEmpty, "bad WEBP")
    assert(Webp.decode(good.dropRight(1)).isEmpty,
      "RIFF size must agree with the buffer")
    val badStart = good.clone
    badStart(12 + 8 + 3) = 0x00 // clobber the 9D 01 2A start code
    assert(Webp.decode(badStart).isEmpty, "bad VP8 start code")
    val interFrame = good.clone
    interFrame(12 + 8) = 0x01 // frame-type bit = inter frame
    assert(Webp.decode(interFrame).isEmpty, "non-key VP8 frame")
    val badSig = Webp.buildVp8l(3, 5)
    badSig(12 + 8) = 0x30
    assert(Webp.decode(badSig).isEmpty, "bad VP8L signature")
    val badReserved = Webp.buildVp8x(4, 4, alpha = false, anim = false)
    badReserved(12 + 8) = 0x40 // reserved flag bit set
    assert(Webp.decode(badReserved).isEmpty, "reserved VP8X bits")
    assert(Webp.decode(null).isEmpty, "null quarantines")
  }
}
