package graft.llm

import graft.SparkSpec

class ExifSpec extends SparkSpec {

  private def build(little: Boolean): Array[Byte] =
    Exif.buildJpeg(little, make = "CamCo", model = "M05", orientation = 6,
      dateTime = "2020:01:02 15:04:05", width = 640, height = 480,
      iso = 200, exposureNum = 1, exposureDen = 125)

  test("both byte orders round-trip every field") {
    for (little <- Seq(true, false)) {
      val d = Exif.decode(build(little)).get
      assert(d.byteOrder == (if (little) "II" else "MM"))
      assert(d.make == "CamCo")         // offset ASCII
      assert(d.model == "M05")          // inline ASCII (4 bytes incl NUL)
      assert(d.orientation == 6)
      assert(d.dateTime == "2020:01:02 15:04:05")
      assert(d.width == 640L)           // SHORT dimension type
      assert(d.height == 480L)          // LONG dimension type
      assert(d.iso == 200)
      assert(d.exposureNum == 1L && d.exposureDen == 125L)
    }
  }

  test("quarantine: structural violations return None, never throw") {
    val good = build(true)
    assert(Exif.decode(null).isEmpty)
    assert(Exif.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Exif.decode(good.dropRight(40)).isEmpty) // truncated APP1
    // corrupt the TIFF magic (42) inside the APP1 payload
    val badMagic = good.clone()
    badMagic(4 + 2 + 6 + 2) = 99.toByte
    assert(Exif.decode(badMagic).isEmpty)
    // absurd IFD0 entry count
    val badCount = good.clone()
    val ifd0CountPos = 4 + 2 + 6 + 8 // SOI+APP1 hdr, Exif\0\0, TIFF hdr
    badCount(ifd0CountPos) = 0xff.toByte
    badCount(ifd0CountPos + 1) = 0xff.toByte
    assert(Exif.decode(badCount).isEmpty)
    // out-of-bounds value offset (Make's data pointer)
    val badOff = good.clone()
    val makeValuePos = ifd0CountPos + 2 + 8 // first entry's value field
    badOff(makeValuePos) = 0xff.toByte
    badOff(makeValuePos + 1) = 0xff.toByte
    val d = Exif.decode(badOff)
    assert(d.isDefined && d.get.make == "") // unreadable FIELD is absent, not fatal
  }

  test("no-EXIF and absent-field cases are data, not corruption") {
    // a JPEG with only a JFIF APP0 carries no EXIF
    val plain = Jpeg.encodeRgb(8, 8, Array.fill(64)(0x808080))
    assert(Exif.decode(plain).isEmpty)
    // bare TIFF with an empty IFD0: every field absent
    val bare = java.nio.ByteBuffer.allocate(14)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bare.put('I'.toByte).put('I'.toByte): Unit
    bare.putShort(42.toShort): Unit
    bare.putInt(8): Unit
    bare.putShort(0.toShort): Unit
    bare.putInt(0): Unit
    assert(Exif.parseTiff(bare.array()).contains(Exif.Absent.copy(byteOrder = "II")))
  }

  test("the real JDK JPEG stream still walks (EXIF absent, not desynced)") {
    // encodeRgb emits JFIF APP0 + quantization/huffman segments before
    // SOS; the walk must traverse them and stop cleanly at SOS
    val real = Jpeg.encodeRgb(16, 16, Array.tabulate(256)(i => i * 0x010101 % 0xffffff))
    assert(Exif.decode(real).isEmpty)
  }
}
