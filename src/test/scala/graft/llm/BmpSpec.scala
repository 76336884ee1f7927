package graft.llm

import graft.SparkSpec

class BmpSpec extends SparkSpec {

  private def img(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((x * 7 + y * 3) % 256) << 16) | (((x * 5 + y * 11) % 256) << 8) |
        ((x * 13 + y) % 256)
    }

  test("encode → parse round-trip at every row-padding class (w%4 ∈ 0..3)") {
    for (w <- 8 to 11; h <- Seq(1, 5)) {
      val px = img(w, h)
      val parsed = Bmp.decode(Bmp.encode24(w, h, px))
        .getOrElse(fail(s"parse failed at ${w}x$h"))
      assert(parsed.width == w && parsed.height == h)
      assert(parsed.pixels.sameElements(px), s"pixels diverged at ${w}x$h")
    }
  }

  test("top-down (negative height) bitmaps normalize to the same pixels") {
    val w = 9; val h = 4
    val px = img(w, h)
    // hand-build a top-down variant: flip the stored row order of the
    // canonical bottom-up encoding and negate the height field
    val bu = Bmp.encode24(w, h, px)
    val stride = (w * 3 + 3) & ~3
    val headerLen = bu.length - stride * h
    val td = bu.clone()
    java.nio.ByteBuffer.wrap(td).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(22, -h) // height field at offset 14+8
    for (r <- 0 until h)
      System.arraycopy(bu, headerLen + (h - 1 - r) * stride,
        td, headerLen + r * stride, stride)
    val parsed = Bmp.decode(td).getOrElse(fail("top-down parse failed"))
    assert(parsed.pixels.sameElements(px))
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Bmp.encode24(8, 4, img(8, 4))
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "not an image".getBytes("UTF-8"),
      "wrong magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "truncated pixels" -> java.util.Arrays.copyOfRange(good, 0, good.length - 7),
      "8-bit depth" -> { val b = good.clone(); b(28) = 8; b },
      "RLE compression" -> { val b = good.clone(); b(30) = 1; b },
      // crafted-header hardening (r9 review): each of these previously
      // threw out of parse instead of quarantining
      "height = Int.MinValue (abs stays negative)" -> {
        val b = good.clone()
        java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(22, Int.MinValue)
        b
      },
      "width overflows rowStride int math" -> {
        val b = good.clone()
        java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(18, 715827883)
        b
      },
      "width*height wraps the pixel count" -> {
        val b = good.clone()
        val bb = java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.putInt(18, 1 << 20).putInt(22, 1 << 20)
        b
      })
    for ((label, bytes) <- cases)
      assert(Bmp.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("decodeBmp quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val px = img(10, 4)
    val blobs = Seq(
      Multimodal.Blob(1L, Bmp.encode24(10, 4, px)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeBmp(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).width == 10 && rows(0).height == 4 &&
      rows(0).n_pixels == 40L)
    assert(rows(0).sum_r == px.map(p => (p >> 16) & 0xff).map(_.toLong).sum)
    assert(!rows(1).valid && rows(1).n_pixels == 0L)
  }
}
