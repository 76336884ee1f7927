package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSpec

class PngSpec extends SparkSpec {

  private def img(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((x * 11 + y * 5) % 256) << 16) | (((x * 3 + y * 13) % 256) << 8) |
        ((x * 9 + y * 7) % 256)
    }

  test("encode → parse round-trip is lossless for every pixel") {
    for ((w, h) <- Seq((1, 1), (9, 5), (16, 16), (31, 7))) {
      val px = img(w, h)
      val parsed = Png.decode(Png.encodeRgb(w, h, px))
        .getOrElse(fail(s"parse failed at ${w}x$h"))
      assert(parsed.width == w && parsed.height == h)
      assert(parsed.pixels.sameElements(px), s"pixels diverged at ${w}x$h")
    }
  }

  test("channel extremes (0x000000 / 0xffffff / pure channels) survive deflate") {
    val px = Array(0x000000, 0xffffff, 0xff0000, 0x00ff00, 0x0000ff, 0x808080)
    val parsed = Png.decode(Png.encodeRgb(3, 2, px)).getOrElse(fail("parse failed"))
    assert(parsed.pixels.sameElements(px))
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Png.encodeRgb(9, 5, img(9, 5))
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "not an image".getBytes("UTF-8"),
      "wrong magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "truncated mid-IDAT" -> java.util.Arrays.copyOfRange(good, 0, good.length / 2),
      "signature only" -> java.util.Arrays.copyOfRange(good, 0, 8),
      // BMP bytes would decode under ImageIO's reader registry; a decoder
      // named Png accepting them is a contract violation, not robustness
      "a valid BMP" -> Bmp.encode24(4, 4, Array.fill(16)(0x123456)),
      "deflate corruption mid-IDAT (CRC mismatch)" -> {
        val b = good.clone(); b(b.length / 2) = (b(b.length / 2) ^ 0x5a).toByte; b
      })
    for ((label, bytes) <- cases)
      assert(Png.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("crafted IHDR dimensions are bounds-checked before the raster allocates") {
    val good = Png.encodeRgb(9, 5, img(9, 5))
    // IHDR layout: 8-byte signature, 4-byte length, "IHDR", then
    // width/height as big-endian uint32 at offsets 16 and 20
    val crafted = good.clone()
    ByteBuffer.wrap(crafted).order(ByteOrder.BIG_ENDIAN)
      .putInt(16, 0x40000000).putInt(20, 0x40000000)
    // the patched header breaks the IHDR CRC too, but the dimension guard
    // must fire without ever attempting the 2^60-pixel allocation
    assert(Png.decode(crafted).isEmpty)
    // an honest image one row past Codec.MaxPixels (4096²) quarantines
    // the same way, while an in-bound one decodes
    val big = Png.encodeRgb(4097, 4096, Array.fill(4097 * 4096)(0xabcdef))
    assert(Png.decode(big).isEmpty)
    assert(Png.decode(Png.encodeRgb(64, 64, Array.fill(64 * 64)(0xabcdef))).nonEmpty)
  }

  test("decodePng quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val px = img(10, 4)
    val blobs = Seq(
      Multimodal.Blob(1L, Png.encodeRgb(10, 4, px)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodePng(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).width == 10 && rows(0).height == 4 &&
      rows(0).n_pixels == 40L)
    assert(rows(0).sum_r == px.map(p => (p >> 16) & 0xff).map(_.toLong).sum)
    assert(rows(0).sum_g == px.map(p => (p >> 8) & 0xff).map(_.toLong).sum)
    assert(rows(0).sum_b == px.map(p => p & 0xff).map(_.toLong).sum)
    assert(!rows(1).valid && rows(1).n_pixels == 0L)
  }
}
