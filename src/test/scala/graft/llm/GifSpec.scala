package graft.llm

import graft.SparkSpec

class GifSpec extends SparkSpec {

  private val palette: Array[Int] =
    Array.tabulate(16)(k => (((k * 17) % 256) << 16) | (((k * 29) % 256) << 8) |
      ((k * 13) % 256))

  private def indices(w: Int, h: Int): Array[Byte] =
    Array.tabulate[Byte](w * h) { i =>
      val x = i % w; val y = i / w
      ((x * 3 + y * 5) % 16).toByte
    }

  test("encodeIndexed → parse round-trip applies the palette exactly") {
    for ((w, h) <- Seq((1, 1), (10, 6), (33, 9))) {
      val idx = indices(w, h)
      val parsed = Gif.decode(Gif.encodeIndexed(w, h, palette, idx))
        .getOrElse(fail(s"parse failed at ${w}x$h"))
      assert(parsed.width == w && parsed.height == h)
      val expect = idx.map(i => palette(i & 0xff))
      assert(parsed.pixels.sameElements(expect), s"pixels diverged at ${w}x$h")
    }
  }

  test("full 256-color palette and channel extremes survive LZW") {
    val pal = Array.tabulate(256)(k => (k << 16) | ((255 - k) << 8) | ((k * 7) % 256))
    val idx = Array.tabulate[Byte](256)(i => i.toByte)
    val parsed = Gif.decode(Gif.encodeIndexed(16, 16, pal, idx))
      .getOrElse(fail("parse failed"))
    assert(parsed.pixels.sameElements(idx.map(i => pal(i & 0xff))))
  }

  test("encodeIndexed validates palette size and index range") {
    intercept[IllegalArgumentException](
      Gif.encodeIndexed(2, 1, Array.empty[Int], Array[Byte](0, 0)))
    intercept[IllegalArgumentException](
      Gif.encodeIndexed(2, 1, Array.fill(257)(0), Array[Byte](0, 0)))
    intercept[IllegalArgumentException](
      Gif.encodeIndexed(2, 1, palette, Array[Byte](0, 16))) // index 16 of 16-entry palette
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Gif.encodeIndexed(10, 6, palette, indices(10, 6))
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "not an image".getBytes("UTF-8"),
      "wrong magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "truncated mid-LZW" -> java.util.Arrays.copyOfRange(good, 0, good.length / 2),
      "signature only" -> java.util.Arrays.copyOfRange(good, 0, 6),
      "a valid PNG" -> Png.encodeRgb(2, 2, Array(1, 2, 3, 4)))
    for ((label, bytes) <- cases)
      assert(Gif.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("a real GIF at exactly the pixel cap decodes; one row past it quarantines") {
    def flat(w: Int, h: Int) = Gif.encodeIndexed(w, h, palette, new Array[Byte](w * h))
    assert(Gif.decode(flat(4096, 4096)).map(_.pixels.length) == Some(4096 * 4096),
      "exactly Codec.MaxPixels still decodes")
    assert(Gif.decode(flat(4097, 4096)).isEmpty, "one row past the cap quarantines")
  }

  test("a frame whose LZW data ends before its declared pixels quarantines") {
    val good = Gif.encodeIndexed(10, 6, palette, indices(10, 6))
    assert(Gif.decode(good).nonEmpty)
    // patch the logical screen (bytes 6-9) and the image descriptor's
    // width/height to w×h: the JDK reader would pad the missing LZW data
    val desc = good.indices.find(i => (good(i) & 0xff) == 0x2c && good(i + 5) == 10).get
    def crafted(w: Int, h: Int): Array[Byte] = {
      val c = good.clone()
      for (at <- Seq(6, desc + 5)) {
        c(at) = w.toByte; c(at + 1) = (w >> 8).toByte
        c(at + 2) = h.toByte; c(at + 3) = (h >> 8).toByte
      }
      c
    }
    assert(Gif.decode(crafted(10, 7)).isEmpty, "one row past the data")
    assert(Gif.decode(crafted(2000, 2000)).isEmpty)
    assert(Gif.decode(crafted(4096, 4096)).isEmpty)
    assert(Gif.decode(crafted(5, 6)).nonEmpty, "a frame its data covers decodes")
    // the sub-block chain must terminate: cut the terminator (and the
    // trailer after it) and the frame quarantines; the trailer alone may go
    assert(good.takeRight(2).toSeq == Seq[Byte](0, 0x3b))
    assert(Gif.decode(good.dropRight(2)).isEmpty)
    assert(Gif.decode(good.dropRight(1)).nonEmpty)
  }

  test("decodeGif quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val idx = indices(10, 6)
    val blobs = Seq(
      Multimodal.Blob(1L, Gif.encodeIndexed(10, 6, palette, idx)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeGif(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).width == 10 && rows(0).height == 6)
    val expect = idx.map(i => palette(i & 0xff))
    assert(rows(0).sum_r == expect.map(p => ((p >> 16) & 0xff).toLong).sum)
    assert(!rows(1).valid && rows(1).n_pixels == 0L)
  }
}
