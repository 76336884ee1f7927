package graft.llm

import graft.SparkSpec

/** JPEG is lossy, so unlike Png/Gif there is no exact round-trip to pin —
  * these properties BOUND the codec instead: smooth content within a small
  * per-channel error at high quality, solid blocks near-exact, and the
  * same quarantine contract as every other codec. This is also the
  * documented reason q129 registers rows-only (SURVEY §2.9). */
class JpegSpec extends SparkSpec {

  private def gradient(w: Int, h: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val r = x * 255 / (w - 1)
      val g = y * 255 / (h - 1)
      val b = (x + y) * 255 / (w + h - 2)
      (r << 16) | (g << 8) | b
    }

  private def maxChannelError(a: Array[Int], b: Array[Int]): Int =
    a.zip(b).map { case (p, q) =>
      math.max(math.abs(((p >> 16) & 0xff) - ((q >> 16) & 0xff)),
        math.max(math.abs(((p >> 8) & 0xff) - ((q >> 8) & 0xff)),
          math.abs((p & 0xff) - (q & 0xff))))
    }.max

  test("smooth gradient at q=0.95: luma tight, chroma subsampling bounded") {
    // measured on the JDK encoder (r10): per-channel max 9 / mean 1.18 at
    // q=0.95 — the max is 4:2:0 chroma subsampling, which survives any
    // quality setting; LUMA is untouched by subsampling and reads max
    // 1.41. So the codec-aware properties are a tight luma bound plus
    // loose-but-real channel bounds, with headroom for decoder drift.
    val (w, h) = (32, 16)
    val px = gradient(w, h)
    val parsed = Jpeg.decode(Jpeg.encodeRgb(w, h, px, quality = 0.95f))
      .getOrElse(fail("parse failed"))
    assert(parsed.width == w && parsed.height == h)
    val chanErr = maxChannelError(px, parsed.pixels)
    assert(chanErr <= 16, s"per-channel error $chanErr > 16 at q=0.95")
    val meanErr = px.zip(parsed.pixels).map { case (p, q) =>
      (math.abs(((p >> 16) & 0xff) - ((q >> 16) & 0xff)) +
        math.abs(((p >> 8) & 0xff) - ((q >> 8) & 0xff)) +
        math.abs((p & 0xff) - (q & 0xff))) / 3.0
    }.sum / (w * h)
    assert(meanErr <= 2.0, s"mean channel error $meanErr > 2.0 at q=0.95")
    def luma(v: Int): Double =
      (299 * ((v >> 16) & 0xff) + 587 * ((v >> 8) & 0xff) + 114 * (v & 0xff)) / 1000.0
    val lumaErr = px.zip(parsed.pixels)
      .map { case (p, q) => math.abs(luma(p) - luma(q)) }.max
    assert(lumaErr <= 3.0, s"luma error $lumaErr > 3.0 at q=0.95")
  }

  test("a solid 8x8-aligned gray image round-trips near-exactly") {
    // a constant block is pure DC — quantization barely touches it
    val px = Array.fill(16 * 16)(0x808080)
    val parsed = Jpeg.decode(Jpeg.encodeRgb(16, 16, px, quality = 0.9f))
      .getOrElse(fail("parse failed"))
    val err = maxChannelError(px, parsed.pixels)
    assert(err <= 1, s"solid-gray error $err > 1")
  }

  test("lower quality admits more error but never changes geometry") {
    val (w, h) = (24, 24)
    val px = gradient(w, h)
    val parsed = Jpeg.decode(Jpeg.encodeRgb(w, h, px, quality = 0.3f))
      .getOrElse(fail("parse failed"))
    assert(parsed.width == w && parsed.height == h &&
      parsed.pixels.length == w * h)
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Jpeg.encodeRgb(16, 8, gradient(16, 8))
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "not an image".getBytes("UTF-8"),
      "wrong magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "truncated mid-scan" -> java.util.Arrays.copyOfRange(good, 0, good.length / 2),
      "a valid PNG" -> Png.encodeRgb(2, 2, Array(1, 2, 3, 4)),
      "a valid GIF" -> Gif.encodeIndexed(2, 1, Array(0xff0000, 0x00ff00),
        Array[Byte](0, 1)))
    for ((label, bytes) <- cases)
      assert(Jpeg.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("decodeJpeg quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, Jpeg.encodeRgb(16, 8, gradient(16, 8))),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeJpeg(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).width == 16 && rows(0).height == 8 &&
      rows(0).n_pixels == 128L)
    assert(!rows(1).valid && rows(1).n_pixels == 0L)
  }

  test("q129's Spark path marks every gradient fixture row valid") {
    val df = LlmQueries.all.find(_.name == "q129_jpeg_decode").get
      .run(spark, sf0001)
    val n = df.count()
    assert(n > 0, "q129 returned no rows")
    // every doc produced a valid decode (the query filters on valid)
    val docs = graft.Tables(spark, sf0001, "documents").count()
    assert(n == docs, s"$n valid of $docs docs — some fixture rows failed decode")
  }
}
