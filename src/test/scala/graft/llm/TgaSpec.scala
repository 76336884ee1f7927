package graft.llm

import graft.SparkSpec

class TgaSpec extends SparkSpec {

  private def header(tpe: Int, w: Int, h: Int, topDown: Boolean,
      idLen: Int = 0): Array[Byte] = {
    val b = new Array[Byte](18)
    b(0) = idLen.toByte
    b(2) = tpe.toByte
    b(12) = (w & 0xff).toByte; b(13) = ((w >> 8) & 0xff).toByte
    b(14) = (h & 0xff).toByte; b(15) = ((h >> 8) & 0xff).toByte
    b(16) = 24
    b(17) = if (topDown) 0x20.toByte else 0
    b
  }
  private def bgr(r: Int, g: Int, b: Int) = Seq(b.toByte, g.toByte, r.toByte)
  private def rgb(r: Int, g: Int, b: Int) = (r << 16) | (g << 8) | b

  test("type 2 uncompressed: BGR order, bottom-up mirroring, id skip") {
    // 2x2, stream rows: first = image BOTTOM row (bottom-up)
    val pix = bgr(1, 2, 3) ++ bgr(4, 5, 6) ++ // stream row 0
      bgr(7, 8, 9) ++ bgr(10, 11, 12) // stream row 1
    val bu = header(2, 2, 2, topDown = false) ++ pix
    val img = Tga.decode(bu.toArray).get
    assert(!img.topDown)
    assert(img.px.toSeq == Seq(
      rgb(7, 8, 9), rgb(10, 11, 12), // top (decoded second)
      rgb(1, 2, 3), rgb(4, 5, 6)))
    // top-down: stream order IS image order
    val td = header(2, 2, 2, topDown = true) ++ pix
    assert(Tga.decode(td.toArray).get.px.toSeq == Seq(
      rgb(1, 2, 3), rgb(4, 5, 6), rgb(7, 8, 9), rgb(10, 11, 12)))
    // a 3-byte id field before the pixels skips cleanly
    val withId = (header(2, 2, 2, topDown = true, idLen = 3) ++
      Seq[Byte](9, 9, 9) ++ pix).toArray
    assert(Tga.decode(withId).get.px.toSeq ==
      Tga.decode(td.toArray).get.px.toSeq)
  }

  test("type 10 RLE: run + raw packets, per scanline") {
    // 4x2 top-down: row 0 = RLE 3×(1,2,3) then raw 1×(4,5,6);
    // row 1 = raw 2×, then RLE 2×
    val stream =
      Seq((0x80 | 2).toByte) ++ bgr(1, 2, 3) ++ // run of 3
        Seq(0x00.toByte) ++ bgr(4, 5, 6) ++ // raw of 1
        Seq(0x01.toByte) ++ bgr(7, 7, 7) ++ bgr(8, 8, 8) ++ // raw of 2
        Seq((0x80 | 1).toByte) ++ bgr(9, 9, 9) // run of 2
    val img = Tga.decode((header(10, 4, 2, topDown = true) ++ stream).toArray).get
    assert(img.px.toSeq == Seq(
      rgb(1, 2, 3), rgb(1, 2, 3), rgb(1, 2, 3), rgb(4, 5, 6),
      rgb(7, 7, 7), rgb(8, 8, 8), rgb(9, 9, 9), rgb(9, 9, 9)))
  }

  test("strict bounds: cross-scanline packets and truncations quarantine") {
    // RLE run of 3 on a width-2 line crosses the scanline
    val cross = header(10, 2, 1, topDown = true) ++
      Seq((0x80 | 2).toByte) ++ bgr(1, 1, 1)
    assert(Tga.decode(cross.toArray).isEmpty)
    // truncated raw packet / truncated run pixel / short type-2 data
    assert(Tga.decode((header(10, 2, 1, topDown = true) ++
      Seq(0x01.toByte) ++ bgr(1, 1, 1)).toArray).isEmpty)
    assert(Tga.decode((header(10, 2, 1, topDown = true) ++
      Seq((0x80 | 1).toByte) ++ Seq[Byte](1)).toArray).isEmpty)
    assert(Tga.decode((header(2, 2, 2, topDown = false) ++
      bgr(1, 1, 1)).toArray).isEmpty)
    // bad metadata: color map, type, depth, oversized dims, short header
    assert(Tga.decode(({ val h = header(2, 1, 1, topDown = false); h(1) = 1; h }
      ++ bgr(1, 1, 1)).toArray).isEmpty)
    assert(Tga.decode((header(3, 1, 1, topDown = false) ++ bgr(1, 1, 1)).toArray).isEmpty)
    assert(Tga.decode(({ val h = header(2, 1, 1, topDown = false); h(16) = 32; h }
      ++ Seq[Byte](1, 1, 1, 1)).toArray).isEmpty)
    assert(Tga.decode(header(2, 65535, 65535, topDown = false).toArray).isEmpty)
    assert(Tga.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Tga.decode(null).isEmpty)
  }

  test("a header claiming more pixels than its bytes can encode quarantines before allocating") {
    // RLE: one 4-byte packet carries ≤ 128 pixels and never crosses a row
    val run = Seq(0xff.toByte) ++ bgr(1, 2, 3)
    val two = header(10, 128, 2, topDown = true) ++ run ++ run
    assert(Tga.decode(two.toArray).map(_.px.length) == Some(256))
    assert(Tga.decode((header(10, 129, 1, topDown = true) ++ run).toArray).isEmpty)
    // 20- and 18-byte headers claiming 4096×4096 allocated the 67 MB buffer
    for (lying <- Seq(header(10, 4096, 4096, topDown = true) ++ Array[Byte](0, 0),
        header(2, 4096, 4096, topDown = true))) {
      val bytes = AllocatedBytes.of(assert(Tga.decode(lying).isEmpty))
      assert(bytes < (1 << 20), s"allocated $bytes bytes before quarantining")
    }
  }
}
