package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class QoiSpec extends AnyFunSuite {

  private def header(w: Int, h: Int, channels: Int = 3): Array[Byte] =
    Array[Byte]('q', 'o', 'i', 'f',
      (w >> 24).toByte, (w >> 16).toByte, (w >> 8).toByte, w.toByte,
      (h >> 24).toByte, (h >> 16).toByte, (h >> 8).toByte, h.toByte,
      channels.toByte, 0)

  private val marker = Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)

  private def stream(w: Int, h: Int, chunks: Seq[Int], channels: Int = 3): Array[Byte] =
    header(w, h, channels) ++ chunks.map(_.toByte).toArray ++ marker

  private def rgb(r: Int, g: Int, b: Int) = Seq(0xfe, r, g, b)

  test("RGB, RUN, DIFF, LUMA decode to the spec'd pixels") {
    // 6 pixels: P(10,20,30), run of 2 more P, DIFF(+1,-1,0),
    // LUMA(dg=5, dr-dg=-2, db-dg=3), RGB(1,2,3)
    val chunks = rgb(10, 20, 30) ++ Seq(0xc0 | 1) ++
      Seq(0x40 | (3 << 4) | (1 << 2) | 2) ++
      Seq(0x80 | (5 + 32), ((-2 + 8) << 4) | (3 + 8)) ++ rgb(1, 2, 3)
    val got = Qoi.decode(stream(6, 1, chunks)).get
    def p(r: Int, g: Int, b: Int) = (255 << 24) | (r << 16) | (g << 8) | b
    assert(got.px.toSeq == Seq(p(10, 20, 30), p(10, 20, 30), p(10, 20, 30),
      p(11, 19, 30), p(14, 24, 38), p(1, 2, 3)))
  }

  test("INDEX fetches the hashed slot; RGBA switches alpha") {
    // pixel A (0xff tag with alpha 7), pixel B, then INDEX back to A
    val a = Seq(0xff, 1, 1, 1, 7)
    val b = rgb(9, 9, 9) // alpha carries: 7
    val hashA = (3 * 1 + 5 * 1 + 7 * 1 + 11 * 7) % 64
    val chunks = a ++ b ++ Seq(hashA)
    val got = Qoi.decode(stream(3, 1, chunks)).get
    assert(got.px(2) == got.px(0))
    assert((got.px(1) >>> 24) == 7, "alpha must carry into the RGB op")
  }

  test("wrap-around: DIFF below zero wraps mod 256") {
    val chunks = rgb(0, 0, 5) ++ Seq(0x40 | (1 << 4) | (1 << 2) | 0) // -1,-1,-2
    val got = Qoi.decode(stream(2, 1, chunks)).get
    assert((got.px(1) >> 16 & 0xff, got.px(1) >> 8 & 0xff, got.px(1) & 0xff) ==
      ((255, 255, 3)))
  }

  test("quarantine: every malformed stream decodes to None") {
    val ok = stream(2, 1, rgb(1, 2, 3) ++ Seq(0xc0))
    assert(Qoi.decode(ok).isDefined)
    assert(Qoi.decode(ok.updated(0, 'x'.toByte)).isEmpty, "bad magic")
    assert(Qoi.decode(ok.dropRight(1)).isEmpty, "short marker")
    assert(Qoi.decode(ok.updated(ok.length - 1, 9.toByte)).isEmpty, "bad marker")
    assert(Qoi.decode(stream(2, 1, rgb(1, 2, 3))).isEmpty, "too few pixels")
    assert(Qoi.decode(stream(1, 1, rgb(1, 2, 3) ++ Seq(0xc0))).isEmpty,
      "run overshoots w*h")
    assert(Qoi.decode(stream(2, 1, rgb(1, 2, 3) ++ Seq(0xc0), channels = 5))
      .isEmpty, "bad channels")
    assert(Qoi.decode(header(70000, 70000) ++ marker).isEmpty,
      "dims over the pixel cap must be rejected before allocation")
    assert(Qoi.decode(header(0xFFFFFFFF, 0xFFFFFFFF) ++ marker).isEmpty,
      "u32-max dims: w*h overflows Long and truncates toInt to 1 — " +
        "the per-dimension bound must reject before the product")
    assert(Qoi.decode(stream(2, 1, Seq(0xfe, 1, 2, 3, 0xfe, 9))).isEmpty,
      "truncated RGB chunk")
  }

  test("a header claiming more pixels than its chunks can encode quarantines before allocating") {
    // the best a chunk byte does is a 62-pixel RUN (tag 0xfd)
    val runs = Seq.fill(3)(0xfd)
    assert(Qoi.decode(stream(62 * 3, 1, runs)).map(_.px.length) == Some(62 * 3))
    assert(Qoi.decode(stream(62 * 3 + 1, 1, runs)).isEmpty)
    // a bare 22-byte header claiming 4096×4096 allocated the 67 MB buffer
    val lying = stream(4096, 4096, Nil)
    assert(lying.length == 22)
    val bytes = AllocatedBytes.of(assert(Qoi.decode(lying).isEmpty))
    assert(bytes < (1 << 20), s"allocated $bytes bytes before quarantining")
  }
}
