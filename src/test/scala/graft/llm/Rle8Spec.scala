package graft.llm

import graft.SparkSpec

class Rle8Spec extends SparkSpec {

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  test("golden bytes: runs, EOL, absolute mode with padding, EOD") {
    // 4×2 image, bottom-up: stream row 0 = image row 1
    //   row 1: run (3, 7) then run (1, 9) → [7,7,7,9]
    //   row 0: absolute mode 3 literals [1,2,3] + pad byte, run (1, 5)
    val data = b(3, 7, 1, 9, 0, 0, /*EOL*/
      0, 3, 1, 2, 3, 0 /*pad*/, 1, 5, 0, 1 /*EOD*/)
    assert(Rle8.decode(data, 4, 2).get.toSeq ==
      Seq(1, 2, 3, 5, /*top row (decoded second)*/
        7, 7, 7, 9 /*bottom row (decoded first)*/))
  }

  test("delta escape skips right and UP, skipped pixels stay 0") {
    // 4×3 image: bottom row [1,1,0,0], delta (dx=2, dy=1) from (2, row0)
    // lands at (x=4? no — dx=2 from x=2 → x=4 would be out; use dx=1)
    // run (2,1) → x=2; delta dx=1 dy=1 → x=3, row=1; run (1,9) at
    // image row 1 col 3; EOL; run (4,2) fills the top row; EOD
    val data = b(2, 1, 0, 2, 1, 1, 1, 9, 0, 0, 4, 2, 0, 1)
    assert(Rle8.decode(data, 4, 3).get.toSeq ==
      Seq(2, 2, 2, 2, /*top*/
        0, 0, 0, 9, /*middle: delta landed at col 3*/
        1, 1, 0, 0 /*bottom: run then skip*/))
  }

  test("strict bounds: overruns, truncations, and missing EOD quarantine") {
    // run crosses the row end
    assert(Rle8.decode(b(5, 1, 0, 1), 4, 1).isEmpty)
    // absolute mode crosses the row end
    assert(Rle8.decode(b(0, 5, 1, 2, 3, 4, 5, 0, 0, 1), 4, 1).isEmpty)
    // EOL past the last row
    assert(Rle8.decode(b(1, 1, 0, 0, 0, 0, 0, 1), 2, 1).isEmpty)
    // delta out of the image
    assert(Rle8.decode(b(0, 2, 9, 0, 0, 1), 4, 1).isEmpty)
    // truncated absolute literals / truncated delta / no EOD
    assert(Rle8.decode(b(0, 3, 1), 4, 1).isEmpty)
    assert(Rle8.decode(b(0, 2, 1), 4, 1).isEmpty)
    assert(Rle8.decode(b(1, 1), 4, 1).isEmpty)
    assert(Rle8.decode(null, 4, 1).isEmpty)
    assert(Rle8.decode(b(0, 1), 0, 1).isEmpty)
  }

  test("EOD mid-image is valid (remaining pixels stay 0)") {
    assert(Rle8.decode(b(1, 8, 0, 1), 2, 2).get.toSeq ==
      Seq(0, 0, 8, 0))
  }

  test("untrusted dims: w*h Int overflow / pixel-cap breach quarantines") {
    // 70000*70000 overflows Int — must return None, never throw
    assert(Rle8.decode(b(0, 1), 70000, 70000).isEmpty)
    // positive product but over the pixel cap (Codec.MaxPixels)
    assert(Rle8.decode(b(0, 1), 1 << 14, 1 << 13).isEmpty)
    // just under the cap still decodes (trivial EOD stream, all zeros)
    assert(Rle8.decode(b(0, 1), 1024, 1024).nonEmpty)
  }

  test("a stream that cannot end in EOD quarantines before the w×h buffer exists") {
    // 22 bytes of runs with no EOD, against 4096×4096 dims from the header
    val junk = b(Seq.fill(11)(Seq(200, 7)).flatten: _*)
    val bytes = AllocatedBytes.of(assert(Rle8.decode(junk, 4096, 4096).isEmpty))
    assert(bytes < (1 << 20), s"allocated $bytes bytes before quarantining")
  }
}
