package graft.llm

import org.scalatest.funsuite.AnyFunSuite

class FlacSpec extends AnyFunSuite {

  private val md5 = Array.tabulate[Byte](16)(i => (i * 3 + 1).toByte)
  private def si(rate: Int = 44100, ch: Int = 2, bps: Int = 16,
      total: Long = 1000L) =
    Flac.buildStreamInfo(4096, 4096, 14, 14, rate, ch, bps, total, md5)

  test("golden bytes: the 34 STREAMINFO bytes, bit-packed by hand") {
    // 44.1 kHz stereo 16-bit, 1000 samples, block 4096, frame 14:
    // rate 0xAC44 -> b10=0x0A b11=0xC4 b12 high nibble 0x4;
    // b12 = 0x40 | (ch-1)<<1 | (bps-1)>>4 = 0x42; b13 = (bps-1)&0xF<<4 = 0xF0
    val expect = Array(0x10, 0x00, 0x10, 0x00, 0, 0, 14, 0, 0, 14,
      0x0A, 0xC4, 0x42, 0xF0, 0, 0, 0x03, 0xE8).map(_.toByte) ++ md5
    assert(si().toSeq == expect.toSeq)
    val m = Flac.decode(Flac.build(Seq(0 -> si()))).get
    assert((m.info.sampleRate, m.info.channels, m.info.bitsPerSample,
      m.info.totalSamples, m.info.minBlock, m.info.minFrame) ==
      ((44100, 2, 16, 1000L, 4096, 14)))
    assert(m.info.md5.toSeq == md5.toSeq)
  }

  test("36-bit total samples and 20-bit rate edges survive the packing") {
    val m = Flac.decode(Flac.build(Seq(
      0 -> si(rate = 0xFFFFF, ch = 8, bps = 32, total = (1L << 36) - 1)))).get
    assert((m.info.sampleRate, m.info.channels, m.info.bitsPerSample,
      m.info.totalSamples) == ((0xFFFFF, 8, 32, (1L << 36) - 1)))
  }

  test("vorbis comments parse little-endian inside the BE container") {
    val vc = Flac.buildVorbisComment("graft 1.0",
      Seq("TITLE" -> "doc one", "LANGUAGE" -> "en", "NOTE" -> "a=b=c"))
    val m = Flac.decode(Flac.build(Seq(0 -> si(), 4 -> vc))).get
    assert(m.vendor == "graft 1.0")
    assert(m.comments == Seq("TITLE" -> "doc one", "LANGUAGE" -> "en",
      "NOTE" -> "a=b=c"), "value keeps its own '=' — split at the FIRST")
    assert(m.nBlocks == 2)
  }

  test("skippable block types skip; trailing audio bytes are ignored") {
    val stream = Flac.build(Seq(0 -> si(), 1 -> new Array[Byte](64),
      4 -> Flac.buildVorbisComment("v", Seq("K" -> "v")))) ++
      Array.fill[Byte](37)(0x55) // fake audio frames after metadata
    val m = Flac.decode(stream).get
    assert(m.nBlocks == 3 && m.comments.size == 1)
  }

  test("quarantine: every malformed stream returns None") {
    val good = Flac.build(Seq(0 -> si()))
    assert(Flac.decode(good).isDefined)
    assert(Flac.decode(good.updated(0, 'x'.toByte)).isEmpty, "bad magic")
    assert(Flac.decode(Flac.build(Seq(1 -> new Array[Byte](4)))).isEmpty,
      "first block must be STREAMINFO")
    assert(Flac.decode(Flac.build(Seq(0 -> si().dropRight(1)))).isEmpty,
      "STREAMINFO must be exactly 34 bytes")
    assert(Flac.decode(Flac.build(Seq(0 -> si(rate = 0)))).isEmpty,
      "zero sample rate is invalid for audio")
    assert(Flac.decode(Flac.build(Seq(0 -> si(), 0 -> si()))).isEmpty,
      "a second STREAMINFO is malformed")
    val vc1 = Flac.buildVorbisComment("v1", Seq("K" -> "a"))
    val vc2 = Flac.buildVorbisComment("v2", Seq("K" -> "b"))
    assert(Flac.decode(Flac.build(Seq(0 -> si(), 4 -> vc1, 4 -> vc2)))
      .isEmpty, "a second VORBIS_COMMENT must quarantine, not last-win")
    assert(Flac.decode(good.dropRight(1)).isEmpty, "truncated block")
    // unterminated: clear the last flag on the only block
    val unterminated = good.clone
    unterminated(4) = (unterminated(4) & 0x7f).toByte
    assert(Flac.decode(unterminated).isEmpty, "no last-flagged block")
    // truncated comment: declared length runs past the block
    val vcBad = Flac.buildVorbisComment("v", Seq("K" -> "vvvv")).dropRight(2)
    assert(Flac.decode(Flac.build(Seq(0 -> si(), 4 -> vcBad))).isEmpty)
    // a comment with no '=' separator
    def le32(v: Int) = Array(v.toByte, (v >> 8).toByte, (v >> 16).toByte,
      (v >> 24).toByte)
    val noEq = le32(1) ++ "v".getBytes ++ le32(1) ++ le32(3) ++ "abc".getBytes
    assert(Flac.decode(Flac.build(Seq(0 -> si(), 4 -> noEq))).isEmpty)
  }
}
