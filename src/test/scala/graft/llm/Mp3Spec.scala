package graft.llm

import graft.SparkSpec

class Mp3Spec extends SparkSpec {

  private def cbr(n: Int, rateIdx: Int = 0, bi: Int = 9): Array[Byte] =
    Mp3.encodeFrames(rateIdx, _ => bi, _ => 0, n)

  test("encode → parse round-trip: frame count, rate, exact byte/duration math") {
    val m = Mp3.decode(cbr(25)).getOrElse(fail("parse failed"))
    assert(m.nFrames == 25 && m.sampleRate == 44100)
    // 128 kbps @ 44100, no padding: 144*128000/44100 = 417 bytes/frame
    assert(m.audioBytes == 25L * 417)
    assert(m.durationUs == 25L * 1152 * 1000000L / 44100)
  }

  test("VBR chain with per-frame padding walks every frame length") {
    val bytes = Mp3.encodeFrames(1, j => 1 + j % 14, j => j % 2, 30)
    val m = Mp3.decode(bytes).getOrElse(fail("parse failed"))
    assert(m.nFrames == 30 && m.sampleRate == 48000)
    val expect = (0 until 30).map { j =>
      val kbps = Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128,
        160, 192, 224, 256, 320, -1)(1 + j % 14)
      144L * kbps * 1000 / 48000 + j % 2
    }.sum
    assert(m.audioBytes == expect)
  }

  test("ID3v2 prefix is skipped via the syncsafe size, including size 0") {
    for (id3 <- Seq(0, 1, 127, 128, 300)) {
      val m = Mp3.decode(Mp3.encodeFrames(2, _ => 5, _ => 0, 10, id3Bytes = id3))
        .getOrElse(fail(s"parse failed at id3=$id3"))
      assert(m.nFrames == 10 && m.sampleRate == 32000)
    }
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = cbr(10)
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "definitely not audio".getBytes("UTF-8"),
      "lost sync" -> { val b = good.clone(); b(0) = 0x12; b },
      "truncated final frame" ->
        java.util.Arrays.copyOfRange(good, 0, good.length - 10),
      "free-format bitrate (index 0)" -> {
        val b = good.clone(); b(2) = (b(2) & 0x0f).toByte; b
      },
      "reserved bitrate (index 15)" -> {
        val b = good.clone(); b(2) = (b(2) | 0xf0).toByte; b
      },
      "reserved sample rate" -> {
        val b = good.clone(); b(2) = (b(2) | 0x0c).toByte; b
      },
      "MPEG-2 stream (not V1)" -> {
        val b = good.clone(); b(1) = (b(1) & ~0x08).toByte; b
      },
      "Layer I (not III)" -> {
        val b = good.clone(); b(1) = (b(1) | 0x04).toByte; b
      },
      "sample rate changes mid-stream" -> {
        val a = cbr(3, rateIdx = 0)
        val b = cbr(3, rateIdx = 1)
        a ++ b
      },
      "ID3 size larger than the payload" -> {
        val b = Mp3.encodeFrames(0, _ => 5, _ => 0, 2, id3Bytes = 4)
        b(9) = 0x7f; b // crafted size points past EOF
      },
      "non-syncsafe ID3 size byte" -> {
        val b = Mp3.encodeFrames(0, _ => 5, _ => 0, 2, id3Bytes = 4)
        b(6) = 0x80.toByte; b
      },
      "ID3 tag with no frames after it" ->
        Mp3.encodeFrames(0, _ => 5, _ => 0, 1, id3Bytes = 8).take(18))
    for ((label, bytes) <- cases)
      assert(Mp3.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("decodeMp3Meta quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, cbr(20)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeMp3Meta(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).n_frames == 20 &&
      rows(0).sample_rate == 44100 && rows(0).audio_bytes == 20L * 417)
    assert(!rows(1).valid && rows(1).n_frames == 0)
  }
}
