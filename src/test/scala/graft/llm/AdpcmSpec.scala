package graft.llm

import graft.SparkSpec

class AdpcmSpec extends SparkSpec {

  test("golden bytes: hand-computed decode pins the wire layout") {
    // header: pred0=0 (LE), index0=0 (step=7), reserved; one data byte
    // 0x87 = nibbles [0x7 low, 0x8 high] — low nibble FIRST:
    //   n=7: diff = 7>>3 + 7 + 7>>1 + 7>>2 = 0+7+3+1 = 11, + → pred 11,
    //        index 0+8 = 8 (step 16)
    //   n=8: sign only, diff = 16>>3 = 2, − → pred 9, index 8−1 = 7
    val bytes = Array[Byte](0, 0, 0, 0, 0x87.toByte)
    assert(Adpcm.decode(bytes).get.toSeq == Seq[Short](0, 11, 9))
  }

  test("clamps: predictor saturates at the int16 rails, index at [0,88]") {
    // every data byte is TWO nibbles (low first); pred0 = 32760 at
    // index 88 (step 32767): n=7 overshoots → clamp 32767; the pad
    // nibble 0 then adds diff 4095 → clamps again
    val hi = Array[Byte](0xf8.toByte, 0x7f, 88, 0, 0x07)
    assert(Adpcm.decode(hi).get.toSeq == Seq[Short](32760, 32767, 32767))
    // pred0 = -32760, sign nibble 0xf → rail -32768; pad nibble 0 is
    // POSITIVE (sign bit clear) → climbs back by 32767>>3
    val lo = Array[Byte](0x08, 0x80.toByte, 88, 0, 0x0f)
    assert(Adpcm.decode(lo).get.toSeq ==
      Seq[Short](-32760, -32768, -28673))
    // index byte out of range clamps to 88 (spec-lenient): n=0 gives
    // diff 32767>>3 = 4095, then index decays 88→87 (step 29794) → +3724
    val ix = Array[Byte](0, 0, 200.toByte, 0, 0x00)
    assert(Adpcm.decode(ix).get.toSeq == Seq[Short](0, 4095, 7819))
    // too short for the header: quarantine
    assert(Adpcm.decode(Array[Byte](1, 2, 3)).isEmpty)
    assert(Adpcm.decode(null).isEmpty)
  }

  test("encode/decode round-trip: quantization-bounded and state-consistent") {
    // a synthetic waveform; encoder and decoder share the step/predictor
    // update, so decode(encode(x)) tracks x within the current step size
    val x = Array.tabulate[Short](200)(i =>
      (3000 * math.sin(i / 7.0) + 500 * math.sin(i / 2.3)).toShort)
    val dec = Adpcm.decode(Adpcm.encodeBlock(x)).get
    // 199 nibbles pad to 100 bytes = 200 nibbles → one pad sample
    assert(dec.length == x.length + 1)
    assert(dec(0) == x(0)) // header sample exact
    // tracking error bounded by the step table's local step size: after
    // warm-up the codec follows this smooth signal closely (measured
    // max 86 / mean 26 — bounds leave slack, not orders of magnitude)
    val err = x.indices.drop(20).map(i => math.abs(dec(i) - x(i)))
    assert(err.max <= 300, s"max tracking error ${err.max}")
    assert(err.sum.toDouble / err.size <= 80, "mean tracking error")
    // determinism: encoding twice yields identical bytes
    assert(Adpcm.encodeBlock(x).toSeq == Adpcm.encodeBlock(x).toSeq)
  }

  test("decodeAll dataset: per-sample rows, quarantine by omission") {
    import spark.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, Array[Byte](0, 0, 0, 0, 0x87.toByte)),
      Multimodal.Blob(2L, Array[Byte](1, 2))).toDS()
    val rows = Adpcm.decodeAll(blobs).collect().sortBy(r => (r.doc_id, r.i))
    assert(rows.map(r => (r.doc_id, r.i, r.sample)).toSeq ==
      Seq((1L, 0, 0), (1L, 1, 11), (1L, 2, 9)))
  }
}
