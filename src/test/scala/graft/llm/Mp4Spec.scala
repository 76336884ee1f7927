package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

import graft.SparkSpec

class Mp4Spec extends SparkSpec {

  test("encode → parse round-trip for both mvhd versions") {
    for (v <- Seq(0, 1); tracks <- Seq(1, 3)) {
      val m = Mp4.decode(Mp4.encode(90000, 123456L, tracks, mvhdVersion = v))
        .getOrElse(fail(s"parse failed at v=$v tracks=$tracks"))
      assert(m.timescale == 90000L && m.duration == 123456L && m.nTracks == tracks)
      assert(m.durationUs == 123456L * 1000000L / 90000L)
    }
  }

  test("free-box padding between ftyp and moov is skipped") {
    for (pad <- Seq(1, 17, 100)) {
      val m = Mp4.decode(Mp4.encode(600, 500L, 2, freeBytes = pad))
        .getOrElse(fail(s"parse failed at pad=$pad"))
      assert(m.nTracks == 2 && m.timescale == 600L)
    }
  }

  test("mvhd v1 carries a 64-bit duration past the uint32 range") {
    val big = 5000000000L // > 2^32
    val m = Mp4.decode(Mp4.encode(1000, big, 1, mvhdVersion = 1))
      .getOrElse(fail("parse failed"))
    assert(m.duration == big && m.durationUs == big * 1000000L / 1000L)
  }

  test("a v1 duration that would overflow duration_us quarantines, not wraps") {
    val wayTooLong = Long.MaxValue / 1000L // duration*1e6 would wrap Long
    assert(Mp4.decode(Mp4.encode(90000, wayTooLong, 1, mvhdVersion = 1)).isEmpty)
    // the largest representable duration still parses
    val edge = Long.MaxValue / 1000000L
    assert(Mp4.decode(Mp4.encode(90000, edge, 1, mvhdVersion = 1)).nonEmpty)
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Mp4.encode(600, 500L, 1)
    def patchI32(b: Array[Byte], at: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      ByteBuffer.wrap(c).order(ByteOrder.BIG_ENDIAN).putInt(at, v)
      c
    }
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "definitely not a movie".getBytes("UTF-8"),
      "first box not ftyp (a WAV)" -> Wav.encodePcm16(8000, Array[Short](1, 2, 3, 4)),
      "truncated mid-moov" -> java.util.Arrays.copyOfRange(good, 0, good.length - 20),
      "box size < 8" -> patchI32(good, 0, 4),
      "box size past EOF" -> patchI32(good, 0, good.length + 100),
      "moov missing (mdat only after ftyp)" -> {
        // keep ftyp, rewrite the moov type to 'skip'
        val c = good.clone()
        val moovAt = 16 // ftyp is 16 bytes; moov header follows
        c(moovAt + 4) = 's'; c(moovAt + 5) = 'k'; c(moovAt + 6) = 'i'; c(moovAt + 7) = 'p'
        c
      },
      "reserved mvhd version" -> {
        // layout: ftyp(16) + moov header(8) + mvhd header(8) + payload
        val c = good.clone()
        c(16 + 8 + 8) = 7 // version byte of the mvhd payload
        c
      },
      "zero timescale" -> {
        // mvhd v0 payload: version+flags(4) creation(4) modification(4) timescale(4)
        patchI32(good, 16 + 8 + 8 + 12, 0)
      })
    for ((label, bytes) <- cases)
      assert(Mp4.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("decodeMp4Meta quarantines junk rows while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, Mp4.encode(1000, 2500L, 2)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeMp4Meta(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).timescale == 1000L &&
      rows(0).duration_us == 2500000L && rows(0).n_tracks == 2)
    assert(!rows(1).valid)
  }
}
