package graft.llm

import graft.SparkSpec

class AviSpec extends SparkSpec {

  private def frame(w: Int, h: Int, f: Int): Array[Int] =
    Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      (((x * 7 + y * 3 + 11 * f) % 256) << 16) |
        (((x * 5 + y * 11 + 7 * f) % 256) << 8) |
        ((x * 13 + y + 5 * f) % 256)
    }

  private def video(w: Int, h: Int, n: Int): Seq[Array[Int]] =
    Seq.tabulate(n)(frame(w, h, _))

  test("encode → parseMeta at every row-padding class and junk size") {
    for (w <- 8 to 11; junk <- Seq(0, 5, 6, 15)) {
      val bytes = Avi.encode(w, 4, usPerFrame = 40000L,
        frames = video(w, 4, 3), junkBytes = junk)
      val m = Avi.decode(bytes)
        .getOrElse(fail(s"parseMeta failed at w=$w junk=$junk"))
      assert(m == Avi.Meta(w, 4, 40000L, 3, 1, 0), s"meta diverged at w=$w junk=$junk")
    }
  }

  test("sampleFrames decodes exactly the strided frames, pixels intact") {
    val w = 9; val h = 5; val n = 7
    val bytes = Avi.encode(w, h, 33000L, video(w, h, n), junkBytes = 5)
    val (meta, got) = Avi.sampleFrames(bytes, stride = 3)
      .getOrElse(fail("sampleFrames failed"))
    assert(meta.nFrames == n)
    assert(got.map(_._1) == Seq(0, 3, 6))
    got.foreach { case (idx, img) =>
      assert(img.width == w && img.height == h)
      assert(img.pixels.sameElements(frame(w, h, idx)),
        s"frame $idx pixels diverged — the sampler decoded the wrong chunk")
    }
  }

  test("stride 1 round-trips every frame") {
    val w = 8; val h = 4; val n = 4
    val (_, got) = Avi.sampleFrames(
      Avi.encode(w, h, 50000L, video(w, h, n)), stride = 1)
      .getOrElse(fail("sampleFrames failed"))
    assert(got.map(_._1) == (0 until n))
    got.foreach { case (idx, img) =>
      assert(img.pixels.sameElements(frame(w, h, idx)))
    }
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Avi.encode(8, 4, 40000L, video(8, 4, 2), junkBytes = 5)
    def patchInt(b: Array[Byte], off: Int, v: Int): Array[Byte] = {
      val c = b.clone()
      java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .putInt(off, v)
      c
    }
    // field offsets in the canonical encoding: RIFF hdr ends at 12,
    // LIST-hdrl hdr at 24, avih hdr at 32 → avih payload: usPerFrame@32,
    // totalFrames@48, streams@56, width@64, height@68 (ends 88);
    // LIST-strl hdr at 100, strh hdr at 108 → fccType@108 (ends 164);
    // strf hdr at 172 → biBitCount@186 (short), biCompression@188
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "not a video".getBytes("UTF-8"),
      "wrong riff magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "wrong form type (WAVE)" -> {
        val b = good.clone(); b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'; b
      },
      "truncated mid-movi" ->
        java.util.Arrays.copyOfRange(good, 0, good.length - 7),
      "zero usPerFrame" -> patchInt(good, 32, 0),
      "zero frame count" -> patchInt(good, 48, 0),
      "crafted width (overflows stride math)" -> patchInt(good, 64, 715827883),
      "crafted height Int.MinValue" -> patchInt(good, 68, Int.MinValue),
      "audio fccType (no vids stream)" -> patchInt(good, 108, 0x73647561),
      "strf says 8-bit" -> {
        val b = good.clone()
        java.nio.ByteBuffer.wrap(b).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putShort(186, 8)
        b
      },
      "strf says RLE compression" -> patchInt(good, 188, 1),
      "avih dims disagree with strf dims" -> patchInt(good, 64, 9),
      "crafted avih chunk size (position+sz wraps Int)" ->
        patchInt(good, 28, Int.MaxValue),
      "crafted strl LIST size" -> patchInt(good, 104, Int.MaxValue)
    )
    cases.foreach { case (label, bytes) =>
      assert(Avi.decode(bytes).isEmpty, s"parseMeta accepted: $label")
      assert(Avi.sampleFrames(bytes, 1).isEmpty, s"sampleFrames accepted: $label")
    }
  }

  test("audio-first layout: video is stream 1, frames are '01db'") {
    val bytes = Avi.encode(8, 4, 40000L, video(8, 4, 3), junkBytes = 5,
      audioFirst = true)
    val m = Avi.decode(bytes).getOrElse(fail("parseMeta failed"))
    assert(m == Avi.Meta(8, 4, 40000L, 3, 2, 1),
      "vids strl index / stream count wrong")
    val (_, got) = Avi.sampleFrames(bytes, 1).getOrElse(fail("sampleFrames failed"))
    assert(got.map(_._1) == (0 until 3))
    got.foreach { case (idx, img) =>
      assert(img.pixels.sameElements(frame(8, 4, idx)),
        s"frame $idx pixels diverged under the '01db' fourcc")
    }
  }

  test("frame-count mismatch between avih and movi quarantines") {
    val good = Avi.encode(8, 4, 40000L, video(8, 4, 3))
    // claim 4 frames in avih while movi carries 3
    val c = good.clone()
    java.nio.ByteBuffer.wrap(c).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(48, 4)
    assert(Avi.sampleFrames(c, 1).isEmpty)
  }

  test("videoFrames dataset: sampled-frame features, quarantine-by-omission") {
    import spark.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, Avi.encode(8, 4, 40000L, video(8, 4, 3))),
      Multimodal.Blob(2L, "garbage".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.videoFrames(blobs, stride = 2)
      .collect().sortBy(f => (f.doc_id, f.frame_idx))
    assert(rows.map(_.doc_id).forall(_ == 1L), "garbage blob leaked rows")
    assert(rows.map(_.frame_idx).toSeq == Seq(0, 2))
    assert(rows.map(_.ts_us).toSeq == Seq(0L, 80000L))
    val px = frame(8, 4, 0)
    val sr = px.map(p => (p >> 16) & 0xff).map(_.toLong).sum
    assert(rows(0).sum_r == sr)
  }
}
