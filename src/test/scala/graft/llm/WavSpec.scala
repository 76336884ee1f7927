package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class WavSpec extends SparkSpec {

  private val tone: Array[Short] =
    Array.tabulate(256)(i => (((i * 37) % 4096 - 2048) * 8).toShort)

  test("encode → parse round-trip preserves rate, channels, every sample") {
    for (channels <- Seq(1, 2)) {
      val bytes = Wav.encodePcm16(44100, tone, channels)
      val pcm = Wav.decode(bytes).getOrElse(fail(s"parse failed, channels=$channels"))
      assert(pcm.sampleRate == 44100)
      assert(pcm.channels == channels)
      assert(pcm.samples.sameElements(tone))
    }
  }

  test("parser skips unknown chunks and honors the RIFF even-pad rule") {
    // splice a 3-byte LIST chunk (odd size ⇒ 1 pad byte) between fmt and
    // data — a parser that forgets the pad desyncs and misreads `data`
    val canonical = Wav.encodePcm16(8000, tone)
    val head = java.util.Arrays.copyOfRange(canonical, 0, 36) // RIFF..fmt end
    val tail = java.util.Arrays.copyOfRange(canonical, 36, canonical.length) // data chunk
    val list = ByteBuffer.allocate(12).order(ByteOrder.LITTLE_ENDIAN)
      .putInt(0x5453494c /* "LIST" */).putInt(3)
      .put(Array[Byte]('a', 'b', 'c', 0 /* pad */)).array()
    val spliced = head ++ list ++ tail
    val pcm = Wav.decode(spliced).getOrElse(fail("parse failed on spliced LIST chunk"))
    assert(pcm.samples.sameElements(tone))
  }

  test("malformed payloads are rejected, never thrown on") {
    val good = Wav.encodePcm16(8000, tone)
    val cases: Seq[(String, Array[Byte])] = Seq(
      "null" -> null,
      "empty" -> Array.emptyByteArray,
      "text bytes" -> "definitely not audio, just prose".getBytes("UTF-8"),
      "wrong magic" -> { val b = good.clone(); b(0) = 'X'; b },
      "truncated mid-data" -> java.util.Arrays.copyOfRange(good, 0, good.length / 2),
      "data before fmt" -> {
        // swap chunk order: RIFF header + data chunk + fmt chunk
        val hdr = java.util.Arrays.copyOfRange(good, 0, 12)
        val fmt = java.util.Arrays.copyOfRange(good, 12, 36)
        val data = java.util.Arrays.copyOfRange(good, 36, good.length)
        hdr ++ data ++ fmt
      },
      "ragged interleave (stereo data not a whole number of frames)" -> {
        // stereo stream whose data chunk holds an odd sample count:
        // size % (2*channels) != 0 must quarantine, not truncate into
        // slightly-wrong duration/rms features (ADVICE r9)
        val stereo = Wav.encodePcm16(8000, tone, channels = 2)
        val buf = ByteBuffer.wrap(stereo.clone()).order(ByteOrder.LITTLE_ENDIAN)
        buf.putInt(40, tone.length * 2 - 2) // shrink data size by one sample
        java.util.Arrays.copyOfRange(buf.array(), 0, stereo.length - 2)
      },
      "odd-sized data chunk" -> {
        val mono = Wav.encodePcm16(8000, tone)
        val buf = ByteBuffer.wrap(mono.clone()).order(ByteOrder.LITTLE_ENDIAN)
        buf.putInt(40, tone.length * 2 - 1) // data size not a multiple of 2
        java.util.Arrays.copyOfRange(buf.array(), 0, mono.length - 1)
      })
    for ((label, bytes) <- cases)
      assert(Wav.decode(bytes).isEmpty, s"parser accepted: $label")
  }

  test("decodeWav quarantines junk rows (valid=false) while decoding real ones") {
    val spark2 = spark
    import spark2.implicits._
    val blobs = Seq(
      Multimodal.Blob(1L, Wav.encodePcm16(8000, tone)),
      Multimodal.Blob(2L, "junk".getBytes("UTF-8"))).toDS()
    val rows = Multimodal.decodeWav(blobs).collect().sortBy(_.doc_id)
    assert(rows(0).valid && rows(0).n_samples == 256 &&
      rows(0).sample_rate == 8000 && rows(0).duration_us == 32000L)
    assert(!rows(1).valid && rows(1).n_samples == 0L)
  }

  test("q123 features match a direct per-blob recomputation on the fixture") {
    val df = LlmQueries.all.find(_.name == "q123_wav_decode").get
      .run(spark, sf0001).collect()
    assert(df.nonEmpty)
    for (r <- df.take(20)) {
      val id = r.getLong(0)
      val n = (160 + id % 64).toInt
      val step = (37 + id % 27).toInt
      val samples = Array.tabulate(n)(i => ((i.toLong * step) % 4096 - 2048) * 8)
      assert(r.getLong(2) == n.toLong)
      assert(r.getLong(3) == n.toLong * 125)
      assert(r.getInt(4) == samples.map(math.abs).max)
      val rms = math.sqrt(samples.map(s => s * s).sum.toDouble / n)
      assert(r.getDouble(5) == rms, s"rms mismatch for doc $id")
    }
  }
}
