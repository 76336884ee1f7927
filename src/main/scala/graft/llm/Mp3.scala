package graft.llm

/** MPEG-1 Layer III (MP3) FRAME-HEADER parser — the honest middle tier of
  * B35's audio story: decoding MP3 *samples* genuinely needs a native
  * codec (the polyphase filterbank + Huffman tables are why MP3 stays in
  * [[Multimodal.decode]]'s stub tier), but the frame headers are public
  * bit arithmetic (ISO/IEC 11172-3 frame sync + side tables), and
  * duration / sample-rate / bitrate extraction — what a data pipeline
  * mostly needs from an audio container — requires only the header walk.
  * [[encodeFrames]] synthesizes spec-valid frame sequences (silent
  * payloads) so the q131 oracle can re-derive every metadata field
  * arithmetically: a hash match certifies the bit-level header
  * encode/parse round-trip, the ID3v2 skip, and the frame-length
  * formula.
  *
  * Scope: MPEG-1 Layer III only (the overwhelmingly common case);
  * anything else — MPEG-2/2.5, other layers, reserved indices, a
  * mid-stream desync, a truncated final frame — quarantines as None
  * (the [[Codec]] contract). An ID3v2 tag prefix (syncsafe 28-bit size) is skipped,
  * as real files carry one.
  */
object Mp3 extends Codec {

  type Out = Meta

  /** V1 Layer III bitrate table, kbps, index 1..14 (0 = free-format and
    * 15 = bad are rejected). */
  private val BitrateKbps =
    Array(-1, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320, -1)

  /** V1 sample-rate table, index 0..2 (3 = reserved). */
  private val SampleRates = Array(44100, 48000, 32000, -1)

  /** Samples per MPEG-1 Layer III frame. */
  val SamplesPerFrame = 1152

  /** Parsed stream metadata. `durationUs` = nFrames·1152·10⁶/sampleRate
    * (one integer division — oracle-replicable); `audioBytes` sums the
    * spec frame lengths 144·bitrate/sampleRate (+padding). */
  final case class Meta(
      nFrames: Int,
      sampleRate: Int,
      audioBytes: Long,
      durationUs: Long)

  /** Spec frame length in bytes for V1 L3. */
  private def frameLen(bitrateKbps: Int, sampleRate: Int, padding: Int): Int =
    144 * bitrateKbps * 1000 / sampleRate + padding

  /** Synthesize a valid MPEG-1 Layer III stream: `bitrateIdx(j)` and
    * `padding(j)` per frame (VBR allowed — real encoders emit it), one
    * sample rate throughout, zeroed payloads, optional ID3v2 prefix. */
  def encodeFrames(sampleRateIdx: Int, bitrateIdx: Int => Int,
      padding: Int => Int, nFrames: Int, id3Bytes: Int = 0): Array[Byte] = {
    require(sampleRateIdx >= 0 && sampleRateIdx <= 2, s"bad rate idx $sampleRateIdx")
    require(nFrames > 0, "need at least one frame")
    require(id3Bytes >= 0 && id3Bytes < (1 << 28), s"bad id3 size $id3Bytes")
    val rate = SampleRates(sampleRateIdx)
    val frames = (0 until nFrames).map { j =>
      val bi = bitrateIdx(j)
      require(bi >= 1 && bi <= 14, s"bad bitrate idx $bi at frame $j")
      val pad = padding(j) & 1
      val len = frameLen(BitrateKbps(bi), rate, pad)
      val f = new Array[Byte](len)
      f(0) = 0xff.toByte
      // sync(3) | version=11 (MPEG-1) | layer=01 (III) | protection=1 (no CRC)
      f(1) = 0xfb.toByte
      f(2) = ((bi << 4) | (sampleRateIdx << 2) | (pad << 1)).toByte
      f(3) = 0xc0.toByte // channel mode = mono (3<<6), rest zero
      f
    }
    val id3 =
      if (id3Bytes == 0) Array.emptyByteArray
      else {
        val h = new Array[Byte](10 + id3Bytes)
        h(0) = 'I'; h(1) = 'D'; h(2) = '3'; h(3) = 4; h(4) = 0; h(5) = 0
        // syncsafe 28-bit payload size, 7 bits per byte
        h(6) = ((id3Bytes >> 21) & 0x7f).toByte
        h(7) = ((id3Bytes >> 14) & 0x7f).toByte
        h(8) = ((id3Bytes >> 7) & 0x7f).toByte
        h(9) = (id3Bytes & 0x7f).toByte
        h
      }
    id3 ++ frames.flatten
  }

  /** Walk the frame chain; None for anything malformed. */
  def decode(bytes: Array[Byte]): Option[Meta] = {
    if (bytes == null || bytes.length < 4) return None
    var pos = 0
    // ID3v2: "ID3", version(2), flags(1), syncsafe size(4), then payload
    if (bytes.length >= 10 && bytes(0) == 'I' && bytes(1) == 'D' && bytes(2) == '3') {
      if ((bytes(6) | bytes(7) | bytes(8) | bytes(9)) < 0) return None // non-syncsafe
      val size = (bytes(6) << 21) | (bytes(7) << 14) | (bytes(8) << 7) | bytes(9)
      pos = 10 + size
      if (pos < 0 || pos > bytes.length) return None // crafted size
    }
    var nFrames = 0
    var rate = -1
    var audioBytes = 0L
    while (pos < bytes.length) {
      if (pos + 4 > bytes.length) return None // truncated header
      val b1 = bytes(pos) & 0xff
      val b2 = bytes(pos + 1) & 0xff
      val b3 = bytes(pos + 2) & 0xff
      if (b1 != 0xff || (b2 & 0xe0) != 0xe0) return None // lost sync
      if ((b2 & 0x18) != 0x18) return None // not MPEG-1
      if ((b2 & 0x06) != 0x02) return None // not Layer III
      val bi = (b3 >> 4) & 0xf
      val ri = (b3 >> 2) & 0x3
      val pad = (b3 >> 1) & 0x1
      if (bi == 0 || bi == 15 || ri == 3) return None // free-format/reserved
      val r = SampleRates(ri)
      if (rate == -1) rate = r
      else if (rate != r) return None // rate change mid-stream: not one stream
      val len = frameLen(BitrateKbps(bi), r, pad)
      if (pos + len > bytes.length) return None // truncated final frame
      audioBytes += len
      nFrames += 1
      pos += len
    }
    if (nFrames == 0) None
    else Some(Meta(nFrames, rate, audioBytes,
      nFrames.toLong * SamplesPerFrame * 1000000L / rate))
  }
}
