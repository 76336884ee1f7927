package graft.llm

import java.nio.{ByteBuffer, ByteOrder}

/** Real RIFF/WAVE PCM-16 codec — the part of B35's decode step that IS
  * implementable without native codec libraries: WAV is a self-describing
  * container with raw little-endian PCM payload, so a spec-complete
  * encoder/parser is plain byte arithmetic. [[Multimodal.decodeWav]] runs
  * [[decode]] partition-batched over blob columns; compressed formats
  * (JPEG/MP3/H.264) remain the documented stub in [[Multimodal.decode]],
  * with this module as the drop-in shape a JNI codec would replace.
  *
  * Format notes honored here (RIFF spec): chunks are (4-byte ASCII id,
  * uint32-LE size, payload) and every chunk is padded to EVEN length —
  * a parser that forgets the pad byte desyncs on any odd-sized chunk
  * (e.g. LIST/INFO metadata) and misreads everything after it. Unknown
  * chunks are skipped, not errors: real encoders emit LIST, fact, cue
  * chunks freely.
  */
object Wav extends Codec {

  type Out = Pcm

  /** Decoded PCM-16 audio: interleaved samples when `channels` > 1. */
  final case class Pcm(
      sampleRate: Int,
      channels: Int,
      samples: Array[Short])

  private val RIFF = 0x46464952 // "RIFF" LE
  private val WAVE = 0x45564157 // "WAVE" LE
  private val FMT_ = 0x20746d66 // "fmt " LE
  private val DATA = 0x61746164 // "data" LE
  private val PCM_FORMAT = 1

  /** Canonical 44-byte-header mono/stereo PCM-16 WAV bytes. A real
    * encoder, not scaffolding: output parses under any spec-compliant
    * reader (and under [[decode]], property-tested round-trip). */
  def encodePcm16(sampleRate: Int, samples: Array[Short], channels: Int = 1): Array[Byte] = {
    require(sampleRate > 0, s"bad sampleRate: $sampleRate")
    require(channels > 0, s"bad channels: $channels")
    require(samples.length % channels == 0, "ragged interleave")
    val dataBytes = samples.length * 2
    val buf = ByteBuffer.allocate(44 + dataBytes).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(RIFF).putInt(36 + dataBytes).putInt(WAVE)
    buf.putInt(FMT_).putInt(16)
      .putShort(PCM_FORMAT.toShort).putShort(channels.toShort)
      .putInt(sampleRate).putInt(sampleRate * channels * 2)
      .putShort((channels * 2).toShort).putShort(16)
    buf.putInt(DATA).putInt(dataBytes)
    samples.foreach(buf.putShort)
    buf.array()
  }

  /** The [[Codec]] entry: PCM-16 WAV bytes to samples; None for anything
    * malformed (wrong magic, truncated chunk, non-PCM format,
    * non-16-bit). */
  def decode(bytes: Array[Byte]): Option[Pcm] = {
    if (bytes == null || bytes.length < 12) return None
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    if (buf.getInt() != RIFF) return None
    buf.getInt() // declared riff size; tolerated if it disagrees (common in the wild)
    if (buf.getInt() != WAVE) return None
    var sampleRate = -1
    var channels = -1
    var ok = false
    var data: Array[Short] = null
    while (buf.remaining() >= 8 && data == null) {
      val id = buf.getInt()
      val size = buf.getInt()
      if (size < 0 || size > buf.remaining()) return None // truncated chunk
      id match {
        case FMT_ =>
          if (size < 16) return None
          // chunk end incl. the RIFF even-pad byte; clamped because a
          // final chunk's pad byte is often omitted in the wild
          val fmtEnd = math.min(buf.position() + size + (size & 1), buf.limit())
          val audioFormat = buf.getShort()
          channels = buf.getShort().toInt
          sampleRate = buf.getInt()
          buf.getInt() // byte rate (derivable)
          buf.getShort() // block align (derivable)
          val bits = buf.getShort()
          ok = audioFormat == PCM_FORMAT && bits == 16 &&
            channels > 0 && sampleRate > 0
          if (!ok) return None
          buf.position(fmtEnd) // skip fmt extensions + pad byte
        case DATA =>
          if (!ok) return None // data before fmt: undecodable
          // a payload that isn't a whole number of frames (2 bytes ×
          // channels) is a ragged interleave — quarantine it rather than
          // silently truncating into slightly-wrong duration/rms features
          if (size % (2 * channels) != 0) return None
          val n = size / 2
          val out = new Array[Short](n)
          var i = 0
          while (i < n) { out(i) = buf.getShort(); i += 1 }
          data = out
        case _ =>
          // unknown chunk (LIST, fact, cue…): skip payload + even pad
          // (clamped — last chunk's pad byte is often omitted)
          buf.position(math.min(buf.position() + size + (size & 1), buf.limit()))
      }
    }
    if (data == null) None else Some(Pcm(sampleRate, channels, data))
  }
}
