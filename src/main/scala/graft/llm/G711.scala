package graft.llm

import org.apache.spark.sql.Dataset

/** G.711 μ-law / A-law — the telephony companding codecs (PCMU/PCMA;
  * WAV format tags 0x0007/0x0006, the RTP payload types 0/8 every call
  * recording and voicemail archive ships in). The third member of the
  * compressed-sample tier [[Adpcm]] (audio) and [[Rle8]] (video)
  * started: a pure INTEGER byte→sample expansion with no state at all
  * (each byte decodes independently — sign / 3-bit segment / 4-bit
  * mantissa), so decode is bit-deterministic and a SQL oracle can
  * replay the expansion as plain CASE arithmetic per byte. Only
  * PERCEPTUAL codecs (MP3 samples, H.264 frames) remain stubbed —
  * they genuinely need native libraries.
  *
  * Both expansions follow the canonical CCITT reference arithmetic
  * (the public-domain g711.c every implementation derives from):
  *
  *   μ-law: u = ~b;  t = (((u & 0xF) << 3) + 0x84) << ((u >> 4) & 7)
  *          sample = if (u & 0x80) 0x84 - t else t - 0x84
  *   A-law: v = b ^ 0x55;  seg = (v >> 4) & 7;  m = (v & 0xF) << 4
  *          t = seg match { 0 → m+8; 1 → m+0x108; s → (m+0x108) << (s-1) }
  *          sample = if (v & 0x80) t else -t   (A-law sign bit 1 = positive)
  *
  * G.711 is HEADERLESS on the wire — a blob is just samples, one byte
  * each — so the only malformed payload is a null/empty one; a payload
  * whose two expansions together (8 bytes per input byte) would pass
  * [[Codec.MaxDecodedBytes]] quarantines too.
  *
  * Scale shape: row-local mapPartitions over blobs, no shuffle,
  * streaming-safe (see StreamingDocFormatsSpec parity). */
object G711 extends Codec {

  /** Both expansions of every byte, in byte order. */
  final case class Pcm(mu: Array[Int], al: Array[Int])

  type Out = Pcm

  /** Expand one μ-law byte (0..255) to its linear PCM sample. */
  def mulaw(b: Int): Int = {
    val u = ~b & 0xff
    val t = (((u & 0x0f) << 3) + 0x84) << ((u >> 4) & 7)
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** Expand one A-law byte (0..255) to its linear PCM sample. */
  def alaw(b: Int): Int = {
    val v = (b ^ 0x55) & 0xff
    val m = (v & 0x0f) << 4
    val t = ((v >> 4) & 7) match {
      case 0 => m + 8
      case 1 => m + 0x108
      case s => (m + 0x108) << (s - 1)
    }
    if ((v & 0x80) != 0) t else -t
  }

  def decode(bytes: Array[Byte]): Option[Pcm] =
    if (bytes == null || bytes.isEmpty || bytes.length.toLong * 8 > Codec.MaxDecodedBytes) None
    else Some(Pcm(bytes.map(b => mulaw(b & 0xff)), bytes.map(b => alaw(b & 0xff))))

  final case class SampleRow(doc_id: Long, i: Int, mu: Int, al: Int)

  /** Row-local decode over blobs — one row per byte carrying BOTH
    * expansions (certifying the two tables against one fixture);
    * quarantined payloads contribute no rows. */
  def decodeAll(blobs: Dataset[Multimodal.Blob]): Dataset[SampleRow] =
    Multimodal.perBlob(blobs, decode) { (id, r) =>
      r.iterator.flatMap(p => Iterator.range(0, p.mu.length).map(i => SampleRow(id, i, p.mu(i), p.al(i))))
    }
}
