package graft.llm

import org.apache.spark.sql.Dataset

/** IMA/DVI ADPCM — a REAL compressed-audio-sample codec, decoded
  * exactly. This moves the repo's documented compressed-SAMPLE boundary:
  * MP3/H.264 stay stubbed because perceptual codecs genuinely need
  * native libraries, but IMA ADPCM (WAV format tag 0x0011 — telephony,
  * games, decades of archived audio) is a pure INTEGER state machine:
  * 4 bits per sample against a published 89-entry step table, so both
  * encode and decode are bit-deterministic and a SQL oracle can replay
  * the decoder as a linear recursion.
  *
  * Block wire format (the IMA-in-WAV block layout):
  *   - 4-byte header: predictor int16 LE (ALSO emitted as sample 0),
  *     step index uint8 (clamped to [0,88]), reserved byte
  *   - packed nibbles, LOW nibble first per byte
  *
  * Decode step (per nibble n, the canonical IMA algorithm):
  *   step  = StepTable(index)
  *   diff  = step>>3 (+ step if n&4) (+ step>>1 if n&2) (+ step>>2 if n&1)
  *   pred ± diff by the sign bit n&8, clamped to [-32768, 32767]
  *   index += IndexTable(n&7), clamped to [0, 88]
  *
  * Scale shape: decode is row-local (mapPartitions over blobs, no
  * shuffle); corrupt blobs (short header, out-of-range index byte is
  * CLAMPED per the spec, truncated data is fine — nibbles end where the
  * bytes do) quarantine by omission like every [[Multimodal]] decoder.
  */
object Adpcm extends Codec {

  type Out = Array[Short]

  private[llm] val StepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[llm] val IndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One decoder step: (predictor, index, nibble) → (predictor', index'). */
  private[llm] def step(pred: Int, idx: Int, n: Int): (Int, Int) = {
    val st = StepTable(idx)
    var diff = st >> 3
    if ((n & 4) != 0) diff += st
    if ((n & 2) != 0) diff += st >> 1
    if ((n & 1) != 0) diff += st >> 2
    val p0 = if ((n & 8) != 0) pred - diff else pred + diff
    val p = math.max(-32768, math.min(32767, p0))
    val i = math.max(0, math.min(88, idx + IndexTable(n & 7)))
    (p, i)
  }

  /** Decode one IMA block: header sample + one sample per nibble.
    * None on blobs too short for the 4-byte header, or whose samples
    * (4 bytes per input byte) would pass [[Codec.MaxDecodedBytes]]. */
  def decode(bytes: Array[Byte]): Option[Array[Short]] = {
    if (bytes == null || bytes.length < 4 || bytes.length.toLong * 4 > Codec.MaxDecodedBytes)
      return None
    val pred0 = ((bytes(1) << 8) | (bytes(0) & 0xff)).toShort.toInt
    val idx0 = math.max(0, math.min(88, bytes(2) & 0xff))
    val nNibbles = (bytes.length - 4) * 2
    val out = new Array[Short](1 + nNibbles)
    out(0) = pred0.toShort
    var pred = pred0
    var idx = idx0
    var i = 0
    while (i < nNibbles) {
      val b = bytes(4 + (i >> 1)) & 0xff
      val n = if ((i & 1) == 0) b & 0xf else (b >> 4) & 0xf // low first
      val (p, j) = step(pred, idx, n)
      pred = p
      idx = j
      out(1 + i) = p.toShort
      i += 1
    }
    Some(out)
  }

  /** Encode samples into one IMA block (the fixture writer and the honest
    * write path): sample 0 becomes the header predictor; each later
    * sample quantizes to the nibble whose decode lands nearest below,
    * via the canonical bit-greedy encoder — then the PREDICTOR UPDATES
    * THROUGH THE DECODER's arithmetic, so encoder and decoder state
    * never drift. Pads to a whole byte with nibble 0. */
  def encodeBlock(samples: Array[Short], index0: Int = 0): Array[Byte] = {
    require(samples.nonEmpty, "ADPCM block needs at least the header sample")
    val idx0 = math.max(0, math.min(88, index0))
    val nN = samples.length - 1
    val out = new Array[Byte](4 + (nN + 1) / 2)
    val pred0 = samples(0).toInt
    out(0) = (pred0 & 0xff).toByte
    out(1) = ((pred0 >> 8) & 0xff).toByte
    out(2) = idx0.toByte
    var pred = pred0
    var idx = idx0
    var i = 0
    while (i < nN) {
      val target = samples(1 + i).toInt
      val st = StepTable(idx)
      var d = target - pred
      var n = 0
      if (d < 0) { n = 8; d = -d }
      if (d >= st) { n |= 4; d -= st }
      if (d >= (st >> 1)) { n |= 2; d -= st >> 1 }
      if (d >= (st >> 2)) { n |= 1 }
      val (p, j) = step(pred, idx, n)
      pred = p
      idx = j
      if ((i & 1) == 0) out(4 + (i >> 1)) = (n & 0xf).toByte
      else out(4 + (i >> 1)) = (out(4 + (i >> 1)) | ((n & 0xf) << 4)).toByte
      i += 1
    }
    out
  }

  final case class SampleRow(doc_id: Long, i: Int, sample: Int)

  /** Row-local decode over blobs — one row per decoded sample (i = 0 is
    * the header sample); undecodable blobs quarantine by omission. */
  def decodeAll(blobs: Dataset[Multimodal.Blob]): Dataset[SampleRow] =
    Multimodal.perBlob(blobs, decode) { (id, r) =>
      r.iterator.flatMap(_.iterator.zipWithIndex.map { case (s, i) => SampleRow(id, i, s.toInt) })
    }
}
