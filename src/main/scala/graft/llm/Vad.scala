package graft.llm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

/** Energy-threshold voice-activity detection over decoded PCM — the
  * speech-corpus prep step between [[Wav]] decode (q123) and any
  * ASR/audio-LM pipeline: silence carries no training signal, and VAD
  * segmentation is how audio corpora drop it (and how long recordings
  * split into trainable utterances). ALL-INTEGER and deterministic:
  *
  *   - frames are `frameLen`-sample NON-overlapping windows (ragged
  *     tail dropped — the q125 STFT convention); frame energy is the
  *     exact `Σ s²` long (PCM-16 squares fit: 2¹⁵² · frameLen ≪ 2⁶³)
  *   - a frame is SPEECH iff `energy > threshold` (strict — a frame at
  *     exactly the threshold is silence, spec-pinned)
  *   - segments are MAXIMAL runs of consecutive speech frames, emitted
  *     in time order with their summed energy
  *
  * Quarantine: undecodable payloads and non-mono PCM yield no rows
  * (omission, the q125 convention — interleaved stereo energies would
  * silently mix channels).
  *
  * Scale shape: row-local single pass per blob, no shuffle; the run
  * detection is in-pass (no window function, no per-frame row explode —
  * exploding frames to SQL rows would shuffle O(total frames) at
  * 100 TB for what one scan does in place). Streaming-safe.
  */
object Vad {

  final case class Segment(doc_id: Long, seg: Int, start_frame: Int,
      end_frame: Int, n_frames: Int, energy_sum: Long)

  /** Maximal speech runs as (startFrame, endFrame, energySum). */
  private[llm] def segments(samples: Array[Short], frameLen: Int,
      threshold: Long): Seq[(Int, Int, Long)] = {
    require(frameLen > 0, s"bad frameLen: $frameLen")
    val nFrames = samples.length / frameLen
    val out = ArrayBuffer.empty[(Int, Int, Long)]
    var runStart = -1
    var runEnergy = 0L
    var f = 0
    while (f < nFrames) {
      var e = 0L
      var i = f * frameLen
      val end = i + frameLen
      while (i < end) { val s = samples(i).toLong; e += s * s; i += 1 }
      if (e > threshold) {
        if (runStart < 0) { runStart = f; runEnergy = 0L }
        runEnergy += e
      } else if (runStart >= 0) {
        out += ((runStart, f - 1, runEnergy))
        runStart = -1
      }
      f += 1
    }
    if (runStart >= 0) out += ((runStart, nFrames - 1, runEnergy))
    out.toSeq
  }

  /** Row-local segmentation over WAV blobs; streaming-safe. */
  def segmentsAll(blobs: Dataset[Multimodal.Blob], frameLen: Int,
      threshold: Long): Dataset[Segment] =
    Multimodal.perBlob(blobs, Wav.decode) { (id, r) =>
      r.filter(_.channels == 1).iterator.flatMap { pcm =>
        segments(pcm.samples, frameLen, threshold).zipWithIndex.map {
          case ((s, e, en), k) => Segment(id, k, s, e, e - s + 1, en)
        }
      }
    }
}
