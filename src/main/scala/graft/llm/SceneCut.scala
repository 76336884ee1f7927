package graft.llm

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Dataset

/** Scene-cut detection over decoded video frames — [[Vad]]'s video twin
  * and the step between [[Avi]] frame decode (q138) and any video-LM
  * curation pass: scene boundaries are where video corpora split clips,
  * sample keyframes, and dedup footage. ALL-INTEGER and deterministic:
  *
  *   - per frame, the signature is the exact sum of all channel values
  *     (`Σ (r+g+b)` over pixels — a long; 255·3·wh ≪ 2⁶³)
  *   - a CUT fires between consecutive decoded frames t−1, t iff
  *     `|sig(t) − sig(t−1)| > threshold` (strict), emitted with the
  *     boundary's frame index and the signed delta — hard-cut detection
  *     by frame-difference, the classical first tier every shot-boundary
  *     pipeline starts with; the oracle can re-derive every signature
  *     arithmetically
  *
  * Quarantine: payloads [[Avi.sampleFrames]] can't decode yield no rows
  * (omission). Row-local single pass per blob (stride 1 — every frame),
  * no shuffle, no per-frame row explode. Streaming-safe.
  */
object SceneCut {

  final case class Cut(doc_id: Long, cut: Int, frame_idx: Int, delta: Long)

  private[llm] def frameSig(img: Bmp.Img): Long = {
    var sum = 0L
    var i = 0
    while (i < img.pixels.length) {
      val p = img.pixels(i)
      sum += ((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)
      i += 1
    }
    sum
  }

  /** Cut boundaries as (frameIdx, delta): frameIdx is the LATER frame. */
  private[llm] def cuts(frames: Seq[(Int, Bmp.Img)], threshold: Long): Seq[(Int, Long)] = {
    val out = ArrayBuffer.empty[(Int, Long)]
    var prev = Long.MinValue
    frames.foreach { case (idx, img) =>
      val sig = frameSig(img)
      if (prev != Long.MinValue) {
        val delta = sig - prev
        if (math.abs(delta) > threshold) out += ((idx, delta))
      }
      prev = sig
    }
    out.toSeq
  }

  /** Row-local cut detection over AVI blobs; streaming-safe. */
  def cutsAll(blobs: Dataset[Multimodal.Blob], threshold: Long): Dataset[Cut] =
    Multimodal.perBlob(blobs, Avi.sampleFrames(_, stride = 1)) { (id, r) =>
      r.iterator.flatMap { case (_, frames) =>
        cuts(frames, threshold).zipWithIndex.map { case ((idx, delta), k) => Cut(id, k, idx, delta) }
      }
    }
}
