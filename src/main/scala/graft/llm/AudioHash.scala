package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual AUDIO hashing + near-duplicate detection — the audio member
  * of the dedup family, completing the modality set (text: MinHash/
  * SimHash; image: [[ImageHash]]; audio: this). Like [[ImageHash]] and
  * unlike the xxhash64 text keys, every step is exact integer
  * arithmetic, so hash AND banded join are DuckDB-replicable and sit
  * under the q135/q136 hash gate.
  *
  * The construction is the time-domain analog of dHash: partition the
  * PCM stream into 33 frames (exact floor mapping `j·33/n` — variable
  * frame lengths, every frame non-empty for n ≥ 33), take each frame's
  * ENERGY (Σ s², exact long), and emit one bit per adjacent frame pair —
  * bit f set ⇔ frame f's energy mean EXCEEDS frame f+1's (falling edge)
  * — via cross-multiplied comparisons (`eL·nR > eR·nL`, no division, no
  * rounding), giving 32 bits in one BIGINT-safe Int. The hash is invariant under amplitude scaling
  * (energies scale by c², both comparison sides equally) — the audio
  * analog of dHash's brightness invariance, and the reason it is a
  * NEAR-dup key: the same recording at different gain hashes
  * identically.
  *
  * Overflow discipline: energies ≤ n·(2¹⁵)² and the cross-product adds a
  * frame-length factor ≤ n/33, so n ≤ [[MaxSamples]] = 2¹⁸ keeps every
  * product under 2⁶² — longer payloads quarantine rather than risk
  * silent wraparound.
  *
  * [[nearDupPairs]]: four 8-bit bands over the 32 bits — pigeonhole-EXACT
  * at hamming ≤ 3 — band-key equi-join ([[Lsh.bucketPairs]]) +
  * `bit_count(xor)` rerank, the same scale contract as the text/image
  * candidate joins.
  */
object AudioHash {

  /** Frame count: 33 frames → 32 adjacent-pair bits. */
  val Frames = 33

  /** Sample-count cap keeping all cross-multiplied energy products in
    * int64 (see overflow discipline above). */
  val MaxSamples: Int = 1 << 18

  final case class AHash(
      doc_id: Long,
      valid: Boolean,
      n_samples: Int,
      ahash: Long)

  /** Per-blob energy-profile hash over mono WAV payloads; undecodable,
    * multi-channel, shorter-than-33-sample or over-cap payloads
    * quarantine as invalid. */
  def aHash(blobs: Dataset[Multimodal.Blob]): Dataset[AHash] =
    Multimodal.perBlob(blobs, Wav.decode) { (id, r) =>
      Iterator.single(r.filter(p => p.channels == 1 && p.samples.length >= Frames &&
        p.samples.length <= MaxSamples).fold(AHash(id, valid = false, 0, 0L))(pcm =>
        AHash(id, valid = true, pcm.samples.length, aHashBits(pcm.samples))))
    }

  /** The exact bit construction (shared with AudioHashSpec's naive
    * recomputation). */
  private[llm] def aHashBits(samples: Array[Short]): Long = {
    val n = samples.length
    val energy = new Array[Long](Frames)
    val count = new Array[Long](Frames)
    var j = 0
    while (j < n) {
      val f = (j.toLong * Frames / n).toInt
      val s = samples(j).toLong
      energy(f) += s * s
      count(f) += 1
      j += 1
    }
    var bits = 0L
    var f = 0
    while (f < Frames - 1) {
      if (energy(f) * count(f + 1) > energy(f + 1) * count(f)) bits |= 1L << f
      f += 1
    }
    bits
  }

  /** Near-duplicate audio pairs at hamming ≤ `maxHamming` over the 32
    * bits — EXACT by pigeonhole for maxHamming ≤ 3 (four 8-bit bands) as
    * long as no band bucket exceeds [[Lsh.DefaultMaxBucketSize]]
    * ([[Lsh.Split]]; the fixtures stay under it: NearDupLimitsSpec). Output (id_a, id_b,
    * hamming), id_a < id_b. */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x8 banding is pigeonhole-exact only for hamming <= 3, got $maxHamming")
    Lsh.bucketPairs(rows(hashes), Seq("t", "k"), Lsh.Split(Lsh.DefaultMaxBucketSize), Seq("ahash"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("ahash_a").bitwiseXOR(col("ahash_b"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[nearDupPairs]]' keyed rows: (id, ahash, t, k), k = the t-th 8-bit
    * band. */
  private[llm] def rows(hashes: DataFrame): DataFrame = {
    val mask = lit(0xffL)
    hashes.filter(col("valid"))
      .select(col("doc_id").as("id"), col("ahash"),
        posexplode(array(
          col("ahash").bitwiseAND(mask),
          shiftright(col("ahash"), 8).bitwiseAND(mask),
          shiftright(col("ahash"), 16).bitwiseAND(mask),
          shiftright(col("ahash"), 24).bitwiseAND(mask))).as(Seq("t", "k")))
  }
}
