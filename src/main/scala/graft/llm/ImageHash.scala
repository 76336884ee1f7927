package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Perceptual image hashing + near-duplicate detection — the image member
  * of the dedup family (B32's pipeline applied to decoded pixels instead
  * of text): MinHash/SimHash bucket text bodies, [[dHash]] buckets
  * images. Everything here is EXACT integer arithmetic, so unlike the
  * xxhash64-keyed text family the whole image pipeline — hash AND banded
  * candidate join — is DuckDB-replicable and sits under the q132/q133
  * hash gate.
  *
  * dHash (difference hash), the standard gradient construction: pool the
  * integer luma plane onto a 9×8 grid (exact floor area mapping, the
  * [[Multimodal.resizeImage]] rule), emit one bit per horizontally
  * adjacent cell pair — brighter-than-next ⇒ 1 — giving 8×8 = 64 bits.
  * Two exactness choices make it oracle-graded: luma stays SCALED
  * (299r+587g+114b, no division), and cell-mean comparisons
  * cross-multiply sums against counts (`sumL·nR > sumR·nL`) instead of
  * dividing, so no rounding exists anywhere. The hash is invariant under
  * uniform brightness shifts (every comparison shifts both sides
  * equally) — the property that makes it a NEAR-dup key where sha2 of
  * the bytes is only an exact-dup key. Bits ship as two BIGINT halves
  * (hi = bits 32..63, lo = bits 0..31): both engines then avoid the sign
  * bit of a packed int64.
  *
  * [[nearDupPairs]] is the scale path: band the 64 bits into four
  * 16-bit keys — by pigeonhole, any pair within hamming distance 3 (the
  * filter) agrees exactly on ≥ 1 band — equi-join on (band, value)
  * through [[Lsh.bucketPairs]], then exact `bit_count(xor)` rerank.
  * Candidate volume is governed by band-key collisions, not the pair
  * space, the same contract spec-pinned for the text LSH family.
  */
object ImageHash {

  /** Grid width (9 columns → 8 horizontal differences) and height. */
  val GridW = 9
  val GridH = 8

  final case class DHash(
      doc_id: Long,
      valid: Boolean,
      width: Int,
      height: Int,
      dhash_hi: Long,
      dhash_lo: Long)

  /** Per-blob dHash over any decodable image payload (BMP here — the
    * codec is orthogonal to the hash; images smaller than the 9×8 grid
    * quarantine as invalid). */
  def dHash(blobs: Dataset[Multimodal.Blob]): Dataset[DHash] = {
    val spark = blobs.sparkSession
    import spark.implicits._
    blobs.mapPartitions { it =>
      it.map { b =>
        Bmp.parse(b.payload).filter(i => i.width >= GridW && i.height >= GridH) match {
          case Some(img) =>
            val (hi, lo) = dHashBits(img.width, img.height, img.pixels)
            DHash(b.doc_id, valid = true, img.width, img.height, hi, lo)
          case None => DHash(b.doc_id, valid = false, 0, 0, 0L, 0L)
        }
      }
    }
  }

  /** The exact bit construction (shared by [[dHash]] and ImageHashSpec's
    * hand recomputation). */
  private[llm] def dHashBits(w: Int, h: Int, pixels: Array[Int]): (Long, Long) = {
    val sums = new Array[Long](GridW * GridH)
    val counts = new Array[Long](GridW * GridH)
    var i = 0
    while (i < pixels.length) {
      val x = i % w
      val y = i / w
      val cell = (y.toLong * GridH / h).toInt * GridW + (x.toLong * GridW / w).toInt
      val p = pixels(i)
      sums(cell) += 299L * ((p >> 16) & 0xff) + 587L * ((p >> 8) & 0xff) +
        114L * (p & 0xff)
      counts(cell) += 1
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var cy = 0
    while (cy < GridH) {
      var cx = 0
      while (cx < GridW - 1) {
        val l = cy * GridW + cx
        val r = l + 1
        if (sums(l) * counts(r) > sums(r) * counts(l)) {
          val bit = cy * (GridW - 1) + cx
          if (bit >= 32) hi |= 1L << (bit - 32) else lo |= 1L << bit
        }
        cx += 1
      }
      cy += 1
    }
    (hi, lo)
  }

  /** Near-duplicate image pairs at hamming ≤ `maxHamming` over the 64
    * dHash bits — EXACT by pigeonhole for maxHamming ≤ 3 (four 16-bit
    * bands ⇒ any such pair shares a whole band) as long as no band bucket
    * exceeds [[Lsh.DefaultMaxBucketSize]] ([[Lsh.Split]]; the fixtures stay
    * under it: NearDupLimitsSpec). Input: [[dHash]] output (invalid rows drop);
    * output (id_a, id_b, hamming), id_a < id_b. */
  def nearDupPairs(hashes: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4x16 banding is pigeonhole-exact only for hamming <= 3, got $maxHamming")
    Lsh.bucketPairs(rows(hashes), Seq("t", "k"), Lsh.Split(Lsh.DefaultMaxBucketSize),
        Seq("dhash_hi", "dhash_lo"))
      .select(col("id_a"), col("id_b"),
        (bit_count(col("dhash_hi_a").bitwiseXOR(col("dhash_hi_b"))) +
          bit_count(col("dhash_lo_a").bitwiseXOR(col("dhash_lo_b")))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[nearDupPairs]]' keyed rows: (id, dhash_hi, dhash_lo, t, k), k = the
    * t-th 16-bit band. */
  private[llm] def rows(hashes: DataFrame): DataFrame = {
    val mask = lit(0xffffL)
    hashes.filter(col("valid"))
      .select(col("doc_id").as("id"), col("dhash_hi"), col("dhash_lo"),
        posexplode(array(
          col("dhash_lo").bitwiseAND(mask),
          shiftright(col("dhash_lo"), 16).bitwiseAND(mask),
          col("dhash_hi").bitwiseAND(mask),
          shiftright(col("dhash_hi"), 16).bitwiseAND(mask))).as(Seq("t", "k")))
  }
}
