package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Pure-Column seeded MinHash-LSH near-dup candidates (B32): every stage
  * inside whole-stage codegen, no UDF or `ml.linalg.Vector` round-trips —
  * the same move [[Rp]] made for random-projection LSH.
  *
  * Algorithm (the standard construction MLlib's `MinHashLSH` also
  * implements): per table t, signature_t(doc) = min over the doc's
  * shingles of h_t(shingle), with h_t = xxhash64 salted by the table index
  * (a seeded splitmix-quality 64-bit mix). Two docs collide in table t iff
  * their min-hashes agree; P(collide) = jaccard(A,B) per table, OR-amplified
  * to 1−(1−s)^T across T tables. Candidates that meet in ≥1 table are
  * exact-reranked on their true shingle sets.
  *
  * Scale shape (100 TB): shingle arrays are computed once scan-side; the
  * per-table min-hash is a fold over the array (codegen); the (table,
  * minhash) keys go through [[Lsh.bucketPairs]] with the shingle array
  * carried inline, so the rerank needs no join: it runs on each candidate
  * in the join stage, and only pairs within `maxJaccardDist` shuffle.
  * Lazy: nothing runs at the call, and a lost block is recomputed.
  *
  * Output (id_a, id_b, jaccard_dist), id_a < id_b, dist rounded to 4. The
  * dist is EXACT Jaccard on the shingle sets and the cut is
  * `<= maxJaccardDist` on the ROUNDED value; exactness of the scores is
  * asserted against the brute-force jaccard in DedupSpec.
  */
object MinHash {

  /** Seeded per-table salts; SplitMix64-style odd-gamma sequence keeps the
    * salts well-separated for any seed. */
  private def salts(numTables: Int, seed: Long): Seq[Long] =
    (0 until numTables).map(t => seed + 0x9E3779B97F4A7C15L * (t + 1))

  /** Candidate pairs within `maxJaccardDist`, OR-amplified over
    * `numTables` min-hash tables. Hot buckets (a min-hash shared by huge
    * near-identical families) are salt-split above `maxBucketSize`
    * ([[Lsh.Split]]); the fixtures stay under the default cap
    * (NearDupLimitsSpec). */
  def pairs(
      docs: DataFrame,
      maxJaccardDist: Double = 0.6,
      numTables: Int = 5,
      seed: Long = 42L,
      maxBucketSize: Int = Lsh.DefaultMaxBucketSize): DataFrame = {
    // exact Jaccard rerank on the true shingle sets (arrays are distinct by
    // construction in TextAnalysis.shingles)
    val inter = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
    val dist = lit(1.0) -
      inter / (size(col("sh_a")) + size(col("sh_b")) - inter)
    Lsh.bucketPairs(rows(docs, numTables, seed), Seq("t", "k"),
        Lsh.Split(maxBucketSize), Seq("sh"))
      .select(col("id_a"), col("id_b"), round(dist, 4).as("jaccard_dist"))
      .filter(col("jaccard_dist") <= maxJaccardDist)
  }

  /** [[pairs]]' keyed rows: (id, sh, t, k), k = the table-t min-hash. */
  private[llm] def rows(docs: DataFrame, numTables: Int, seed: Long): DataFrame = {
    // one (table, minhash) struct per table: min over the shingle array of
    // the salted 64-bit hash — a pure codegen fold, no model fit at all
    val keys: Seq[Column] = salts(numTables, seed).zipWithIndex.map {
      case (salt, t) =>
        struct(
          lit(t).as("t"),
          array_min(transform(col("sh"), s => xxhash64(s, lit(salt)))).as("k"))
    }
    // spread BEFORE the shingle projection: a single-split corpus file
    // would otherwise build every shingle array (the dominant scan cost)
    // on one task — see graft.operators.Parallelism
    graft.operators.Parallelism.spread(docs)
      .select(col("doc_id").as("id"), TextAnalysis.shingles(col("text")).as("sh"))
      .filter(size(col("sh")) > 0)
      .select(col("id"), col("sh"), explode(array(keys: _*)).as("tk"))
      .select(col("id"), col("sh"), col("tk.t").as("t"), col("tk.k").as("k"))
  }
}
