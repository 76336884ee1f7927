package graft.llm

import scala.util.Random

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Pure-Column random-projection LSH (B32/B33): the codegen-native
  * equivalent of MLlib's `BucketedRandomProjectionLSH` and the bucketed
  * scale path for embedding-cosine near-dup (the q44 brute-force pair join
  * is the oracle twin; this is the headline formulation).
  *
  * Why not MLlib here: `approxSimilarityJoin` evaluates its hash and distance
  * functions outside whole-stage codegen and round-trips every row through
  * `ml.linalg.Vector` serialization — at sf0.1 that framework floor alone was
  * 12 s (BENCH_r01 q35). This module keeps the identical algorithm (seeded
  * Gaussian projections, floor-bucketed for L2 / sign-banded for cosine,
  * OR-amplified across tables) entirely inside codegen: hyperplanes are
  * driver-side constant arrays folded into the plan as literals, projections
  * run through [[graft.functions.VectorDot]], and the candidate join is
  * [[Lsh.bucketPairs]] on (table, bucket-key). Measured A/B at sf0.1
  * (2000×64 vectors, 3.7M candidates): 3.5 s vs MLlib's 12.1 s.
  *
  * Scale shape (100 TB): one explode (`numTables`× row multiplication of ids
  * + embeddings), one equi-join on the bucket key with the embedding and
  * its norm carried inline, exact rerank inside the join stage, then the
  * pair aggregation over the already-threshold-filtered candidates. No
  * O(n²) stage anywhere. Hot buckets (projections near the mean) are the
  * skew risk at scale; they are salt-split above `maxBucketSize`
  * ([[Lsh.Split]]), bounding the worst candidate partition at
  * ~maxBucketSize² pairs. The registered configurations stay under the
  * default cap (NearDupLimitsSpec). Lazy: nothing runs at the call but
  * the one-row dimension probe, and a lost block is recomputed.
  */
object Rp {

  /** Seeded Gaussian hyperplanes. `java.util.Random`'s LCG and `nextGaussian`
    * algorithm are pinned by the JDK spec, so the planes — and every bucket
    * assignment downstream — are stable across JVMs and runs. */
  def hyperplanes(dim: Int, n: Int, seed: Long): Array[Array[Float]] = {
    val rnd = new Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
  }

  /** The embedding dimensionality, read from the first row (one tiny
    * limit-1 scan job — the plan needs the hyperplane literals before it
    * can be built, and the parquet schema only says `array<float>`, not the
    * length). None on empty input, which short-circuits to an empty result
    * instead of crashing on `head()`. */
  private def probeDim(embeddings: DataFrame): Option[Int] =
    embeddings.select(size(col("embedding"))).limit(1)
      .collect().headOption.map(_.getInt(0))

  // Band keys are emitted by ONE custom expression per row
  // (graft.functions.SignBandKeys / FloorBandKeys) producing the full
  // array<struct<t,k>> the candidate stage explodes. Two earlier
  // formulations both failed at the codegen layer: per-band literal dots
  // blew Janino's 64 KB method limit (240 inlined 64-float literals →
  // interpreted fallback), and a shared `__projs` matmul column got
  // inlined at EVERY element_at reference when the optimizer collapsed the
  // projection into the generator — 240 copies of the matmul, measured as
  // ~22 GFLOP for a 92 MFLOP signature stage (bench r9 stage metrics,
  // 12+ CPU-seconds on the 6 000-row planted fixture). The single-call
  // array form is immune to both: the planes ride as a referenced object,
  // and there is only one reference for the optimizer to inline.

  /** The keyed rows of [[Lsh.bucketPairs]]: (id, embedding, n, t, k), one
    * per element of `keys` (an array<struct<t,k>> per embedding), n = the
    * squared norm. */
  private[llm] def rows(embeddings: DataFrame, keys: Column): DataFrame =
    // spread BEFORE the signature projection: a single-split input would
    // otherwise compute every signature on one task (the exchange moves raw
    // rows; the key computation runs on its parallel output side)
    graft.operators.Parallelism.spread(embeddings)
      .select(col("vec_id").as("id"), col("embedding"),
        Similarity.dotFast(col("embedding"), col("embedding")).as("n"), explode(keys).as("tb"))
      .select(col("id"), col("embedding"), col("n"), col("tb.t").as("t"), col("tb.k").as("k"))

  /** Scores each candidate pair of `keys` as `name`, kept where `keep`
    * holds; empty when `keys` is None (empty input: no planes). */
  private def scored(embeddings: DataFrame, keys: Option[Column], maxBucketSize: Int,
      score: Column, name: String, keep: Column): DataFrame = keys match {
    case Some(k) =>
      Lsh.bucketPairs(rows(embeddings, k), Seq("t", "k"), Lsh.Split(maxBucketSize),
          Seq("embedding", "n"))
        .select(col("id_a"), col("id_b"), score.as(name)).filter(keep)
    case None => embeddings.select(col("vec_id").as("id_a"), col("vec_id").as("id_b"),
      lit(0.0).as(name)).where(lit(false))
  }

  /** [[l2NearPairs]]' band keys: per table, `projsPerTable` floored
    * projections. */
  private[llm] def l2Keys(embeddings: DataFrame, numTables: Int, projsPerTable: Int,
      bucketLength: Double, seed: Long): Option[Column] = {
    GraftFunctions.register(embeddings.sparkSession)
    probeDim(embeddings).map { dim =>
      val planes = hyperplanes(dim, numTables * projsPerTable, seed)
      call_function(GraftFunctions.FloorBandKeysName, col("embedding"),
        typedlit(planes), lit(numTables), lit(projsPerTable), lit(bucketLength))
    }
  }

  /** [[cosineNearPairs]]' band keys: per band, `bitsPerBand` sign bits. */
  private[llm] def cosineKeys(embeddings: DataFrame, bands: Int, bitsPerBand: Int,
      seed: Long): Option[Column] = {
    GraftFunctions.register(embeddings.sparkSession)
    probeDim(embeddings).map { dim =>
      val planes = hyperplanes(dim, bands * bitsPerBand, seed)
      call_function(GraftFunctions.SignBandKeysName, col("embedding"),
        typedlit(planes), lit(bands), lit(bitsPerBand))
    }
  }

  /** (table, bucket-key) candidate pairs + exact L2 rerank.
    *
    * Each table's bucket key AND-composes `projsPerTable` floor-projections
    * (selectivity ~ p^projs); tables OR-amplify recall (1−(1−p^projs)^T).
    * With unit-norm embeddings d² = 2(1−cos), so an L2 threshold is also a
    * cosine threshold in disguise.
    *
    * Output: (id_a, id_b, dist) with id_a < id_b, dist rounded to 4;
    * recall vs [[Similarity.exactL2Pairs]] is property-tested in RpSpec.
    */
  def l2NearPairs(
      embeddings: DataFrame,
      threshold: Double,
      numTables: Int = 8,
      projsPerTable: Int = 3,
      bucketLength: Double = 1.5,
      seed: Long = 42L,
      maxBucketSize: Int = Lsh.DefaultMaxBucketSize): DataFrame = {
    val d2 = col("n_a") -
      lit(2.0) * Similarity.dotFast(col("embedding_a"), col("embedding_b")) + col("n_b")
    scored(embeddings, l2Keys(embeddings, numTables, projsPerTable, bucketLength, seed),
      maxBucketSize, round(sqrt(greatest(d2, lit(0.0))), 4), "dist", col("dist") <= threshold)
  }

  /** Banded sign-random-projection (SimHash-over-embeddings) candidate pairs
    * + exact cosine rerank — the bucketed headline form of q44's brute-force
    * cosine near-dup.
    *
    * A pair with cosine c matches one sign bit with p = 1 − acos(c)/π, a band
    * of `bitsPerBand` bits with p^bits, and ≥1 of `bands` bands with
    * 1−(1−p^bits)^bands. At a real near-dup threshold (c ≥ 0.85 ⇒ p ≈ 0.82)
    * a few 8-bit bands prune almost everything; at the oracle fixture's
    * deliberately loose c ≥ 0.3 (chosen in q44 so the result set is non-empty
    * on isotropic random vectors) no LSH can prune much — that is
    * information-theoretic, not an implementation artifact — so the fixture
    * property checked in SimilaritySpec is RECALL vs the exact pair set
    * (defaults measure 911/921 ≈ 0.989 at sf0.001).
    *
    * Output: (id_a, id_b, cos_sim) rounded to 4, filtered on the ROUNDED
    * value — the same contract as q44 so recall is measured apples-to-apples.
    */
  def cosineNearPairs(
      embeddings: DataFrame,
      minCosine: Double,
      bands: Int = 28,
      bitsPerBand: Int = 4,
      seed: Long = 42L,
      maxBucketSize: Int = Lsh.DefaultMaxBucketSize): DataFrame = {
    val sim = Similarity.dotFast(col("embedding_a"), col("embedding_b")) /
      sqrt(col("n_a") * col("n_b"))
    scored(embeddings, cosineKeys(embeddings, bands, bitsPerBand, seed), maxBucketSize,
      round(sim, 4), "cos_sim", col("cos_sim") >= minCosine)
  }
}
