package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (B33).
  *
  * Two tiers, per the scale playbook:
  *  - [[cosineTopK]]: exact brute force — broadcast the (small) query set
  *    against the corpus, so the corpus never shuffles; the scan + score +
  *    per-query top-k is one pass. Right answer when |queries| is small, at
  *    any corpus size.
  *  - [[Rp]]: seeded random-hyperplane LSH — the scale path when both
  *    sides are large: candidates meet in hash buckets instead of a full
  *    cross join.
  *
  * Vector math is pure `Column` higher-order functions (zip_with/aggregate):
  * no UDF boxing, and floats are widened to double *before* multiply so the
  * result is bit-identical to the DuckDB oracle's double arithmetic.
  */
object Similarity {

  /** Sequential-fold dot product in double precision (semantic reference;
    * [[graft.functions.VectorDot]] is the codegen'd hot-path twin). */
  def dot(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => x.cast("double") * y.cast("double")),
      lit(0.0), (acc, p) => acc + p)

  /** Codegen'd dot product — bit-identical to [[dot]], compiled to a
    * primitive loop. Requires [[graft.functions.GraftFunctions.register]]
    * on the session (callers below do it defensively). */
  def dotFast(a: Column, b: Column): Column =
    call_function(graft.functions.GraftFunctions.VectorDotName, a, b)

  def sqNorm(a: Column): Column = dot(a, a)

  def cosine(a: Column, b: Column): Column =
    dot(a, b) / sqrt(sqNorm(a) * sqNorm(b))

  def cosineFast(a: Column, b: Column): Column =
    dotFast(a, b) / sqrt(dotFast(a, a) * dotFast(b, b))

  /** Exact top-k cosine neighbors for each query row.
    *
    * @param corpus  (id, embedding) — arbitrarily large
    * @param queries (id, embedding) — small; broadcast
    */
  def cosineTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // precompute each side's norm once (N + Q dot products) instead of per
    // pair (3·N·Q): at 4M pairs that removes ~2/3 of the dot-product work
    val q = broadcast(queries
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
        dotFast(col("embedding"), col("embedding")).as("q_n")))
    val c = corpus.select(col("vec_id"), col("embedding"),
      dotFast(col("embedding"), col("embedding")).as("c_n"))
    val scored = c
      .join(q, col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id"),
        round(dotFast(col("q_emb"), col("embedding")) / sqrt(col("q_n") * col("c_n")), 4)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** Embedding-cosine near-duplicate pairs: exact brute force over the
    * pair space (norms precomputed once per side; codegen dot per pair).
    * The dedup-by-embedding variant of [[Dedup]]'s text family — at corpus
    * scale, run it per LSH/IVF candidate bucket instead of globally. */
  def cosineNearDupPairs(embeddings: DataFrame, minCosine: Double): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    // The inequality join plans as a broadcast nested loop, whose
    // parallelism is the STREAMED side's partition count — and a small
    // fixture parquet arrives as one file split, so without an explicit
    // spread the whole O(n²) pair scan runs in a handful of tasks (bench
    // r9 metrics: 5 tasks, cpu ≈ wall ≈ 50 s on a 32-core machine, i.e.
    // effectively serial). graft.operators.Parallelism.spread fans the
    // streamed side across the session's shuffle parallelism; AQE does not
    // re-coalesce an explicit numPartitions repartition.
    val a = graft.operators.Parallelism.spread(embeddings)
      .select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        dotFast(col("embedding"), col("embedding")).as("n_a"))
    val b = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      dotFast(col("embedding"), col("embedding")).as("n_b"))
    val sim = dotFast(col("emb_a"), col("emb_b")) / sqrt(col("n_a") * col("n_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), round(sim, 4).as("cos_sim"))
      .filter(col("cos_sim") >= minCosine)
  }

  /** Int8 scalar quantization of the embedding column: per-vector scale =
    * max|xᵢ|/127, elements rounded to [-127, 127] tinyints. The 100 TB
    * story is footprint, not math: a 768-dim float index is 3 KB/vector;
    * quantized it is 772 B — 4× less disk, page cache, broadcast and
    * shuffle volume, which is usually the difference between an ANN index
    * that fits executor memory and one that spills. Pure Column, so
    * quantization fuses into the scan that builds the index.
    *
    * Output: (vec_id, q_scale float, q_emb array<tinyint>). Zero vectors
    * keep scale 1 (no 0/0), dequantizing to exact zeros. */
  // TextAnalysis.bound: evaluate once per row, expose as a lambda variable.
  // Interpreted HOF lambdas have no common-subexpression elimination, so an
  // outer expression referenced inside a per-element lambda re-evaluates per
  // ELEMENT — the first quantize build ran array_max 64× per row, 7× the
  // whole float top-k.
  private def bound(expr: Column)(body: Column => Column): Column =
    TextAnalysis.bound(expr)(body)

  def quantize(embeddings: DataFrame): DataFrame =
    embeddings
      .select(
        col("vec_id"),
        bound(array_max(transform(col("embedding"), x => abs(x))) / lit(127.0f)) { m =>
          bound(when(m > 0, m).otherwise(lit(1.0f))) { s =>
            struct(
              s.cast("float").as("scale"),
              transform(col("embedding"), x => round(x / s).cast("tinyint")).as("q"))
          }
        }.as("qs"))
      .select(
        col("vec_id"),
        col("qs.scale").as("q_scale"),
        col("qs.q").as("q_emb"))

  /** Dequantized float view of a [[quantize]]d vector (lossy inverse:
    * element error ≤ scale/2). */
  def dequantize(qEmb: Column, qScale: Column): Column =
    transform(qEmb, v => v.cast("float") * qScale)

  /** Exact-over-quantized top-k cosine: [[cosineTopK]]'s shape (broadcast
    * query side, codegen dot, window top-k) over int8-quantized vectors.
    * Cosine is scale-invariant, so the per-vector scale cancels and the
    * score works directly on the integer grids — the only approximation is
    * the rounding itself (recall vs the float path is property-tested in
    * SimilaritySpec). This is the memory-bound deployment's trade: 4× more
    * index per executor for a sub-1% score perturbation. */
  def cosineTopKQuantized(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // Materialize the quantized index ONCE (eager lineage-free checkpoint,
    // same lifecycle as Ivf): without the barrier Catalyst collapses the
    // quantize chain into the join's projection and re-runs the three-pass
    // HOF quantization per PAIR. The stored rows stay int8 (+ one norm
    // double), and vector_dot reads the tinyints DIRECTLY — a cast to
    // array<float> per pair allocated two fresh 64-element arrays per
    // evaluation and measured 7× slower than the float path at 640k pairs.
    val c = quantize(corpus)
      .withColumn("c_n", dotFast(col("q_emb"), col("q_emb")))
      .select(col("vec_id"), col("q_emb").as("c_emb"), col("c_n"))
      .localCheckpoint(true)
    val q = broadcast(quantize(queries)
      .withColumn("q_n", dotFast(col("q_emb"), col("q_emb")))
      .select(col("vec_id").as("q_id"), col("q_emb").as("qq_emb"), col("q_n")))
    val scored = c
      .join(q, col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id"),
        round(dotFast(col("qq_emb"), col("c_emb"))
            / sqrt(col("q_n") * col("c_n")), 4)
          .as("sim"))
    val w = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    scored
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk"), col("vec_id"), col("sim"))
  }

  /** Exact L2 pairs within threshold (brute force; recall baseline for
    * [[Rp.l2NearPairs]] in tests, and the O(n²) fallback when the corpus is
    * small enough). d² = ⟨a,a⟩ − 2⟨a,b⟩ + ⟨b,b⟩ through the codegen'd dot —
    * 18× faster than the per-element lambda fold at 4M pairs. */
  def exactL2Pairs(embeddings: DataFrame, threshold: Double): DataFrame = {
    graft.functions.GraftFunctions.register(embeddings.sparkSession)
    val a = embeddings.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"))
    val b = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"))
    val d2 = dotFast(col("emb_a"), col("emb_a")) -
      lit(2.0) * dotFast(col("emb_a"), col("emb_b")) +
      dotFast(col("emb_b"), col("emb_b"))
    a.join(b, col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), sqrt(greatest(d2, lit(0.0))).as("dist"))
      .filter(col("dist") <= threshold)
  }
}
