package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Properties for the pure-Column random-projection LSH (q35/q47 engine).
  *
  * The candidate sets are seeded-model-dependent (no DuckDB oracle), so the
  * contract is: recall vs the exact brute-force pair sets, score exactness
  * on the pairs it does emit, and determinism under a fixed seed.
  */
class RpSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")

  test("cosine near-dup recall >= 0.95 vs exact pairs at the q44 threshold") {
    val exact = Similarity.cosineNearDupPairs(emb, minCosine = 0.3)
      .select("id_a", "id_b")
    val n = exact.count()
    assert(n > 0)
    val got = Rp.cosineNearPairs(emb, minCosine = 0.3).select("id_a", "id_b")
    val found = exact.intersect(got).count()
    assert(found.toDouble / n >= 0.95, s"recall ${found.toDouble / n} ($found/$n)")
  }

  test("cosine near-dup emits no false positives and exact scores") {
    // every emitted pair must appear in the exact set with the same rounded
    // similarity: the rerank is exact, only the candidate set is approximate
    val exact = Similarity.cosineNearDupPairs(emb, minCosine = 0.3)
    val got = Rp.cosineNearPairs(emb, minCosine = 0.3)
    assert(got.count() > 0)
    assert(got.exceptAll(exact).count() == 0,
      "bucketed path emitted a pair/score absent from the exact set")
  }

  test("L2 recall >= 0.9 vs exact pairs with recall-tier parameters") {
    val threshold = 1.3
    val exact = Similarity.exactL2Pairs(emb, threshold).select("id_a", "id_b")
    val n = exact.count()
    assert(n > 0)
    // wider-net config than the q35 default: 2 projections per table keeps
    // per-table collision probability high enough at d≈threshold; 16 tables
    // OR-amplify to ≈0.96 measured recall
    val got = Rp.l2NearPairs(emb, threshold,
      numTables = 16, projsPerTable = 2, bucketLength = 1.5)
      .select("id_a", "id_b")
    val found = exact.intersect(got).count()
    assert(found.toDouble / n >= 0.9, s"recall ${found.toDouble / n} ($found/$n)")
  }

  test("L2 pairs carry exact distances and respect the threshold + ordering") {
    val got = Rp.l2NearPairs(emb, 1.3, numTables = 16, projsPerTable = 2,
      bucketLength = 1.5)
    // Rp filters on the ROUNDED distance; build the exact reference with the
    // same contract (over-fetch past the boundary, then cut on the rounded
    // value) so a pair at d=1.30004 doesn't read as a false positive
    val exact = Similarity.exactL2Pairs(emb, 1.31)
      .select(col("id_a"), col("id_b"), round(col("dist"), 4).as("dist"))
      .filter(col("dist") <= 1.3)
    assert(got.exceptAll(exact).count() == 0,
      "bucketed path emitted a pair/distance absent from the exact set")
    assert(got.filter(col("id_a") >= col("id_b")).count() == 0)
  }

  test("fixed seed is deterministic; changing the seed moves the candidate set") {
    val a = Rp.cosineNearPairs(emb, 0.3, seed = 7L)
    val b = Rp.cosineNearPairs(emb, 0.3, seed = 7L)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    val c = Rp.cosineNearPairs(emb, 0.3, seed = 8L)
    // same recall contract, but the missed ~1% differs with the planes
    assert(c.count() > 0)
  }

  test("empty input yields an empty pair set, not a crash") {
    val none = emb.filter(col("vec_id") < 0)
    assert(Rp.cosineNearPairs(none, 0.3).count() == 0)
    assert(Rp.l2NearPairs(none, 1.0).count() == 0)
  }

  test("q35 registered configuration yields candidates at the driver's verify SF") {
    // the driver runs Verify at sf0.01, where exactly one pair sits inside
    // threshold 1.0 (cos >= 0.5) — the registered default params must find it
    val sf001 = Tables(spark, "/root/testdata/sf0.01", "embeddings")
    val got = Rp.l2NearPairs(sf001, threshold = 1.0)
    assert(got.count() >= 1)
  }
}
