package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The kernel's per-key candidate bound ([[Lsh.bucketPairs]] under
  * [[Lsh.Split]]): the per-key join group must stay bounded under
  * pathological bucket skew, cold buckets must be untouched, and the
  * registered LSH engines must keep their recall contracts with the bound
  * active.
  */
class LshSpec extends SparkSpec {

  import spark.implicits._

  test("salting bounds the largest join group under a planted hot bucket") {
    // one bucket of 500 ids + a scatter of cold singleton buckets
    val sig = ((0 until 500).map(i => (0, 7L, i.toLong)) ++
      (0 until 40).map(i => (1, 100L + i, 1000L + i)))
      .toDF("t", "k", "id")
    val (salted, joinKeys) = Lsh.bounded(sig, Seq("t", "k"), Lsh.Split(20))
    val groups = salted.groupBy(joinKeys.map(col): _*).count()
    val maxGroup = groups.agg(max("count")).head().getLong(0)
    // 500/20 = 25 hash-salt groups; multinomial imbalance allows some slack
    // over the 20-row target, but nothing within 5x of the unsalted 500
    assert(maxGroup <= 2 * 20, s"largest salted group $maxGroup")
    // worst candidate partition: maxGroup^2 pairs, vs 500^2 unsalted
    assert(salted.filter(col("t") === 0).select("salt").distinct().count() >= 20)
    // the pair set is exactly the within-group pairs
    val pairs = Lsh.bucketPairs(sig, Seq("t", "k"), Lsh.Split(20)).count()
    val within = groups.agg(sum(col("count") * (col("count") - 1) / 2)).head().getDouble(0)
    assert(pairs == within.toLong)
  }

  test("cold buckets keep salt 0 and their pair sets are untouched") {
    val sig = ((0 until 500).map(i => (0, 7L, i.toLong)) ++
      (0 until 40).map(i => (1, 100L + (i % 10), 1000L + i)))
      .toDF("t", "k", "id")
    val (salted, _) = Lsh.bounded(sig, Seq("t", "k"), Lsh.Split(20))
    assert(salted.filter(col("t") === 1 && col("salt") =!= 0).count() == 0)
    // no cap exceeded at all -> identical relation plus the zero salt column
    val cold = sig.filter(col("t") === 1)
    val (allCold, _) = Lsh.bounded(cold, Seq("t", "k"), Lsh.Split(20))
    assert(allCold.filter(col("salt") =!= 0).count() == 0)
    assert(allCold.drop("salt", "__n").exceptAll(cold).count() == 0)
    // ... and the same pairs as the uncapped join
    val capped = Lsh.bucketPairs(cold, Seq("t", "k"), Lsh.Split(20))
    val uncapped = Lsh.bucketPairs(cold, Seq("t", "k"), Lsh.Split(Int.MaxValue))
    assert(capped.count() == 10 * 6) // ten buckets of four ids, C(4,2) each
    assert(capped.exceptAll(uncapped).count() == 0 && uncapped.exceptAll(capped).count() == 0)
  }

  test("salting is deterministic and per-table independent") {
    val sig = (0 until 300).flatMap(i => Seq((0, 1L, i.toLong), (1, 1L, i.toLong)))
      .toDF("t", "k", "id")
    def salted = Lsh.bounded(sig, Seq("t", "k"), Lsh.Split(50))._1
    val s1 = salted.orderBy("t", "id")
    val s2 = salted.orderBy("t", "id")
    assert(s1.exceptAll(s2).count() == 0 && s2.exceptAll(s1).count() == 0)
    // the same id draws different salts in different tables (independent
    // splits are what preserve OR-amplified recall for hot pairs)
    val byTable = salted.groupBy("id").agg(countDistinct("salt").as("ns"))
    assert(byTable.filter(col("ns") > 1).count() > 0)
  }

  test("Rp end-to-end: a planted duplicate family stays bounded, recall elsewhere intact") {
    val emb = Tables(spark, sf0001, "embeddings")
    // plant 300 copies of one embedding: every band-bucket it hashes to
    // holds >=300 ids — the boilerplate skew bomb in miniature
    val bomb = emb.filter(col("vec_id") === 0)
      .crossJoin(spark.range(300).select((col("id") + 100000).as("dup_id")))
      .select(col("dup_id").as("vec_id"), col("embedding"))
    val planted = emb.select("vec_id", "embedding").unionByName(bomb)

    // cap 60: above the base corpus's mean band-bucket occupancy
    // (800/16 = 50), so only the bomb's buckets (~350 members) go hot —
    // capping below the MEAN occupancy salts everything and erodes cold-pair
    // recall too (measured 7% at cap 30), which is mis-tuning, not defense
    val capped = Rp.cosineNearPairs(planted, minCosine = 0.3, maxBucketSize = 60)
    val bombPairs = capped.filter(col("id_a") >= 100000 && col("id_b") >= 100000)
    val nBomb = bombPairs.count()
    // the family's 300*299/2 = 44850 pairs are TRUE positives — output volume
    // stays quadratic by correctness; what the salt bounds is the per-task
    // candidate group (unit test above). Recall through the split is
    // 1-(1-1/s)^T with s=ceil(~350/60)=6 over T=28 bands ≈ 0.994 — the
    // per-table-independent salts are what keep OR-amplification alive
    assert(nBomb > (0.9 * 44850).toLong && nBomb <= 44850, s"bomb pairs $nBomb")

    // pairs not involving the planted family must match the uncapped engine
    // exactly (their buckets stay under the cap in the original corpus)
    val base = Rp.cosineNearPairs(emb, minCosine = 0.3)
    val cappedBase = capped.filter(col("id_a") < 100000 && col("id_b") < 100000)
    val missed = base.exceptAll(cappedBase).count()
    // the planted rows can push a previously-cold shared bucket over the cap,
    // so allow a small erosion, not silence
    assert(missed <= 0.05 * base.count() + 1, s"missed $missed of ${base.count()}")
  }

  test("MinHash end-to-end: planted identical docs stay bounded") {
    val docs = Tables(spark, sf0001, "documents")
    val bomb = docs.filter(col("doc_id") === 0)
      .crossJoin(spark.range(200).select((col("id") + 100000).as("dup_id")))
      .select(col("dup_id").as("doc_id"), col("text"))
    val planted = docs.select("doc_id", "text").unionByName(bomb)
    val capped = MinHash.pairs(planted, maxJaccardDist = 0.6, maxBucketSize = 25)
    val nBomb = capped.filter(col("id_a") >= 100000 && col("id_b") >= 100000).count()
    // identical docs share one bucket per table; s=ceil(200/25)=8 salt
    // groups, T=5 tables -> expected hot-pair recall 1-(1-1/8)^5 ≈ 0.49 of
    // the 19900 family pairs. The band is wide because the split is a
    // multinomial draw; what must hold is partial-but-alive recall with
    // bounded group sizes (identical CONTENT belongs to exact dedup anyway,
    // which runs before near-dup in CorpusPrep)
    assert(nBomb > (0.25 * 19900).toLong && nBomb < (0.75 * 19900).toLong,
      s"bomb pairs $nBomb")
  }

  test("q60 planted config: recall >= 0.95 vs the q61 brute twin, no false positives") {
    // the registered q60/q61 pair at sf0.001 scale: 500 bases x 4 seeded
    // replicas, intra-cluster cos ≈ 0.99, threshold 0.85 with 20x12 bands
    val planted = graft.ScaleStress.replicateEmbeddings(
      Tables(spark, sf0001, "embeddings"), r = 4, eps = 0.12)
      .select("vec_id", "embedding").cache()
    val brute = Similarity.cosineNearDupPairs(planted, minCosine = 0.85).cache()
    val n = brute.count()
    assert(n >= 500 * 6, s"planted fixture must contain its clusters, got $n")
    val got = Rp.cosineNearPairs(planted, minCosine = 0.85,
      bands = 20, bitsPerBand = 12)
    val found = brute.select("id_a", "id_b")
      .intersect(got.select("id_a", "id_b")).count()
    assert(found.toDouble / n >= 0.95, s"recall ${found.toDouble / n} ($found/$n)")
    // exact rerank: every emitted pair + score must exist in the brute set
    assert(got.exceptAll(brute).count() == 0)
    planted.unpersist(); brute.unpersist()
  }

  test("registered configs are unchanged by the default cap (fixture margin)") {
    val emb = Tables(spark, sf0001, "embeddings")
    val deflt = Rp.cosineNearPairs(emb, minCosine = 0.3)
    val unsalted = Rp.cosineNearPairs(emb, minCosine = 0.3, maxBucketSize = Int.MaxValue)
    assert(deflt.exceptAll(unsalted).count() == 0)
    assert(unsalted.exceptAll(deflt).count() == 0)
  }
}
