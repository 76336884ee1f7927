package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")

  test("cosine top-k: sims within [-1,1], no self-matches, k per query") {
    val res = Similarity.cosineTopK(emb, emb.filter(col("vec_id") < 3), k = 5).collect()
    assert(res.length == 15)
    assert(res.forall(r => r.getDouble(3) >= -1.0001 && r.getDouble(3) <= 1.0001))
    assert(res.forall(r => r.getLong(0) != r.getLong(2)))
    // ranks descend in similarity per query
    res.groupBy(_.getLong(0)).values.foreach { g =>
      val byRank = g.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(byRank.sameElements(byRank.sorted(Ordering[Double].reverse)))
    }
  }

  test("cosine near-dup pairs: each-direction-once, threshold exact, values match topk scoring") {
    val pairs = Similarity.cosineNearDupPairs(emb, minCosine = 0.2).collect()
    assert(pairs.nonEmpty)
    // strictly ordered ids — no symmetric duplicates, no self-pairs
    assert(pairs.forall(r => r.getLong(0) < r.getLong(1)))
    assert(pairs.forall(_.getDouble(2) >= 0.2))
    // cross-check one pair's similarity against the independent HOF scoring
    val r = pairs.head
    def vec(id: Long): Seq[Double] =
      emb.filter(col("vec_id") === id).head().getSeq[Float](1).map(_.toDouble)
    val a = vec(r.getLong(0))
    val b = vec(r.getLong(1))
    val cos = a.zip(b).map { case (x, y) => x * y }.sum /
      math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
    assert(math.abs(BigDecimal(cos).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble -
      r.getDouble(2)) <= 1e-9)
  }

  test("int8 quantization: bounded element error, zero vectors safe, 4x narrower") {
    val q = Similarity.quantize(emb)
    // schema: tinyint elements (1 byte vs 4) + one float scale
    assert(q.schema("q_emb").dataType.simpleString == "array<tinyint>")
    val row = q.join(emb, "vec_id").select("q_emb", "q_scale", "embedding").head()
    val ints = row.getSeq[Byte](0)
    val scale = row.getFloat(1)
    val orig = row.getSeq[Float](2)
    assert(ints.forall(v => v >= -127 && v <= 127))
    // dequantization error bounded by scale/2 per element
    orig.zip(ints).foreach { case (x, v) =>
      assert(math.abs(x - v * scale) <= scale / 2 + 1e-6f, s"$x vs ${v * scale}")
    }
    // the Column-side dequantize agrees with the row-side arithmetic above
    val deq = Similarity.quantize(emb)
      .select(col("vec_id"),
        Similarity.dequantize(col("q_emb"), col("q_scale")).as("deq"))
      .join(emb, "vec_id")
      .select(Similarity.dot(col("deq"), col("embedding")).as("d"),
        Similarity.dot(col("embedding"), col("embedding")).as("n"))
      .head()
    assert(math.abs(deq.getDouble(0) - deq.getDouble(1)) <= 0.01 * deq.getDouble(1),
      "dequantized vector must reconstruct the original within 1%")
    // all-zero vector: scale defaults to 1, elements to 0
    import spark.implicits._
    val z = Similarity.quantize(
      Seq((99L, Array(0f, 0f, 0f))).toDF("vec_id", "embedding")).head()
    assert(z.getFloat(1) == 1.0f && z.getSeq[Byte](2).forall(_ == 0))
  }

  test("quantized top-k recalls >= 90% of the float top-k") {
    val queries = emb.filter(col("vec_id") < 3)
    def neighbors(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = neighbors(Similarity.cosineTopK(emb, queries, k = 10))
    val quant = neighbors(Similarity.cosineTopKQuantized(emb, queries, k = 10))
    val recall = exact.intersect(quant).size.toDouble / exact.size
    assert(recall >= 0.9, s"quantized recall $recall")
  }
}
