package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The near-dup pair kernel's per-key bounds ([[Lsh.Drop]],
  * [[Lsh.Split]]) as declared limits: on the registered fixtures at sf0.01
  * and sf0.1, the largest key each cap guards — measured on the generator's
  * own keyed rows over the whole corpus, a superset of every registered
  * slice — stays under the cap, so every registered result is that of the
  * uncapped join. A fixture regeneration that breaks a margin fails here
  * instead of silently changing results.
  */
class NearDupLimitsSpec extends SparkSpec {

  private def maxOccupancy(rows: DataFrame, keys: String*): Long =
    rows.groupBy(keys.map(col): _*).count().agg(max("count")).head().getLong(0)

  for (sf <- Seq("sf0.01", "sf0.1")) {
    val dir = s"/root/testdata/$sf"

    test(s"$sf: every generator's largest key stays under its cap") {
      val docs = Tables(spark, dir, "documents")
      val emb = Tables(spark, dir, "embeddings")
      val scrubbed = docs.withColumn("text", TextAnalysis.redactPii(col("text")))
      val planted = graft.ScaleStress.replicateEmbeddings(
          graft.ScaleStress.replicateEmbeddings(emb, r = 2, eps = 8.0)
            .select("vec_id", "embedding"), r = 4, eps = 0.12)
        .select("vec_id", "embedding")
      val split = Lsh.DefaultMaxBucketSize.toLong
      // (what, measured max, cap) at each registered query's configuration;
      // the Drop caps are the generators' defaults
      val limits = Seq(
        ("shingle doc-frequency (q33/q62/q82/q194)",
          maxOccupancy(Dedup.ngramRows(docs), "shingle"), 100L),
        ("winnow hash doc-frequency (q86)",
          maxOccupancy(Dedup.winnowRows(docs), "h"), 100L),
        ("minhash bucket (q31)", maxOccupancy(MinHash.rows(docs, 5, 42L), "t", "k"), split),
        ("minhash bucket, PII-scrubbed (q43/q76)",
          maxOccupancy(MinHash.rows(scrubbed, 5, 42L), "t", "k"), split),
        ("simhash band (q64)", maxOccupancy(Dedup.simhashRows(docs, 4), "t", "k"), split),
        ("rp floor bucket (q35)",
          maxOccupancy(Rp.rows(emb, Rp.l2Keys(emb, 8, 3, 1.5, 42L).get), "t", "k"), split),
        ("rp floor bucket (q35a)", maxOccupancy(
          Rp.rows(emb, Rp.l2Keys(emb, 4, 3, 1.5, 42L).get), "t", "k"), split),
        ("rp sign band (q47)",
          maxOccupancy(Rp.rows(emb, Rp.cosineKeys(emb, 28, 4, 42L).get), "t", "k"), split),
        ("rp sign band (q47a)", maxOccupancy(
          Rp.rows(emb, Rp.cosineKeys(emb, 4, 4, 42L).get), "t", "k"), split),
        ("rp sign band (q60)", maxOccupancy(Rp.rows(planted,
          Rp.cosineKeys(planted, 20, 12, 42L).get), "t", "k"), split),
        ("image dhash band (q133)", maxOccupancy(ImageHash.rows(
          ImageHash.dHash(LlmQueries.dhashFixture(spark, dir)).toDF()), "t", "k"), split),
        ("audio hash band (q136)", maxOccupancy(AudioHash.rows(
          AudioHash.aHash(LlmQueries.ahashFixture(spark, dir)).toDF()), "t", "k"), split))
      for ((what, measured, cap) <- limits) {
        info(s"$what: $measured (cap $cap)")
        assert(measured <= cap, s"$what: largest key holds $measured rows, cap $cap")
      }
    }
  }
}
