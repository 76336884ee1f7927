package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec, Tables}

/** The near-dup pair kernel ([[Lsh.bucketPairs]]) is lazy and
  * checkpoint-free: every generator's pairs, and the components over q62's
  * pair set, are recomputed after every block the call left persisted is
  * lost (the [[graft.operators.VertexRounds]] contract), and a generator
  * leaves nothing persisted at all. */
class NearDupLineageSpec extends SparkSpec {

  import spark.implicits._

  private lazy val docs = Tables(spark, sf0001, "documents")
  private lazy val emb = Tables(spark, sf0001, "embeddings")

  // planted hamming-0/1 groups of three, so both hash joins emit pairs
  private def dhash = (0L until 30L)
    .map(i => (i, true, 9, 8, (i / 3) * 977L, (i / 3) * 131L ^ (i % 3 / 2)))
    .toDF("doc_id", "valid", "width", "height", "dhash_hi", "dhash_lo")
  private def ahash = (0L until 30L)
    .map(i => (i, true, 64, (i / 3) * 7919L ^ (i % 3 / 2)))
    .toDF("doc_id", "valid", "n_samples", "ahash")

  /** (call, whether it may leave state persisted, the call) */
  private def calls: Seq[(String, Boolean, () => DataFrame)] = Seq(
    ("Dedup.ngramJaccardPairs", false, () => Dedup.ngramJaccardPairs(docs, 0.2)),
    ("Dedup.winnowPairs", false, () => Dedup.winnowPairs(docs)),
    ("Dedup.simhashPairs", false, () => Dedup.simhashPairs(docs)),
    ("MinHash.pairs", false, () => MinHash.pairs(docs)),
    ("Rp.l2NearPairs", false, () => Rp.l2NearPairs(emb, 1.3)),
    ("Rp.cosineNearPairs", false, () => Rp.cosineNearPairs(emb, 0.3)),
    ("ImageHash.nearDupPairs", false, () => ImageHash.nearDupPairs(dhash)),
    ("AudioHash.nearDupPairs", false, () => AudioHash.nearDupPairs(ahash)),
    // its superstep persists rounds with lineage
    ("Components.connected over q62's pairs", true,
      () => SparkEntry.queries("q62_connected_dups")(spark, sf0001)))

  test("the same rows come back after every block the call persisted is lost") {
    val sc = spark.sparkContext
    for ((op, persists, run) <- calls) {
      val expected = run().collect().toSet
      assert(expected.nonEmpty, s"$op emitted nothing: the check would be vacuous")
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      val left = sc.getPersistentRDDs -- before
      assert(persists || left.isEmpty, s"$op left ${left.size} RDDs persisted")
      left.values.foreach(_.unpersist(blocking = true))
      assert(out.collect().toSet == expected, op)
    }
  }
}
