package graft.llm

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** The contract of the one beam loop every KnnGraph search runs: its
  * jobs are labelled per round, the in-memory searches return a result
  * that needs none of the blocks they persisted (and leave none behind),
  * and the entry-cell bound is a raised contract, not a silent cap. */
class KnnBeamLoopSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
  private lazy val cs = emb.filter(col("vec_id") < 12).orderBy("vec_id")
    .select("embedding").collect().map(_.getSeq[Float](0).toArray)
  private lazy val edges =
    KnnGraph.build(emb, cs, degree = 12, nProbe = 3).localCheckpoint(true)
  private lazy val entries = KnnGraph.entryPoints(emb, cs)
  private def queries = emb.filter(col("vec_id") < 3)
  private val indexes = Seq("knn_loop_idx", "knn_loop_pq", "knn_loop_cap",
    "knn_loop_cap_pq")

  private def saveFloat(name: String): Unit =
    KnnGraph.saveIndex(edges, emb, cs, name, buckets = 4)
  private def savePq(name: String): Unit =
    KnnGraph.saveIndexPq(edges, emb, cs, m = 8, dimsPer = 8, nCodebook = 8,
      cbStart = 12, name, buckets = 4)

  override protected def afterAll(): Unit = {
    for (n <- indexes; t <- Seq("nodes", "entries", "cb"))
      spark.sql(s"DROP TABLE IF EXISTS ${n}_$t")
    super.afterAll()
  }

  test("every job of beam round r is labelled KnnGraph.<op> round <r>") {
    saveFloat("knn_loop_idx")
    savePq("knn_loop_pq")
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "search" -> (() => KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 8, rounds = 2)),
      "searchIndexed" -> (() => KnnGraph.searchIndexed(spark, "knn_loop_idx",
        queries, topK = 3, beam = 8, rounds = 2)),
      "searchIndexedPq" -> (() => KnnGraph.searchIndexedPq(spark,
        "knn_loop_pq", queries, topK = 3, beam = 8, rounds = 2, rerank = 6)))
    val sc = spark.sparkContext
    val descriptions = mutable.Buffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = descriptions.synchronized {
        descriptions += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
    }
    sc.addSparkListener(listener)
    try {
      for ((op, run) <- runs) {
        GraftListenerBus.flush(sc)
        descriptions.synchronized(descriptions.clear())
        sc.setJobDescription("caller")
        try {
          run()
          assert(sc.getLocalProperty("spark.job.description") == "caller",
            s"$op did not restore the caller's job description")
        } finally sc.setJobDescription(null)
        GraftListenerBus.flush(sc)
        // neither frontier drains in 2 rounds on this fixture, so every
        // round runs; the PQ rerank tail carries its own label
        val want = (0 to 2).map(r => s"KnnGraph.$op round $r") ++
          (if (op == "searchIndexedPq") Seq(s"KnnGraph.$op rerank") else Nil)
        assert(descriptions.synchronized(descriptions.toList).distinct == want)
      }
    } finally sc.removeSparkListener(listener)
  }

  test("in-memory search survives the loss of every block it persisted and leaks none") {
    val sc = spark.sparkContext
    val pred = pmod(col("vec_id"), lit(3L)) === 0
    val runs: Seq[(String, () => DataFrame)] = Seq(
      "search" -> (() => KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 8, rounds = 2)),
      "searchFiltered" -> (() => KnnGraph.searchFiltered(edges, emb, queries,
        entries, pred, topK = 3, beam = 8, rounds = 2)))
    for ((op, run) <- runs) {
      val expected = run().collect().toSet
      assert(expected.size == 9, op)
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      val persisted = sc.getPersistentRDDs -- before
      persisted.values.foreach(_.unpersist(blocking = true))
      assert(out.collect().toSet == expected, op)
      assert(persisted.isEmpty, s"$op left ${persisted.size} RDDs persisted")
    }
  }

  test("an entry table of IdCap + 1 cells raises the bounded-collect contract before any probe") {
    saveFloat("knn_loop_cap")
    savePq("knn_loop_cap_pq")
    for (name <- Seq("knn_loop_cap", "knn_loop_cap_pq")) {
      spark.range(65537L).select(col("id").as("node"))
        .write.mode("overwrite").format("parquet").saveAsTable(s"${name}_entries")
    }
    var probes = 0
    val onProbe: Seq[Long] => Unit = _ => probes += 1
    val raised = Seq(
      intercept[IllegalArgumentException](KnnGraph.searchIndexed(spark,
        "knn_loop_cap", queries, topK = 3, beam = 8, rounds = 2, onProbe = onProbe)),
      intercept[IllegalArgumentException](KnnGraph.searchIndexedPq(spark,
        "knn_loop_cap_pq", queries, topK = 3, beam = 8, rounds = 2, rerank = 6,
        onProbe = onProbe)))
    for (e <- raised) {
      assert(e.getMessage.contains("entry id set exceeds the 65536 bounded-collect contract"),
        e.getMessage)
    }
    assert(probes == 0)
  }
}
