package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class IvfSpec extends SparkSpec {

  // nProbe is 3/4 of k here: the fixture embeddings are *uniform random*
  // unit vectors — the no-cluster-structure worst case for IVF. Real
  // embedding corpora cluster, buying the same recall at far lower probe
  // fractions; the contract being pinned is probe-correctness, not the
  // uniform-data recall curve.
  test("IVF search recalls >= 90% of exact top-5 with nProbe=9 of k=12") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, queries, k = 5)
      .select("q_id", "vec_id")
    val model = Ivf.fit(emb, k = 12, seed = 42L)
    val approx = Ivf.search(model, queries, topK = 5, nProbe = 9)
      .select("q_id", "vec_id")
    val n = exact.count()
    val found = exact.intersect(approx).count()
    assert(n == 50)
    assert(found.toDouble / n >= 0.9, s"IVF recall ${found.toDouble / n} ($found/$n)")
  }

  test("full probe (nProbe = k) equals exact brute force") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, k = 3)
      .select("q_id", "rk", "vec_id", "sim").collect().toSet
    val model = Ivf.fit(emb, k = 8, seed = 42L)
    val full = Ivf.search(model, queries, topK = 3, nProbe = 8)
      .collect().toSet
    assert(full == exact)
  }

  test("columnar k-means IVF matches the MLlib-fit recall bar and is deterministic") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 10)
    val exact = Similarity.cosineTopK(emb, queries, k = 5)
      .select("q_id", "vec_id")
    val model = Ivf.fitColumnar(emb, k = 12, seed = 42L)
    val approx = Ivf.search(model, queries, topK = 5, nProbe = 9)
      .select("q_id", "vec_id")
    val n = exact.count()
    val found = exact.intersect(approx).count()
    assert(found.toDouble / n >= 0.9,
      s"columnar IVF recall ${found.toDouble / n} ($found/$n)")
    // fixed seed -> identical index and identical search results
    val again = Ivf.search(Ivf.fitColumnar(emb, k = 12, seed = 42L),
      queries, topK = 5, nProbe = 9).select("q_id", "vec_id")
    assert(approx.exceptAll(again).count() == 0 && again.exceptAll(approx).count() == 0)
  }

  test("columnar full probe (nProbe = k) equals exact brute force") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val exact = Similarity.cosineTopK(emb, queries, k = 3)
      .select("q_id", "rk", "vec_id", "sim").collect().toSet
    val full = Ivf.search(Ivf.fitColumnar(emb, k = 8, seed = 42L),
      queries, topK = 3, nProbe = 8).collect().toSet
    assert(full == exact)
  }

  test("bucketed-by-cell index: probes prune buckets, add no index-side exchange, match in-memory search") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val model = Ivf.fitColumnar(emb, k = 8, seed = 42L)
    // force the non-broadcast path so the exchange assertion is about the
    // bucketing metadata, not about the tiny fixture broadcasting
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Ivf.saveIndex(model, "ivf_spec", buckets = 8)
      // a plain (unbucketed) twin of the cells table for plan comparison
      model.indexed.write.mode("overwrite").format("parquet")
        .saveAsTable("ivf_spec_plain")

      val viaTable = Ivf.searchIndexed(spark, "ivf_spec", queries, topK = 3, nProbe = 4)
      viaTable.count() // let AQE finalize
      val plan = viaTable.queryExecution.executedPlan.toString

      // bucket pruning engaged: the scan reads nProbe-worth of buckets, not
      // all 8 (4 probed cells over 5 queries can overlap, never exceed 8)
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val pruned = sel.findFirstMatchIn(plan)
      assert(pruned.isDefined, s"no bucket pruning in plan:\n$plan")
      assert(pruned.get.group(1).toInt < pruned.get.group(2).toInt, plan)

      // the bucketed layout must save exactly the index-side shuffle that an
      // identical plan over the plain table pays
      val probes = Ivf.probeCells(Ivf.loadIndex(spark, "ivf_spec"), queries, 4)
        .localCheckpoint(true)
      val cells = probes.select("cell").distinct().collect().map(_.getInt(0))
      def exchanges(df: org.apache.spark.sql.DataFrame): Int = {
        df.count()
        "(?m)^\\s*[+:][- ]*Exchange ".r
          .findAllIn(df.queryExecution.executedPlan.toString).length
      }
      val bucketed = Ivf.rerank(probes,
        spark.table("ivf_spec_cells").filter(col("cell").isin(cells.toIndexedSeq.map(x => x: Any): _*)), 3)
      val plain = Ivf.rerank(probes,
        spark.table("ivf_spec_plain").filter(col("cell").isin(cells.toIndexedSeq.map(x => x: Any): _*)), 3)
      assert(exchanges(bucketed) == exchanges(plain) - 1,
        s"bucketing must remove the index-side exchange (bucketed ${exchanges(bucketed)}, plain ${exchanges(plain)})")

      // and the results are the in-memory model's results exactly
      val inMem = Ivf.search(model, queries, topK = 3, nProbe = 4)
      assert(viaTable.exceptAll(inMem).count() == 0 &&
        inMem.exceptAll(viaTable).count() == 0)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS ivf_spec_cells")
      spark.sql("DROP TABLE IF EXISTS ivf_spec_centroids")
      spark.sql("DROP TABLE IF EXISTS ivf_spec_plain")
    }
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]))

  test("saveIndex: a write fault on the cells leaves the previous index serving; a rerun succeeds") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val name = "ivf_fault_spec"
    def serve() = rows(Ivf.searchIndexed(spark, name, queries, topK = 3, nProbe = 4))
    val next = Ivf.fitColumnar(emb, k = 6, seed = 7L)
    try {
      Ivf.saveIndex(Ivf.fitColumnar(emb, k = 8, seed = 42L), name, buckets = 8)
      val before = serve()
      val ex = intercept[Exception](FailingLocalFs.during(spark, s"/${name}_cells")(
        Ivf.saveIndex(next, name, buckets = 8)))
      assert(FailingLocalFs.injected(ex), ex.toString)
      assert(serve() == before, "the failed save changed what the index serves")
      Ivf.saveIndex(next, name, buckets = 8)
      assert(serve() == rows(Ivf.search(next, queries, topK = 3, nProbe = 4)))
    } finally IndexCommit.dropIndex(spark, name)
  }

  test("saveIndex over stray warehouse directories the catalog does not know succeeds") {
    val emb = Tables(spark, sf0001, "embeddings")
    val queries = emb.filter(col("vec_id") < 5)
    val name = "ivf_stray_spec"
    val model = Ivf.fitColumnar(emb, k = 8, seed = 42L)
    try {
      FailingLocalFs.strayDirs(spark, s"${name}_cells", s"${name}_centroids",
        s"${name}_cells__stage")
      Ivf.saveIndex(model, name, buckets = 8)
      assert(rows(Ivf.searchIndexed(spark, name, queries, topK = 3, nProbe = 4)) ==
        rows(Ivf.search(model, queries, topK = 3, nProbe = 4)))
    } finally IndexCommit.dropIndex(spark, name)
  }

  test("searchIndexed leaves getPersistentRDDs as it found it") {
    val emb = Tables(spark, sf0001, "embeddings")
    val name = "ivf_rdd_spec"
    val sc = spark.sparkContext
    try {
      Ivf.saveIndex(Ivf.fitColumnar(emb, k = 8, seed = 42L), name, buckets = 8)
      val before = sc.getPersistentRDDs.keySet
      Ivf.searchIndexed(spark, name, emb.filter(col("vec_id") < 5), topK = 3,
        nProbe = 4).collect()
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"searchIndexed left ${left.size} RDDs persisted")
    } finally IndexCommit.dropIndex(spark, name)
  }

  test("tfidf pipeline yields a vector per doc; stopwords carry no weight") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the spark catalyst optimizer rewrites plans"),
      (2L, "the the the the")).toDF("doc_id", "text")
    val out = TextAnalysis.tfidf(docs)
    assert(out.columns.contains("tfidf") && out.count() == 2)
    val vecs = out.orderBy("doc_id").collect()
      .map(_.getAs[org.apache.spark.ml.linalg.Vector]("tfidf"))
    assert(vecs(0).numNonzeros > 0)
    assert(vecs(1).numNonzeros == 0) // all-stopword doc
  }
}
