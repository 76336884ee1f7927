package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

class KnnGraphSpec extends SparkSpec {

  private def centroids(n: Int) = Tables(spark, sf0001, "embeddings")
    .filter(col("vec_id") < n).orderBy("vec_id").select("embedding")
    .collect().map(_.getSeq[Float](0).toArray)

  // full-precision Scala ground truth (same left-to-right double fold
  // as the engine's VectorDot kernel) — Similarity.cosineTopK ranks on
  // ROUNDED sims, which can swap near-tied ranks vs the engine's
  // full-precision ranking, so it is NOT a valid exact comparator here
  private def bruteTop3(qids: Seq[Long]): Map[Long, Seq[Long]] = {
    val all = Tables(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / math.sqrt(na * nb)
    }
    qids.map { q =>
      q -> all.toSeq.filter(_._1 != q)
        .map { case (id, v) => (id, cos(all(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1)
    }.toMap
  }

  test("graph shape: ≤degree out-edges, no self-loops, ranks contiguous") {
    val emb = Tables(spark, sf0001, "embeddings")
    val g = KnnGraph.build(emb, centroids(12), degree = 12, nProbe = 3)
    assert(g.filter(col("src") === col("dst")).count() == 0)
    val per = g.groupBy("src")
      .agg(count(lit(1)).as("c"), max("rk").as("mx"), min("rk").as("mn"))
    assert(per.filter(col("c") > 12).count() == 0)
    assert(per.filter(col("mn") =!= 1 || col("mx") =!= col("c")).count() == 0)
    // every node has out-edges (nProbe=3 guarantees non-singleton cells
    // on this fixture)
    assert(per.count() == emb.count())
  }

  test("entry points: one medoid per non-empty cell, deterministic") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val e1 = KnnGraph.entryPoints(emb, cs).orderBy("node").collect().map(_.getLong(0))
    val e2 = KnnGraph.entryPoints(emb, cs).orderBy("node").collect().map(_.getLong(0))
    assert(e1.sameElements(e2))
    assert(e1.length <= 12 && e1.length >= 2)
  }

  test("complete graph + one round ≡ exact brute force") {
    // with one cell every vector shares it, the candidate set is
    // all-pairs, the graph is complete, and ONE expansion round makes
    // the beam the global top-16 — so top-3 must equal brute top-3
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(1)
    val qids = (1L to 5L)
    val queries = emb.filter(col("vec_id").between(1, 5))
    val edges = KnnGraph.build(emb, cs, degree = 600, nProbe = 1)
    val entries = KnnGraph.entryPoints(emb, cs)
    // (queries exclude the medoid itself: a query equal to the single
    // entry point starts with an empty beam by the node≠q rule)
    val entryNode = entries.collect().map(_.getLong(0)).toSet
    assert(!qids.exists(entryNode.contains), "fixture assumption")
    val got = KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 16, rounds = 1)
      .select("q_id", "rk", "node").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(1)).map(_.getLong(2)).toSeq).toMap
    val truth = bruteTop3(qids)
    for (q <- qids) assert(got(q) == truth(q), s"query $q")
  }

  test("beam recall ≥ 85% of exact top-3 at q264/q265 production params") {
    // uniform random unit vectors — the no-cluster worst case for every
    // ANN family (the IvfSpec caveat); the pinned bar is this exact
    // parameter set's measured behavior (91.7%), not a general curve
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val qids = (0L until 20L).toSeq
    val queries = emb.filter(col("vec_id") < 20)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    val entries = KnnGraph.entryPoints(emb, cs)
    val got = KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "node").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
    val truth = bruteTop3(qids)
    val found = qids.map(q => (truth(q).toSet intersect got.getOrElse(q, Set())).size).sum
    assert(found.toDouble / 60 >= 0.85,
      s"knn-graph beam recall ${found.toDouble / 60} ($found/60)")
  }

  test("diversified graph: invariants vs the plain build") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val plain = KnnGraph.build(emb, cs, degree = 32, nProbe = 3)
      .select("src", "dst", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    val div = KnnGraph.buildDiverse(emb, cs, degree = 12, nProbe = 3,
        breadth = 32)
      .select("src", "dst", "rk").collect()
      .groupBy(_.getLong(0)).view
      .mapValues(_.sortBy(_.getInt(2)).map(_.getLong(1)).toSeq).toMap
    assert(div.keySet == plain.keySet)
    var pruned = 0
    for ((src, kept) <- div) {
      val top = plain(src)
      assert(kept.size <= 12, s"src=$src kept ${kept.size}")
      assert(kept.toSet.subsetOf(top.toSet),
        s"src=$src kept an edge outside its top-32 candidates")
      assert(kept.head == top.head,
        s"src=$src: the best candidate is always kept (empty-acc case)")
      if (kept != top.take(kept.size)) pruned += 1
    }
    // non-vacuity: the prune actually fired somewhere (kept ≠ a plain
    // top-k prefix for a meaningful share of sources)
    assert(pruned > div.size / 10, s"prune fired for only $pruned sources")
  }

  test("diversification restores navigability plain top-k cannot have") {
    // planted 8-replica clusters with degree 6 < cluster size: the
    // plain graph's edges are all intra-cluster — disconnected cliques
    // — and beam recall is STRUCTURALLY zero at any search budget
    // (measured 0.000 at beam 16/32/48, rounds 4/6/8); the α=1
    // RNG-pruned graph keeps one representative per direction and the
    // SAME degree budget navigates (0.80 measured at beam 32/rounds 6,
    // rising with effort — 0.87 at 48/8). Full recall in this
    // near-dup regime wants dedup-first or degree > cluster (the
    // documented contract); what diversification buys is NAVIGATION.
    val r = 8
    val emb = graft.ScaleStress.replicateEmbeddings(
      Tables(spark, sf0001, "embeddings"), r, eps = 0.12)
      .select("vec_id", "embedding").cache()
    try {
      val n = emb.count()
      val nCells = (n / 64).toInt
      val cs = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0)
        .orderBy("vec_id").limit(nCells)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val queries = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 10L * r)
      val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
      val all = emb.collect()
        .map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / math.sqrt(na * nb)
      }
      val truth = qids.map { q =>
        q -> all.toSeq.filter(_._1 != q)
          .map { case (id, v) => (id, cos(all(q), v)) }
          .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
      }.toMap
      val entries = KnnGraph.entryPoints(emb, cs)
      def recall(edges: org.apache.spark.sql.DataFrame): Double = {
        val got = KnnGraph.search(edges, emb, queries, entries,
            topK = 3, beam = 32, rounds = 6)
          .select("q_id", "node").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap
        qids.map(q => (truth(q) intersect got.getOrElse(q, Set())).size)
          .sum / (3.0 * qids.size)
      }
      val plain = recall(
        KnnGraph.build(emb, cs, degree = 6, nProbe = 3)
          .select("src", "dst").localCheckpoint(true))
      val div = recall(
        KnnGraph.buildDiverse(emb, cs, degree = 6, nProbe = 3, breadth = 32)
          .select("src", "dst").localCheckpoint(true))
      assert(plain <= 0.1, s"plain clique graph unexpectedly navigated: $plain")
      assert(div >= 0.7, s"diversified recall $div below the 0.7 bar")
    } finally emb.unpersist()
  }

  test("upsert law: extend(build(B), N) ≡ build(B ∪ N), exactly") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val base = emb.filter(col("vec_id") >= 60)
    val fresh = emb.filter(col("vec_id") < 60)
    val g0 = KnnGraph.build(base, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true)
    val up = KnnGraph.upsert(g0, base, fresh, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst")
    val full = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst")
    assert(up.exceptAll(full).count() == 0 && full.exceptAll(up).count() == 0)
    // the touched/untouched split is real: some base nodes share no
    // probe cell with the fresh batch and pass through windowless
    val affectedSrcs = up.select("src").except(
      g0.select("src", "rk", "dst").intersect(up).select("src")).count()
    assert(affectedSrcs > 0, "no node's list changed — vacuous upsert")
    val unchangedSrcRows = g0.select("src", "rk", "dst").intersect(up).count()
    assert(unchangedSrcRows > 0, "every edge changed — pass-through untested")
  }

  test("delete law: delete(build(B), D) ≡ build(B ∖ D), exactly") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    // D avoids the pinned centroid ids so the oracle-side replay can
    // derive centroids from the survivor set too (q274's fixture)
    val deleted = emb.filter(col("vec_id") >= 12 &&
      pmod(col("vec_id"), lit(9L)) === 4)
    val survivors = emb.join(deleted.select("vec_id"), Seq("vec_id"), "left_anti")
    val g0 = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true)
    val del = KnnGraph.delete(g0, emb, deleted, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst")
    val fresh = KnnGraph.build(survivors, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst")
    assert(del.exceptAll(fresh).count() == 0 &&
      fresh.exceptAll(del).count() == 0)
    // both tiers fired: some survivors re-filled (an edge pointed into
    // D), some passed through windowless
    val repairedSrcs = del.except(g0.select("src", "rk", "dst").intersect(del))
      .select("src").distinct().count()
    assert(repairedSrcs > 0, "no list changed — vacuous delete")
    val passThroughRows = g0.select("src", "rk", "dst").intersect(del).count()
    assert(passThroughRows > 0, "every edge changed — pass-through untested")
    // tombstones are real: no deleted node survives as src or dst
    val dIds = deleted.select("vec_id")
    assert(del.join(dIds.withColumnRenamed("vec_id", "src"),
      Seq("src"), "left_semi").count() == 0)
    assert(del.join(dIds.withColumnRenamed("vec_id", "dst"),
      Seq("dst"), "left_semi").count() == 0)
  }

  test("persisted index: searchIndexed ≡ search bit for bit, probes pruned") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val queries = emb.filter(col("vec_id") < 5)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    KnnGraph.saveIndex(edges, emb, cs, "knn_spec_idx", buckets = 8)
    try {
    val entries = KnnGraph.entryPoints(emb, cs)
    val mem = KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val probeSizes = scala.collection.mutable.ArrayBuffer[Int]()
    val idx = KnnGraph.searchIndexed(spark, "knn_spec_idx", queries,
        topK = 3, beam = 16, rounds = 4, onProbe = ids => probeSizes += ids.size)
      .select("q_id", "rk", "node", "sim").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toSet
    // bit-for-bit including the exact-double sims: persisted floats
    // round-trip, and the arithmetic/tie rules are the same
    assert(idx == mem)
    // 1 entry probe + 1 per round (r19: the frontier-candidate probe
    // carries the neighbor ids too, so the separate beam-record hop
    // probe is gone), every one id-bounded, never corpus-sized
    assert(probeSizes.size == 1 + 4, s"probes: $probeSizes")
    assert(probeSizes.head <= 12, "entry probe exceeds the cell count")
    // the node-record probe shape reaches the scan as FILE-level bucket
    // pruning (the expression records() builds: IN over the bucket col,
    // with autoBucketedScan pinned off — the planner rule otherwise
    // drops the bucketed read for scan-only plans and reads all files)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try {
      val probe = spark.table("knn_spec_idx_nodes")
        .filter(col("vec_id").isin(1L, 2L, 3L))
      probe.count()
      val plan = probe.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
      val m = sel.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in the node-record probe:\n$plan")
      assert(m.get.group(1).toInt < m.get.group(2).toInt, plan)
    } finally spark.conf.set(autoKey, prevAuto)
    } finally {
      // don't leak the index tables into the shared warehouse across
      // suite runs (the knn_specf_idx / knn_pq_spec convention)
      spark.sql("DROP TABLE IF EXISTS knn_spec_idx_nodes")
      spark.sql("DROP TABLE IF EXISTS knn_spec_idx_entries")
      ()
    }
  }

  test("filtered search: in-filter beats post-filter (the classic recall bug)") {
    // predicate vec_id % 3 == 0 (selectivity 1/3), q264/q265 production
    // params. Post-filtering the unfiltered top-3 keeps only the global
    // winners that happen to be admissible — measured 0.367; the
    // predicate-aware beam spends its whole budget ranking admissible
    // nodes — measured 0.700 against the brute-force FILTERED top-3.
    // The in-filter traversal pays a connectivity tax (hops through
    // inadmissible nodes are blocked, effective degree ≈ degree/3 — the
    // documented contract: size degree·selectivity like the
    // degree>cluster rule), which is why the bar is 0.65, not 0.85.
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val qids = (0L until 20L).toSeq
    val queries = emb.filter(col("vec_id") < 20)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true)
    val entries = KnnGraph.entryPoints(emb, cs)
    val all = Tables(spark, sf0001, "embeddings")
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      d / math.sqrt(na * nb)
    }
    val truth = qids.map { q =>
      q -> all.toSeq.filter { case (id, _) => id != q && id % 3 == 0 }
        .map { case (id, v) => (id, cos(all(q), v)) }
        .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
    }.toMap
    def recall(got: Map[Long, Set[Long]]): Double =
      qids.map(q => (truth(q) intersect got.getOrElse(q, Set())).size)
        .sum / (3.0 * qids.size)
    val post = recall(KnnGraph.search(edges, emb, queries, entries,
        topK = 3, beam = 16, rounds = 4)
      .filter(pmod(col("node"), lit(3L)) === 0)
      .select("q_id", "node").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap)
    val inf = recall(KnnGraph.searchFiltered(edges, emb, queries, entries,
        pmod(col("vec_id"), lit(3L)) === 0, topK = 3, beam = 16, rounds = 4)
      .select("q_id", "node").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap)
    assert(post <= 0.45, s"post-filter recall $post — fixture drifted")
    assert(inf >= 0.65, s"in-filter recall $inf below the measured bar")
    assert(inf > post, s"in-filter ($inf) must beat post-filter ($post)")
    // every in-filter result is admissible (post-filter can't even
    // return 3 rows for most queries — that's the bug)
    val infRows = KnnGraph.searchFiltered(edges, emb, queries, entries,
      pmod(col("vec_id"), lit(3L)) === 0, topK = 3, beam = 16, rounds = 4)
    assert(infRows.filter(pmod(col("node"), lit(3L)) =!= 0).count() == 0)
    assert(infRows.count() == 3L * qids.size)
  }

  test("filtered persisted search ≡ filtered in-memory search, bit for bit") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val queries = emb.filter(col("vec_id") < 20)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    KnnGraph.saveIndex(edges, emb, cs, "knn_specf_idx", buckets = 8)
    try {
      val pred = pmod(col("vec_id"), lit(3L)) === 0
      val mem = KnnGraph.searchFiltered(edges, emb, queries,
          KnnGraph.entryPoints(emb, cs), pred,
          topK = 3, beam = 16, rounds = 4)
        .select("q_id", "rk", "node", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val idx = KnnGraph.searchIndexedFiltered(spark, "knn_specf_idx",
          queries, pred, topK = 3, beam = 16, rounds = 4)
        .select("q_id", "rk", "node", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(idx == mem)
    } finally {
      spark.sql("DROP TABLE IF EXISTS knn_specf_idx_nodes")
      spark.sql("DROP TABLE IF EXISTS knn_specf_idx_entries")
      ()
    }
  }

  test("PQ beam: hop probes never read vectors; rerank tier is real") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true)
    KnnGraph.saveIndexPq(edges, emb, cs, m = 8, dimsPer = 8, nCodebook = 8,
      cbStart = 12, "knn_pq_spec", buckets = 8)
    try {
      val queries = emb.filter(col("vec_id") < 20)
      def run(rr: Int) = KnnGraph.searchIndexedPq(spark, "knn_pq_spec",
          queries, topK = 3, beam = 16, rounds = 4, rerank = rr)
        .select("q_id", "node").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      // rerank non-vacuity: rerank = topK degenerates to the raw PQ
      // top-3; widening to 8 must actually change results somewhere
      // (measured: all 20 queries differ on this fixture — PQ order
      // and exact order disagree, which is the tier's reason to exist)
      val r8 = run(8); val r3 = run(3)
      assert((0L until 20L).count(q =>
        r8.getOrElse(q, Set()) != r3.getOrElse(q, Set())) >= 5,
        "rerank tier is vacuous: widening rerank changed nothing")
      // the PQ memory story at the storage layer: a hop probe's scan
      // reads (vec_id, codes, nbrs) ONLY — parquet column pruning keeps
      // the embedding out of the ReadSchema until the rerank probe
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.get(autoKey)
      spark.conf.set(autoKey, "false")
      try {
        val hop = spark.table("knn_pq_spec_nodes")
          .filter(col("vec_id").isin(1L, 2L, 3L))
          .select(col("vec_id"), col("codes"),
            explode(expr("transform(nbrs, x -> x.dst)")).as("dst"))
        hop.count()
        val plan = hop.queryExecution.executedPlan.toString
        val scan = plan.linesIterator.find(_.contains("FileScan"))
          .getOrElse(sys.error(s"no FileScan in hop plan:\n$plan"))
        assert(!scan.contains("embedding"),
          s"hop probe reads the embedding column:\n$scan")
        assert("SelectedBucketsCount: (\\d+) out of (\\d+)".r
          .findFirstIn(scan).isDefined, s"hop probe not bucket-pruned:\n$scan")
      } finally spark.conf.set(autoKey, prevAuto)
    } finally {
      for (t <- Seq("knn_pq_spec_nodes", "knn_pq_spec_entries", "knn_pq_spec_cb"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("PQ beam recall: code resolution separates structure, noise on uniform") {
    // the q183 codebooks are PINNED grid rows (determinism over
    // training); on the UNIFORM fixture PQ distances are then
    // quantization noise and guided recall is low by construction
    // (measured 0.20 at K=8 — the IvfSpec no-structure caveat, stated
    // not hidden). Where data HAS structure — planted 8-replica
    // clusters — code distances separate clusters and recall returns:
    // measured 0.28 at K=8 vs 0.88 at K=64/rerank=16. The pinned A/B
    // is the codebook-RESOLUTION contract, the PQ analog of the
    // degree>cluster rule.
    val r = 8
    val emb = graft.ScaleStress.replicateEmbeddings(
      Tables(spark, sf0001, "embeddings"), r, eps = 0.12)
      .select("vec_id", "embedding").cache()
    try {
      val n = emb.count()
      val nCells = (n / 64).toInt
      val cs = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0)
        .orderBy("vec_id").limit(nCells)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val queries = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 20L * r)
      val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
      val all = emb.collect()
        .map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / math.sqrt(na * nb)
      }
      val truth = qids.map { q =>
        q -> all.toSeq.filter(_._1 != q)
          .map { case (id, v) => (id, cos(all(q), v)) }
          .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
      }.toMap
      val edges = KnnGraph.build(emb, cs, degree = 24, nProbe = 3)
        .localCheckpoint(true)
      def recallAt(k: Int, rr: Int): Double = {
        KnnGraph.saveIndexPq(edges, emb, cs, m = 8, dimsPer = 8,
          nCodebook = k, cbStart = 0, "knn_pq_spec2", buckets = 8)
        val got = KnnGraph.searchIndexedPq(spark, "knn_pq_spec2", queries,
            topK = 3, beam = 16, rounds = 4, rerank = rr)
          .select("q_id", "node").collect()
          .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
        qids.map(q => (truth(q) intersect got.getOrElse(q, Set())).size)
          .sum / (3.0 * qids.size)
      }
      try {
        val coarse = recallAt(8, 8)
        val fine = recallAt(64, 16)
        assert(coarse <= 0.45, s"coarse-codebook recall $coarse — fixture drifted")
        assert(fine >= 0.75, s"fine-codebook recall $fine below the measured bar")
        assert(fine > coarse + 0.2, s"resolution A/B collapsed: $coarse vs $fine")
      } finally {
        for (t <- Seq("knn_pq_spec2_nodes", "knn_pq_spec2_entries",
            "knn_pq_spec2_cb"))
          spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    } finally emb.unpersist()
  }

  test("filtered PQ serving: in-filter beats post-filter on the PQ path too") {
    // the q275 A/B extended to the PQ-coded index (the q281 operator):
    // planted 8-replica clusters with the K=64 codebook — the fixture
    // where code distances carry signal (the resolution contract; on
    // uniform data PQ recall is quantization noise by construction).
    // Post-filtering an unfiltered PQ top-3 keeps only admissible
    // global winners — measured 0.367 against brute FILTERED top-3
    // (the same value the full-vector path measured, q275's A/B); the
    // predicate-aware beam spends its whole integer budget ranking
    // admissible nodes — measured 0.567 (below the full-vector 0.700:
    // the integer code metric misroutes some expansions, the price the
    // rerank tier can only partly repay — stated, not hidden). All
    // deterministic, so the values reproduce exactly; bars at 0.5/0.55.
    val r = 8
    val emb = graft.ScaleStress.replicateEmbeddings(
      Tables(spark, sf0001, "embeddings"), r, eps = 0.12)
      .select("vec_id", "embedding").cache()
    try {
      val n = emb.count()
      val nCells = (n / 64).toInt
      val cs = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0)
        .orderBy("vec_id").limit(nCells)
        .select("embedding").collect().map(_.getSeq[Float](0).toArray)
      val queries = emb.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 20L * r)
      val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
      val all = emb.collect()
        .map(x => x.getLong(0) -> x.getSeq[Float](1).toArray).toMap
      def cos(a: Array[Float], b: Array[Float]): Double = {
        var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
        while (i < a.length) {
          d += a(i).toDouble * b(i).toDouble
          na += a(i).toDouble * a(i).toDouble
          nb += b(i).toDouble * b(i).toDouble
          i += 1
        }
        d / math.sqrt(na * nb)
      }
      val truth = qids.map { q =>
        q -> all.toSeq.filter { case (id, _) => id != q && id % 3 == 0 }
          .map { case (id, v) => (id, cos(all(q), v)) }
          .sortBy { case (id, s) => (-s, id) }.take(3).map(_._1).toSet
      }.toMap
      def recall(got: Map[Long, Set[Long]]): Double =
        qids.map(q => (truth(q) intersect got.getOrElse(q, Set())).size)
          .sum / (3.0 * qids.size)
      val edges = KnnGraph.build(emb, cs, degree = 24, nProbe = 3)
        .localCheckpoint(true)
      KnnGraph.saveIndexPq(edges, emb, cs, m = 8, dimsPer = 8,
        nCodebook = 64, cbStart = 0, "knn_pqf_spec", buckets = 8)
      try {
        val pred = pmod(col("vec_id"), lit(3L)) === 0
        val post = recall(KnnGraph.searchIndexedPq(spark, "knn_pqf_spec",
            queries, topK = 3, beam = 16, rounds = 4, rerank = 8)
          .filter(pmod(col("node"), lit(3L)) === 0)
          .select("q_id", "node").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap)
        val infRows = KnnGraph.searchIndexedPqFiltered(spark, "knn_pqf_spec",
          queries, pred, topK = 3, beam = 16, rounds = 4, rerank = 8)
        val inf = recall(infRows.select("q_id", "node").collect()
          .groupBy(_.getLong(0)).view
          .mapValues(_.map(_.getLong(1)).toSet).toMap)
        assert(inf > post, s"in-filter ($inf) must beat post-filter ($post)")
        assert(post <= 0.5, s"post-filter recall $post — fixture drifted")
        assert(inf >= 0.55, s"in-filter recall $inf below the measured bar")
        // every in-filter result admissible; full k per query
        assert(infRows.filter(pmod(col("node"), lit(3L)) =!= 0).count() == 0)
        assert(infRows.count() == 3L * qids.size)
      } finally {
        for (t <- Seq("knn_pqf_spec_nodes", "knn_pqf_spec_entries",
            "knn_pqf_spec_cb"))
          spark.sql(s"DROP TABLE IF EXISTS $t")
      }
    } finally emb.unpersist()
  }

  test("pqDistortion persisted ≡ explicit kernel; refresh guards pinned rows") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    KnnGraph.saveIndexPq(
      KnnGraph.build(emb, cs, degree = 12, nProbe = 3), emb, cs,
      m = 8, dimsPer = 8, nCodebook = 8, cbStart = 12, "knn_drift_spec",
      buckets = 8)
    try {
      // the persisted-codebook path (what a drift monitor runs) equals
      // the explicit-codebook kernel (what q283's oracle certifies)
      val viaIndex = KnnGraph.pqDistortion(spark, "knn_drift_spec", emb)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      val cb = Pq.pinnedCodebook(emb, 8, 8, 8, 12)
      val viaCb = KnnGraph.pqDistortionWith(emb, cb, 8, 8)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      assert(viaIndex == viaCb)
      // distortion is a true lower-bound error: zero only if a vector's
      // every sub-vector IS a codeword — the pinned rows themselves
      val zeros = KnnGraph.pqDistortion(spark, "knn_drift_spec", emb)
        .filter(col("distortion") === 0).select("vec_id")
        .collect().map(_.getLong(0)).toSet
      assert(zeros == (12L until 20L).toSet, s"zero-distortion set: $zeros")
      // refresh raises — never silently reuses stale parameters — when
      // a changelog deleted the new pinned rows
      val ex = intercept[IllegalArgumentException] {
        KnnGraph.refreshCodebook(spark, "knn_drift_spec", cs,
          m = 8, dimsPer = 8, nCodebook = 8, cbStart = 100000, buckets = 8)
      }
      assert(ex.getMessage.contains("pinned-parameter contract"))
    } finally {
      for (t <- Seq("knn_drift_spec_nodes", "knn_drift_spec_entries",
          "knn_drift_spec_cb"))
        spark.sql(s"DROP TABLE IF EXISTS $t")
    }
  }

  test("rebucket: serving bit-identical, new layout pruned, stale count rejected") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val queries = emb.filter(col("vec_id") < 5)
    KnnGraph.saveIndex(KnnGraph.build(emb, cs, degree = 12, nProbe = 3),
      emb, cs, "knn_rb_spec", buckets = 4)
    try {
      def serve() = KnnGraph.searchIndexed(spark, "knn_rb_spec", queries,
          topK = 3, beam = 16, rounds = 4)
        .select("q_id", "rk", "node", "sim").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
        .toSet
      val before = serve()
      KnnGraph.rebucket(spark, "knn_rb_spec", cs, buckets = 16)
      assert(serve() == before, "rebucket changed serving results")
      // the new layout really is 16 buckets, and probes prune against it
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.get(autoKey)
      spark.conf.set(autoKey, "false")
      try {
        val p = spark.table("knn_rb_spec_nodes")
          .filter(col("vec_id").isin(1L, 2L, 3L))
        p.count()
        val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
          .findFirstMatchIn(p.queryExecution.executedPlan.toString)
        assert(m.exists(_.group(2).toInt == 16), s"plan not on 16 buckets: $m")
      } finally spark.conf.set(autoKey, prevAuto)
      // a maintainer still holding the OLD count must fail loudly, not
      // strand stale rows in misaligned partitions
      val ex = intercept[IllegalArgumentException] {
        graft.streaming.StreamingKnnIndex.applyChangelog(
          emb.filter(col("vec_id") === 7L)
            .select("vec_id", "embedding").withColumn("op", lit("D")),
          "knn_rb_spec", cs, degree = 12, nProbe = 3, buckets = 4)
      }
      assert(ex.getMessage.contains("bucket count"))
    } finally {
      spark.sql("DROP TABLE IF EXISTS knn_rb_spec_nodes")
      spark.sql("DROP TABLE IF EXISTS knn_rb_spec_entries")
      ()
    }
  }

  test("beam is monotone: more rounds never lose a found neighbor's rank-1") {
    val emb = Tables(spark, sf0001, "embeddings")
    val cs = centroids(12)
    val queries = emb.filter(col("vec_id") < 5)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    val entries = KnnGraph.entryPoints(emb, cs)
    def best(rounds: Int): Map[Long, Double] =
      KnnGraph.search(edges, emb, queries, entries, topK = 1, beam = 16,
          rounds = rounds)
        .select("q_id", "sim").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b1 = best(1); val b3 = best(4)
    for ((q, s1) <- b1) assert(b3(q) >= s1,
      s"query $q: rank-1 sim regressed $s1 -> ${b3(q)}")
  }
}
