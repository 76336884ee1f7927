package graft.llm

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PqSpec extends SparkSpec {

  test("grid: global scale, clamping, half-away rounding") {
    import spark.implicits._
    val df = Seq((0L, Seq(0.5f, -0.5f, 3.0f, -3.0f, 0.0078125f, -0.0078125f)))
      .toDF("vec_id", "embedding")
    val g = Pq.grid(df).select("g").as[Seq[Long]].head()
    // 0.5*64=32; 3.0*64=192 clamps to 127; 0.0078125*64=0.5 rounds AWAY → 1
    assert(g == Seq(32L, -32L, 127L, -127L, 1L, -1L))
  }

  test("encode: argmin with lowest-j tie-break") {
    // 2 subspaces × 2 dims, 2 centroids each
    val cb: Array[Array[Array[Long]]] = Array(
      Array(Array(0L, 0L), Array(10L, 10L)),
      Array(Array(5L, 5L), Array(5L, 5L))) // identical: tie → j=0
    assert(Pq.encode(IndexedSeq(1L, 1L, 5L, 5L), 2, 2, cb).toSeq == Seq(0, 0))
    assert(Pq.encode(IndexedSeq(9L, 9L, 0L, 0L), 2, 2, cb).toSeq == Seq(1, 0))
    // exact midpoint between distinct centroids: lowest j wins
    val cb2: Array[Array[Array[Long]]] = Array(Array(Array(0L), Array(10L)))
    assert(Pq.encode(IndexedSeq(5L), 1, 1, cb2).toSeq == Seq(0))
  }

  test("sdcTopK: self excluded, deterministic ranks, exact distances") {
    import spark.implicits._
    // 6 vectors of dim 4 (m=2, dimsPer=2); codebook = rows 0-1, query = row 0
    val rows = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 1f, 1f)),
      (2L, Seq(0f, 0f, 1f, 1f)),
      (3L, Seq(1f, 1f, 0f, 0f)),
      (4L, Seq(0.01f, 0f, 0f, 0f)),
      (5L, Seq(1f, 0f, 0f, 1f)))
    val df = rows.toDF("vec_id", "embedding")
    val out = Pq.sdcTopK(df, m = 2, dimsPer = 2, nCodebook = 2,
      nQueries = 1, k = 5).orderBy("rk").collect()
    assert(out.forall(_.getLong(0) == 0L))
    assert(!out.exists(_.getLong(2) == 0L)) // self excluded
    // grid: 1f→64; codes: v4 encodes as centroid 0 everywhere → dist 0
    val byId = out.map(r => r.getLong(2) -> (r.getInt(1), r.getLong(3))).toMap
    assert(byId(4L)._2 == 0L)
    assert(byId(1L)._2 == 4 * 64L * 64L) // both subspaces land on c1
    assert(byId(2L)._2 == 2 * 64L * 64L)
    assert(byId(3L)._2 == 2 * 64L * 64L)
    // tie between 2 and 3 breaks by vec_id
    assert(byId(2L)._1 < byId(3L)._1)
  }

  test("sdcTopK is symmetric-distance: non-codebook queries encode first") {
    import spark.implicits._
    // codebook = rows 0-1 only; queries = rows 0-2, so query 2 is NOT a
    // codebook row. SDC must encode it (grid 32,32,32,32 → centroid 1 in
    // both subspaces, d 2·32² < 2·(64−32)²... equal: 2048 vs 2048 → tie,
    // lowest j → centroid 0) and build tables centroid-to-centroid, so
    // query 2's distance to a vector coded (0,0) is exactly 0 — the raw
    // (ADC) tables would give 4·32²=4096 instead.
    val rows = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 1f, 1f)),
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f)),
      (3L, Seq(0f, 0f, 0f, 0f)))
    val out = Pq.sdcTopK(rows.toDF("vec_id", "embedding"), m = 2, dimsPer = 2,
      nCodebook = 2, nQueries = 3, k = 4).collect()
      .map(r => (r.getLong(0), r.getLong(2)) -> r.getLong(3)).toMap
    // query 2 encodes to centroid 0 (midpoint tie, lowest j); vec 3 codes
    // (0,0) too → SDC distance 0, not the ADC 4096
    assert(out((2L, 3L)) == 0L)
    // codebook-row queries still behave as before (encode is identity)
    assert(out((0L, 3L)) == 0L)
    assert(out((1L, 3L)) == 4 * 64L * 64L)
  }

  test("pinned-parameter contract: undersized corpus raises, never NPEs") {
    import spark.implicits._
    // nCells=2 + nCodebook=2 needs vec_ids 0..3; give it only 0..2
    val tiny = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),
      (1L, Seq(1f, 1f, 1f, 1f)),
      (2L, Seq(0.5f, 0.5f, 0.5f, 0.5f))).toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Pq.ivfpqTopK(tiny, nCells = 2, nProbe = 1, m = 2, dimsPer = 2,
        nCodebook = 2, nQueries = 1, k = 3).collect()
    }
    assert(ex.getMessage.contains("pinned-parameter contract"))
  }

  test("ivfpqTopK: probed-cell pruning + SDC parity on the survivors") {
    import spark.implicits._
    // 2 far-apart clusters on dim 4 (m=2, dimsPer=2): rows 0-1 are the
    // coarse centroids (one per cluster), rows 2-3 the PQ codebooks,
    // rows 4-9 split 3/3 between the clusters
    val rows = Seq(
      (0L, Seq(0f, 0f, 0f, 0f)),      // coarse c0
      (1L, Seq(1f, 1f, 1f, 1f)),      // coarse c1
      (2L, Seq(0.1f, 0f, 0f, 0.1f)),  // cb j0
      (3L, Seq(0.9f, 1f, 1f, 0.9f)),  // cb j1
      (4L, Seq(0.05f, 0f, 0f, 0f)),   // cluster 0
      (5L, Seq(0f, 0.05f, 0f, 0f)),
      (6L, Seq(0.02f, 0.02f, 0f, 0f)),
      (7L, Seq(1f, 0.95f, 1f, 1f)),   // cluster 1
      (8L, Seq(0.95f, 1f, 1f, 1f)),
      (9L, Seq(1f, 1f, 0.98f, 1f)))
    val df = rows.toDF("vec_id", "embedding")
    // nProbe=1: query 0 (= coarse c0) probes ONLY cell 0 — no cluster-1
    // vector may appear, even though k would admit them
    val out = Pq.ivfpqTopK(df, nCells = 2, nProbe = 1, m = 2, dimsPer = 2,
      nCodebook = 2, nQueries = 1, k = 10).collect()
    val ids = out.map(_.getLong(2)).toSet
    assert(out.forall(_.getInt(3) == 0))            // every survivor in cell 0
    assert(Set(7L, 8L, 9L).intersect(ids).isEmpty)  // cluster 1 pruned
    assert(Set(4L, 5L, 6L).subsetOf(ids))           // cluster 0 all present
    assert(!ids.contains(0L))                       // self excluded
    // SDC parity: each survivor's dist equals the full sdcTopK distance
    // for the same (m, codebook) setup restricted to codebook rows 2-3.
    // ivfpq's codebooks are rows [nCells, nCells+nCodebook) = 2-3, but
    // sdcTopK pins rows [0, nCodebook) — rebuild with rows 2-3 first so
    // the codebooks coincide.
    def relabel(id: Long): Long =
      if (id == 2L) 0L else if (id == 3L) 1L
      else if (id == 0L) 2L else if (id == 1L) 3L else id // self-inverse
    val re = rows.map { case (id, v) => (relabel(id), v) }
      .toDF("vec_id", "embedding")
    val full = Pq.sdcTopK(re, m = 2, dimsPer = 2, nCodebook = 2,
      nQueries = 3, k = 10).collect()
      // q_id 2 in the relabeled corpus is the original query 0
      .filter(_.getLong(0) == 2L)
      .map(r => relabel(r.getLong(2)) -> r.getLong(3)).toMap
    out.foreach { r =>
      assert(r.getLong(4) == full(r.getLong(2)),
        s"dist mismatch for vec ${r.getLong(2)}")
    }
  }

  test("persisted IVFPQ index: bucket pruning + parity with the in-memory path") {
    import spark.implicits._
    // 40 vectors, dim 4: pins are rows 0-1 (coarse) and 2-3 (codebooks)
    val rows = (0L until 40L).map { id =>
      val base = if (id % 2 == 0) 0f else 1f
      (id, Seq(base + (id % 5) * 0.01f, base, base - (id % 3) * 0.01f, base))
    }
    val df = rows.toDF("vec_id", "embedding")
    try {
      Pq.saveIndex(df, nCells = 2, m = 2, dimsPer = 2, nCodebook = 2,
        name = "spec_pq", buckets = 4)
      val queries = df.filter(col("vec_id") < 3)
      val got = Pq.searchIndexed(spark, "spec_pq", queries, nProbe = 1, k = 5)
      // file-level bucket pruning is the operator's point: the probed
      // cell set must reach the scan as SelectedBucketsCount < total
      val planStr = got.queryExecution.executedPlan.toString
      val sel = "SelectedBucketsCount: (\\d+) out of (\\d+)".r
        .findFirstMatchIn(planStr)
        .getOrElse(fail(s"no bucket pruning in the plan:\n$planStr"))
      assert(sel.group(1).toInt < sel.group(2).toInt, "no buckets pruned")
      // identical to the in-memory composition over the same pins
      val mem = Pq.ivfpqTopK(df, nCells = 2, nProbe = 1, m = 2, dimsPer = 2,
        nCodebook = 2, nQueries = 3, k = 5)
      val key = (r: org.apache.spark.sql.Row) =>
        (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3), r.getLong(4))
      assert(got.collect().map(key).toSet == mem.collect().map(key).toSet)
      assert(got.count() == 15) // 3 queries × top-5
    } finally {
      spark.sql("DROP TABLE IF EXISTS spec_pq_codes")
      spark.sql("DROP TABLE IF EXISTS spec_pq_coarse")
      spark.sql("DROP TABLE IF EXISTS spec_pq_cb")
    }
  }

  test("sdcTopK over a corpus missing a pinned row raises the pinned-parameter contract") {
    import spark.implicits._
    // nCodebook=2 needs vec_ids 0..1; row 1 is missing
    val gap = Seq((0L, Seq(0f, 0f)), (2L, Seq(1f, 1f)), (3L, Seq(0.5f, 0.5f)))
      .toDF("vec_id", "embedding")
    val ex = intercept[IllegalArgumentException] {
      Pq.sdcTopK(gap, m = 1, dimsPer = 2, nCodebook = 2, nQueries = 1, k = 2).collect()
    }
    assert(ex.getMessage.contains("pinned-parameter contract"))
  }

  /** 40 vectors of dim 4 in two clusters: even ids near 0, odd near 1. */
  private def twoClusters = {
    import spark.implicits._
    (0L until 40L).map { id =>
      val base = if (id % 2 == 0) 0f else 1f
      (id, Seq(base + (id % 5) * 0.01f, base, base - (id % 3) * 0.01f, base))
    }.toDF("vec_id", "embedding")
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq
      .sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]))

  test("saveIndex: a write fault on the codes leaves the previous index serving; a rerun succeeds") {
    val df = twoClusters
    val queries = df.filter(col("vec_id") < 3)
    val name = "pq_fault_spec"
    def serve() = rows(Pq.searchIndexed(spark, name, queries, nProbe = 1, k = 5))
    def save(nCells: Int) = Pq.saveIndex(df, nCells, m = 2, dimsPer = 2,
      nCodebook = 2, name, buckets = 4)
    try {
      save(nCells = 2)
      val before = serve()
      val ex = intercept[Exception](
        FailingLocalFs.during(spark, s"/${name}_codes")(save(nCells = 3)))
      assert(FailingLocalFs.injected(ex), ex.toString)
      assert(serve() == before, "the failed save changed what the index serves")
      save(nCells = 3)
      assert(serve() == rows(Pq.ivfpqTopK(df, nCells = 3, nProbe = 1, m = 2,
        dimsPer = 2, nCodebook = 2, nQueries = 3, k = 5)))
    } finally IndexCommit.dropIndex(spark, name)
  }

  test("saveIndex over stray warehouse directories the catalog does not know succeeds") {
    val df = twoClusters
    val name = "pq_stray_spec"
    try {
      FailingLocalFs.strayDirs(spark, s"${name}_codes", s"${name}_coarse",
        s"${name}_cb", s"${name}_codes__stage")
      Pq.saveIndex(df, nCells = 2, m = 2, dimsPer = 2, nCodebook = 2, name, buckets = 4)
      assert(rows(Pq.searchIndexed(spark, name, df.filter(col("vec_id") < 3),
        nProbe = 1, k = 5)) == rows(Pq.ivfpqTopK(df, nCells = 2, nProbe = 1, m = 2,
        dimsPer = 2, nCodebook = 2, nQueries = 3, k = 5)))
    } finally IndexCommit.dropIndex(spark, name)
  }
}
