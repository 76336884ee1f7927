package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** IVF (inverted-file) approximate nearest neighbor — the other scale path
  * for B33 next to LSH: seeded k-means partitions the corpus into coarse
  * cells; a query probes only its `nProbe` nearest cells and exact-reranks
  * inside them.
  *
  * Scale shape: the corpus is written *clustered by cell* (one shuffle at
  * index build, amortized over all queries); each query's candidate scan
  * touches nProbe/k of the corpus. The probe fan-out and the rerank both run
  * through the codegen [[graft.functions.VectorDot]].
  *
  * The persisted index shares its machinery with the other vector indexes:
  * it is written through [[IndexCommit]], their one write path, and its
  * search collects through [[Pq.bounded]], their one bounded driver
  * collect.
  */
object Ivf {

  final case class Model(centroids: DataFrame, indexed: DataFrame) {
    /** Kept for API compatibility: the index is an eager localCheckpoint
      * whose blocks self-release via ContextCleaner when the model is
      * dropped, so this is a no-op safety valve. */
    def unpersist(): Unit = indexed.unpersist()
  }

  /** Build the index: seeded k-means cells + cell assignment. */
  def fit(embeddings: DataFrame, k: Int = 16, seed: Long = 42L): Model = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    val vecs = embeddings.select(
      col("vec_id"), col("embedding"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    val km = new KMeans().setK(k).setSeed(seed)
      .setFeaturesCol("features").setPredictionCol("cell")
    val model = km.fit(vecs)

    import spark.implicits._
    val centroids = model.clusterCenters.zipWithIndex.toSeq
      .map { case (c, i) =>
        val arr = c.toArray.map(_.toFloat)
        (i, arr, arr.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      }
      .toDF("cell", "centroid", "centroid_n")

    // at scale: .repartition(col("cell")) + write bucketed — cell-local scans.
    // Eager localCheckpoint (not .cache()): the index outlives this call and
    // callers never owned an unpersist contract — lineage-free blocks are
    // released by the ContextCleaner when the Model is dropped.
    val indexed = model.transform(vecs).select("vec_id", "embedding", "cell")
      .localCheckpoint(true)
    Model(centroids, indexed)
  }

  /** Pure-Column seeded k-means fit — the codegen sibling of [[fit]], the
    * same move [[Rp]]/[[MinHash]] made for LSH: no `ml.linalg.Vector`
    * round-trips, assignment is an `array_min` over per-centroid codegen
    * dot products, and centroid recomputation is the
    * [[graft.functions.VectorMean]] UDAF (map-side partial buffers — only
    * k×dim doubles shuffle per iteration).
    *
    * Determinism: init takes the k rows with the smallest
    * xxhash64(vec_id, seed) (a seeded deterministic sample); Lloyd runs a
    * FIXED `iters` steps; the assignment's (distance, cell) struct-min
    * breaks distance ties by lowest cell id; and each recomputed centroid
    * is ROUNDED to 6 decimals before the next assignment — VectorMean's
    * partial buffers merge in shuffle-fetch arrival order, so unrounded
    * coordinates carry order-dependent last-ulp noise that could flip a
    * near-equidistant assignment between runs (the rounding collapses that
    * noise; a true value within 1e-13 of a 6-dp boundary could still flip,
    * which is why this is documented as stabilized, not proven). Empty
    * cells keep their previous centroid. Per-iteration driver traffic is k
    * centroid rows — the same k-row collect [[fit]]'s MLlib path does
    * internally.
    */
  def fitColumnar(
      embeddings: DataFrame, k: Int = 16, iters: Int = 3,
      seed: Long = 42L): Model = {
    val spark = embeddings.sparkSession
    GraftFunctions.register(spark)
    import spark.implicits._
    // r18: spread before caching — a one-split fixture scan otherwise pins
    // every Lloyd assignment pass AND the cached partitioning to ~1 task
    // (q104 measured run_sec/wall ≈ 0.8: fully serial); the cache then
    // holds the spread layout for all iterations
    val e = graft.operators.Parallelism.spread(
      embeddings.select(col("vec_id"), col("embedding"))).cache()
    try {
      e.count()

      var centroids: Array[Array[Float]] = e
        .select(col("embedding"), xxhash64(col("vec_id"), lit(seed)).as("h"))
        .orderBy("h").limit(k)
        .collect().map(_.getSeq[Float](0).toArray)

      // argmin over d² = ‖c‖² − 2⟨x,c⟩, ties → lowest cell id, all inside
      // ONE codegen expression ([[graft.functions.NearestCentroid]]). The
      // k-inlined struct-min this replaces ran the argmin as an interpreted
      // higher-order function and recompiled per Lloyd iteration (fresh
      // centroid literals) — at k=32 that made each assignment pass ~0.9 s
      // of pure overhead on a 6 000-row fixture (the q104 bench hot spot);
      // the referenced-object expression is bit-identical (same summation
      // order, same tie rule) with constant generated source.
      def cellExpr(cs: Array[Array[Float]]) =
        call_function(GraftFunctions.NearestCentroidName,
          col("embedding"), typedlit(cs))

      // collapse shuffle-order ulp noise (see determinism note above)
      def stable(x: Double): Float =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toFloat

      for (_ <- 1 to iters) {
        val means = e.withColumn("cell", cellExpr(centroids))
          .groupBy("cell")
          .agg(graft.functions.VectorMean.column(col("embedding")).as("m"))
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        centroids = centroids.zipWithIndex.map { case (old, i) =>
          means.get(i).filter(_.nonEmpty)
            .map(_.map(stable).toArray).getOrElse(old) // empty cell: keep
        }
      }

      val centroidDf = centroids.zipWithIndex.toSeq
        .map { case (c, i) =>
          (i, c, c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
        }
        .toDF("cell", "centroid", "centroid_n")
      val indexed = e.withColumn("cell", cellExpr(centroids))
        .select("vec_id", "embedding", "cell")
        .localCheckpoint(true)
      Model(centroidDf, indexed)
    } finally e.unpersist()
  }

  /** Probe assignment: nProbe nearest centroids per query (centroids are k
    * rows — broadcast; centroid norms precomputed at fit; the query norm
    * is constant per query so it can't change the per-query ordering). */
  private[llm] def probeCells(
      model: Model, queries: DataFrame, nProbe: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val d2 = lit(-2.0) * Similarity.dotFast(col("q_emb"), col("centroid")) +
      col("centroid_n")
    val wProbe = Window.partitionBy("q_id").orderBy(col("cd2").asc, col("cell"))
    q.crossJoin(broadcast(model.centroids))
      .select(col("q_id"), col("q_emb"), col("cell"), d2.as("cd2"))
      .withColumn("pr", row_number().over(wProbe))
      .filter(col("pr") <= nProbe)
      .select("q_id", "q_emb", "cell")
  }

  /** Candidate scan restricted to probed cells + exact cosine rerank. */
  private[llm] def rerank(
      probes: DataFrame, indexed: DataFrame, topK: Int): DataFrame = {
    val wRank = Window.partitionBy("q_id").orderBy(col("sim").desc, col("vec_id"))
    probes.join(indexed, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(
        col("q_id"), col("vec_id"),
        round(Similarity.cosineFast(col("q_emb"), col("embedding")), 4).as("sim"))
      .withColumn("rk", row_number().over(wRank))
      .filter(col("rk") <= topK)
      .select("q_id", "rk", "vec_id", "sim")
  }

  /** Top-k cosine neighbors per query, probing `nProbe` cells. */
  def search(model: Model, queries: DataFrame, topK: Int, nProbe: Int): DataFrame = {
    GraftFunctions.register(queries.sparkSession)
    rerank(probeCells(model, queries, nProbe), model.indexed, topK)
  }

  /** Persist the index in the bucketed-by-cell layout the fit scaladoc
    * promises: `<name>_cells` in the cell layout of [[IndexCommit]]
    * (partitioned on the bucket id of `cell`, bucketed and sorted on
    * `cell`), `<name>_centroids` a plain k-row table. One shuffle at index
    * build time, amortized over every later probe — the bucket metadata
    * both co-locates each cell's vectors AND lets a probe's `cell IN (…)`
    * filter prune unprobed buckets at the file level. Both tables are
    * staged, then committed with `<name>_cells` last, so a failed save
    * leaves the previous index serving. */
  def saveIndex(model: Model, name: String, buckets: Int = 16): Unit =
    IndexCommit.write(IndexCommit.Table(s"${name}_centroids", model.centroids),
      IndexCommit.Table(s"${name}_cells", model.indexed,
        Some(IndexCommit.Buckets("cell", buckets))))

  /** Reload a [[saveIndex]]-persisted index. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession, name: String): Model =
    Model(spark.table(s"${name}_centroids"), spark.table(s"${name}_cells"))

  /** Top-k through a persisted index, with bucket pruning: the probed cell
    * set (at most k values by construction — there are only k cells) becomes
    * a literal IN filter on the bucketed table, so the scan reads only
    * nProbe-worth of buckets (`SelectedBucketsCount` in the plan) instead of
    * the whole corpus. THIS is IVF's scale win — candidate IO proportional
    * to nProbe/k of the index, from layout alone. The probe frame
    * (queries × nProbe rows) is read twice, for the cell set and by the
    * rerank, so it is evaluated once, through the [[Pq.bounded]] collect
    * (a larger query batch raises), and the rerank reads that local
    * relation. */
  def searchIndexed(
      spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, topK: Int, nProbe: Int): DataFrame = {
    GraftFunctions.register(spark)
    val model = loadIndex(spark, name)
    val probeDf = probeCells(model, queries, nProbe)
    val rows = Pq.bounded(probeDf, "Ivf.searchIndexed probe set",
      "chunk the query set and issue multiple searches")
    val cells = rows.map(_.getAs[Int]("cell")).distinct.sorted
    rerank(spark.createDataFrame(rows.asJava, probeDf.schema),
      model.indexed.filter(col("cell").isin(cells.map(x => x: Any): _*)),
      topK)
  }
}
