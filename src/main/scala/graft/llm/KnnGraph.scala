package graft.llm

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Encoder}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.VertexRounds

/** Graph-based ANN — the k-NN-graph family (HNSW/Vamana lineage:
  * Malkov & Yashunin 2016, Subramanya et al. NeurIPS 2019) completing
  * the similarity-search matrix beside LSH (q35), IVF (q42), int8
  * (q73), PQ (q87): production vector stores ship a navigable
  * neighbor GRAPH because queries then touch O(beam·degree·hops)
  * vectors regardless of corpus size, with no cell-boundary recall
  * cliff.
  *
  * Everything here is DETERMINISTIC — no seeds: cells come from a
  * pinned centroid matrix (the q42a move: first-k corpus vectors),
  * assignment/probe ranking use the ‖c‖²−2⟨x,c⟩ strict-< lowest-index
  * rule, and every similarity ranking is full-precision double with
  * ties broken by node id — so the ENTIRE pipeline (graph edges AND
  * beam search) hash-checks against a DuckDB oracle replaying the
  * same arithmetic (q264/q265), not just a recall property. No
  * rounded column is emitted, so no boundary_guard probe is needed:
  * ranks are selected on exact doubles, which the q42a precedent
  * established are bit-identical across both engines.
  *
  * Build (distributed, never all-pairs): each vector lands in its
  * `nProbe` nearest cells (multi-probe — the cross-cell stitch that
  * keeps boundary neighbors findable), candidates are same-cell
  * pairs, and each node keeps its `degree` best candidates by cosine.
  * At 100 TB: the probe explode is ×nProbe, the pair join is bucketed
  * by cell (cell sizes bounded by the centroid count you fit), and
  * the edge table writes bucketed by `src` so search hops are
  * co-located lookups.
  *
  * Operating contract on CLUSTERED data (measured in the --knngraph
  * ScaleStress curve): `degree` must exceed the near-duplicate
  * cluster size, or every node's top-k neighbors are its own cluster
  * and the graph degenerates into disconnected cliques no beam can
  * navigate (recall fell to 0% at degree 12 under 16-replica
  * clusters; 24 restored navigation). The HNSW/Vamana
  * neighbor-diversification rules (α-pruning, RNG edges) are the
  * principled fix for unknown cluster sizes — here the contract is
  * documented and the curve enforces it empirically.
  *
  * Search (greedy beam, the DiskANN shard-entry shape): start from
  * the per-cell MEDOIDS (each cell's member nearest its centroid —
  * deterministic, and a beam seeded in every region cannot strand in
  * the entry's neighborhood, the single-entry trap of flat k-NN
  * graphs on unclustered data), then `rounds` expansion steps: score
  * only NEW frontier nodes (visited beam rows carry their sims), keep
  * the best `beam` per query. Per round per query the work is ≤
  * beam·degree candidate lookups — independent of corpus size, the
  * property the graph family exists for.
  *
  * The PQ paths (codebook, encode, lookup tables, `<name>_cb`) and every
  * bounded driver collect run through the shared core in [[Pq]]; every
  * index write goes through [[IndexCommit]]. */
object KnnGraph {

  /** (cell, centroid, cn) from a pinned matrix — bounded driver-side
    * literal, exactly like Ivf's own centroid frame. */
  private def centroidDf(spark: org.apache.spark.sql.SparkSession,
      cs: Array[Array[Float]]): DataFrame = {
    import spark.implicits._
    cs.zipWithIndex.toSeq
      .map { case (c, i) =>
        (i, c, c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      }
      .toDF("cell", "centroid", "cn")
  }

  /** Multi-probe cell assignment: (vec_id, cell, d, rn) for the
    * `nProbe` nearest cells by (‖c‖²−2⟨x,c⟩ ASC, cell ASC) — the q42a
    * assignment rule, rn = 1 being the primary cell. */
  def probeAssign(emb: DataFrame, cs: Array[Array[Float]],
      nProbe: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val cents = broadcast(centroidDf(emb.sparkSession, cs))
    val w = Window.partitionBy("vec_id").orderBy(col("d"), col("cell"))
    emb.select("vec_id", "embedding")
      .crossJoin(cents)
      .withColumn("d", col("cn") -
        lit(2.0) * Similarity.dotFast(col("embedding"), col("centroid")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select("vec_id", "cell", "d", "rn")
  }

  /** Per-cell medoid entry points: within each PRIMARY cell, the
    * member nearest the centroid (tie: lowest vec_id). One row per
    * non-empty cell, column `node`. */
  def entryPoints(emb: DataFrame, cs: Array[Array[Float]]): DataFrame =
    entryMedoids(emb, cs).select("node")

  /** [[entryPoints]] WITH the ranking key: (node, cell, d). Persisted as
    * the `<name>_entries` schema since r19 — keeping the exact (d, node)
    * minimum key beside each medoid is what lets [[saveIndexDelta]] merge
    * a batch against the STORED medoids (min of mins, bit-exact: d is a
    * deterministic function of the pinned centroids and the row's
    * embedding, and parquet round-trips doubles exactly) instead of
    * re-deriving the whole table from the corpus every micro-batch. */
  private[graft] def entryMedoids(emb: DataFrame,
      cs: Array[Array[Float]]): DataFrame = {
    val primary = probeAssign(emb, cs, nProbe = 1)
    val w = Window.partitionBy("cell").orderBy(col("d"), col("vec_id"))
    primary.withColumn("er", row_number().over(w))
      .filter(col("er") === 1)
      .select(col("vec_id").as("node"), col("cell"), col("d"))
  }

  /** Build the k-NN graph: (src, rk, dst, sim) — each node's `degree`
    * best same-probe-cell candidates by cosine (full-precision DESC,
    * dst ASC). */
  def build(emb: DataFrame, cs: Array[Array[Float]], degree: Int,
      nProbe: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val pr = probeAssign(graft.operators.Parallelism.spread(emb), cs, nProbe)
      .select("vec_id", "cell")
    // score DURING the cell join: embeddings shuffle only in the
    // ×nProbe by-cell exchange (n·nProbe rows); the candidate-pair set
    // then moves as skinny (src, dst, sim) rows. The first cut
    // materialized the id pairs, distinct'd them, and joined the
    // embedding table back twice — three candidate-sized exchanges
    // CARRYING 64-float vectors (~0.8 GB at 3M pairs, measured 7.8 s);
    // this shape shuffles the vectors once and the pairs naked.
    val sided = pr.join(emb.select(col("vec_id"), col("embedding"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("n")),
      Seq("vec_id"))
    val a = sided.select(col("cell"), col("vec_id").as("src"),
      col("embedding").as("sv"), col("n").as("sn"))
    val b = sided.select(col("cell"), col("vec_id").as("dst"),
      col("embedding").as("dv"), col("n").as("dn"))
    // a pair sharing two probe cells appears once per shared cell
    // with the IDENTICAL sim — max ≡ the value, and the partial
    // aggregate dedups map-side before the skinny shuffle
    val scored = scorePairs(a, b, cs.length)
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= degree)
      .select("src", "rk", "dst", "sim")
  }

  /** Diversified k-NN graph build — [[build]] + the relative-
    * neighborhood prune (the α=1 case of Vamana's RobustPrune,
    * Subramanya et al. 2019; Toussaint 1980's RNG rule): walk the top
    * `breadth` candidates in similarity order and KEEP candidate j
    * only if no already-kept neighbor k is strictly closer to j than
    * the source is (cos(k,j) > cos(src,j) prunes j — j stays
    * reachable via k, so the edge budget goes to a DIFFERENT
    * direction instead). This is the principled fix for the failure
    * the --knngraph curve measured: under near-duplicate clusters
    * larger than `degree`, plain top-k edges are all intra-cluster,
    * the graph degenerates into disconnected cliques, and beam recall
    * is 0%; the prune keeps ONE representative per direction and
    * spends the rest of the budget on long-range edges, restoring
    * navigability at the SAME degree (spec-pinned A/B).
    *
    * Deterministic like everything here: candidates walk in
    * (full-precision sim DESC, dst ASC) order, the prune compares
    * exact doubles with a STRICT >, ties keep the candidate; the
    * oracle replays the walk as a recursive CTE carrying the kept
    * list. The per-source fold is a SQL higher-order aggregate over
    * ≤ breadth candidates (row-local after the candidate top-k; HOFs
    * run interpreted, but the fold is O(breadth·degree·dim) on
    * in-memory arrays — bounded, and the heavy candidate scoring
    * stays in the codegen'd [[build]] stages).
    *
    * Output: (src, rk, dst) — ≤ degree rows per source, rk contiguous
    * in kept order. */
  def buildDiverse(emb: DataFrame, cs: Array[Array[Float]], degree: Int,
      nProbe: Int, breadth: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val pr = probeAssign(graft.operators.Parallelism.spread(emb), cs, nProbe)
      .select("vec_id", "cell")
    val sided = pr.join(emb.select(col("vec_id"), col("embedding"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("n")),
      Seq("vec_id"))
    val a = sided.select(col("cell"), col("vec_id").as("src"),
      col("embedding").as("sv"), col("n").as("sn"))
    val b = sided.select(col("cell"), col("vec_id").as("dst"),
      col("embedding").as("dv"), col("n").as("dn"))
    val scored = scorePairs(a, b, cs.length)
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    val topC = scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= breadth)
    // unit-normalized double vectors for the kept-vs-candidate dots;
    // DIVISION by sqrt(n) on both engines (x·(1/√n) differs in the
    // last ulp — the arithmetic must be replayable verbatim)
    val en = emb.select(col("vec_id").as("dst"),
      expr("transform(embedding, x -> CAST(x AS DOUBLE))").as("dvf"),
      Similarity.dotFast(col("embedding"), col("embedding")).as("nn"))
      .select(col("dst"),
        expr("transform(dvf, x -> x / sqrt(nn))").as("dv"))
    val packed = topC.join(en, Seq("dst"))
      .groupBy("src")
      .agg(sort_array(collect_list(struct(col("rk"), col("dst"),
        col("sim"), col("dv")))).as("cands"))
    val kept = packed.withColumn("kept", expr(
      s"""aggregate(cands,
         |  CAST(array() AS array<struct<dst:bigint, v:array<double>>>),
         |  (acc, c) -> CASE
         |    WHEN size(acc) >= $degree THEN acc
         |    WHEN exists(acc, k ->
         |      aggregate(zip_with(k.v, c.dv, (x, y) -> x * y), 0D,
         |        (s, p) -> s + p) > c.sim) THEN acc
         |    ELSE array_append(acc,
         |      named_struct('dst', c.dst, 'v', c.dv)) END)""".stripMargin))
    kept.select(col("src"),
        posexplode(expr("transform(kept, k -> k.dst)")).as(Seq("p", "dst")))
      .select(col("src"), (col("p") + 1).cast("int").as("rk"), col("dst"))
  }

  /** Incremental graph upsert — extend an EXISTING k-NN graph with new
    * vectors without rebuilding (the FreshDiskANN shape, Singh et al.
    * 2021: a production vector index ingests continuously; rebuilding
    * a billion-edge graph per batch is not a plan): new nodes get
    * their edge lists computed against base ∪ new through the same
    * probe-cell machinery, and base nodes receive BACK-EDGE candidates
    * (without them new nodes are unreachable) spliced into their
    * existing lists with a re-cut to `degree`.
    *
    * CORRECTNESS LAW (the q252/q263 discipline, certified by q269's
    * oracle replaying the full rebuild while the engine splices):
    *   upsert(build(B), N) ≡ build(B ∪ N), exactly —
    * because the rebuild keeps ≤ degree old candidates per base node,
    * all of which lie inside the node's OLD top-degree list, so
    * re-cutting top-degree over (old list ∪ new back-candidates)
    * reproduces the rebuild's ranking bit for bit (standard top-k
    * maintenance; sims don't depend on which pass computed them).
    *
    * Scale shape: only AFFECTED base nodes (those sharing a probe cell
    * with a new vector) re-rank — |touched| ≈ the new batch's cell
    * footprint, not |base|; untouched rows pass through without a
    * window. The new-side candidate join is bucketed by cell exactly
    * like [[build]]; nothing scores base×base again. */
  def upsert(edges0: DataFrame, embBase: DataFrame, embNew: DataFrame,
      cs: Array[Array[Float]], degree: Int, nProbe: Int): DataFrame =
    upsertTouched(edges0, embBase, embNew, cs, degree, nProbe)._1

  /** [[upsert]] plus the TOUCHED base sources (those whose lists were
    * spliced + re-cut) as a (vec_id) frame — the bucket-targeted
    * maintainer ([[graft.streaming.StreamingKnnIndex]]) needs exactly
    * this set (∪ the new ids) to know which node-record buckets its
    * write must rewrite; everything else passes through untouched and
    * stays on disk as-is. The third frame is the checkpointed pair pass
    * both others read: [[release]] it once they are written. */
  private[graft] def upsertTouched(edges0: DataFrame, embBase: DataFrame,
      embNew: DataFrame, cs: Array[Array[Float]], degree: Int,
      nProbe: Int): (DataFrame, DataFrame, DataFrame) = {
    GraftFunctions.register(embBase.sparkSession)
    val all = embBase.unionByName(embNew)
    val newSrc = sided(graft.operators.Parallelism.spread(embNew),
      cs, nProbe, "src", "s")
    val allDst = sided(all, cs, nProbe, "dst", "d")
    // ONE corpus-sized scoring pass (r18 optimization, guide §1.2 "don't
    // compute things twice"): the old shape ran scorePairs twice — new×all
    // for the new edge lists and base×new for the back-edges — paying two
    // probe-explodes and candidate joins over the corpus. But cosine is
    // symmetric and both passes pair by the same shared-probe-cell rule,
    // so the base×new back-candidates are EXACTLY the new×base subset of
    // the first pass with (src, dst) swapped: same pair set, same sims,
    // bit for bit (q269's upsert ≡ rebuild oracle still certifies the
    // result). The pass output is checkpointed — skinny (src, dst, sim)
    // rows bounded by the batch's cell footprint, the exact law's own
    // bound — because three consumers read it.
    val pairsNew = scorePairs(newSrc, allDst, cs.length).localCheckpoint(true)
    // new nodes: full edge lists vs base ∪ new
    val newEdges = cutDegree(pairsNew, degree)
    // base nodes: only back-candidates to NEW dsts (the new×base rows,
    // transposed); splice + re-cut for the affected sources,
    // pass-through for everyone else
    val back = pairsNew
      .join(embNew.select(col("vec_id").as("dst")), Seq("dst"), "left_anti")
      .select(col("dst").as("src"), col("src").as("dst"), col("sim"))
    val affected = back.select("src").distinct()
    val spliced = cutDegree(
      edges0.join(affected, Seq("src"), "left_semi")
        .select("src", "dst", "sim")
        .unionByName(back), degree)
    val untouched = edges0.join(affected, Seq("src"), "left_anti")
      .select("src", "rk", "dst", "sim")
    (untouched.unionByName(spliced).unionByName(newEdges),
      affected.select(col("src").as("vec_id")), pairsNew)
  }

  /** Unpersists the RDD that `localCheckpoint` materialized for `df`
    * ([[upsertTouched]]'s scored pairs): a maintenance op releases it once
    * its write no longer reads it. */
  private[graft] def release(df: DataFrame): Unit =
    df.queryExecution.logical.collect {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Delete vectors from an EXISTING k-NN graph without rebuilding —
    * the other half of the FreshDiskANN maintenance story [[upsert]]
    * started (Singh et al. 2021: a production index sustains deletes
    * as well as inserts; their consolidation repairs the neighborhoods
    * deletes punched through). Deleted nodes' own edge lists drop;
    * survivor lists that referenced a deleted node RE-FILL from their
    * probe-cell candidates — a splice can't work here, because the
    * replacement candidates lie BELOW the old top-`degree` cut, which
    * is exactly the information the old list never kept.
    *
    * CORRECTNESS LAW, EXACT (certified by q274's oracle replaying the
    * full rebuild over B∖D while the engine repairs):
    *   delete(build(B), D) ≡ build(B ∖ D)
    * for every node: a TOUCHED survivor (some edge pointed into D)
    * re-scores against surviving same-cell candidates — by definition
    * the rebuild's candidate set; an UNTOUCHED survivor's old top-degree
    * list contains no deleted node, and removing candidates never
    * promotes anything new into a top-k that already excluded them
    * (the same top-k-maintenance argument as upsert, in reverse), so
    * its rows pass through windowless, ranks still contiguous. Cell
    * assignment never changes — centroids are pinned parameters,
    * independent of membership.
    *
    * Scale shape: tombstoning is two anti-joins on the skinny edge
    * table; only the |touched| sources — bounded by D's in-degree
    * footprint, not |B| — pay the re-score, and their candidate join
    * is bucketed by cell exactly like [[build]]. Nothing rescores
    * base×base. */
  def delete(edges0: DataFrame, embBase: DataFrame, deleted: DataFrame,
      cs: Array[Array[Float]], degree: Int, nProbe: Int): DataFrame =
    deleteTouched(edges0, embBase, deleted, cs, degree, nProbe)._1

  /** [[delete]] plus the TOUCHED survivor sources (those whose lists
    * re-filled) as a (vec_id) frame — with the deleted ids themselves,
    * exactly the node records a bucket-targeted maintainer must
    * rewrite (the [[upsertTouched]] counterpart). */
  private[graft] def deleteTouched(edges0: DataFrame, embBase: DataFrame,
      deleted: DataFrame, cs: Array[Array[Float]], degree: Int,
      nProbe: Int): (DataFrame, DataFrame) = {
    GraftFunctions.register(embBase.sparkSession)
    val dIds = deleted.select("vec_id")
    val survivors = embBase.join(dIds, Seq("vec_id"), "left_anti")
    // tombstone: deleted sources' lists drop entirely
    val keptLists = edges0
      .join(dIds.select(col("vec_id").as("src")), Seq("src"), "left_anti")
    val touched = keptLists
      .join(dIds.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
      .select("src").distinct()
    val untouched = keptLists.join(touched, Seq("src"), "left_anti")
      .select("src", "rk", "dst", "sim")
    // repair tier: re-score ONLY the touched sources against surviving
    // same-cell candidates (the rebuild's exact candidate set)
    val repairEmb = survivors.join(
      touched.select(col("src").as("vec_id")), Seq("vec_id"), "left_semi")
    val repaired = cutDegree(scorePairs(
      sided(graft.operators.Parallelism.spread(repairEmb),
        cs, nProbe, "src", "s"),
      sided(survivors, cs, nProbe, "dst", "d"), cs.length), degree)
    (untouched.unionByName(repaired),
      touched.select(col("src").as("vec_id")))
  }

  /** One probe-exploded, norm-carrying side of the cell-bucketed
    * candidate join ([[build]]'s shape, shared by [[upsert]] and
    * [[delete]]): (cell, <idAs>, <pfx>v, <pfx>n). */
  private def sided(emb: DataFrame, cs: Array[Array[Float]], nProbe: Int,
      idAs: String, pfx: String): DataFrame =
    probeAssign(emb, cs, nProbe).select("vec_id", "cell")
      .join(emb.select(col("vec_id"), col("embedding"),
        Similarity.dotFast(col("embedding"), col("embedding")).as("n")),
        Seq("vec_id"))
      .select(col("cell"), col("vec_id").as(idAs),
        col("embedding").as(s"${pfx}v"), col("n").as(s"${pfx}n"))

  /** Salt width for the same-cell pair join (r18 optimization, guide
    * §2.5 "synthetic partitioning keys with too few distinct values"):
    * the candidate join's only key is `cell`, and a pinned centroid set
    * gives it a handful of distinct values — the sf0.1 plan showed BOTH
    * sides exchanged on 12 keys and AQE then coalescing the ~2 MB
    * shuffle to ONE partition while the join multiplies 6k rows into
    * 2.45M scored pairs, so the O(n²/cells) scoring stage ran near-
    * serial (bench: q264 run_sec/wall ≈ 7 on 32 cores). Salting the
    * src side by pmod(hash(src), S) and replicating the dst side S
    * ways spreads each cell's pair block over S tasks. Deterministic
    * (hash of the id, never rand — guide §2.5's retry-duplication
    * trap), and the result set is untouched: every (src, dst) pair
    * still meets exactly once per shared cell.
    *
    * S is AUTO-SIZED from the centroid count (r19, closing the r18
    * verdict's "unconditional default" gap): the salt exists to spread a
    * FEW cells' pair blocks over many tasks, and its cost is S× the dst
    * side's shuffle bytes — so S falls as cells grow. Target ≈16 distinct
    * (cell, salt) keys per shuffle partition (guide §2.5's "more distinct
    * keys than partitions so the hash spreads evenly"), capped at
    * partitions/4 (the r18 default — 8 on the 32-core bench session, so
    * the pinned-12-cell bench fixtures keep their exact r18 plan), floored
    * at 1: with cells ≥ 16× parallelism S=1 and the plan is REPLICATION-
    * FREE — no salt column, no dst cross-join at all (spec-pinned).
    * `spark.graft.knn.cellSalt` still overrides for deployments that know
    * better. */
  private[llm] def cellSaltFor(confOverride: Option[Int],
      shufflePartitions: Int, nCells: Int): Int =
    confOverride.getOrElse {
      val cap = math.max(1, shufflePartitions / 4)
      if (nCells <= 0) cap
      else math.min(cap,
        math.max(1, (16 * shufflePartitions + nCells - 1) / nCells))
    }
  private def cellSalt(spark: org.apache.spark.sql.SparkSession,
      nCells: Int): Int =
    cellSaltFor(spark.conf.getOption("spark.graft.knn.cellSalt").map(_.toInt),
      spark.sessionState.conf.numShufflePartitions, nCells)

  /** Same-cell candidate scoring over two [[sided]] frames: skinny
    * (src, dst, sim) rows, multi-cell duplicates folded map-side. The
    * join is salted ([[cellSalt]]) and both sides carry an EXPLICIT
    * partition count (`repartition(p, …)` — AQE never coalesces a
    * user-numbered repartition, whereas the join's own exchange got
    * coalesced to ~1 partition from the small pre-join byte size and
    * starved the pair-multiplying scoring stage; guide §2.2/§2.5). */
  private def scorePairs(a: DataFrame, b: DataFrame, nCells: Int): DataFrame = {
    val spark = a.sparkSession
    val p = spark.sessionState.conf.numShufflePartitions
    val s = cellSalt(spark, nCells)
    // S=1 (cells plentiful vs parallelism): the plain cell join — no salt
    // column, no dst replication; the cell key alone spreads evenly
    val (aS, bS, keys) =
      if (s <= 1) (a, b, Seq("cell"))
      else {
        val salts = broadcast(
          spark.range(s).select(col("id").cast("int").as("salt")))
        (a.withColumn("salt", pmod(hash(col("src")), lit(s))),
          b.crossJoin(salts), Seq("cell", "salt"))
      }
    aS.repartition(p, keys.map(col): _*)
      .join(bS.repartition(p, keys.map(col): _*), keys)
      .filter(col("src") =!= col("dst"))
      .select(col("src"), col("dst"),
        (Similarity.dotFast(col("sv"), col("dv")) /
          sqrt(col("sn") * col("dn"))).as("sim"))
      // r19.2 (guide §2.4): ONE exchange on src replaces TWO — the
      // groupBy(src, dst) hash exchange AND the consumer window's
      // partitionBy(src) exchange. HashPartitioning(src) satisfies the
      // dedup agg's ClusteredDistribution(src, dst) (same-key rows
      // co-locate under the coarser key), and every consumer
      // ([[cutDegree]], [[build]]'s window, [[adjacency]]'s groupBy(src))
      // clusters on src — the partitioning flows through agg and window
      // untouched, so none of them re-exchange. Bytes shuffled stay ~the
      // same (the old first exchange didn't map-side-dedup multi-cell
      // pairs either — duplicates live in DIFFERENT cell partitions by
      // construction); the stage count drops by one per build/upsert/
      // delete/save chain. p is the session's shuffle-partition conf
      // (the deployment knob), pinned so AQE can't starve the
      // pair-multiplying stage — the scorePairs precedent above.
      // Skew bound: a src sits in at most nProbe cells and meets each
      // cell's members once (its salt fixes one replica of every dst),
      // so pairs per src ≤ nProbe × max cell size. The widest task here
      // is set by the largest cell, not by the corpus size.
      .repartition(p, col("src"))
      .groupBy("src", "dst").agg(max("sim").as("sim"))
  }

  /** Per-source top-`degree` cut on (full-precision sim DESC, dst ASC). */
  private def cutDegree(df: DataFrame, degree: Int): DataFrame = {
    val w = Window.partitionBy("src").orderBy(col("sim").desc, col("dst"))
    df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= degree).select("src", "rk", "dst", "sim")
  }

  /** Persist the graph in its SERVING layout (the DiskANN at-rest shape,
    * via the [[Pq.saveIndex]]/[[graft.sources.Bucketing]] precedent):
    * `<name>_nodes` is one RECORD PER NODE — (vec_id, embedding,
    * nbrs: array of (rk, dst)) — bucketed AND sorted on `vec_id`, so a
    * beam hop's `vec_id IN (frontier)` probe prunes unprobed buckets at
    * the FILE level (`SelectedBucketsCount` in the plan) instead of
    * packing the whole corpus with its edges per search (as [[search]]
    * does — right for one-shot analytics, wrong for a serving path that
    * answers queries all day); `<name>_entries` is the small per-cell
    * medoid table. Nodes with no
    * out-edges keep their vector row (null nbrs) — they can still be
    * scored as candidates. One shuffle at index build, amortized over
    * every later search.
    *
    * The table is ADDITIONALLY partitioned on the bucket id itself
    * (partition `bkt=k` holds exactly bucket k's rows, probe plans
    * unchanged), so the streaming maintainer can rewrite only the
    * buckets a batch touched ([[saveIndexDelta]]) instead of the whole
    * table.
    *
    * Failure semantics, shared by every op that writes an index
    * ([[saveIndexPq]], [[saveIndexDelta]], [[refreshCodebook]],
    * [[rebucket]]): the write goes through [[IndexCommit]], which stages
    * all new tables before it touches a live one. An op that fails leaves
    * the previous index serving byte-identical results, and rerunning it
    * succeeds. */
  def saveIndex(edges: DataFrame, emb: DataFrame, cs: Array[Array[Float]],
      name: String, buckets: Int = 16): Unit =
    IndexCommit.write(
      IndexCommit.Table(s"${name}_entries", entryMedoids(emb, cs)),
      nodesTable(name, nodesFrame(edges, emb), buckets))

  /** `<name>_nodes` in the node-record layout: bucketed on `vec_id`. */
  private def nodesTable(name: String, df: DataFrame, buckets: Int,
      parts: Option[Seq[Int]] = None): IndexCommit.Table =
    IndexCommit.Table(s"${name}_nodes", df,
      Some(IndexCommit.Buckets("vec_id", buckets)), parts)

  /** The per-node serving record: (vec_id, embedding, nbrs). */
  private def nodesFrame(edges: DataFrame, emb: DataFrame): DataFrame =
    emb.select("vec_id", "embedding")
      .join(adjacency(edges), Seq("vec_id"), "left")

  /** Edge lists → the per-node record column; sim rides in the record
    * so maintenance (upsert splice / delete re-cut) can reload the
    * index without rescoring surviving edges. */
  private def adjacency(edges: DataFrame): DataFrame =
    edges.groupBy(col("src").as("vec_id"))
      .agg(sort_array(collect_list(struct(col("rk"), col("dst"), col("sim"))))
        .as("nbrs"))

  /** Search a [[saveIndex]]-persisted graph — [[search]]'s exact
    * algorithm (same arithmetic, same tie rules; q273 hash-certifies the
    * equivalence against q265's oracle verbatim) with every per-round
    * read replaced by a BUCKET-PRUNED probe of the node-record table:
    * the frontier ids select the candidate records (vectors and neighbor
    * lists) — per round the index IO is proportional to the buckets the
    * ≤ queries·beam frontier touches, never the corpus.
    *
    * Declared limits (the [[Pq.bounded]] collect contract of every
    * vector-index search): entry cells ≤ 65,536 and queries·beam
    * ≤ 65,536. Each collect runs through a limit ONE ROW past the cap or
    * is checked against it, and raises IllegalArgumentException — it
    * never degrades.
    *
    * `onProbe` (optional) observes each node-record probe's id set —
    * the ScaleStress --knnidx curve derives its buckets-read counter
    * from it (bucket id = pmod(murmur3(vec_id), buckets), the exact
    * arithmetic Spark's bucket pruning applies). */
  def searchIndexed(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, topK: Int, beam: Int, rounds: Int,
      onProbe: Seq[Long] => Unit = null): DataFrame =
    serving(spark, name) { (nodes, buckets) =>
      floatSearch("searchIndexed", nodes, buckets, onProbe, queries,
        spark.table(s"${name}_entries"), None, topK, beam, rounds)
    }

  /** [[searchFiltered]] over a [[saveIndex]]-persisted index: the same
    * predicate-aware admission (entries and frontier gated BEFORE
    * scoring — q278 hash-certifies it against q275's oracle verbatim)
    * composed with the bucket-pruned probes of [[searchIndexed]]. The
    * predicate evaluates on the PROBED RECORDS (the node-record schema
    * carries everything a filter needs), so every read stays
    * bucket-pruned — a global allowed-id semi-join would full-scan the
    * index table per round, which is exactly what this path exists to
    * avoid. Declared limits: entry cells ≤ 65,536 and queries·beam ≤
    * 65,536, as [[searchIndexed]]. */
  def searchIndexedFiltered(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, pred: Column, topK: Int, beam: Int,
      rounds: Int, onProbe: Seq[Long] => Unit = null): DataFrame =
    serving(spark, name) { (nodes, buckets) =>
      floatSearch("searchIndexedFiltered", nodes, buckets, onProbe, queries,
        spark.table(s"${name}_entries"), Some(pred), topK, beam, rounds)
    }

  /** [[saveIndex]] augmented with PQ codes — the DiskANN at-rest layout
    * PROPER (Subramanya et al. 2019 store exactly this per node: the
    * adjacency list, the full vector, and an M-byte PQ code; the beam
    * ranks on code distances held in memory and the full vectors are
    * touched only to rerank): node records gain a `codes` column
    * encoded through PINNED grid-row sub-codebooks (rows
    * [cbStart, cbStart+nCodebook) of [[Pq.grid]] — the q183/q189
    * fixed-parameter discipline, kept DISJOINT from the graph's
    * centroid rows), and the codebook persists as `<name>_cb`
    * ([[Pq.cbTable]], the IVFPQ index's codebook table). Because the
    * record is columnar parquet, a beam hop reads ONLY (vec_id, codes,
    * nbrs) — the ReadSchema
    * never includes the embedding until the rerank probe, which is the
    * PQ memory story realized at the storage layer. */
  def saveIndexPq(edges: DataFrame, emb: DataFrame, cs: Array[Array[Float]],
      m: Int, dimsPer: Int, nCodebook: Int, cbStart: Int, name: String,
      buckets: Int = 16): Unit =
    saveIndexPqWith(edges, emb, cs,
      Pq.pinnedCodebook(emb, m, dimsPer, nCodebook, cbStart), m, dimsPer,
      name, buckets)

  /** [[saveIndexPq]] with an explicit codebook — the maintenance path
    * ([[graft.streaming.StreamingKnnIndex]]) reloads the PERSISTED
    * `<name>_cb` and re-saves through here, so a maintained index keeps
    * the exact codebook it was built with (codes must stay comparable
    * across batches — re-deriving from pinned rows would silently
    * change them if the pinned rows themselves were deleted). */
  private[graft] def saveIndexPqWith(edges: DataFrame, emb: DataFrame,
      cs: Array[Array[Float]], cb: Pq.Codebook, m: Int,
      dimsPer: Int, name: String, buckets: Int): Unit =
    IndexCommit.write(Pq.cbTable(emb.sparkSession, name, cb),
      IndexCommit.Table(s"${name}_entries", entryMedoids(emb, cs)),
      nodesTable(name, pqNodesFrame(edges, emb, cb, m, dimsPer), buckets))

  /** The PQ-augmented serving record: (vec_id, embedding, codes, nbrs) —
    * codes through the explicit codebook ([[Pq.encode]]'s kernel). The
    * encode is a per-row mapPartitions kernel, NOT a codegen
    * Expression: it runs only at index build, at [[refreshCodebook]]
    * (rare by design), and on [[saveIndexDelta]]'s touched rows — each
    * bounded at O(rows·M·K·dimsPer) integer ops off the serving path.
    * If maintenance batches ever make it hot, the ContentChunks
    * precedent (static-object kernel behind a codegen Expression) is
    * the upgrade; until then the simpler kernel wins on clarity. */
  private def pqNodesFrame(edges: DataFrame, emb: DataFrame,
      cb: Pq.Codebook, m: Int, dimsPer: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val codes = Pq.grid(emb).as[(Long, Seq[Long])]
      .mapPartitions(_.map { case (vid, gv) =>
        (vid, Pq.encode(gv.toIndexedSeq, m, dimsPer, cb).toSeq)
      }).toDF("vec_id", "codes")
    emb.select("vec_id", "embedding")
      .join(codes, Seq("vec_id"))
      .join(adjacency(edges), Seq("vec_id"), "left")
  }

  /** Bucket-targeted incremental index write — the maintenance half of
    * the [[saveIndex]] layout's reason to exist: the maintainers
    * ([[graft.streaming.StreamingKnnIndex]]) COMPUTE only a batch's
    * delta (the exact upsert/delete laws bound it), and this write
    * keeps the IO proportional to the same delta: `touchedIds` (the
    * batch's new ∪ touched ∪ deleted ids) map to their bucket ids by
    * the bucketing arithmetic itself, the fresh node records for
    * exactly those `bkt` partitions are cut from the maintained state
    * and staged, and the commit swaps those partition directories only
    * — every other node record stays on disk untouched (spec-pinned
    * byte-identical). At a 100 TB index a micro-batch then rewrites
    * O(|batch|·cell-footprint) bytes, not O(index).
    *
    * Deletes need no tombstones: a deleted id's bucket is in the
    * touched set, and the rewritten partition simply no longer
    * contains its row. Returns (touched bkt ids, bytes written). Both
    * `edges` and `emb` may read the live index lazily: nothing live
    * changes until every byte is staged ([[IndexCommit]]), so a failed
    * batch leaves the previous index serving. The commit itself is not
    * atomic across partitions, so the index-name single-writer contract
    * applies (the caller's foreachBatch loop serializes batches by
    * construction). */
  private[graft] def saveIndexDelta(spark: org.apache.spark.sql.SparkSession,
      name: String, edges: DataFrame, emb: DataFrame,
      cs: Array[Array[Float]], buckets: Int,
      touchedIds: DataFrame, deletedIds: Option[DataFrame] = None): (Seq[Int], Long) = {
    import graft.sources.Bucketing
    // the bucket count is a property of the TABLE, not the call: a
    // mismatched arg would compute bkt partitions that don't align with
    // the on-disk layout and strand stale rows — fail loudly instead
    // (matters after a rebucket changed the count under a maintainer)
    val spec = spark.sessionState.catalog.getTableMetadata(
      org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_nodes"))
      .bucketSpec
    require(spec.exists(_.numBuckets == buckets),
      s"saveIndexDelta: caller passed buckets=$buckets but ${name}_nodes " +
        s"is bucketed as $spec - pass the table's actual bucket count")
    val bkts = touchedIds
      .select(Bucketing.bucketId(col("vec_id"), buckets).as("bkt"))
      .distinct().collect().map(_.getInt(0)).toSeq
    def inBkts(c: Column): Column =
      Bucketing.bucketId(c, buckets).isin(bkts.map(b => b: Any): _*)
    // prune INPUTS to the affected buckets, not just the write: the
    // adjacency aggregate and (for PQ) the per-row encode kernel then
    // cost O(affected rows), never O(index)
    val embAff = emb.filter(inBkts(col("vec_id")))
    val edgesAff = edges.filter(inBkts(col("src")))
    val full =
      if (spark.table(s"${name}_nodes").columns.contains("codes")) {
        val (cb, m, dimsPer) = Pq.loadCodebook(spark, name)
        // re-encode only the rows being rewritten (same pinned codebook,
        // so codes stay comparable across batches — the q280 contract)
        pqNodesFrame(edgesAff, embAff, cb, m, dimsPer)
      } else nodesFrame(edgesAff, embAff)
    // the medoid entry table: a pure per-cell minimum by (d, node). r19
    // (guide §2.4/§6 — maintenance compute ∝ delta): the old path re-ran
    // probeAssign + a window over the WHOLE corpus every micro-batch to
    // rewrite this O(cells) table. A batch that deleted or replaced no
    // stored medoid cannot move any cell's minimum except by ADDING
    // candidates, so the new table is exactly
    //   min(stored medoid, rewritten buckets' primary assignments) per cell
    // — min-of-mins over the same (d ASC, node ASC) key, bit-exact
    // because d is a deterministic function of the pinned centroids and
    // the row's embedding and parquet round-trips doubles exactly. The
    // rewritten buckets hold every new row; their BASE rows re-entering
    // the merge are harmless: they were already inside the stored
    // minimum. Batches that deleted a stored
    // medoid (including D+I replacements, whose re-inserted embedding
    // invalidates the stored d), and legacy node-only entry tables, fall
    // back to the full recompute — correctness first, the fallback is
    // the rare case by construction (medoids are O(cells) of the corpus).
    val entT = spark.table(s"${name}_entries")
    val medoidInvalid = deletedIds.exists(d =>
      !entT.join(d.select(col("vec_id").as("node")), Seq("node"),
        "left_semi").isEmpty)
    val newEntries =
      if (!entT.columns.contains("cell") || medoidInvalid)
        entryMedoids(emb, cs)
      else {
        val cand = probeAssign(embAff, cs, nProbe = 1)
          .select(col("vec_id").as("node"), col("cell"), col("d"))
        val w = Window.partitionBy("cell").orderBy(col("d"), col("node"))
        entT.select("node", "cell", "d").unionByName(cand)
          .withColumn("er", row_number().over(w))
          .filter(col("er") === 1).drop("er")
      }
    // a bucket every row left is absent from `full`, so the commit drops
    // its partition (spec-pinned); entries commit before nodes (see
    // [[IndexCommit]] for why a replayed batch then converges)
    IndexCommit.write(IndexCommit.Table(s"${name}_entries", newEntries),
      nodesTable(name, full, buckets, Some(bkts)))
    (bkts, Bucketing.partitionBytes(spark, s"${name}_nodes", Some(bkts)))
  }

  /** Reload a persisted index into the maintenance shape: (embeddings,
    * edges with sims) — the inverse of [[saveIndex]]'s record packing. */
  def loadIndex(spark: org.apache.spark.sql.SparkSession,
      name: String): (DataFrame, DataFrame) = {
    val nodes = spark.table(s"${name}_nodes")
    val emb = nodes.select("vec_id", "embedding")
    val edges = nodes
      .select(col("vec_id").as("src"), explode(col("nbrs")).as("e"))
      .select(col("src"), col("e.rk").as("rk"), col("e.dst").as("dst"),
        col("e.sim").as("sim"))
    (emb, edges)
  }

  /** Retrain-and-re-encode codebook refresh — the missing half of the
    * codebook-PRESERVATION story ([[saveIndexDelta]] keeps the build
    * codebook forever so codes stay comparable across batches; on a
    * drifting corpus a frozen codebook eventually degrades into
    * quantization noise — the uniform-fixture lesson, recall 0.20 when
    * codes carry no signal). This op retrains the sub-codebooks from
    * the CURRENT corpus (pinned grid rows [cbStart, cbStart+nCodebook),
    * which must all be present — raising, not silently reusing stale
    * parameters, if a changelog deleted them), re-encodes EVERY node's
    * codes, and swaps `<name>_cb` and the node records through
    * [[IndexCommit]] (codebook first, nodes last: a rerun after a commit
    * cut between them derives the same codebook from the same nodes).
    * Entries are a function of (emb, cs), both unchanged, so the stored
    * table stays. By design this is the rare O(index) heavyweight op — every
    * code changes, so no delta write exists; fire it on the
    * [[pqDistortion]] drift signal (--pqdrift curve), not per batch.
    * The law (q282's oracle): refresh(maintained index) ≡ saveIndexPq
    * over the current corpus with the new pinned rows — graph edges
    * pass through unchanged, so the exact maintenance laws compose
    * with the refresh and one rebuild-side hash certifies the chain. */
  def refreshCodebook(spark: org.apache.spark.sql.SparkSession, name: String,
      cs: Array[Array[Float]], m: Int, dimsPer: Int, nCodebook: Int,
      cbStart: Int, buckets: Int): Unit = {
    val (emb, edges) = loadIndex(spark, name)
    val cb = Pq.pinnedCodebook(emb, m, dimsPer, nCodebook, cbStart)
    IndexCommit.write(Pq.cbTable(spark, name, cb),
      nodesTable(name, pqNodesFrame(edges, emb, cb, m, dimsPer), buckets))
  }

  /** Re-bucket a persisted index — the capacity half of the index
    * lifecycle ([[refreshCodebook]] is the quality half): the bucket
    * count is fixed at build time, so a corpus that keeps growing
    * through [[graft.streaming.StreamingKnnIndex]] ingest fattens every
    * bucket and the probes' per-file IO with it (the --knnidx curves
    * size buckets ≈ n/31 for a reason). This op re-saves the index
    * under a new bucket count — graph, codes (PQ indexes keep their
    * exact codebook), and entries all pass through unchanged, so
    * serving results are bit-identical before and after (spec-pinned;
    * q284's oracle is the plain serving oracle verbatim) and only the
    * id→file mapping changes. O(index) by nature — like refresh, an
    * occasional op fired when rows/bucket drifts past the deployment
    * target, never per batch. */
  def rebucket(spark: org.apache.spark.sql.SparkSession, name: String,
      cs: Array[Array[Float]], buckets: Int): Unit = {
    // r19 (guide §1.2 "don't compute things you throw away"): the node
    // records themselves pass through a rebucket BIT-IDENTICAL — only the
    // id→file mapping changes — yet the old path round-tripped them
    // through the maintenance shape: loadIndex EXPLODED every nbrs list
    // to edge rows, saveIndex re-AGGREGATED them back (a corpus-sized
    // groupBy exchange), re-joined the embeddings (two more exchanges),
    // and a PQ index additionally RE-ENCODED every code through the
    // unchanged codebook (per-row M·K·dimsPer kernel over the corpus) —
    // all to reproduce the exact rows already on disk. Now the records
    // are read once and rewritten under the new bucket count: one scan,
    // one bkt exchange, one write. Entries and codebook are invariant
    // under re-layout, so they are not rewritten at all. No "rewrite
    // only moved partitions" tier exists under modulo bucketing: new
    // bucket k draws from old bucket (k mod oldB) but is a strict subset
    // of it whenever the count actually changes, so EVERY partition's
    // membership moves — O(index) read+write is the floor, and this now
    // pays exactly it.
    val nodesT = spark.table(s"${name}_nodes")
    IndexCommit.write(nodesTable(name,
      nodesT.select(nodesT.columns.filter(_ != "bkt").map(col).toIndexedSeq: _*),
      buckets))
  }

  /** Per-vector quantization distortion under a persisted index's
    * codebook — (vec_id, distortion, energy): distortion = Σ_m min_j d2
    * of the grid sub-vectors ([[Pq.encodeDistortion]]), energy = ‖g‖²
    * (the vector's own grid mass). Both integer-exact (oracle: q283).
    * THE refresh trigger is the RELATIVE error distortion/energy —
    * absolute distortion is scale-confounded (a corpus drifting toward
    * smaller norms LOWERS absolute error even as the codes turn to
    * noise, measured in the --pqdrift curve); when fresh vectors' mean
    * ratio pulls several× from the build-time mean, the frozen codebook
    * no longer spans the corpus and [[refreshCodebook]] should fire.
    * Distributed one-pass kernel, no index reads beyond `<name>_cb`. */
  def pqDistortion(spark: org.apache.spark.sql.SparkSession, name: String,
      emb: DataFrame): DataFrame = {
    val (cb, m, dimsPer) = Pq.loadCodebook(spark, name)
    pqDistortionWith(emb, cb, m, dimsPer)
  }

  /** [[pqDistortion]] under an explicit codebook (no index needed) —
    * the q283 oracle-certified kernel. */
  def pqDistortionWith(emb: DataFrame,
      cb: Pq.Codebook, m: Int, dimsPer: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    Pq.grid(emb).as[(Long, Seq[Long])]
      .mapPartitions(_.map { case (vid, gv) =>
        val v = gv.toIndexedSeq
        var e = 0L
        var i = 0
        while (i < v.length) { e += v(i) * v(i); i += 1 }
        (vid, Pq.encodeDistortion(v, m, dimsPer, cb), e)
      }).toDF("vec_id", "distortion", "energy")
  }

  /** Memory-bounded beam search over a [[saveIndexPq]] index — DiskANN's
    * actual serving loop: the beam ranks candidates on INTEGER PQ
    * distances (per-query SDC tables over the persisted codebook — M
    * lookups per candidate, no float vector anywhere in the loop, and
    * the hop probes read only (vec_id, codes, nbrs) thanks to parquet
    * column pruning), then the final `rerank` best by code distance are
    * re-scored with exact full-precision cosine from a LAST bucket-pruned
    * probe that is the only read touching the embedding column. Every
    * plane is deterministic (grid/encode/tables integer-exact with
    * lowest-index ties, beam ties by node, rerank ties by node), so the
    * whole loop — approximate ranking INCLUDING its mistakes, then the
    * rerank correcting them — hash-certifies against q279's oracle.
    * Declared limits: entry cells ≤ 65,536 and queries·beam ≤ 65,536,
    * as [[searchIndexed]]. */
  def searchIndexedPq(spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, topK: Int, beam: Int, rounds: Int, rerank: Int,
      onProbe: Seq[Long] => Unit = null): DataFrame =
    pqSearch("searchIndexedPq", spark, name, queries, None, topK, beam,
      rounds, rerank, onProbe)

  /** Predicate-aware [[searchIndexedPq]] — the production serving
    * combination (Filtered-DiskANN, Gollapudi et al. WWW 2023: "top-k
    * WHERE lang = 'en'" over the PQ-coded index): the predicate
    * evaluates on the PROBED RECORDS exactly as in
    * [[searchIndexedFiltered]] — entry and frontier candidates that
    * fail it never enter the code-distance beam, so the whole integer
    * budget ranks ADMISSIBLE nodes, and the rerank tier (already
    * admissible by construction) re-scores them exactly. Every read
    * stays bucket-pruned and (until the rerank) embedding-free; a
    * global allowed-id semi-join would full-scan the index per round,
    * which this path exists to avoid. Certified by q281's oracle —
    * q279's CTE ladder with the predicate applied once on the
    * code-distance plane — and the post-filter recall A/B is
    * spec-pinned on the PQ path too. Declared limits: entry cells ≤
    * 65,536 and queries·beam ≤ 65,536, as [[searchIndexed]]. */
  def searchIndexedPqFiltered(spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, pred: Column, topK: Int, beam: Int,
      rounds: Int, rerank: Int,
      onProbe: Seq[Long] => Unit = null): DataFrame =
    pqSearch("searchIndexedPqFiltered", spark, name, queries, Some(pred),
      topK, beam, rounds, rerank, onProbe)

  /** Greedy beam search: from the entry set, `rounds` frontier
    * expansions over `edges`, keeping the `beam` best (full-precision
    * cosine DESC, node ASC) per query each round; finally the `topK`
    * best. Queries score against themselves never (node ≠ q_id).
    * Output: (q_id, rk, node, sim), a local relation.
    *
    * Runs [[beamSearch]] over a node frame — `emb` with each node's
    * out-neighbors from `edges` — persisted for the call and unpersisted
    * before it returns; a lost block is recomputed from lineage.
    * Declared limits: entry cells ≤ 65,536 and queries·beam ≤ 65,536,
    * as [[searchIndexed]]. */
  def search(edges: DataFrame, emb: DataFrame, queries: DataFrame,
      entries: DataFrame, topK: Int, beam: Int, rounds: Int): DataFrame =
    searchInMemory("search", edges, emb, queries, entries, None, topK, beam,
      rounds)

  /** Predicate-aware beam search — filtered ANN done IN the traversal,
    * not after it: the predicate gates every admission, so entries and
    * frontier candidates that fail it never enter the beam and the whole
    * budget ranks ADMISSIBLE nodes. Post-filtering an unfiltered top-k
    * is the classic filtered-ANN recall bug (Filtered-DiskANN, Gollapudi
    * et al. WWW 2023 measure it): at predicate selectivity s, an
    * unfiltered top-k keeps ~s·k admissible rows — the beam spent its
    * budget ranking nodes the query can't use. The A/B is spec-pinned in
    * KnnGraphSpec; the sequential filtered traversal itself is
    * hash-certified by q275's unrolled oracle (q265's CTE ladder with
    * the predicate on the sims plane — one filter placement, the engine
    * mirrors it exactly).
    *
    * The filter arrives as a Column over `emb`'s schema and evaluates on
    * each round's probed node records, which carry every `emb` column.
    * Declared limits: entry cells ≤ 65,536 and queries·beam ≤ 65,536,
    * as [[searchIndexed]]. */
  def searchFiltered(edges: DataFrame, emb: DataFrame, queries: DataFrame,
      entries: DataFrame, pred: Column, topK: Int, beam: Int,
      rounds: Int): DataFrame =
    searchInMemory("searchFiltered", edges, emb, queries, entries, Some(pred),
      topK, beam, rounds)

  private def searchInMemory(op: String, edges: DataFrame, emb: DataFrame,
      queries: DataFrame, entries: DataFrame, pred: Option[Column], topK: Int,
      beam: Int, rounds: Int): DataFrame = {
    GraftFunctions.register(emb.sparkSession)
    val nodes = emb.join(edges.groupBy(col("src").as("vec_id"))
        .agg(collect_list(struct(col("dst"))).as("nbrs")), Seq("vec_id"), "left")
      .persist()
    try floatSearch(op, nodes, -1, null, queries, entries, pred, topK, beam,
      rounds)
    finally nodes.unpersist()
  }

  /** Runs `body` on `name`'s serving node table and its bucket count,
    * with autoBucketedScan pinned off. DisableUnnecessaryBucketedScan
    * turns the bucketed read OFF for scan-shaped plans (no "interesting
    * partition" downstream), which silently discards bucket pruning and
    * reads EVERY bucket file — measured: `Bucketed: false (disabled by
    * query planner)`, no SelectedBucketsCount, for exactly the probe
    * shape [[probeRecords]] builds. Every search collects its result
    * inside this scope, so no probe plans after the pin is lifted. */
  private def serving[T](spark: org.apache.spark.sql.SparkSession,
      name: String)(body: (DataFrame, Int) => T): T = {
    GraftFunctions.register(spark)
    val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
    val prevAuto = spark.conf.get(autoKey)
    spark.conf.set(autoKey, "false")
    try body.tupled(servingNodes(spark, name))
    finally spark.conf.set(autoKey, prevAuto)
  }

  /** `<name>_nodes` and its bucket count, from the catalog's bucket spec
    * — a property of the table, never a caller argument (the
    * [[saveIndexDelta]] contract). The count is -1 for a pre-r18
    * plain-bucketed table without the `bkt` partition column: its probes
    * still serve, carrying the vec_id filter alone. */
  private def servingNodes(spark: org.apache.spark.sql.SparkSession,
      name: String): (DataFrame, Int) = {
    val nodes = spark.table(s"${name}_nodes")
    (nodes, if (!nodes.columns.contains("bkt")) -1
      else spark.sessionState.catalog.getTableMetadata(
          org.apache.spark.sql.catalyst.TableIdentifier(s"${name}_nodes"))
        .bucketSpec.map(_.numBuckets).getOrElse(
          sys.error(s"${name}_nodes is not a bucketed serving table")))
  }

  /** `df`'s (vec_id, embedding) as (`id`, `v`, the squared norm `n`),
    * plus `extra`. */
  private def vectors(df: DataFrame, id: String, v: String, n: String,
      extra: Column*): DataFrame =
    df.select(Seq(col("vec_id").as(id), col("embedding").as(v),
      Similarity.dotFast(col("embedding"), col("embedding")).as(n)) ++ extra: _*)

  /** The float searches over `nodes` records (vec_id, embedding, nbrs and
    * any column `pred` reads): full-precision cosine against `queries`,
    * ranked sim DESC, node ASC. The scorer carries each candidate's OWN
    * neighbor ids out of the same probe (r19), so a round needs no
    * separate beam-record probe. The admission gate evaluates `pred` ON
    * THE PROBED RECORDS — scoring's inner join then drops inadmissible
    * candidates, so the beam never holds them — rather than as a global
    * allowed-id semi-join, which would full-scan the node table every
    * round. The final `topK` replays the window's ranking on the
    * driver-held beam. */
  private def floatSearch(op: String, nodes: DataFrame, buckets: Int,
      onProbe: Seq[Long] => Unit, queries: DataFrame, entries: DataFrame,
      pred: Option[Column], topK: Int, beam: Int, rounds: Int): DataFrame = {
    val spark = nodes.sparkSession
    import spark.implicits._
    val q = broadcast(vectors(queries, "q_id", "qv", "qn"))
    def score(cand: DataFrame, recs: DataFrame): DataFrame = cand
      .join(q, Seq("q_id"))
      .join(vectors(recs, "node", "nv", "nn", nbrIds), Seq("node"))
      .filter(col("node") =!= col("q_id"))
      .select(col("q_id"), col("node"),
        (Similarity.dotFast(col("qv"), col("nv")) /
          sqrt(col("qn") * col("nn"))).as("sim"),
        col("nbr_ids"))
    val bm = beamSearch(op, q.select("q_id"), entries,
      ids => admit(probeRecords(nodes, ids, onProbe, buckets), pred),
      score, BySim, beam, rounds)
    BySim.best(bm, topK)
      .flatMap(_.zipWithIndex.map { case (t, i) => (t._1, i + 1, t._2, t._3) })
      .toDF("q_id", "rk", "node", "sim")
  }

  /** The PQ searches: [[beamSearch]] ranked on the SDC code distance
    * (dist ASC, node ASC), then the rerank tier — the ONLY read touching
    * the embedding column — re-scores the `rerank` best per query with
    * exact full-precision cosine and keeps the `topK` best. The query
    * grid and its lookup tables are built lazily, so their jobs run
    * (and are labelled) in the entry round. */
  private def pqSearch(op: String, spark: org.apache.spark.sql.SparkSession,
      name: String, queries: DataFrame, pred: Option[Column], topK: Int,
      beam: Int, rounds: Int, rerank: Int,
      onProbe: Seq[Long] => Unit): DataFrame = serving(spark, name) {
    (nodes, buckets) =>
      import spark.implicits._
      def records(ids: Seq[Long]): DataFrame =
        probeRecords(nodes, ids, onProbe, buckets)
      lazy val qs = Pq.bounded(Pq.grid(queries).as[(Long, Seq[Long])],
        s"KnnGraph.$op query batch", "chunk the query set")
      lazy val luts = lutFrame(spark, name, qs)
      val bm = beamSearch(op, broadcast(qs.map(_._1).toDF("q_id")),
        spark.table(s"${name}_entries"), ids => admit(records(ids), pred),
        (cand, recs) => scorePqFrame(cand, recs, luts), ByDist, beam, rounds)
      VertexRounds.labelled(spark.sparkContext, s"KnnGraph.$op rerank") {
        val rr = ByDist.best(bm, rerank).flatten.map(t => (t._1, t._2)).sorted
        val top = rr.toDF("q_id", "node")
          .join(broadcast(vectors(queries, "q_id", "qv", "qn")), Seq("q_id"))
          .join(vectors(records(rr.map(_._2).distinct), "node", "nv", "nn"),
            Seq("node"))
          .select(col("q_id"), col("node"),
            (Similarity.dotFast(col("qv"), col("nv")) /
              sqrt(col("qn") * col("nn"))).as("sim"))
          .withColumn("rk", row_number().over(BySim.window))
          .filter(col("rk") <= topK)
          .select("q_id", "rk", "node", "sim")
        // ≤ queries·topK rows, collected INSIDE the pinned scope: a lazy
        // frame would plan its embedding probe after autoBucketedScan is
        // restored and read every bucket file
        spark.createDataFrame(top.collect().toSeq.asJava, top.schema)
      }
  }

  /** One driver-held beam row: (q_id, node, key, nbr_ids), the key being
    * the float paths' `sim` or the PQ paths' `dist`. */
  private type Beam[K] = (Long, Long, K, Seq[Long])

  /** A beam's rank order — `key` (DESC if `desc`, by `cmp`), then node
    * ASC — as the Spark window the entry round keeps with and as its
    * driver-side replay for every later round. row_number ≤ b ≡ take b
    * of a strict total order, since (q_id, node) is unique. */
  private final case class Rank[K](key: String, desc: Boolean,
      cmp: (K, K) => Int) {
    def window: WindowSpec = Window.partitionBy("q_id")
      .orderBy(if (desc) col(key).desc else col(key).asc, col("node"))
    private val order: Ordering[Beam[K]] = (a, b) => {
      val c = if (desc) cmp(b._3, a._3) else cmp(a._3, b._3)
      if (c != 0) c else java.lang.Long.compare(a._2, b._2)
    }
    /** Per query (ascending q_id), its best `n` rows in rank order. */
    def best(rows: Seq[Beam[K]], n: Int): Seq[Seq[Beam[K]]] =
      rows.groupBy(_._1).toSeq.sortBy(_._1)
        .map { case (_, rs) => rs.sorted(order).take(n) }
  }

  /** Spark SQL's double comparison, verbatim (Utils.nanSafeCompareDoubles
    * — the function codegen emits for every DoubleType SortOrder): NaN
    * sorts greatest, and ±0.0 compare EQUAL (x == y short-circuits),
    * unlike java.lang.Double.compare. The driver-held beam's keep must
    * replay the window's ordering bit for bit, so it uses THIS, never
    * Ordering.Double. */
  private def nanSafeCmpDouble(x: Double, y: Double): Int = {
    val xn = java.lang.Double.isNaN(x)
    val yn = java.lang.Double.isNaN(y)
    if ((xn && yn) || (x == y)) 0
    else if (xn) 1
    else if (yn) -1
    else if (x > y) 1
    else -1
  }

  private val BySim = Rank[Double]("sim", desc = true, nanSafeCmpDouble)
  private val ByDist =
    Rank[Long]("dist", desc = false, (a, b) => java.lang.Long.compare(a, b))

  /** THE beam search, the one every public search runs. The entry round
    * collects the distinct entry ids once (a node listed twice seeds the
    * beam once), scores `queryIds` × those ids against their probed
    * `records` and keeps the best `beam` per query in a Spark window
    * (queries × entries is not driver-bounded before the keep). Beam
    * state is then ≤ queries·beam rows by contract, so it rides between
    * rounds as a collected local relation (r19): each later round
    * derives the frontier (ids and (q_id, node) pairs) driver-side from
    * the beam rows' carried neighbor ids, runs ONE Spark job — `score`
    * over ONE `records` probe of the frontier — and merges the scored
    * rows into the beam by the driver-side replay of `rank`. Collected
    * doubles and longs round-trip bit-exactly, so every ranking is the
    * window's. A drained frontier ends the loop: scoring an empty
    * candidate set leaves the beam fixed, so skipped rounds are
    * result-identical by induction. Every job of round r (the entry
    * round is 0) is labelled `KnnGraph.<op> round <r>`. */
  private def beamSearch[K](op: String, queryIds: => DataFrame,
      entries: DataFrame, records: Seq[Long] => DataFrame,
      score: (DataFrame, DataFrame) => DataFrame, rank: Rank[K], beam: Int,
      rounds: Int)(implicit enc: Encoder[Beam[K]]): Seq[Beam[K]] = {
    val spark = entries.sparkSession
    import spark.implicits._
    def collect(df: DataFrame): Seq[Beam[K]] =
      df.select("q_id", "node", rank.key, "nbr_ids").as(enc).collect().toSeq
    def keep(rows: Seq[Beam[K]]): Seq[Beam[K]] = {
      val out = rank.best(rows, beam).flatten
      require(out.length <= Pq.CollectCap,
        s"KnnGraph.$op beam state exceeds the ${Pq.CollectCap} bounded-collect " +
          "contract - lower beam x queries or chunk the query batch")
      out
    }
    def inRound[T](r: Int)(body: => T): T =
      VertexRounds.labelled(spark.sparkContext, s"KnnGraph.$op round $r")(body)
    var bm = inRound(0) {
      val entryIds = Pq.bounded(entries.select("node").distinct().as[Long],
        s"KnnGraph.$op entry id set", "use fewer cells")
      keep(collect(score(queryIds.crossJoin(entryIds.toDF("node")),
          records(entryIds))
        .withColumn("rk", row_number().over(rank.window))
        .filter(col("rk") <= beam)))
    }
    var r = 0
    while (r < rounds) {
      val (pairs, fIds) = frontierOf(op, bm.map(t => (t._1, t._2, t._4)))
      if (fIds.isEmpty) r = rounds
      else {
        r += 1
        bm = inRound(r) {
          keep(collect(score(pairs.toDF("q_id", "node"), records(fIds))) ++ bm)
        }
      }
    }
    bm
  }

  private def admit(recs: DataFrame, pred: Option[Column]): DataFrame =
    pred.fold(recs)(p => recs.filter(p))

  /** A node record's neighbor ids, empty for a node without out-edges. */
  private def nbrIds: Column =
    coalesce(expr("transform(nbrs, x -> x.dst)"),
      expr("CAST(array() AS ARRAY<BIGINT>)")).as("nbr_ids")

  /** The PQ beam scorer, one round's frame: candidates join their probed
    * records for (codes, nbrs), the SDC distance is the row-local integer
    * zip_with/aggregate fold against the query's broadcast lut row (the
    * r18 LUT-fold shape — no exchange between the probe scan and the beam
    * window), and the candidate's own neighbor ids ride out of the same
    * probe (r19 — no separate hop probe). Lifted out of the serving path
    * so PlanDump can publish the per-round plan verbatim. */
  private[graft] def scorePqFrame(cand: DataFrame, recs: DataFrame,
      qtDf: DataFrame): DataFrame = cand
    .join(recs.select(col("vec_id").as("node"), col("codes"), col("nbrs")),
      Seq("node"))
    .filter(col("node") =!= col("q_id"))
    .join(qtDf, Seq("q_id"))
    .select(col("q_id"), col("node"),
      expr("aggregate(zip_with(codes, lut, (c, row) -> element_at(row, c + 1)), 0L, (acc, x) -> acc + x)")
        .as("dist"),
      nbrIds)

  /** Per-query SDC lookup tables over `name`'s persisted codebook, as a
    * broadcast frame of one (q_id, lut) row per query — lut is m × K
    * longs, the distance from the query's own code to every sub-codebook
    * entry ([[Pq.lut]], the table every PQ search builds; the oracle
    * replays the same integer distances through its own join). */
  private def lutFrame(spark: org.apache.spark.sql.SparkSession, name: String,
      qs: Seq[(Long, Seq[Long])]): DataFrame = {
    import spark.implicits._
    val (cb, m, dimsPer) = Pq.loadCodebook(spark, name)
    broadcast(qs.map { case (qid, qg) =>
      qid -> Pq.lut(qg.toIndexedSeq, m, dimsPer, cb).map(_.toSeq).toSeq
    }.toDF("q_id", "lut"))
  }

  /** Measurement scaffolding (PlanDump/PlanSnap only, never the serving
    * path): ONE PQ serving round's scored frame, lazily — the exact
    * [[scorePqFrame]] over a [[probeRecords]] probe of `ids` with a
    * single-query lut — so the round plan (partition+bucket-pruned scan,
    * (vec_id, codes, nbrs) ReadSchema with NO embedding, row-local LUT
    * fold, no exchange before the beam window) is auditable in PLANS.md. */
  private[graft] def pqRoundPlanForAudit(
      spark: org.apache.spark.sql.SparkSession, name: String,
      queries: DataFrame, ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val (nodes, buckets) = servingNodes(spark, name)
    val qs = Pq.grid(queries).limit(2).as[(Long, Seq[Long])].collect().toSeq
    val cand = qs.map(_._1).flatMap(q => ids.map(i => (q, i)))
      .toDF("q_id", "node")
    scorePqFrame(cand, probeRecords(nodes, ids, null, buckets),
      lutFrame(spark, name, qs))
  }

  /** Frontier of a driver-held beam (r19): for each query, the union of
    * its beam rows' carried neighbor ids minus the beam's own nodes —
    * exactly the hop-explode → distinct → anti-join set the distributed
    * rounds computed, built from state the bounded-collect contract
    * already holds driver-side. Returns (sorted (q_id, node) pairs,
    * distinct ids), ids re-checked against [[Pq.CollectCap]]. */
  private def frontierOf(op: String,
      bm: Seq[(Long, Long, Seq[Long])]): (Seq[(Long, Long)], Seq[Long]) = {
    val inBeam: Map[Long, Set[Long]] =
      bm.groupBy(_._1).map { case (q, rows) => q -> rows.map(_._2).toSet }
    val pairs = bm.flatMap { case (q, _, ns) =>
      if (ns == null) Nil else ns.filterNot(inBeam(q)).map(d => (q, d))
    }.distinct.sorted
    val ids = pairs.map(_._2).distinct
    require(ids.length <= Pq.CollectCap,
      s"KnnGraph.$op frontier id set exceeds the ${Pq.CollectCap} bounded-collect " +
        "contract - lower beam x queries or chunk the query batch")
    (pairs, ids)
  }

  /** The pruned node-record probe: IN over the bucket column reaches
    * the scan as file-level bucket pruning (SelectedBucketsCount), and
    * — because the serving layout also PARTITIONS on the bucket id —
    * the same ids name their `bkt` partitions driver-side
    * (pmod(murmur3), the bucketing arithmetic), so the probe carries an
    * explicit partition filter too: catalog partition pruning then
    * lists only the probed buckets' directories instead of every
    * partition per probe plan. `buckets` ≤ 0 probes on vec_id alone. */
  private def probeRecords(nodesT: DataFrame, ids: Seq[Long],
      onProbe: Seq[Long] => Unit, buckets: Int): DataFrame = {
    if (onProbe != null) onProbe(ids)
    if (ids.isEmpty) nodesT.filter(lit(false))
    else if (buckets > 0) {
      val bkts = ids.map(bucketOfId(_, buckets)).distinct
      nodesT.filter(col("bkt").isin(bkts.map(x => x: Any): _*) &&
        col("vec_id").isin(ids.map(x => x: Any): _*))
    } else nodesT.filter(col("vec_id").isin(ids.map(x => x: Any): _*))
  }

  /** Spark's bucket id for a long key — Murmur3(seed 42) pmod buckets,
    * the exact arithmetic `Bucketing.bucketId` computes column-side. */
  private def bucketOfId(id: Long, buckets: Int): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    ((h % buckets) + buckets) % buckets
  }
}
