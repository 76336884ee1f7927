package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization — the remaining member of the ANN compression
  * family next to IVF cells (q42), int8 scalar quantization (q73), and
  * random projections (q35): PQ splits each vector into M subspaces and
  * stores ONE BYTE per subspace (the id of the nearest sub-codebook
  * centroid), an M-byte code replacing a 4·dim-byte float vector — the
  * memory regime billion-vector indexes actually run in — and scores a
  * query against the whole corpus with M table lookups per vector
  * (Jégou et al. 2011).
  *
  * Kept EXACT the graft way: vectors land on an integer grid first
  * (global-scale `round(x·64)` clamped to ±127 — the q73a HALF_UP ≡
  * half-away-from-zero convention both engines share), codebooks are
  * PINNED corpus rows (the q42a fixed-centroid discipline — k-means
  * would be seed- and order-dependent), and every distance is an exact
  * integer Σ(aᵢ−bᵢ)², so encode (argmin with lowest-j tie-break), the
  * per-query lookup tables, and the final (dist, vec_id) ranking are
  * all bit-deterministic and a SQL oracle replays them with no rounded
  * double anywhere.
  *
  * The PQ core of every vector index: each decision below exists once
  * and [[sdcTopK]], [[ivfpqTopK]], [[saveIndex]], [[searchIndexed]] and
  * the PQ paths of [[KnnGraph]] all call it — pinned rows ([[pinned]],
  * [[codebook]]), the argmin ([[nearest]], which is both the coarse
  * assignment and [[encode]]), the per-query table ([[lut]]), the probe
  * set ([[probes]]), the code-distance scorer ([[score]]), the top-k
  * window ([[topK]]), the `<name>_cb` table ([[cbTable]],
  * [[loadCodebook]]) and the bounded driver collect ([[bounded]]).
  *
  * Scale shape: codebook (M·K sub-centroids) and query set are bounded
  * driver-side collects by construction (the q42a pattern); encoding
  * and scoring are row-local over the corpus with the per-query tables
  * riding the closure (M·K ints each); one window shuffle for top-k per
  * query. Footprint story: 64-dim float = 256 B/vector, PQ code = M=8
  * bytes — 32×.
  */
object Pq extends Serializable {

  /** M sub-codebooks of K sub-centroids: `cb(m)(j)` is dimsPer grid ints. */
  type Codebook = Array[Array[Array[Long]]]

  /** The one declared cap of every vector-index search's driver collect:
    * query batches, probe sets, beam state and id sets. */
  private[llm] val CollectCap = 65536

  /** Collect `ds` through a limit ONE ROW past [[CollectCap]] — a single
    * job that both bounds the collect and detects the violation, with no
    * extra count() over the caller's plan — and raise past the cap, never
    * degrade. */
  private[llm] def bounded[T](ds: Dataset[T], what: String, fix: String): Seq[T] = {
    val rows = ds.limit(CollectCap + 1).collect().toSeq
    require(rows.length <= CollectCap,
      s"$what exceeds the $CollectCap bounded-collect contract - $fix")
    rows
  }

  /** Integer-grid projection: `least(127, greatest(-127, round(x·64)))`
    * per element, as a codegen HOF (no UDF). */
  def grid(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
      transform(col("embedding"), x =>
        least(lit(127d), greatest(lit(-127d), round(x.cast("double") * 64)))
          .cast("long")).as("g"))

  private def d2(a: IndexedSeq[Long], aOff: Int, b: Array[Long]): Long = {
    var s = 0L
    var i = 0
    while (i < b.length) {
      val d = a(aOff + i) - b(i)
      s += d * d
      i += 1
    }
    s
  }

  /** Grid rows `[start, start+n)` of `g` in id order — the pinned
    * parameters (coarse centroids or codebook rows). Raises if the corpus
    * is missing any of them. */
  private def pinned(g: DataFrame, start: Int, n: Int): Array[Array[Long]] = {
    val spark = g.sparkSession
    import spark.implicits._
    val rows = g.filter(col("vec_id") >= start && col("vec_id") < start + n)
      .as[(Long, Seq[Long])].collect().map { case (id, v) => id -> v.toArray }.toMap
    require(rows.size == n,
      s"PQ pinned-parameter contract: corpus must contain vec_ids " +
        s"$start..${start + n - 1} to seed the pinned parameters; found ${rows.size}")
    Array.tabulate(n)(j => rows((start + j).toLong))
  }

  /** Pinned rows as M sub-codebooks: `cb(m)(j)` is row j's m-th slice. */
  private def codebook(rows: Array[Array[Long]], m: Int,
      dimsPer: Int): Codebook =
    Array.tabulate(m, rows.length) { (mm, j) =>
      java.util.Arrays.copyOfRange(rows(j), mm * dimsPer, (mm + 1) * dimsPer)
    }

  /** Sub-codebooks from PINNED grid rows [cbStart, cbStart+nCodebook) —
    * the q183/q189 fixed-parameter discipline (determinism over
    * training); raises if the corpus is missing any pinned row. */
  private[graft] def pinnedCodebook(emb: DataFrame, m: Int, dimsPer: Int,
      nCodebook: Int, cbStart: Int): Codebook =
    codebook(pinned(grid(emb), cbStart, nCodebook), m, dimsPer)

  /** IVFPQ pins: coarse centroids are grid rows `[0, nCells)`, the
    * sub-codebooks rows `[nCells, nCells+nCodebook)` (disjoint ranges). */
  private def ivfpqPins(g: DataFrame, nCells: Int, m: Int, dimsPer: Int,
      nCodebook: Int): (Array[Array[Long]], Codebook) = {
    val rows = pinned(g, 0, nCells + nCodebook)
    (rows.take(nCells), codebook(rows.drop(nCells), m, dimsPer))
  }

  /** The argmin: index of the centroid in `cs` nearest to `v`'s slice at
    * `off`, lowest index on ties — the coarse cell when `cs` holds the
    * coarse centroids, one code when it holds a sub-codebook. */
  private def nearest(v: IndexedSeq[Long], off: Int,
      cs: Array[Array[Long]]): Int = {
    var best = 0
    var bestD = Long.MaxValue
    var j = 0
    while (j < cs.length) {
      val d = d2(v, off, cs(j))
      if (d < bestD) { bestD = d; best = j } // strict: lowest j wins ties
      j += 1
    }
    best
  }

  /** Encode one grid vector: its nearest sub-centroid per subspace. */
  private[llm] def encode(v: IndexedSeq[Long], m: Int, dimsPer: Int,
      cb: Codebook): Array[Int] =
    Array.tabulate(m)(mm => nearest(v, mm * dimsPer, cb(mm)))

  /** A query's symmetric-distance lookup table, m × K: the query is
    * encoded through the codebook first and `t(m)(j)` =
    * d²(cb(m)(code_q(m)), cb(m)(j)). When a query IS a codebook row (the
    * q183 setup) its encode is itself, so this coincides with the
    * raw-query (ADC) table — but it stays SDC for any other query. */
  private[llm] def lut(q: IndexedSeq[Long], m: Int, dimsPer: Int,
      cb: Codebook): Array[Array[Long]] = {
    val codes = encode(q, m, dimsPer, cb)
    Array.tabulate(m, cb(0).length) { (mm, j) =>
      d2(cb(mm)(codes(mm)).toIndexedSeq, 0, cb(mm)(j))
    }
  }

  /** A query's probe set: its `nProbe` nearest coarse cells by (d², cell),
    * sorted ascending for the membership scan. */
  private def probes(q: IndexedSeq[Long], coarse: Array[Array[Long]],
      nProbe: Int): Array[Int] = {
    val d2c = Array.tabulate(coarse.length)(j => d2(q, 0, coarse(j)))
    coarse.indices.sortBy(j => (d2c(j), j)).take(nProbe).sorted.toArray
  }

  /** One query, ready to score: its id, probe set and lookup table. */
  private final case class Query(id: Long, cells: Array[Int],
      lut: Array[Array[Long]])

  /** IVFPQ queries: probe sets over `coarse`, tables over `cb`. */
  private def ivfpqQueries(qs: Seq[(Long, Seq[Long])],
      coarse: Array[Array[Long]], nProbe: Int, m: Int, dimsPer: Int,
      cb: Codebook): Array[Query] =
    qs.map { case (id, g) =>
      val q = g.toIndexedSeq
      Query(id, probes(q, coarse, nProbe), lut(q, m, dimsPer, cb))
    }.toArray

  /** The code-distance scorer: (q_id, vec_id, cell, dist) for every query
    * whose probe set holds `cell`, self excluded; dist sums the M table
    * lookups of the vector's codes. `codes` is evaluated lazily — only a
    * vector landing in SOME query's probe set pays its encode. */
  private def score(qs: Array[Query], vid: Long, cell: Int,
      codes: => Array[Int]): Iterator[(Long, Long, Int, Long)] = {
    var cs: Array[Int] = null
    qs.iterator
      .filter(q => q.id != vid && java.util.Arrays.binarySearch(q.cells, cell) >= 0)
      .map { q =>
        if (cs == null) cs = codes
        val t = q.lut
        var dist = 0L
        var mm = 0
        while (mm < cs.length) { dist += t(mm)(cs(mm)); mm += 1 }
        (q.id, vid, cell, dist)
      }
  }

  /** The top-k window over scored (q_id, vec_id, cell, dist) rows: rank by
    * (dist asc, vec_id asc) per query. */
  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("q_id").orderBy(col("dist"), col("vec_id"))
    scored.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("q_id"), col("rk").cast("int").as("rk"),
        col("vec_id"), col("cell"), col("dist"))
  }

  private def gridRows(g: DataFrame): Dataset[(Long, Seq[Long])] = {
    val spark = g.sparkSession
    import spark.implicits._
    g.as[(Long, Seq[Long])]
  }

  /** Symmetric-distance PQ search: grid → pinned codebooks (rows
    * `vec_id < nCodebook`, one sub-centroid per row per subspace) →
    * per-vector M-byte encode → per-query M×K lookup tables → top-k by
    * (dist asc, vec_id asc), self excluded. `dim` must equal
    * `m * dimsPer`. Flat PQ is the IVFPQ scorer over one cell that every
    * query probes. */
  def sdcTopK(emb: DataFrame, m: Int, dimsPer: Int, nCodebook: Int,
      nQueries: Int, k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val g = grid(emb)
    val cb = codebook(pinned(g, 0, nCodebook), m, dimsPer)
    // bounded collect (the q42a discipline): nQueries rows
    val qs = gridRows(g.filter(col("vec_id") < nQueries)).collect()
      .map { case (id, q) => Query(id, Array(0), lut(q.toIndexedSeq, m, dimsPer, cb)) }
    topK(gridRows(g).mapPartitions(_.flatMap { case (vid, gv) =>
      val v = gv.toIndexedSeq
      score(qs, vid, 0, encode(v, m, dimsPer, cb))
    }).toDF("q_id", "vec_id", "cell", "dist"), k).drop("cell")
  }

  /** IVFPQ — the composed deployment shape of Jégou et al. 2011 (and of
    * every billion-vector index since): the coarse IVF quantizer (q42's
    * cells) prunes the corpus to `nProbe` cells per query, and PQ codes
    * (q183's tables) score ONLY those cells' members — candidate work
    * proportional to nProbe/nCells of the corpus at M table lookups per
    * candidate, never a full scan and never a float vector read.
    *
    * Kept exact the graft way, composing the two certified halves'
    * disciplines: integer grid first; coarse centroids PINNED to grid
    * rows `[0, nCells)` and PQ sub-codebooks to rows
    * `[nCells, nCells+nCodebook)` (disjoint ranges — the q42a/q183
    * fixed-parameter discipline); every distance an exact integer
    * Σ(a−b)²; all argmins tie-break on the lowest index; queries encode
    * through the PQ codebook (true SDC, see [[lut]]). No residual
    * encoding — this is the IVF+PQ composition, not IVFADC; residuals
    * would put query-time float subtraction back in the hot path and
    * break the shared-codes property the SDC tables rely on.
    *
    * Scale shape: centroids, codebooks, and the per-query probe sets are
    * bounded driver-side collects (nCells + nCodebook + nQueries·nProbe
    * rows); cell assignment, member encode, and table scoring are all
    * row-local over the corpus with the tables riding the closure; the
    * single shuffle is the per-query top-k window. At rest the index is
    * `cell + M bytes` per vector ([[saveIndex]]).
    *
    * Output carries the member's `cell` so the oracle certifies the
    * coarse assignment together with the PQ ranking. */
  def ivfpqTopK(emb: DataFrame, nCells: Int, nProbe: Int, m: Int,
      dimsPer: Int, nCodebook: Int, nQueries: Int, k: Int): DataFrame =
    topK(ivfpqScored(emb, nCells, nProbe, m, dimsPer, nCodebook, nQueries), k)

  /** The candidate stage of [[ivfpqTopK]] before the top-k window: one
    * row per (query, member-of-a-probed-cell) scored pair. Exposed so
    * the ScaleStress harness can measure rows-scored (the pruning
    * ratio) directly. */
  private[graft] def ivfpqScored(emb: DataFrame, nCells: Int, nProbe: Int,
      m: Int, dimsPer: Int, nCodebook: Int, nQueries: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val g = grid(emb)
    val (coarse, cb) = ivfpqPins(g, nCells, m, dimsPer, nCodebook)
    val qs = ivfpqQueries(gridRows(g.filter(col("vec_id") < nQueries)).collect().toSeq,
      coarse, nProbe, m, dimsPer, cb)
    gridRows(g).mapPartitions(_.flatMap { case (vid, gv) =>
      val v = gv.toIndexedSeq
      score(qs, vid, nearest(v, 0, coarse), encode(v, m, dimsPer, cb))
    }).toDF("q_id", "vec_id", "cell", "dist")
  }

  /** Persist the IVFPQ index at rest in its production layout:
    * `<name>_codes` holds (vec_id, cell, codes) — M ints per vector
    * instead of the float embedding, the whole point of PQ at rest — in
    * the cell layout of [[IndexCommit]] (partitioned on the bucket id of
    * `cell`, bucketed AND sorted on `cell`); `<name>_coarse` / `<name>_cb`
    * are the pinned coarse centroids and sub-codebooks (nCells and M·K
    * rows). One shuffle at index build, amortized over every later probe;
    * a search's `cell IN (…)` filter prunes unprobed buckets at the FILE
    * level (`SelectedBucketsCount` in the plan). The tables are staged,
    * then committed with `<name>_codes` last, so a failed save leaves the
    * previous index serving. */
  def saveIndex(emb: DataFrame, nCells: Int, m: Int, dimsPer: Int,
      nCodebook: Int, name: String, buckets: Int = 16): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val g = grid(emb)
    val (coarse, cb) = ivfpqPins(g, nCells, m, dimsPer, nCodebook)
    val codes = gridRows(g).mapPartitions(_.map { case (vid, gv) =>
      val v = gv.toIndexedSeq
      (vid, nearest(v, 0, coarse), encode(v, m, dimsPer, cb).toSeq)
    }).toDF("vec_id", "cell", "codes")
    IndexCommit.write(cbTable(spark, name, cb),
      IndexCommit.Table(s"${name}_coarse",
        coarse.toSeq.zipWithIndex.map { case (c, j) => (j, c.toSeq) }.toDF("j", "g")),
      IndexCommit.Table(s"${name}_codes", codes, Some(IndexCommit.Buckets("cell", buckets))))
  }

  /** Search a [[saveIndex]]-persisted IVFPQ index: probe nProbe cells per
    * query (against the k-row coarse table — bounded collect), build the
    * per-query SDC tables from the persisted sub-codebooks, then scan
    * ONLY the probed cells' buckets (`cell IN (…)` → file-level bucket
    * pruning) scoring M lookups per code row. Results are identical to
    * [[ivfpqTopK]] over the same corpus and pins (spec-asserted).
    *
    * The per-query tables and probe sets ride the closure, so the query
    * set is a driver collect by design, through [[bounded]]: right for
    * the bounded query batches ANN serving runs, and a larger batch
    * raises. */
  def searchIndexed(spark: SparkSession, name: String,
      queries: DataFrame, nProbe: Int, k: Int): DataFrame = {
    import spark.implicits._
    val coarse: Array[Array[Long]] = spark.table(s"${name}_coarse")
      .as[(Int, Seq[Long])].collect().sortBy(_._1).map(_._2.toArray)
    val (cb, m, dimsPer) = loadCodebook(spark, name)
    val qs = ivfpqQueries(bounded(gridRows(grid(queries)),
      "Pq.searchIndexed query batch",
      "chunk the query set and issue multiple searches"),
      coarse, nProbe, m, dimsPer, cb)
    val allCells = qs.flatMap(_.cells).distinct.sorted
    topK(spark.table(s"${name}_codes")
      .filter(col("cell").isin(allCells.toIndexedSeq.map(x => x: Any): _*))
      .select("vec_id", "cell", "codes")
      .as[(Long, Int, Seq[Int])]
      .mapPartitions(_.flatMap { case (vid, cell, cs) => score(qs, vid, cell, cs.toArray) })
      .toDF("q_id", "vec_id", "cell", "dist"), k)
  }

  /** The `<name>_cb` table: one (m, j, sub) row per sub-codebook entry. */
  private[llm] def cbTable(spark: SparkSession, name: String,
      cb: Codebook): IndexCommit.Table = {
    import spark.implicits._
    IndexCommit.Table(s"${name}_cb",
      (for (mm <- cb.indices; j <- cb(mm).indices)
        yield (mm, j, cb(mm)(j).toSeq)).toDF("m", "j", "sub"))
  }

  /** Reload a persisted `<name>_cb` table: (cb, m, dimsPer). */
  private[graft] def loadCodebook(spark: SparkSession,
      name: String): (Codebook, Int, Int) = {
    import spark.implicits._
    val cbRows = spark.table(s"${name}_cb")
      .as[(Int, Int, Seq[Long])].collect()
    val m = cbRows.map(_._1).max + 1
    val nCodebook = cbRows.map(_._2).max + 1
    val cb: Codebook = Array.ofDim(m, nCodebook)
    cbRows.foreach { case (mm, j, sub) => cb(mm)(j) = sub.toArray }
    (cb, m, cb(0)(0).length)
  }

  /** Total squared quantization error of one grid vector under a
    * codebook — Σ_m d2(sub_m, its code's sub-centroid), i.e. the distance
    * the encode loses by construction. Integer-exact, so it oracle-replays;
    * the DRIFT SIGNAL for codebook refresh: when fresh vectors'
    * distortion pulls away from the build-time distribution, the frozen
    * codebook has become quantization noise and
    * [[KnnGraph.refreshCodebook]] should fire (the --pqdrift curve). */
  private[llm] def encodeDistortion(v: IndexedSeq[Long], m: Int,
      dimsPer: Int, cb: Codebook): Long = {
    val codes = encode(v, m, dimsPer, cb)
    var s = 0L
    var mm = 0
    while (mm < m) { s += d2(v, mm * dimsPer, cb(mm)(codes(mm))); mm += 1 }
    s
  }
}
