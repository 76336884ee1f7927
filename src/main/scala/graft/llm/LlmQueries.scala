package graft.llm

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.queries.Q

/** LLM-data-pipeline query contract (B31–B36): deduplication, similarity
  * search, text analysis, multimodal columns — declared alongside Q01–Q25 so
  * the driver hash-checks the deterministic ones against DuckDB and
  * rows-only-checks the seeded-model ones (MinHash/SimHash/ANN; those get
  * property specs instead, SURVEY §5.2.4).
  */
object LlmQueries {

  private val stop = TextAnalysis.DefaultStopwords

  // ---------------------------------------------------------------- q26
  val q26 = Q(
    "q26_cosine_topk",
    """WITH q AS (SELECT vec_id AS q_id, embedding::DOUBLE[] AS qe FROM embeddings WHERE vec_id < 3),
      |c AS (SELECT vec_id, embedding::DOUBLE[] AS ce FROM embeddings),
      |s AS (SELECT q_id, vec_id,
      |             round(list_dot_product(qe, ce)
      |                   / sqrt(list_dot_product(qe, qe) * list_dot_product(ce, ce)), 4) AS sim
      |      FROM q JOIN c ON vec_id <> q_id),
      |r AS (SELECT q_id, vec_id, sim,
      |             row_number() OVER (PARTITION BY q_id ORDER BY sim DESC, vec_id) AS rk
      |      FROM s)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id, sim
      |FROM r WHERE rk <= 5 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "embeddings")
    Similarity.cosineTopK(e, e.filter(col("vec_id") < 3), k = 5)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q27
  val q27 = Q(
    "q27_exact_dedup_survivors",
    """SELECT min(doc_id) AS keep_id, count(*) AS n_copies
      |FROM documents GROUP BY sha256(text) ORDER BY keep_id""".stripMargin) { (s, dir) =>
    Dedup.exactSurvivors(Tables(s, dir, "documents")).orderBy("keep_id")
  }

  // ---------------------------------------------------------------- q28
  val q28 = Q(
    "q28_text_stats",
    s"""WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM documents)
       |SELECT doc_id,
       |       len(ts) AS n_tokens,
       |       round(len(list_filter(ts, t -> t IN (${stop.map("'" + _ + "'").mkString(",")})))
       |             / len(ts), 4) AS stop_ratio
       |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        TextAnalysis.tokenCount(col("text")).as("n_tokens"),
        round(TextAnalysis.stopwordRatio(col("text"), stop), 4).as("stop_ratio"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q29
  private val langCaseSql = {
    val score = TextAnalysis.langProfiles.map { case (lang, ws) =>
      lang -> s"len(list_filter(ts, t -> t IN (${ws.map("'" + _ + "'").mkString(",")})))"
    }.toMap
    val cases = TextAnalysis.langProfiles.map(_._1).map { l =>
      val others = TextAnalysis.langProfiles.map(_._1).filter(_ != l)
      s"WHEN ${score(l)} > 0 AND ${others.map(o => s"${score(l)} > ${score(o)}").mkString(" AND ")} THEN '$l'"
    }
    s"CASE ${cases.mkString(" ")} ELSE 'unk' END"
  }

  val q29 = Q(
    "q29_langid",
    s"""WITH d AS (SELECT lang, string_split_regex(trim(text), '\\s+') AS ts FROM documents)
       |SELECT lang, $langCaseSql AS pred, count(*) AS n
       |FROM d GROUP BY 1, 2 ORDER BY lang, pred""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy(col("lang"), TextAnalysis.langId(col("text")).as("pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy("lang", "pred")
  }

  // ---------------------------------------------------------------- q30
  val q30 = Q(
    "q30_fingerprint",
    """SELECT doc_id,
      |       sha256(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q31
  // Seeded MinHash-LSH — model-dependent bucketing, so rows-only check here;
  // recall-vs-brute-force is property-tested (DedupSpec). Runs on the
  // pure-Column codegen path (graft.llm.MinHash).
  val q31 = Q.noOracle("q31_minhash_neardup") { (s, dir) =>
    MinHash.pairs(
        Tables(s, dir, "documents").filter(col("doc_id") < 2000))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q32
  // xxhash64-based fingerprints aren't replicable in DuckDB → rows-only;
  // exact-duplicate-⇒-equal-fingerprint is property-tested.
  val q32 = Q.noOracle("q32_simhash") { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .select(col("doc_id"), Dedup.simhash64(col("text")).as("simhash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q33
  val q33 = Q(
    "q33_ngram_jaccard",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents WHERE doc_id < 1000),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts)-2),
      |                i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS shingle
      |       FROM d WHERE len(ts) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |          FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT doc_a, doc_b,
      |       round(CAST(inter AS DOUBLE) / (sa.n + sb.n - inter), 4) AS jaccard
      |FROM pairs
      |JOIN sizes sa ON sa.doc_id = doc_a
      |JOIN sizes sb ON sb.doc_id = doc_b
      |WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.ngramJaccardPairs(
        Tables(s, dir, "documents").filter(col("doc_id") < 1000),
        minJaccard = 0.2)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- q34
  val q34 = Q(
    "q34_multimodal_decode",
    """SELECT doc_id,
      |       CAST(strlen(text) AS BIGINT) AS n_bytes,
      |       CAST(unicode(text[1]) AS BIGINT) AS first_byte,
      |       CAST(unicode(text[-1]) AS BIGINT) AS last_byte,
      |       CAST(list_sum(list_transform(range(strlen(text)),
      |                i -> unicode(text[i+1]))) AS BIGINT) AS byte_sum
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.decode(Multimodal.asBlobs(Tables(s, dir, "documents")))
      .toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q54
  // Multimodal frame-sampling (B35's 0..n fan-out sibling to q34's 1:1
  // decode): payload as 32-byte frames, every 4th kept. ASCII fixture ⇒
  // DuckDB can replicate the byte slicing with substr + unicode sums.
  val q54 = Q(
    "q54_frame_sample",
    """WITH f AS (
      |  SELECT doc_id,
      |         unnest(range(strlen(text) // 32)) AS i,
      |         text
      |  FROM documents)
      |SELECT doc_id, CAST(i AS INT) AS frame_idx,
      |       CAST(32 AS BIGINT) AS n_bytes,
      |       CAST(list_sum(list_transform(range(32),
      |              j -> unicode(substr(text, CAST(i*32 + j + 1 AS INT), 1))))
      |            AS BIGINT) AS byte_sum
      |FROM f WHERE i % 4 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.frameSample(
        Multimodal.asBlobs(Tables(s, dir, "documents")), frameBytes = 32, stride = 4)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q35
  // Seeded random-projection LSH — rows-only; recall property in RpSpec.
  // Pure-Column codegen path (graft.llm.Rp): same floor-bucketed algorithm
  // as MLlib's BucketedRandomProjectionLSH but 3.5× faster at sf0.1 because
  // the projections and rerank stay inside whole-stage codegen (BENCH_r01's
  // 12 s was MLlib framework floor, not candidate work).
  val q35 = Q.noOracle("q35_ann_lsh") { (s, dir) =>
    Rp.l2NearPairs(
        Tables(s, dir, "embeddings").filter(col("vec_id") < 2000),
        threshold = 1.0)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q35a
  // FloorBandKeys' twin of q47a (which certifies SignBandKeys): the L2
  // floor-bucket LSH engine under the hash gate at a 4-table × 3-proj
  // config, the JDK-pinned planes riding as double literals in the oracle.
  // DuckDB replicates the per-table floor-bucket key ARRAYS, the
  // ≥1-shared-table candidate pairing, and the rounded exact-L2 rerank —
  // certifying the second of the two band-key expressions end-to-end.
  private val q35aPlanes = Rp.hyperplanes(dim = 64, n = 12, seed = 42L)

  val q35a = Q(
    "q35a_l2_lsh_fixed_planes", {
      def lst(p: Array[Float]): String =
        p.map(_.toDouble.toString).mkString("[", ", ", "]::DOUBLE[]")
      def tableKey(t: Int): String =
        (0 until 3).map { i =>
          s"CAST(floor(list_dot_product(v, ${lst(q35aPlanes(t * 3 + i))}) / 1.5) AS BIGINT)"
        }.mkString("[", ", ", "]")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
        |           FROM embeddings),
        |sig AS (SELECT vec_id, v, n,
        |               ${tableKey(0)} AS k0,
        |               ${tableKey(1)} AS k1,
        |               ${tableKey(2)} AS k2,
        |               ${tableKey(3)} AS k3
        |        FROM e),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |                round(sqrt(greatest(
        |                  a.n - 2 * list_dot_product(a.v, b.v) + b.n, 0)), 4) AS dist
        |         FROM sig a JOIN sig b
        |           ON a.vec_id < b.vec_id
        |          AND (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3))
        |SELECT id_a, id_b, dist FROM cand
        |WHERE dist <= 1.2 ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
    // threshold 1.2 (not q35's 1.0): at 1.0 the isotropic fixture yields
    // 0 qualifying pairs at sf0.001 — empty-vs-empty proves nothing; 1.2
    // keeps the result populated at every SF (~1.5k/1.5k/24k pairs under
    // the bound before bucketing)
    Rp.l2NearPairs(Tables(s, dir, "embeddings"), threshold = 1.2,
        numTables = 4, projsPerTable = 3, bucketLength = 1.5, seed = 42L)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q42
  // IVF ANN (seeded k-means cells + probed exact rerank) — rows-only; recall
  // vs exact brute force is property-tested (IvfSpec). Runs on the
  // pure-Column codegen fit (VectorMean centroids, array_min assignment);
  // the MLlib KMeans fit stays as Ivf.fit for cross-validation.
  val q42 = Q.noOracle("q42_ivf_topk") { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val model = Ivf.fitColumnar(emb, k = 12, seed = 42L)
    Ivf.search(model, emb.filter(col("vec_id") < 3), topK = 5, nProbe = 6)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q42a
  // The deterministic SLICE of IVF under the hash gate (the q43a/q76a move
  // applied to ANN): only the k-means FIT is seeded — assignment, probe
  // selection, and exact rerank are pure arithmetic once centroids are
  // fixed. Here the centroids are pinned to the first 12 corpus vectors,
  // and the whole SEARCH path (NearestCentroid assignment with its
  // ‖c‖²−2⟨x,c⟩ strict-< lowest-index tie rule, nProbe=4 probe ranking on
  // the identical quantity, cell-restricted cosine rerank) is value-checked
  // against DuckDB replicating the same double arithmetic. q42 keeps the
  // seeded end-to-end pipeline under its recall property (IvfSpec). The
  // rounded `sim` column is covered by boundary_guard's q26.sim probe —
  // q42a's sims are a subset of those query×corpus cosines.
  val q42a = Q(
    "q42a_ivf_search_fixed",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |cent AS (SELECT vec_id AS cell, v AS c, list_dot_product(v, v) AS cn
      |         FROM e WHERE vec_id < 12),
      |a0 AS (SELECT e.vec_id, cent.cell,
      |              cent.cn - 2 * list_dot_product(e.v, cent.c) AS d
      |       FROM e CROSS JOIN cent),
      |asg AS (SELECT vec_id, cell FROM (
      |          SELECT vec_id, cell,
      |                 row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
      |          FROM a0) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, v AS qv, list_dot_product(v, v) AS qn
      |      FROM e WHERE vec_id < 3),
      |probes AS (SELECT q_id, cell FROM (
      |             SELECT q.q_id, cent.cell,
      |                    row_number() OVER (PARTITION BY q.q_id
      |                      ORDER BY cent.cn - 2 * list_dot_product(q.qv, cent.c),
      |                               cent.cell) AS rn
      |             FROM q CROSS JOIN cent) WHERE rn <= 4),
      |scored AS (SELECT p.q_id, asg.vec_id,
      |                  round(list_dot_product(q.qv, e.v)
      |                        / sqrt(q.qn * list_dot_product(e.v, e.v)), 4) AS sim
      |           FROM probes p
      |           JOIN asg ON asg.cell = p.cell
      |           JOIN q ON q.q_id = p.q_id
      |           JOIN e ON e.vec_id = asg.vec_id
      |           WHERE asg.vec_id <> p.q_id)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id, sim FROM (
      |  SELECT q_id, vec_id, sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY sim DESC, vec_id) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    import s.implicits._
    graft.functions.GraftFunctions.register(s)
    val emb = Tables(s, dir, "embeddings")
    // bounded driver-side collect (12 rows): the pinned centroid matrix
    // must ride as plan literals, same as Ivf.fitColumnar's own centroids
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val centroidDf = cs.zipWithIndex.toSeq
      .map { case (c, i) =>
        (i, c, c.foldLeft(0.0)((a, x) => a + x.toDouble * x.toDouble))
      }
      .toDF("cell", "centroid", "centroid_n")
    val indexed = emb.withColumn("cell",
        call_function(graft.functions.GraftFunctions.NearestCentroidName,
          col("embedding"), typedlit(cs)))
      .select("vec_id", "embedding", "cell")
    Ivf.search(Ivf.Model(centroidDf, indexed),
        emb.filter(col("vec_id") < 3), topK = 5, nProbe = 4)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q43
  // Full corpus-prep composite (quality → exact dedup → near-dup → enrich) —
  // rows-only (seeded MinHash inside); invariants property-tested
  // (CorpusPrepSpec).
  val q43 = Q.composite("q43_corpus_prep") { (s, dir) =>
    CorpusPrep.prepare(Tables(s, dir, "documents"))
      .select("doc_id", "lang", "pred_lang", "n_tokens", "stop_ratio", "fingerprint")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q43a
  // The deterministic PREFIX of the q43 composite (quality gate + exact
  // dedup survivors) hash-checked against the oracle — the seeded MinHash
  // suffix stays property-tested. Together they pin the composite: the
  // prefix is value-exact, the suffix is invariant-exact.
  val q43a = Q(
    "q43a_corpus_prep_prefix",
    """WITH q AS (SELECT doc_id, lang, n_chars, text FROM documents
      |           WHERE n_chars >= 100
      |             AND lang IN ('en','es','fr','de','zh')
      |             AND len(string_split_regex(trim(text), '\s+')) > 0),
      |k AS (SELECT min(doc_id) AS doc_id FROM q GROUP BY sha256(text))
      |SELECT q.doc_id, lang, n_chars FROM q JOIN k USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.exactDedup(
        CorpusPrep.qualityFilter(Tables(s, dir, "documents"), CorpusPrep.Config()))
      .select("doc_id", "lang", "n_chars")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q44
  // Embedding-cosine near-dup pairs (exact, oracle-checked): the filter is
  // on the ROUNDED similarity in both engines so the threshold cut agrees.
  // Threshold 0.3 so the check is non-vacuous at every SF (at 0.5 the
  // sf0.001 fixture has zero qualifying pairs — empty-vs-empty proves
  // nothing; 0.3 ≈ 2.4σ of random 64-d cosine keeps the result set small
  // but populated).
  val q44 = Q(
    "q44_cosine_neardup",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
      |           FROM embeddings),
      |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
      |             round(list_dot_product(a.v, b.v) / sqrt(a.n * b.n), 4) AS cos_sim
      |      FROM e a JOIN e b ON a.vec_id < b.vec_id)
      |SELECT id_a, id_b, cos_sim FROM p
      |WHERE cos_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    Similarity.cosineNearDupPairs(Tables(s, dir, "embeddings"), minCosine = 0.3)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q47
  // Bucketed cosine near-dup — the HEADLINE near-dup formulation at scale
  // (q44's brute-force pair join stays as the small-SF oracle twin). Banded
  // sign-random-projection candidates → exact codegen vector_dot rerank; no
  // O(n²) stage. Seeded-LSH candidate set ⇒ rows-only here; recall ≥ 0.95 vs
  // q44's exact pairs is property-tested (RpSpec).
  val q47 = Q.noOracle("q47_bucketed_cosine_neardup") { (s, dir) =>
    Rp.cosineNearPairs(Tables(s, dir, "embeddings"), minCosine = 0.3)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q47a
  // The LSH bucketed path itself under the hash gate (the deterministic-
  // slice move applied to the q47 ENGINE): Rp's hyperplanes are seeded but
  // JDK-pinned (java.util.Random's LCG + nextGaussian are spec-fixed), so
  // at a small config (4 bands × 4 bits = 16 planes) the SAME planes can
  // ride as double literals inside the oracle SQL — shortest-round-trip
  // Double.toString rendering is exact — and DuckDB replicates the entire
  // candidate derivation: per-band sign keys, ≥1-shared-band pairing, and
  // the rounded cosine rerank. A hash match certifies the engine's
  // bucketing + rerank machinery end-to-end, not recall (the result is BY
  // CONSTRUCTION candidates∩threshold; recall stays property-tested in
  // RpSpec at the production config). Salting cannot perturb the pair set
  // here: max band-bucket occupancy ≤ n = 2000 < the 4096 cap.
  private val q47aPlanes = Rp.hyperplanes(dim = 64, n = 16, seed = 42L)

  val q47a = Q(
    "q47a_bucketed_cosine_fixed_planes", {
      def lst(p: Array[Float]): String =
        p.map(_.toDouble.toString).mkString("[", ", ", "]::DOUBLE[]")
      def bandKey(t: Int): String =
        (0 until 4).map { i =>
          s"(CASE WHEN list_dot_product(v, ${lst(q47aPlanes(t * 4 + i))}) >= 0 " +
            s"THEN ${1 << i} ELSE 0 END)"
        }.mkString(" + ")
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
        |                  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
        |           FROM embeddings),
        |sig AS (SELECT vec_id, v, n,
        |               ${bandKey(0)} AS k0,
        |               ${bandKey(1)} AS k1,
        |               ${bandKey(2)} AS k2,
        |               ${bandKey(3)} AS k3
        |        FROM e),
        |cand AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |                round(list_dot_product(a.v, b.v) / sqrt(a.n * b.n), 4) AS cos_sim
        |         FROM sig a JOIN sig b
        |           ON a.vec_id < b.vec_id
        |          AND (a.k0 = b.k0 OR a.k1 = b.k1 OR a.k2 = b.k2 OR a.k3 = b.k3))
        |SELECT id_a, id_b, cos_sim FROM cand
        |WHERE cos_sim >= 0.3 ORDER BY id_a, id_b""".stripMargin
    }) { (s, dir) =>
    Rp.cosineNearPairs(Tables(s, dir, "embeddings"), minCosine = 0.3,
        bands = 4, bitsPerBand = 4, seed = 42L)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q52
  // Custom UDAF (SURVEY §2.7): vector-mean centroid per label through the
  // Aggregator/udaf surface — only buffers shuffle (k×64 doubles), not the
  // exploded elements. The oracle recomputes elementwise means by
  // unnest-with-subscripts; the engine result is posexploded only AFTER the
  // aggregation, to compare shapes.
  val q52 = Q(
    "q52_vector_mean",
    """WITH u AS (SELECT label, unnest(embedding::DOUBLE[]) AS v,
      |                  generate_subscripts(embedding, 1) AS idx
      |           FROM embeddings)
      |SELECT label, CAST(idx AS INT) AS idx, round(avg(v), 4) + 0.0 AS m
      |FROM u GROUP BY label, idx ORDER BY label, idx""".stripMargin) { (s, dir) =>
    Tables(s, dir, "embeddings")
      .groupBy("label")
      .agg(graft.functions.VectorMean.column(col("embedding")).as("mean"))
      .select(col("label"), posexplode(col("mean")).as(Seq("i", "v")))
      // + 0.0 canonicalizes signed zero: a mean that rounds to zero carries
      // the sign of its (summation-order-dependent) double fold, and the
      // rendered-value hash distinguishes -0.0 from 0.0
      .select(col("label"), (col("i") + 1).cast("int").as("idx"),
        (round(col("v"), 4) + lit(0.0)).as("m"))
      .orderBy("label", "idx")
  }

  // ------------------------------------------------------------ q60/q61
  // Realistic-threshold near-dup A/B (VERDICT r2 "Next round" #2). The
  // fixture embeddings are isotropic — nothing is near anything — so the
  // oracle-comparable q47 runs at the deliberately loose cos >= 0.3 where
  // no LSH can prune (information-theoretic; Rp scaladoc). This pair
  // plants the structure a real corpus has (4 seeded near-dup replicas per
  // base vector, intra-cluster cos ≈ 0.99, cross ≈ 0) and runs both
  // formulations at a REAL near-dup threshold with selective bands;
  // recall >= 0.95 vs the twin is property-tested (LshSpec). Seeded
  // replication + seeded planes ⇒ deterministic rows (rows-only check;
  // scores are exact-reranked).
  //
  // What the A/B measures changed in r9, when per-query executor metrics
  // exposed that every earlier ≥5× WALL ratio was an artifact of a serial
  // denominator: the brute twin's nested-loop join inherited the 1-split
  // fixture scan's parallelism (5 tasks, cpu ≈ wall ≈ 50 s on 32 cores).
  // With the denominator honestly parallelized (Parallelism.spread) and
  // the bucketed path's duplicated-matmul defect fixed (SignBandKeys),
  // both walls at n=6000 are stage-floor-bound and read near parity —
  // which is exactly what the asymptotics predict at this n on 32 cores.
  // The scale-transferable evidence is (a) the WORK ratio (executor CPU,
  // `q60_q61_work_ratio` in the bench tail): brute is O(n²) work,
  // bucketed ~O(n), so the ratio grows linearly in n; and (b) the
  // wall-separation curve in `ScaleStress --planted`: brute walls
  // ×2.8–3.0 per doubling vs bucketed FLAT (2.7–3.7 s from n=8000 to
  // n=32000) — wall ratio 1.04×/3.67×/11.9× and work ratio 3.0×/10.3×/28×
  // at n=8k/16k/32k.
  //
  // The fixture sits at n=16000 (full 2000-vector base × 2 far-replicas ×
  // 4 near-replicas), the sweet spot that curve exposes: the in-suite A/B
  // reads a real wall separation (~3.7×) and a ≥5× work ratio (~10×)
  // while the deliberate quadratic denominator stays under ~10% of the
  // suite total (~10.6 s). Pre-r9 the fixture was n=6000 with a serial
  // denominator reading a fictitious 5–8× wall ratio at 50+ s of suite
  // cost; the honest configuration is faster AND better evidenced.
  // The synthetic perturb+normalize runs through interpreted higher-order
  // functions (~3.5 s for the 6 000×64 fixture) and is TEST SCAFFOLDING,
  // not the operator under measurement — so the fixture is synthesized
  // ONCE per (session, dir) into a per-run temp parquet and every planted
  // query (q60/q61/q104) times only its operator over a ~0.1 s scan. A
  // parquet memo, not a localCheckpoint one: Timing.isolate deliberately
  // unpersists every RDD between Bench queries, which would kill checkpoint
  // blocks but cannot touch files. Deterministic (seeded), ~1.5 MB.
  private val plantedCache = scala.collection.concurrent.TrieMap
    .empty[(org.apache.spark.sql.SparkSession, String), String]

  private def plantedEmbeddings(s: org.apache.spark.sql.SparkSession, dir: String) = {
    val path = plantedCache.getOrElseUpdate((s, dir), {
      val p = java.nio.file.Files.createTempDirectory("graft_planted_emb")
        .resolve("emb").toString
      // far-replicas first (eps=8 ⇒ ~isotropic after normalization: corpus
      // grows with NO new planted structure), then 4 near-replicas per
      // vector — same construction as ScaleStress.plantedCurve's n=16000
      // point, so the in-suite A/B and the curve are the same experiment
      val grown = graft.ScaleStress.replicateEmbeddings(
          Tables(s, dir, "embeddings"), r = 2, eps = 8.0)
        .select("vec_id", "embedding")
      graft.ScaleStress.replicateEmbeddings(grown, r = 4, eps = 0.12)
        .select("vec_id", "embedding")
        .write.parquet(p)
      p
    })
    s.read.parquet(path)
  }

  val q60 = Q.noOracle("q60_neardup_planted") { (s, dir) =>
    Rp.cosineNearPairs(plantedEmbeddings(s, dir),
        minCosine = 0.85, bands = 20, bitsPerBand = 12)
      .orderBy("id_a", "id_b")
  }

  val q61 = Q.noOracle("q61_neardup_planted_brute") { (s, dir) =>
    Similarity.cosineNearDupPairs(plantedEmbeddings(s, dir), minCosine = 0.85)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q62
  // Connected-duplicates clustering (B32's transitive-closure step): min-
  // label components over the DETERMINISTIC ngram-jaccard pair set (q33's
  // edge derivation), so component ids are value-checkable via a recursive
  // CTE. The seeded-MinHash production wiring (CorpusPrep.nearDedup) reuses
  // the same operator; its side is covered by CorpusPrepSpec/ComponentsSpec.
  // shared recursive-CTE prefix for q62/q82: the deterministic ngram-jaccard
  // edge set (q33's derivation) closed transitively into per-vertex minimum
  // reachable labels
  private val componentCteSql =
    """WITH RECURSIVE
      |d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |      FROM documents WHERE doc_id < 1000),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts)-2),
      |                i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS shingle
      |       FROM d WHERE len(ts) >= 3),
      |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |p0 AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
      |       FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |       GROUP BY 1, 2),
      |p AS (SELECT doc_a, doc_b FROM p0
      |      JOIN sizes sa ON sa.doc_id = doc_a
      |      JOIN sizes sb ON sb.doc_id = doc_b
      |      WHERE CAST(inter AS DOUBLE) / (sa.n + sb.n - inter) >= 0.2),
      |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
      |      UNION SELECT doc_b AS src, doc_a AS dst FROM p),
      |v AS (SELECT DISTINCT src AS id FROM e),
      |reach(id, r) AS (
      |  SELECT id, id FROM v
      |  UNION
      |  SELECT e.dst, reach.r FROM reach JOIN e ON e.src = reach.id),
      |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id)""".stripMargin

  private def dupPairs(s: org.apache.spark.sql.SparkSession, dir: String) =
    Dedup.ngramJaccardPairs(
      Tables(s, dir, "documents").filter(col("doc_id") < 1000),
      minJaccard = 0.2)

  val q62 = Q(
    "q62_connected_dups",
    s"""$componentCteSql
      |SELECT id AS doc_id, component FROM comp ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Components.connected(dupPairs(s, dir), "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q82
  // Per-component stats (Components.componentStats) over the same edge set
  // — the duplicate-family size distribution an engineer reads before
  // moving the near-dup threshold, promoted from spec-only to the oracle
  // contract.
  val q82 = Q(
    "q82_component_stats",
    s"""$componentCteSql
      |SELECT component, count(*) AS n_members, max(id) AS max_id
      |FROM comp GROUP BY component ORDER BY component""".stripMargin) { (s, dir) =>
    Components.componentStats(dupPairs(s, dir), "doc_a", "doc_b")
      .orderBy("component")
  }

  // ---------------------------------------------------------------- q63
  // MOSS-style winnowing fingerprint (TextAnalysis.winnow) — the rolling
  // substring-level fingerprint next to q30's whole-document hash. The gram
  // hash is a sha256 hex prefix compared as a string, so the sliding-window
  // minima are engine-independent and the WHOLE selection is hash-checked
  // against DuckDB (serialized to CSV — the q37 lesson: the driver compare
  // can't hash array cells). k=3, w=4.
  val q63 = Q(
    "q63_winnow",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(ts) >= 3 THEN
      |               list_transform(range(len(ts) - 2),
      |                 i -> substr(sha256(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 16))
      |             ELSE []::VARCHAR[] END AS grams
      |      FROM d),
      |f AS (SELECT doc_id,
      |             CASE WHEN len(grams) >= 4 THEN
      |               list_sort(list_distinct(list_transform(range(len(grams) - 3),
      |                 j -> list_min(grams[j+1:j+4]))))
      |             WHEN len(grams) > 0 THEN [list_min(grams)]
      |             ELSE []::VARCHAR[] END AS fp
      |      FROM g)
      |SELECT doc_id, CAST(len(fp) AS BIGINT) AS n_hashes,
      |       array_to_string(fp, ',') AS fp
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val fp = TextAnalysis.winnow(col("text"))
    // spread: winnow runs a sha256 PER GRAM inside one projection — ~2
    // cpu-s that a 4-split scan serialized (r10 A/B: 2.24 → 0.93 s wall)
    graft.operators.Parallelism.spread(Tables(s, dir, "documents"))
      .select(col("doc_id"), size(fp).cast("long").as("n_hashes"),
        concat_ws(",", fp).as("fp"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q64
  // Banded SimHash near-dup join (Dedup.simhashPairs): q32 emits the
  // fingerprints, this is the candidate join that makes them a dedup
  // operator. Pigeonhole-exact for hamming <= bands-1, but xxhash64-based
  // fingerprints aren't DuckDB-replicable → rows-only; the exactness
  // property (set-equality vs the brute-force O(n²) hamming join) lives in
  // DedupSpec.
  val q64 = Q.noOracle("q64_simhash_banded") { (s, dir) =>
    Dedup.simhashPairs(Tables(s, dir, "documents"), maxHamming = 3)
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q65
  // Benchmark decontamination (CorpusPrep.contaminated): every-10th doc
  // plays the held-out eval set, the rest is the training corpus; flagged =
  // sharing >= 1 distinct 3-token shingle. Exact shingle semantics in both
  // engines → value-checked.
  val q65 = Q(
    "q65_decontaminate",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |sh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts)-2),
      |                i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]))) AS shingle
      |       FROM d WHERE len(ts) >= 3),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
      |train AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 10 <> 0)
      |SELECT doc_id, count(*) AS n_shared
      |FROM train JOIN bench USING (shingle)
      |GROUP BY doc_id HAVING count(*) >= 1
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    CorpusPrep.contaminated(
        train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q66
  // Sharded sequence packing (CorpusPrep.packChunks): token-budget chunk
  // assignment via per-shard running sums — deterministic, window-SQL-
  // expressible → value-checked (floor CAST to BIGINT on the oracle side,
  // the q20 lesson).
  val q66 = Q(
    "q66_pack_chunks",
    """WITH d AS (SELECT doc_id, doc_id % 8 AS shard,
      |                  len(string_split_regex(trim(text), '\s+')) AS n_tokens
      |           FROM documents)
      |SELECT doc_id, CAST(shard AS INT) AS shard, CAST(n_tokens AS BIGINT) AS n_tokens,
      |       CAST(floor(coalesce(sum(n_tokens) OVER (
      |              PARTITION BY shard ORDER BY doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |            / 2048) AS BIGINT) AS chunk
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.packChunks(Tables(s, dir, "documents"),
        budgetTokens = 2048, shards = 8)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q69
  // PII redaction (B36 hygiene): the fixture text carries no PII, so each
  // document is augmented with a deterministic doc_id-derived email, phone
  // and account number — then scrubbed by TextAnalysis.redactPii. Both
  // engines build the identical augmented string and run the identical
  // regex passes (Java-regex/RE2-common subset; oracle passes 'g' for
  // all-occurrence parity with Spark), so the output is value-checked.
  val q69 = Q(
    "q69_pii_redact",
    """WITH aug AS (
      |  SELECT doc_id,
      |         text || ' reach user' || CAST(doc_id AS VARCHAR) ||
      |         '@mail.example or 555-010-' ||
      |         lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ||
      |         ' acct 9' || lpad(CAST(doc_id AS VARCHAR), 10, '0') AS t
      |  FROM documents)
      |SELECT doc_id,
      |       regexp_replace(
      |         regexp_replace(
      |           regexp_replace(t,
      |             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\b', '<PHONE>', 'g'),
      |         '\b[0-9]{9,}\b', '<ID>', 'g') AS redacted
      |FROM aug ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val aug = concat(
      col("text"), lit(" reach user"), col("doc_id").cast("string"),
      lit("@mail.example or 555-010-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"),
      lit(" acct 9"), lpad(col("doc_id").cast("string"), 10, "0"))
    Tables(s, dir, "documents")
      .select(col("doc_id"), TextAnalysis.redactPii(aug).as("redacted"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q70
  // Sliding-window chunking (CorpusPrep.chunkDocuments): 64-token windows,
  // stride 48 — row-local sequence/explode/slice fan-out, value-checked
  // against DuckDB's range + list-slice construction.
  val q70 = Q(
    "q70_chunk_docs",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |s AS (SELECT doc_id, ts, unnest(range(0, len(ts), 48)) AS start FROM d)
      |SELECT doc_id,
      |       CAST(start // 48 AS BIGINT) AS chunk_idx,
      |       CAST(least(64, len(ts) - start) AS BIGINT) AS n_chunk_tokens,
      |       array_to_string(ts[start+1 : start+64], ' ') AS chunk
      |FROM s ORDER BY doc_id, chunk_idx""".stripMargin) { (s, dir) =>
    CorpusPrep.chunkDocuments(
        Tables(s, dir, "documents"), chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_idx")
  }

  // ---------------------------------------------------------------- q71
  // Repetition quality signal (TextAnalysis.duplicateNgramFraction): the
  // Gopher-style duplicate-bigram fraction, with the gram counts exposed so
  // the check is on exact integers plus one IEEE-deterministic division.
  val q71 = Q(
    "q71_repeated_ngrams",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(ts) >= 2 THEN
      |               list_transform(range(len(ts) - 1), i -> ts[i+1] || ' ' || ts[i+2])
      |             ELSE []::VARCHAR[] END AS grams
      |      FROM d)
      |SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |       CAST(len(list_distinct(grams)) AS BIGINT) AS n_distinct,
      |       CASE WHEN len(grams) > 0
      |            THEN CAST(len(grams) - len(list_distinct(grams)) AS DOUBLE) / len(grams)
      |            ELSE 0.0 END AS dup_frac
      |FROM g ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val g = TextAnalysis.positionalNgrams(col("text"), 2)
    // r19: spread — the n-gram HOF projection ran serial on the one-split
    // scan (guide §2.5, par ≈ 0.9); orderBy pins the output order
    graft.operators.Parallelism.spread(Tables(s, dir, "documents"))
      .select(
        col("doc_id"),
        size(g).cast("long").as("n_grams"),
        size(array_distinct(g)).cast("long").as("n_distinct"),
        TextAnalysis.duplicateNgramFraction(col("text"), 2).as("dup_frac"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q72
  // Token vocabulary / heavy hitters (TextAnalysis.tokenVocab): top-100
  // tokens by frequency with deterministic tie-break on the token string —
  // identical semantics in both engines, value-checked.
  val q72 = Q(
    "q72_token_vocab",
    """SELECT token, count(*) AS cnt
      |FROM (SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |      FROM documents)
      |GROUP BY token
      |ORDER BY cnt DESC, token
      |LIMIT 100""".stripMargin) { (s, dir) =>
    TextAnalysis.tokenVocab(Tables(s, dir, "documents"), k = 100)
  }

  // ---------------------------------------------------------------- q73
  // Int8-quantized top-k cosine (Similarity.cosineTopKQuantized) — q26's
  // memory-bound sibling: 4× smaller index, integer-grid scores. The
  // rounding makes scores engine-approximate (rows-only check); the
  // recall-vs-float-path property lives in SimilaritySpec.
  val q73 = Q.noOracle("q73_ann_quantized") { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    Similarity.cosineTopKQuantized(emb, emb.filter(col("vec_id") < 3), k = 5)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q73a
  // The int8 quantized-ANN path under the hash gate (q73 stays rows-only
  // for historical continuity; this twin value-checks the SAME machinery):
  // the quantization chain is deterministic double arithmetic — per-vector
  // scale m = max|x|/127 (float operands promote to double identically in
  // both engines), grid q_i = round(x_i / m) half-away-from-zero (Spark
  // HALF_UP ≡ DuckDB round for every sign), and the integer-grid cosine is
  // exact-int dots under one sqrt+division — so DuckDB can replicate
  // quantize → score → top-k bit-for-bit. The fixture has no zero vectors,
  // but the m=0→1.0 guard is replicated anyway for faithfulness.
  val q73a = Q(
    "q73a_ann_quantized_checked",
    """WITH e AS (SELECT vec_id, embedding FROM embeddings),
      |sd AS (SELECT vec_id, embedding,
      |              CASE WHEN m > 0 THEN m ELSE 1.0 END AS s
      |       FROM (SELECT vec_id, embedding,
      |                    list_max(list_transform(embedding, x -> abs(x))) / 127.0 AS m
      |             FROM e)),
      |qz AS (SELECT vec_id,
      |              list_transform(embedding, x -> round(CAST(x AS DOUBLE) / s)) AS q
      |       FROM sd),
      |n AS (SELECT vec_id, q, list_dot_product(q, q) AS nn FROM qz),
      |qq AS (SELECT vec_id AS q_id, q AS qv, nn AS qn FROM n WHERE vec_id < 3),
      |scored AS (SELECT qq.q_id, n.vec_id,
      |                  round(list_dot_product(qq.qv, n.q) / sqrt(qq.qn * n.nn), 4) AS sim
      |           FROM n JOIN qq ON n.vec_id <> qq.q_id)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id, sim FROM (
      |  SELECT q_id, vec_id, sim,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY sim DESC, vec_id) AS rk
      |  FROM scored) WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    Similarity.cosineTopKQuantized(emb, emb.filter(col("vec_id") < 3), k = 5)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q74
  // Domain mixing (CorpusPrep.domainMix): per-source keep rates over a
  // deterministic multiplicative hash — both engines evaluate the identical
  // arithmetic, so the kept set is value-checked. Rates are generated from
  // the source index by one shared formula (10 + 37·i mod 86).
  private val mixRates: Map[String, Int] =
    (0 until 20).map(i => s"src$i" -> (10 + (37 * i) % 86)).toMap

  val q74 = Q(
    "q74_domain_mix",
    s"""WITH rates(source, rate_pct) AS (VALUES ${
         mixRates.toSeq.sorted.map { case (s, r) => s"('$s', $r)" }.mkString(", ")
       })
      |SELECT doc_id, source
      |FROM documents JOIN rates USING (source)
      |WHERE (((doc_id % 1000003) * 2654435761) % 999999937) % 100 < rate_pct
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.domainMix(Tables(s, dir, "documents"), mixRates)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q76
  // Full training-prep composite (CorpusPrep.prepareTraining): quality →
  // PII scrub → dedup → decontaminate → domain-mix → enrich, with every
  // 10th doc playing the held-out benchmark (as in q65). Composite of
  // individually-oracled operators → rows-only here; invariants in
  // CorpusPrepSpec.
  val q76 = Q.composite("q76_training_prep") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    CorpusPrep.prepareTraining(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        benchDocs = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L),
        ratesPct = mixRates)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q76a
  // The deterministic SLICE of the q76 training-prep composite under the
  // hash gate (the q43a move applied to the full hygiene chain): quality
  // gate → PII scrub → exact dedup → benchmark decontamination → domain
  // mix, i.e. q76's pipeline with the seeded near-dup stage skipped —
  // every remaining stage is deterministic arithmetic both engines can
  // evaluate identically, so the composite's stage WIRING (scrub feeding
  // the dedup hash, scrubbed bench shingles probing scrubbed train text,
  // mix rates applied post-decontamination) is value-checked, not just
  // each stage in isolation (q43a/q65/q69/q74). q76 itself stays the
  // rows-only full composite; its seeded suffix is property-tested in
  // CorpusPrepSpec.
  val q76a = Q(
    "q76a_training_prep_prefix",
    s"""WITH scrub AS (
      |  SELECT doc_id, lang, source,
      |         regexp_replace(regexp_replace(regexp_replace(text,
      |           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |           '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g'),
      |           '\\b[0-9]{9,}\\b', '<ID>', 'g') AS text
      |  FROM documents
      |  WHERE n_chars >= 100 AND lang IN ('en','es','fr','de','zh')
      |    AND len(string_split_regex(trim(text), '\\s+')) > 0
      |    AND doc_id % 10 <> 0),
      |k AS (SELECT min(doc_id) AS doc_id FROM scrub GROUP BY sha256(text)),
      |ded AS (SELECT scrub.* FROM scrub JOIN k USING (doc_id)),
      |dts AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS ts FROM ded),
      |dsh AS (SELECT doc_id, unnest(list_distinct(list_transform(range(len(ts)-4),
      |               i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
      |                    ts[i+4] || ' ' || ts[i+5]))) AS shingle
      |        FROM dts WHERE len(ts) >= 5),
      |bsc AS (SELECT regexp_replace(regexp_replace(regexp_replace(text,
      |          '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
      |          '\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b', '<PHONE>', 'g'),
      |          '\\b[0-9]{9,}\\b', '<ID>', 'g') AS text
      |       FROM documents WHERE doc_id % 10 = 0),
      |bts AS (SELECT string_split_regex(trim(text), '\\s+') AS ts FROM bsc),
      |bsh AS (SELECT DISTINCT unnest(list_distinct(list_transform(range(len(ts)-4),
      |               i -> ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
      |                    ts[i+4] || ' ' || ts[i+5]))) AS shingle
      |        FROM bts WHERE len(ts) >= 5),
      |flag AS (SELECT DISTINCT doc_id FROM dsh JOIN bsh USING (shingle)),
      |decon AS (SELECT * FROM ded WHERE doc_id NOT IN (SELECT doc_id FROM flag)),
      |rates(source, rate_pct) AS (VALUES ${
         mixRates.toSeq.sorted.map { case (s, r) => s"('$s', $r)" }.mkString(", ")
       })
      |SELECT doc_id, lang, source, length(text) AS n_chars
      |FROM decon JOIN rates USING (source)
      |WHERE (((doc_id % 1000003) * 2654435761) % 999999937) % 100 < rate_pct
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val cfg = CorpusPrep.Config()
    val scrubbed = CorpusPrep.qualityFilter(
        docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L), cfg)
      .withColumn("text", TextAnalysis.redactPii(col("text")))
    val deduped = CorpusPrep.exactDedup(scrubbed)
    val bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L)
      .withColumn("text", TextAnalysis.redactPii(col("text")))
    // k=5 shingles (vs the pipeline default k=3): at sf0.1 the fixture's
    // common-vocabulary text makes 3-token shingle collisions so dense
    // that decontamination drops ALL 4500 train docs — a vacuous check.
    // 5-token shingles flag 8/7/~240 docs at sf0.001/0.01/0.1, so both
    // the dropped set and the survivor set stay populated at every SF.
    val flagged = CorpusPrep.contaminated(deduped, bench, minShared = 1, k = 5)
      .select("doc_id")
    val decon = deduped.join(flagged, Seq("doc_id"), "left_anti")
    CorpusPrep.domainMix(decon, mixRates)
      .select(col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q77
  // Segment-level dedup (CorpusPrep.segmentDedup): the C4-style boilerplate
  // pass — globally-first occurrence of each 10-token segment survives,
  // documents reassemble from their surviving segments. Deterministic
  // window rank + ordered string_agg in both engines → value-checked.
  val q77 = Q(
    "q77_segment_dedup",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |s AS (SELECT doc_id, unnest(range(0, len(ts), 10)) AS start, ts FROM d),
      |seg AS (SELECT doc_id, start // 10 AS seg_idx,
      |               array_to_string(ts[start+1 : start+10], ' ') AS seg
      |        FROM s),
      |f AS (SELECT doc_id, seg_idx, seg,
      |             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rk
      |      FROM seg)
      |SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS text
      |FROM f WHERE rk = 1
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.segmentDedup(Tables(s, dir, "documents"), segTokens = 10)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q78
  // Incremental ingest dedup (Dedup.incrementalNewDocs): every 5th doc
  // plays the new batch against the rest as history. The Bloom filter is
  // only a screen — the exact-confirm stage makes the OUTPUT exact, so the
  // oracle is a plain anti-join on content despite the sketch inside.
  val q78 = Q(
    "q78_incremental_dedup",
    """WITH hist AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)
      |SELECT doc_id FROM batch
      |WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.text = batch.text)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    Dedup.incrementalNewDocs(
        newDocs = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L),
        history = docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L),
        expectedHistoryRows = 100000L)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q79
  // BPE merge learning (Bpe.learnMerges): the vocab-training step — corpus
  // touched once (word-freq aggregate), then K vocabulary-sized merge
  // iterations. Deterministic (lexicographic tie-break, partitioning-
  // independence spec-asserted) → rows-check; the hand-computed merge
  // sequence property lives in BpeSpec. Registered off the timed set: the
  // iterative driver loop is K tiny jobs whose wall is pure job overhead
  // at fixture vocab size — it would measure the scheduler, not the
  // operator.
  val q79 = Q.composite("q79_bpe_merges") { (s, dir) =>
    import s.implicits._
    Bpe.learnMerges(Tables(s, dir, "documents"), numMerges = 20)
      .zipWithIndex
      .map { case (m, i) => (i + 1, m.left, m.right, m.count) }
      .toDF("rank", "left", "right", "cnt")
  }

  // ---------------------------------------------------------------- q80
  // Corpus-scale BPE encode (Bpe.encodeCorpus): the dictionary-join shape —
  // distinct words encoded once through the learned merge table, broadcast-
  // joined back against the corpus. Learned merges are engine-side (the
  // q79 loop) so no DuckDB oracle; equality with the per-row encodeWord
  // fold and stage-size/partitioning invariance are spec-asserted (BpeSpec).
  // Composite: includes the iterative learning loop, so off the timed set
  // for the same reason as q79.
  val q80 = Q.composite("q80_bpe_encode") { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val merges = Bpe.learnMerges(docs, numMerges = 20)
    Bpe.encodeCorpus(docs, merges)
      .select(col("doc_id"), size(col("tokens")).cast("long").as("n_tokens"),
        concat_ws(" ", col("tokens")).as("encoded"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q83
  // Unigram log-prob quality score (TextAnalysis.unigramLogProb): the
  // CCNet-style perplexity proxy — self-fit unigram LM, per-doc average
  // token log-probability. Integer counts + one rounded double average →
  // value-checked.
  val q83 = Q(
    "q83_unigram_logprob",
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |           FROM documents),
      |tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
      |lm AS (SELECT token, count(*) AS cnt FROM tt GROUP BY token),
      |tot AS (SELECT sum(cnt) AS total FROM lm),
      |s AS (SELECT doc_id, count(*) AS n_tokens,
      |             round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS avg_logprob
      |      FROM tt JOIN lm USING (token) CROSS JOIN tot
      |      GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(s.n_tokens, 0) AS BIGINT) AS n_tokens,
      |       s.avg_logprob
      |FROM documents d LEFT JOIN s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.unigramLogProb(Tables(s, dir, "documents"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q84
  // Exact TF-IDF top terms per document (TextAnalysis.tfIdfTopTerms):
  // add-one-smoothed idf, rank on the ROUNDED score with lexicographic
  // tie-break — deterministic in both engines → value-checked.
  val q84 = Q(
    "q84_tfidf_top_terms",
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS term
      |           FROM documents),
      |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df
      |       FROM (SELECT DISTINCT doc_id, term FROM tt) GROUP BY term),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |s AS (SELECT doc_id, term, tf,
      |             round(tf * ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)), 4) AS score
      |      FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, term, tf, score,
      |             row_number() OVER (PARTITION BY doc_id
      |                                ORDER BY score DESC, term) AS rk
      |      FROM s)
      |SELECT doc_id, CAST(rk AS INT) AS rk, term, tf, score
      |FROM r WHERE rk <= 5 ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
    TextAnalysis.tfIdfTopTerms(Tables(s, dir, "documents"), k = 5)
      .orderBy("doc_id", "rk")
  }

  // ---------------------------------------------------------------- q85
  // Stratified exact-size sample (CorpusPrep.stratifiedSample): exactly 5
  // docs per source in deterministic prime-mixed hash order — both engines
  // evaluate the identical arithmetic → value-checked.
  val q85 = Q(
    "q85_stratified_sample",
    """WITH h AS (SELECT doc_id, source,
      |                  (((doc_id % 1000003) * 2654435761) % 999999937) % 1000000 AS hk
      |           FROM documents),
      |r AS (SELECT doc_id, source,
      |             row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
      |      FROM h)
      |SELECT doc_id, source FROM r WHERE rk <= 5
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.stratifiedSample(Tables(s, dir, "documents"), n = 5)
      .select("doc_id", "source")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q86
  // Substring-level near-dup pairs via shared winnowing fingerprints
  // (Dedup.winnowPairs): q63 emits the fingerprints, this is the candidate
  // join that makes them a dedup operator — and because the winnow hash is
  // a sha256 prefix it is the one LSH-family join that is fully
  // oracle-checkable (MinHash/SimHash/Rp are xxhash64/seeded → rows-only).
  val q86 = Q(
    "q86_winnow_pairs",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents WHERE doc_id < 1000),
      |g AS (SELECT doc_id,
      |             CASE WHEN len(ts) >= 3 THEN
      |               list_transform(range(len(ts) - 2),
      |                 i -> substr(sha256(ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3]), 1, 16))
      |             ELSE []::VARCHAR[] END AS grams
      |      FROM d),
      |f AS (SELECT doc_id,
      |             CASE WHEN len(grams) >= 4 THEN
      |               list_sort(list_distinct(list_transform(range(len(grams) - 3),
      |                 j -> list_min(grams[j+1:j+4]))))
      |             WHEN len(grams) > 0 THEN [list_min(grams)]
      |             ELSE []::VARCHAR[] END AS fp
      |      FROM g),
      |w AS (SELECT doc_id, unnest(fp) AS h FROM f),
      |hot AS (SELECT h FROM w GROUP BY h HAVING count(*) > 100),
      |s AS (SELECT doc_id, h FROM w WHERE h NOT IN (SELECT h FROM hot)),
      |p AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_shared
      |      FROM s a JOIN s b ON a.h = b.h AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT doc_a, doc_b, n_shared FROM p WHERE n_shared >= 2
      |ORDER BY doc_a, doc_b""".stripMargin) { (s, dir) =>
    Dedup.winnowPairs(
        Tables(s, dir, "documents").filter(col("doc_id") < 1000),
        minShared = 2)
      .orderBy("doc_a", "doc_b")
  }

  // ---------------------------------------------------------------- q87
  // Random-projection matrix product (functions.VectorMatMul): 8 fixed
  // planes of 64 dims, every value k/128 with integer k — exactly
  // representable as BOTH float32 and float64, so the per-term products are
  // identical doubles in both engines and the codegen matmul is pinned
  // numerically by the oracle (it was previously exercised only through
  // rows-only LSH paths, where a numeric drift would surface as recall
  // noise instead of a red row). This is also the dimensionality-reduction
  // shape itself: project 64-d embeddings to 8 cheap coordinates in one
  // codegen expression.
  private val projPlanes: Array[Array[Float]] =
    Array.tabulate(8, 64)((p, i) => (((p * 64 + i) * 37) % 201 - 100) / 128.0f)

  val q87 = Q(
    "q87_matmul_project",
    {
      val cols = projPlanes.zipWithIndex.map { case (row, p) =>
        // k/128 has at most 7 decimal digits (1/128 = 0.0078125), so %.7f
        // prints every plane value EXACTLY — fewer digits would silently
        // perturb the oracle's matrix
        val lit = row.map(v => f"$v%.7f").mkString("[", ", ", "]")
        // + 0.0 canonicalizes signed zero: a projection that rounds to zero
        // carries the sign of its double fold (sf0.1 row 1214 hashed
        // -0.0 vs 0.0 cross-engine)
        s"round(list_dot_product(embedding::DOUBLE[], $lit), 4) + 0.0 AS proj$p"
      }.mkString(",\n      |       ")
      s"""SELECT vec_id,
      |       $cols
      |FROM embeddings ORDER BY vec_id""".stripMargin
    }) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val mm = call_function(graft.functions.GraftFunctions.VectorMatMulName,
      col("embedding"), typedlit(projPlanes.map(_.toSeq).toSeq))
    Tables(s, dir, "embeddings")
      .select(col("vec_id"), mm.as("mm"))
      .select(col("vec_id") +:
        (0 until 8).map(p =>
          (round(element_at(col("mm"), p + 1), 4) + lit(0.0)).as(s"proj$p")): _*)
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q89
  // Deterministic training-order shuffle (CorpusPrep.trainingOrder): the
  // reproducible global permutation + shard assignment a training loader
  // consumes — prime-mixed hash order, so both engines (and any rerun)
  // agree exactly.
  val q89 = Q(
    "q89_training_order",
    """WITH h AS (SELECT doc_id,
      |                  (((doc_id % 1000003) * 2654435761) % 999999937) % 1000000 AS hk
      |           FROM documents)
      |SELECT doc_id, CAST(hk % 8 AS INT) AS shard,
      |       CAST(row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS INT) AS pos
      |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    CorpusPrep.trainingOrder(Tables(s, dir, "documents"), shards = 8)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q93
  // Index-backed incremental dedup (DedupIndex): q78's engine fed by the
  // persisted 32 B/doc digest index instead of a corpus rescan — build the
  // index from the history slice once, then screen the batch against it.
  // Same oracle as q78 (the screen+confirm output is exact either way);
  // value-identity between the two engine paths is additionally asserted
  // in DedupIndexSpec. Off-bench: writes the index artifact (q49's
  // single-writer convention).
  val q93 = Q.offBench(
    "q93_incremental_dedup_indexed",
    """WITH hist AS (SELECT text FROM documents WHERE doc_id % 5 <> 0),
      |batch AS (SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0)
      |SELECT doc_id FROM batch
      |WHERE NOT EXISTS (SELECT 1 FROM hist WHERE hist.text = batch.text)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    // per-run dir (not a fixed tmpdir name): two concurrent harness runs on
    // one machine must not swap the index under each other's read
    val idxPath = java.nio.file.Files
      .createTempDirectory("graft_q93_dedup_index")
      .resolve("index").toAbsolutePath.toString
    DedupIndex.build(
      docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0L), idxPath)
    DedupIndex.incrementalNewDocs(
        newDocs = docs.filter(pmod(col("doc_id"), lit(5L)) === 0L),
        indexPath = idxPath,
        expectedHistoryRows = 100000L)
      .select("doc_id")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q95
  // End-to-end BPE text → integer token ids (Bpe.vocab + encodeCorpusIds):
  // the numeric encode contract a training pipeline consumes. A FIXED merge
  // table makes the whole path DuckDB-replicable: the oracle folds each
  // rule left-to-right via a delimited-string replace chain — symbols are
  // separated by a DOUBLED \u0001 control char (outside any text fixture's
  // alphabet, so a document token can never collide with the encoding the
  // way a literal '|' would) and a rule rewrites ␁l␁␁r␁ → ␁lr␁, so each
  // match consumes one separator from each side's double and the rewrite
  // restores them, which reproduces mergeAdjacent's single-pass greedy
  // semantics INCLUDING back-to-back merges (␁␁t␁␁h␁␁t␁␁h␁␁ folds to
  // ␁␁th␁␁th␁␁, where a single-separator encoding would stall after the
  // first match). Vocab ids: sorted corpus alphabet then merge outputs in rule
  // order — both expressible as plain window ranks. Ids serialize to CSV
  // (arrays can't be hash-compared). Learned-merge encodes stay
  // property-checked (BpeSpec: encodeCorpusIds ≡ encodeWord + vocab map).
  private val q95Merges = Seq(
    Bpe.Merge("t", "h", 0), Bpe.Merge("th", "e", 0), Bpe.Merge("i", "n", 0),
    Bpe.Merge("a", "n", 0), Bpe.Merge("e", "r", 0), Bpe.Merge("o", "n", 0))
  val q95 = Q(
    "q95_bpe_token_ids",
    {
      // \u0001 delimiter: a literal '|' inside a fixture token would be
      // silently lost by the split/filter below; the control char cannot
      // appear in text fixtures.
      val D = "\u0001"
      val encChain = q95Merges.foldLeft(
        s"'$D' || array_to_string(string_split_regex(word, ''), '$D$D') || '$D'") {
        (acc, m) =>
          s"replace($acc, '$D${m.left}$D$D${m.right}$D', '$D${m.left}${m.right}$D')"
      }
      val mergeVals = q95Merges.map(m => m.left + m.right).distinct.zipWithIndex
        .map { case (s, i) => s"('$s', $i)" }.mkString(", ")
      s"""WITH w0 AS (SELECT doc_id, unnest(ws) AS word, generate_subscripts(ws, 1) AS pos
       |            FROM (SELECT doc_id,
       |                         string_split_regex(trim(coalesce(text, '')), '\\s+') AS ws
       |                  FROM documents) d),
       |w AS (SELECT * FROM w0 WHERE word <> ''),
       |alpha AS (SELECT DISTINCT unnest(string_split_regex(word, '')) AS symbol FROM w),
       |acount AS (SELECT count(*) AS a FROM alpha),
       |vocab AS (SELECT symbol,
       |                 CAST(row_number() OVER (ORDER BY symbol) - 1 AS INT) AS token_id
       |          FROM alpha
       |          UNION ALL
       |          SELECT m.symbol, CAST(ac.a + m.i AS INT)
       |          FROM (VALUES $mergeVals) m(symbol, i) CROSS JOIN acount ac),
       |encl AS (SELECT doc_id, pos,
       |                list_filter(string_split($encChain, '$D'), s -> s <> '') AS sl
       |         FROM w),
       |syms AS (SELECT doc_id, pos, unnest(sl) AS symbol,
       |                generate_subscripts(sl, 1) AS o
       |         FROM encl),
       |ids AS (SELECT doc_id,
       |               array_to_string(list(token_id ORDER BY pos, o), ',') AS ids_csv,
       |               count(*) AS n
       |        FROM syms JOIN vocab USING (symbol)
       |        GROUP BY doc_id)
       |SELECT d.doc_id, CAST(coalesce(i.n, 0) AS INT) AS n_tokens,
       |       coalesce(i.ids_csv, '') AS ids_csv
       |FROM documents d LEFT JOIN ids i USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin
    }) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val v = Bpe.vocab(docs, q95Merges)
    Bpe.encodeCorpusIds(docs, q95Merges, v)
      .select(col("doc_id"),
        size(col("token_ids")).as("n_tokens"),
        array_join(col("token_ids"), ",").as("ids_csv"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q97
  // Deterministic negative sampling (CorpusPrep.negativeSamples): K
  // hash-derived negatives per document for contrastive training —
  // self-exclusion by construction (step ∈ [1, N−1] on the dense two-phase
  // rank index), rerun/engine-stable where seeded rand is not. Every stage
  // is integer arithmetic + the q89 ordering, so the oracle replays it
  // exactly.
  val q97 = Q(
    "q97_negative_samples",
    """WITH h AS (SELECT doc_id,
      |                  (((doc_id % 1000003) * 2654435761) % 999999937) % 1000000 AS hk
      |           FROM documents),
      |o AS (SELECT doc_id, CAST(hk % 8 AS INT) AS shard,
      |             row_number() OVER (PARTITION BY hk % 8 ORDER BY hk, doc_id) AS pos
      |      FROM h),
      |offs AS (SELECT shard, count(*) AS cnt FROM o GROUP BY shard),
      |offs2 AS (SELECT shard,
      |                 coalesce(sum(cnt) OVER (ORDER BY shard
      |                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS off
      |          FROM offs),
      |idx AS (SELECT o.doc_id, off + pos - 1 AS i FROM o JOIN offs2 USING (shard)),
      |n AS (SELECT count(*) AS total FROM documents),
      |c AS (SELECT doc_id, i, g.j AS neg_rank,
      |             (i + ((((i % 1000003) * 2654435761 + g.j * 97003) % 999999937)
      |                   % (total - 1)) + 1) % total AS ci
      |      FROM idx CROSS JOIN n CROSS JOIN generate_series(1, 3) g(j))
      |SELECT c.doc_id, CAST(c.neg_rank AS INT) AS neg_rank,
      |       x.doc_id AS neg_doc_id
      |FROM c JOIN idx x ON x.i = c.ci
      |ORDER BY c.doc_id, c.neg_rank""".stripMargin) { (s, dir) =>
    CorpusPrep.negativeSamples(Tables(s, dir, "documents"), k = 3, shards = 8)
      .orderBy("doc_id", "neg_rank")
  }

  // ---------------------------------------------------------------- q98
  // Windowed token co-occurrence (TextAnalysis.cooccurrence): exact PMI
  // raw material — pairs at distance 1..2, unordered, with per-token
  // corpus frequencies. Everything integer, so the oracle replays the
  // whole computation exactly; the (n_ab desc, token_a, token_b) sort is
  // total (pair is the key), making LIMIT deterministic.
  val q98 = Q(
    "q98_cooccurrence",
    """WITH pos AS (
      |  SELECT doc_id, i - 1 AS pos, arr[i] AS token
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      |        FROM documents) d,
      |       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
      |  WHERE arr[i] <> ''),
      |pairs AS (
      |  SELECT least(a.token, b.token) AS token_a,
      |         greatest(a.token, b.token) AS token_b,
      |         count(*) AS n_ab
      |  FROM pos a JOIN pos b
      |    ON a.doc_id = b.doc_id AND b.pos - a.pos BETWEEN 1 AND 2
      |  GROUP BY 1, 2),
      |freq AS (SELECT token, count(*) AS n FROM pos GROUP BY token)
      |SELECT token_a, token_b, n_ab, fa.n AS n_a, fb.n AS n_b
      |FROM pairs
      |JOIN freq fa ON fa.token = token_a
      |JOIN freq fb ON fb.token = token_b
      |ORDER BY n_ab DESC, token_a, token_b
      |LIMIT 100""".stripMargin) { (s, dir) =>
    TextAnalysis.cooccurrence(Tables(s, dir, "documents"), window = 2, k = 100)
  }

  // ---------------------------------------------------------------- q99
  // Cross-source vocabulary overlap (TextAnalysis.vocabOverlap): exact
  // distinct-token intersection per source pair + per-source vocab sizes —
  // callers derive Jaccard from the integers (never hash the division).
  val q99 = Q(
    "q99_vocab_overlap",
    """WITH vocab AS (
      |  SELECT DISTINCT source, token
      |  FROM (SELECT source,
      |               unnest(string_split_regex(trim(text), '\s+')) AS token
      |        FROM documents)
      |  WHERE token <> ''),
      |sizes AS (SELECT source, count(*) AS n_vocab FROM vocab GROUP BY source)
      |SELECT a.source AS source_a, b.source AS source_b,
      |       count(*) AS n_common,
      |       sa.n_vocab AS n_vocab_a, sb.n_vocab AS n_vocab_b
      |FROM vocab a
      |JOIN vocab b ON a.token = b.token AND a.source < b.source
      |JOIN sizes sa ON sa.source = a.source
      |JOIN sizes sb ON sb.source = b.source
      |GROUP BY 1, 2, 4, 5
      |ORDER BY source_a, source_b""".stripMargin) { (s, dir) =>
    TextAnalysis.vocabOverlap(Tables(s, dir, "documents"))
      .orderBy("source_a", "source_b")
  }

  // ---------------------------------------------------------------- q104
  // SemDeDup (Abbas et al. 2023): k-means cells as the blocking key,
  // within-cell cosine pruning — the planted replica set (q60's fixture)
  // guarantees true near-dups exist, so the survivor count moving well
  // below the input count is the visible signal. Seeded/approximate
  // (cluster-boundary recall) → rows-only driver check; SemDedupSpec
  // measures recall vs the brute oracle and asserts idempotence.
  val q104 = Q.noOracle("q104_semdedup") { (s, dir) =>
    // k ∝ N is the documented production lever: within-cell pair space is
    // Σ|cell|², so doubling k at this fixture size roughly halves the
    // rerank volume (bench r5: 5.3 s at k=16)
    SemDedup.survivors(plantedEmbeddings(s, dir), k = 32, minCosine = 0.85)
      .select("vec_id")
      .orderBy("vec_id")
  }

  // --------------------------------------------------------------- q104a
  // SemDeDup's assignment+prune machinery under the hash gate (the q42a
  // move applied to semantic dedup): cells pinned to the first-12-vector
  // centroids via SemDedup's prebuilt-clustering hook — itself the
  // production path for deduping against an EXISTING IVF index — then the
  // within-cell pairing, unrounded cos ≥ 0.3 cut (identical double bits
  // in both engines, no rounding step to guard), and keep-smallest-id
  // survivor rule are all deterministic. Output is pure BIGINT ids, so
  // the row is boundary-proof by construction. The loose 0.3 threshold
  // (vs q104's realistic 0.85) keeps drops non-vacuous on the isotropic
  // fixture; the seeded planted-cluster pipeline stays q104 + SemDedupSpec.
  val q104a = Q(
    "q104a_semdedup_fixed_cells",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
      |           FROM embeddings),
      |cent AS (SELECT vec_id AS cell, v AS c, list_dot_product(v, v) AS cn
      |         FROM e WHERE vec_id < 12),
      |asg AS (SELECT vec_id, cell FROM (
      |          SELECT e.vec_id, cent.cell,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY cent.cn - 2 * list_dot_product(e.v, cent.c),
      |                            cent.cell) AS rn
      |          FROM e CROSS JOIN cent) WHERE rn = 1),
      |drop AS (SELECT DISTINCT b.vec_id
      |         FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |         JOIN e ea ON ea.vec_id = a.vec_id
      |         JOIN e eb ON eb.vec_id = b.vec_id
      |         WHERE list_dot_product(ea.v, eb.v) / sqrt(ea.n * eb.n) >= 0.3)
      |SELECT vec_id FROM e
      |WHERE vec_id NOT IN (SELECT vec_id FROM drop)
      |ORDER BY vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    SemDedup.survivors(emb, minCosine = 0.3, centroids = Some(cs))
      .select("vec_id")
      .orderBy("vec_id")
  }

  // ---------------------------------------------------------------- q107
  // Tokenizer fertility per source: exact char and BPE-pre-token totals —
  // the "how many tokens does a GB of this source cost" planning number.
  // Both totals are integer sums (callers derive chars/token); the BPE
  // count reuses q55's shared pre-tokenizer regex in both engines.
  val q107 = Q(
    "q107_tokenizer_fertility",
    s"""SELECT source,
       |       count(*) AS n_docs,
       |       CAST(sum(n_chars) AS BIGINT) AS total_chars,
       |       CAST(sum(len(regexp_extract_all(text,
       |         '${TextAnalysis.BpePretokenPattern}'))) AS BIGINT) AS total_bpe
       |FROM documents
       |GROUP BY source
       |ORDER BY source""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(TextAnalysis.bpeTokenCount(col("text"))).as("total_bpe"))
      .orderBy("source")
  }

  // ---------------------------------------------------------------- q108
  // Bigram-LM quality score (TextAnalysis.bigramLogProb): the sequential
  // fluency signal a unigram gate can't see. Self-fit MLE model — every
  // scored bigram exists, no smoothing arm; avg rounded to 4 decimals
  // (boundary-guard probe q108.avg_logprob2); <2-token docs survive with
  // n_bigrams=0 and a null score.
  val q108 = Q(
    "q108_bigram_logprob",
    """WITH pos AS (
      |  SELECT doc_id, i, arr[i] AS token
      |  FROM (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      |        FROM documents) d,
      |       LATERAL (SELECT unnest(generate_series(1, len(arr))) AS i) g
      |  WHERE arr[i] <> ''),
      |bg AS (SELECT a.doc_id, a.token AS ta, b.token AS tb
      |       FROM pos a JOIN pos b
      |         ON a.doc_id = b.doc_id AND b.i = a.i + 1),
      |lm AS (SELECT ta, tb, count(*) AS nab FROM bg GROUP BY 1, 2),
      |ctx AS (SELECT ta, sum(nab) AS na FROM lm GROUP BY ta),
      |s AS (SELECT doc_id, count(*) AS n_bigrams,
      |             round(avg(ln(CAST(nab AS DOUBLE) / na)), 4) AS avg_logprob2
      |      FROM bg JOIN lm USING (ta, tb) JOIN ctx USING (ta)
      |      GROUP BY doc_id)
      |SELECT d.doc_id, CAST(coalesce(s.n_bigrams, 0) AS BIGINT) AS n_bigrams,
      |       s.avg_logprob2
      |FROM documents d LEFT JOIN s USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin) { (s, dir) =>
    TextAnalysis.bigramLogProb(Tables(s, dir, "documents"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q113
  // Corpus diff (Dedup.corpusDiff): added/removed/retained content between
  // two crawl versions by 32-byte digest — overlapping doc_id slices of
  // the fixture stand in for consecutive crawls. All integer counts.
  val q113 = Q(
    "q113_corpus_diff",
    """WITH o AS (SELECT sha256(text) AS h, count(*) AS n
      |           FROM documents WHERE doc_id < 400 GROUP BY 1),
      |n AS (SELECT sha256(text) AS h, count(*) AS n
      |      FROM documents WHERE doc_id >= 100 GROUP BY 1)
      |SELECT CASE WHEN o.n IS NULL THEN 'added'
      |            WHEN n.n IS NULL THEN 'removed'
      |            ELSE 'retained' END AS status,
      |       count(*) AS n_contents,
      |       CAST(coalesce(sum(o.n), 0) AS BIGINT) AS n_docs_old,
      |       CAST(coalesce(sum(n.n), 0) AS BIGINT) AS n_docs_new
      |FROM o FULL OUTER JOIN n ON o.h IS NOT DISTINCT FROM n.h
      |GROUP BY 1 ORDER BY status""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    Dedup.corpusDiff(
        docs.filter(col("doc_id") < 400),
        docs.filter(col("doc_id") >= 100))
      .orderBy("status")
  }

  // ---------------------------------------------------------------- q119
  // Character-entropy quality scoring (TextAnalysis.charEntropy): the
  // information-density signal per document, computed ROW-LOCALLY by the
  // codegen char_entropy expression — the oracle's explode→entropy()
  // formulation shuffles one row per character, which at corpus scale is
  // the whole job; the engine side shuffles nothing. Both sides are
  // −Σ p·log₂p over code points; the engine folds counts in ascending
  // code-point order (deterministic), round(4) absorbs the cross-engine
  // libm ulp.
  val q119 = Q(
    "q119_char_entropy",
    """WITH chars AS (
      |  SELECT doc_id, unnest(regexp_extract_all(text, '[\s\S]')) AS ch
      |  FROM documents WHERE length(text) > 0)
      |SELECT doc_id, round(entropy(ch), 4) AS char_entropy,
      |       count(DISTINCT ch) AS n_distinct_chars
      |FROM chars GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .filter(length(col("text")) > 0)
      .select(
        col("doc_id"),
        round(TextAnalysis.charEntropy(col("text")), 4).as("char_entropy"),
        size(array_distinct(split(col("text"), ""))).cast("long")
          .as("n_distinct_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q120
  // Heavy-hitter tokens (TextAnalysis.heavyHitterTokens): Misra-Gries
  // sketch screen (capacity 400, mergeable TypedImperativeAggregate) →
  // broadcast semi-join exact confirm of count·100 > n. The oracle is the
  // exact formulation; MisraGriesSpec asserts the sketch guarantee that
  // makes the screen sound (no heavy hitter above n/(k+1) can be absent).
  // Threshold arithmetic is integer (cnt·100 > n) — no rounding anywhere.
  val q120 = Q(
    "q120_heavy_hitters",
    """WITH t AS (
      |  SELECT unnest(string_split_regex(trim(text), '\s+')) AS token
      |  FROM documents),
      |tok AS (SELECT token FROM t WHERE token <> ''),
      |n AS (SELECT count(*) AS n_total FROM tok)
      |SELECT token, count(*) AS cnt, any_value(n.n_total) AS n_total
      |FROM tok, n GROUP BY token
      |HAVING count(*) * 100 > any_value(n.n_total)
      |ORDER BY token""".stripMargin) { (s, dir) =>
    TextAnalysis.heavyHitterTokens(
        Tables(s, dir, "documents"), capacity = 400, denom = 100)
      .orderBy("token")
  }

  // ---------------------------------------------------------------- q122
  // Leakage-safe split (CorpusPrep.leakageSafeSplit): train/val/test
  // assignment hashed from the GROUP key (source), so same-group
  // near-duplicates can never straddle the train/eval fence. The hash is
  // the first 4 hex digits of md5(group) mod 100 — both engines compute
  // the identical md5 hex string (Spark: conv(hex,16,10); DuckDB: strpos
  // digit arithmetic), so the assignment itself is cross-engine-checked,
  // not just the counts. leaked_sources is the global invariant (= 0 by
  // construction) carried on every row.
  val q122 = Q(
    "q122_leakage_safe_split",
    """WITH a AS (
      |  SELECT doc_id, source,
      |         ((strpos('0123456789abcdef', substr(md5(source), 1, 1)) - 1) * 4096
      |        + (strpos('0123456789abcdef', substr(md5(source), 2, 1)) - 1) * 256
      |        + (strpos('0123456789abcdef', substr(md5(source), 3, 1)) - 1) * 16
      |        + (strpos('0123456789abcdef', substr(md5(source), 4, 1)) - 1)) % 100
      |           AS bucket
      |  FROM documents),
      |s AS (SELECT doc_id, source,
      |             CASE WHEN bucket < 80 THEN 'train'
      |                  WHEN bucket < 90 THEN 'val'
      |                  ELSE 'test' END AS split
      |      FROM a),
      |l AS (SELECT count(*) AS leaked_sources
      |      FROM (SELECT source FROM s GROUP BY source
      |            HAVING count(DISTINCT split) > 1))
      |SELECT split, count(*) AS n_docs,
      |       count(DISTINCT source) AS n_sources,
      |       (SELECT leaked_sources FROM l) AS leaked_sources
      |FROM s GROUP BY split ORDER BY split""".stripMargin) { (s, dir) =>
    val assigned = CorpusPrep.leakageSafeSplit(
      Tables(s, dir, "documents"), groupCol = "source",
      trainPct = 80, valPct = 10)
    val leaks = assigned
      .groupBy("source")
      .agg(countDistinct(col("split")).as("ns"))
      .filter(col("ns") > 1)
      .agg(count(lit(1)).as("leaked_sources"))
    assigned
      .groupBy("split")
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("source")).as("n_sources"))
      .crossJoin(broadcast(leaks))
      .orderBy("split")
  }

  // Shared media-blob fixtures: ONE definition each so the paired
  // queries (q123/q125 on WAV, q124/q126 on BMP) can never drift from
  // their "same fixture" contract — their oracles hard-code the same
  // integer constructions. Deterministic integer waveforms/pixels only
  // (no trig: sin() differs across engines at the ULP). The WAV step
  // range 37..63 makes the sawtooth wrap ~every 65–110 samples, so
  // q125's 64-sample frames carry 0–2 zero crossings (mean ≈ 1.5 at
  // sf0.001) — with the old 3..7 step the wave never crossed zero and
  // the zero-crossing check was vacuous (r9 review finding).
  private def wavFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val n = (160 + id % 64).toInt
      val step = (37 + id % 27).toInt
      val samples = Array.tabulate[Short](n) { i =>
        (((i.toLong * step) % 4096 - 2048) * 8).toShort
      }
      Multimodal.Blob(id, Wav.encodePcm16(8000, samples))
    }
  }

  private def bmpFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (8 + id % 8).toInt
      val h = (4 + id % 4).toInt
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = ((x * 7 + y * 3 + id) % 256).toInt
        val g = ((x * 5 + y * 11 + 2 * id) % 256).toInt
        val b = ((x * 13 + y + 3 * id) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      Multimodal.Blob(id, Bmp.encode24(w, h, px))
    }
  }

  // ---------------------------------------------------------------- q123
  // REAL audio decode (B35 upgraded from stub): deterministic triangle-wave
  // PCM is encoded to spec-compliant RIFF/WAVE bytes (Wav.encodePcm16, a
  // real encoder), then decoded back through the byte-level parser
  // (Multimodal.decodeWav). The ORACLE never sees WAV bytes — it derives
  // the same features purely arithmetically from the wave construction —
  // so a hash-match certifies the encoder+parser round-trip against an
  // independent derivation, not parser-vs-itself. Integer waveform (no
  // trig: sin() would differ across engines at the ULP), exact integer
  // duration (n·125 µs at 8 kHz), rms = one sqrt of an exact integer
  // ratio — bit-identical without any rounding step. Malformed-payload
  // quarantine (valid=false) is spec-tested in WavSpec, not here.
  val q123 = Q(
    "q123_wav_decode",
    """WITH d AS (SELECT doc_id, 160 + doc_id % 64 AS n, 37 + doc_id % 27 AS step
      |           FROM documents),
      |s AS (SELECT doc_id, n, step, unnest(range(n)) AS i FROM d),
      |v AS (SELECT doc_id, n, ((i * step) % 4096 - 2048) * 8 AS smp FROM s)
      |SELECT doc_id,
      |       8000 AS sample_rate,
      |       CAST(any_value(n) AS BIGINT) AS n_samples,
      |       CAST(any_value(n) AS BIGINT) * 125 AS duration_us,
      |       CAST(max(abs(smp)) AS INT) AS peak,
      |       sqrt(CAST(sum(smp * smp) AS DOUBLE) / any_value(n)) AS rms
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.decodeWav(wavFixture(s, dir))
      .select(col("doc_id"), col("sample_rate"),
        col("n_samples"), col("duration_us"), col("peak"), col("rms"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q124
  // REAL image decode (B35's image twin of q123): deterministic modular
  // RGB pixels are encoded to spec-compliant 24-bit BI_RGB BMP bytes —
  // bottom-up rows WITH 4-byte row padding, the two places real parser
  // bugs live — then decoded back through the byte-level parser
  // (Multimodal.decodeBmp). The oracle re-derives width/height/channel
  // sums/luma purely arithmetically, so a hash match certifies the codec
  // round-trip against an independent derivation. Widths 8..15 include
  // every row-padding class (w%4 ∈ {0,1,2,3}); channel sums exact ints,
  // luma = one exact-int division.
  val q124 = Q(
    "q124_bmp_decode",
    """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
      |           FROM documents),
      |p AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM d),
      |c AS (SELECT doc_id, w, h,
      |             (i % w) AS x, (i // w) AS y FROM p),
      |v AS (SELECT doc_id, w, h,
      |             (x * 7 + y * 3 + doc_id) % 256 AS r,
      |             (x * 5 + y * 11 + 2 * doc_id) % 256 AS g,
      |             (x * 13 + y + 3 * doc_id) % 256 AS b
      |      FROM c)
      |SELECT doc_id,
      |       CAST(any_value(w) AS INT) AS width,
      |       CAST(any_value(h) AS INT) AS height,
      |       CAST(any_value(w) * any_value(h) AS BIGINT) AS n_pixels,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(299 * sum(r) + 587 * sum(g) + 114 * sum(b) AS DOUBLE)
      |         / (1000.0 * any_value(w) * any_value(h)) AS mean_luma
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.decodeBmp(bmpFixture(s, dir))
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("mean_luma"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q125
  // REAL audio framing (the production upgrade of q54's byte-slice frame
  // sampler): q123's WAV fixture decoded and windowed into 64-sample
  // frames at hop 32 (50% overlap, the standard STFT convention; ragged
  // tail dropped), per-frame peak / strict-sign-change zero crossings /
  // exact-ratio rms. The oracle re-derives every frame arithmetically
  // from the triangle-wave construction — no WAV bytes on its side — so
  // the hash certifies decode + framing + per-window features together.
  val q125 = Q(
    "q125_audio_frames",
    """WITH d AS (SELECT doc_id, 160 + doc_id % 64 AS n, 37 + doc_id % 27 AS step
      |           FROM documents),
      |f AS (SELECT doc_id, step, unnest(range((n - 64) // 32 + 1)) AS fr
      |      FROM d WHERE n >= 64),
      |s AS (SELECT doc_id, fr, step, unnest(range(64)) AS k FROM f),
      |v AS (SELECT doc_id, fr,
      |             (((fr * 32 + k) * step) % 4096 - 2048) * 8 AS smp,
      |             CASE WHEN k = 0 THEN NULL
      |                  ELSE (((fr * 32 + k - 1) * step) % 4096 - 2048) * 8
      |             END AS prev
      |      FROM s)
      |SELECT doc_id, CAST(fr AS INT) AS frame_idx, 64 AS n_samples,
      |       CAST(max(abs(smp)) AS INT) AS peak,
      |       CAST(coalesce(sum(CASE WHEN prev IS NOT NULL AND smp <> 0
      |                                AND prev <> 0 AND ((smp < 0) <> (prev < 0))
      |                              THEN 1 END), 0) AS INT) AS zero_crossings,
      |       sqrt(CAST(sum(smp * smp) AS DOUBLE) / 64) AS rms
      |FROM v GROUP BY doc_id, fr ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.audioFrames(wavFixture(s, dir), frameSamples = 64, hopSamples = 32)
      .toDF()
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q126
  // REAL image downscale (the production upgrade of q54's resize stub):
  // q124's BMP fixture decoded and mean-pooled onto a 4×2 grid with exact
  // area mapping (source pixel (x,y) → cell (x·outW/w, y·outH/h), integer
  // floor). Channel sums exact ints, each mean one exact-int division;
  // the oracle bins the same modular pixels arithmetically.
  val q126 = Q(
    "q126_image_resize",
    """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h
      |           FROM documents),
      |p AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM d),
      |c AS (SELECT doc_id, w, h, (i % w) AS x, (i // w) AS y FROM p),
      |v AS (SELECT doc_id,
      |             CAST(x * 4 // w AS INT) AS cell_x,
      |             CAST(y * 2 // h AS INT) AS cell_y,
      |             (x * 7 + y * 3 + doc_id) % 256 AS r,
      |             (x * 5 + y * 11 + 2 * doc_id) % 256 AS g,
      |             (x * 13 + y + 3 * doc_id) % 256 AS b
      |      FROM c)
      |SELECT doc_id, cell_x, cell_y, CAST(count(*) AS BIGINT) AS n_px,
      |       CAST(sum(r) AS DOUBLE) / count(*) AS mean_r,
      |       CAST(sum(g) AS DOUBLE) / count(*) AS mean_g,
      |       CAST(sum(b) AS DOUBLE) / count(*) AS mean_b
      |FROM v GROUP BY doc_id, cell_x, cell_y
      |ORDER BY doc_id, cell_y, cell_x""".stripMargin) { (s, dir) =>
    Multimodal.resizeImage(bmpFixture(s, dir), outW = 4, outH = 2)
      .toDF()
      .orderBy("doc_id", "cell_y", "cell_x")
  }

  // PNG fixture: its own pixel construction and dimension range (9..15 ×
  // 5..9 — disjoint formulas from bmpFixture so a codec bug can't be
  // masked by a shared-constant coincidence). Pixels are modular integers
  // like q124's: PNG is lossless, so the decoded 8-bit RGB equals the
  // encoded input exactly and the arithmetic oracle transfers.
  private def pngFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    // spread: deflate encode is ~1 cpu-s the 4-split scan serialized
    // (r10 A/B over the media fixtures: applied to the >=0.7-cpu-s
    // members only; the WAV/BMP/MP4 fixtures are light and LOST)
    graft.operators.Parallelism.spread(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val w = (9 + id % 7).toInt
      val h = (5 + id % 5).toInt
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = ((x * 11 + y * 5 + 2 * id) % 256).toInt
        val g = ((x * 3 + y * 13 + id) % 256).toInt
        val b = ((x * 9 + y * 7 + 5 * id) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      Multimodal.Blob(id, Png.encodeRgb(w, h, px))
    }
  }

  // ---------------------------------------------------------------- q127
  // REAL compressed-image decode (VERDICT r9 "What's missing" #2): the
  // deterministic modular pixels are encoded to REAL deflate-compressed
  // PNG bytes (Png.encodeRgb → the JDK ImageIO writer) and decoded back
  // through Png.decode (ImageIO reader, signature + crafted-dimension
  // guards). The oracle never sees PNG bytes — it re-derives width/
  // height/channel sums/luma arithmetically — so a hash match certifies
  // the full lossless encode→deflate→decode round-trip against an
  // independent derivation. This moves PNG out of the stub tier; only
  // LOSSY formats (JPEG/MP3) remain stubbed, and those genuinely need
  // native codecs.
  val q127 = Q(
    "q127_png_decode",
    """WITH d AS (SELECT doc_id, 9 + doc_id % 7 AS w, 5 + doc_id % 5 AS h
      |           FROM documents),
      |p AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM d),
      |c AS (SELECT doc_id, w, h,
      |             (i % w) AS x, (i // w) AS y FROM p),
      |v AS (SELECT doc_id, w, h,
      |             (x * 11 + y * 5 + 2 * doc_id) % 256 AS r,
      |             (x * 3 + y * 13 + doc_id) % 256 AS g,
      |             (x * 9 + y * 7 + 5 * doc_id) % 256 AS b
      |      FROM c)
      |SELECT doc_id,
      |       CAST(any_value(w) AS INT) AS width,
      |       CAST(any_value(h) AS INT) AS height,
      |       CAST(any_value(w) * any_value(h) AS BIGINT) AS n_pixels,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(299 * sum(r) + 587 * sum(g) + 114 * sum(b) AS DOUBLE)
      |         / (1000.0 * any_value(w) * any_value(h)) AS mean_luma
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.decodePng(pngFixture(s, dir))
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("mean_luma"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q128
  // REAL palette-image decode: a 16-color palette and an index plane, both
  // deterministic modular constructions, encoded to REAL LZW-compressed
  // GIF bytes (Gif.encodeIndexed — explicit IndexColorModel, no
  // quantizer in the path) and decoded back through ImageIO. Palette and
  // LZW are both lossless, so the oracle re-derives every decoded pixel
  // as palette[(x*3 + y*5 + id) % 16] arithmetically — a hash match
  // certifies the palette encoding, the LZW round-trip, and the feature
  // math together.
  val q128 = Q(
    "q128_gif_decode",
    """WITH d AS (SELECT doc_id, 10 + doc_id % 6 AS w, 6 + doc_id % 3 AS h
      |           FROM documents),
      |p AS (SELECT doc_id, w, h, unnest(range(w * h)) AS i FROM d),
      |c AS (SELECT doc_id, w, h, (i % w) AS x, (i // w) AS y FROM p),
      |k AS (SELECT doc_id, w, h, (x * 3 + y * 5 + doc_id) % 16 AS k FROM c),
      |v AS (SELECT doc_id, w, h,
      |             (k * 17 + doc_id) % 256 AS r,
      |             (k * 29 + 2 * doc_id) % 256 AS g,
      |             (k * 13 + 3 * doc_id) % 256 AS b
      |      FROM k)
      |SELECT doc_id,
      |       CAST(any_value(w) AS INT) AS width,
      |       CAST(any_value(h) AS INT) AS height,
      |       CAST(any_value(w) * any_value(h) AS BIGINT) AS n_pixels,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(299 * sum(r) + 587 * sum(g) + 114 * sum(b) AS DOUBLE)
      |         / (1000.0 * any_value(w) * any_value(h)) AS mean_luma
      |FROM v GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = graft.operators.Parallelism.spread(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val w = (10 + id % 6).toInt
      val h = (6 + id % 3).toInt
      val palette = Array.tabulate(16) { k =>
        val r = ((k * 17 + id) % 256).toInt
        val g = ((k * 29 + 2 * id) % 256).toInt
        val b = ((k * 13 + 3 * id) % 256).toInt
        (r << 16) | (g << 8) | b
      }
      val indices = Array.tabulate[Byte](w * h) { i =>
        val x = i % w; val y = i / w
        ((x * 3 + y * 5 + id) % 16).toByte
      }
      Multimodal.Blob(id, Gif.encodeIndexed(w, h, palette, indices))
    }
    Multimodal.decodeGif(blobs)
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("sum_r"), col("sum_g"), col("sum_b"), col("mean_luma"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q129
  // REAL lossy-image decode, rows-only BY NATURE (SURVEY §2.9): JPEG's
  // DCT quantization makes the decoded pixels a codec-defined
  // approximation, so no cross-engine arithmetic oracle can exist at any
  // config — the feature values depend on the JDK decoder's IDCT, not on
  // a spec-forced bit pattern. JpegSpec bounds the round-trip error
  // (gradients at q=0.95: luma within 3, mean channel error ≤ 2, max ≤ 16
  // — the max is 4:2:0 chroma subsampling; solid 8×8-aligned blocks
  // near-exact) and pins the quarantine contract; here the full Spark
  // path decodes a gradient fixture and must mark every row valid.
  val q129 = Q.noOracle("q129_jpeg_decode") { (s, dir) =>
    import s.implicits._
    val blobs = graft.operators.Parallelism.spread(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      val w = (16 + id % 8).toInt
      val h = (8 + id % 4).toInt
      // smooth gradient: the JPEG-friendly fixture (high-frequency
      // modular noise would stress quantization, which is JpegSpec's
      // job, not the plumbing query's)
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = (x * 255 / (w - 1) + id % 7).toInt.min(255)
        val g = (y * 255 / (h - 1) + id % 5).toInt.min(255)
        val b = ((x + y) * 255 / (w + h - 2) + id % 3).toInt.min(255)
        (r << 16) | (g << 8) | b
      }
      Multimodal.Blob(id, Jpeg.encodeRgb(w, h, px))
    }
    Multimodal.decodeJpeg(blobs)
      .filter(col("valid"))
      .select(col("doc_id"), col("width"), col("height"), col("n_pixels"),
        col("mean_luma"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q130
  // Cross-document SUBSTRING-level dedup (SubstringDedup.repeatedSpans —
  // the Lee-et-al repeated-n-gram construction): every 8-token window
  // occurring in ≥2 distinct documents, summarized per doc. The oracle
  // runs the string-keyed configuration (hashKeys=false) so DuckDB can
  // replicate the whole operator; SubstringDedupSpec pins the 128-bit
  // hash-keyed scale path to identical output on the fixture. All output
  // columns are integers — hash-exact.
  val q130 = Q(
    "q130_substring_dedup",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |g AS (SELECT doc_id, i AS start_idx,
      |             array_to_string(ts[i+1:i+8], ' ') AS gram
      |      FROM d, unnest(range(len(ts) - 7)) AS t(i)
      |      WHERE len(ts) >= 8),
      |r AS (SELECT gram FROM g GROUP BY gram
      |      HAVING count(DISTINCT doc_id) >= 2)
      |SELECT doc_id,
      |       CAST(count(*) AS BIGINT) AS n_repeated_spans,
      |       CAST(count(DISTINCT gram) AS BIGINT) AS n_repeated_grams,
      |       CAST(min(start_idx) AS INT) AS first_idx
      |FROM g WHERE gram IN (SELECT gram FROM r)
      |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    SubstringDedup.repeatedSpans(
        Tables(s, dir, "documents"), n = 8, minDocs = 2, hashKeys = false)
      .withColumn("first_idx", col("first_idx").cast("int"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q131
  // REAL MP3 container metadata (Mp3 frame-header walk — public MPEG-1
  // Layer III bit arithmetic; SAMPLE decode stays stubbed, it genuinely
  // needs a native codec). The fixture synthesizes spec-valid VBR frame
  // chains (per-frame bitrate index + padding bit, one sample rate, an
  // ID3v2 prefix on 4 of 5 docs) and the oracle re-derives n_frames /
  // sample_rate / audio_bytes (Σ spec frame lengths 144·kbps·1000/rate
  // + pad, integer division) / duration_us (n·1152·10⁶/rate) purely
  // arithmetically — a hash match certifies the bit-level header
  // encode/parse round-trip, the syncsafe ID3v2 skip, and the
  // frame-length formula.
  val q131 = Q(
    "q131_mp3_meta",
    """WITH d AS (SELECT doc_id, CAST(doc_id % 3 AS INT) AS ri,
      |                  CAST(20 + doc_id % 10 AS INT) AS n
      |           FROM documents),
      |r AS (SELECT doc_id, n,
      |             CASE ri WHEN 0 THEN 44100 WHEN 1 THEN 48000
      |                     ELSE 32000 END AS rate
      |      FROM d),
      |f AS (SELECT doc_id, n, rate,
      |             [0,32,40,48,56,64,80,96,112,128,160,192,224,256,320]
      |               [CAST(1 + (doc_id + j) % 14 AS INT) + 1] AS kbps,
      |             CAST((doc_id + j) % 2 AS INT) AS pad
      |      FROM r, unnest(range(n)) AS t(j)),
      |a AS (SELECT doc_id, any_value(n) AS n, any_value(rate) AS rate,
      |             sum(144 * kbps * 1000 // rate + pad) AS audio_bytes
      |      FROM f GROUP BY doc_id)
      |SELECT doc_id,
      |       CAST(n AS INT) AS n_frames,
      |       CAST(rate AS INT) AS sample_rate,
      |       CAST(audio_bytes AS BIGINT) AS audio_bytes,
      |       CAST(CAST(n AS BIGINT) * 1152 * 1000000 // rate AS BIGINT) AS duration_us
      |FROM a ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = graft.operators.Parallelism.spread(
        Tables(s, dir, "documents").select(col("doc_id"))).as[Long].map { id =>
      Multimodal.Blob(id, Mp3.encodeFrames(
        sampleRateIdx = (id % 3).toInt,
        bitrateIdx = j => (1 + (id + j) % 14).toInt,
        padding = j => ((id + j) % 2).toInt,
        nFrames = (20 + id % 10).toInt,
        id3Bytes = ((id % 5) * 7).toInt))
    }
    Multimodal.decodeMp3Meta(blobs)
      .select(col("doc_id"), col("n_frames"), col("sample_rate"),
        col("audio_bytes"), col("duration_us"))
      .orderBy("doc_id")
  }

  // Shared fixture for the image near-dup pair (q132 hash / q133 join):
  // groups of 4 docs share one pixel construction (group id g = doc_id/4
  // drives dims and the modular pattern) and differ only by a uniform
  // per-doc brightness shift (+doc_id%4; channels built mod 252 so the
  // shift can't wrap a byte) — dHash is invariant under uniform shifts,
  // so every group is a planted hamming-0 clique, the exact structure an
  // image near-dup pass must find. Cross-group repeats of the modular
  // pattern (g ≡ g' mod lcm(252, dims-cycle)) add larger cliques; both
  // engines derive the same arithmetic, so the oracle agrees wherever
  // the construction lands.
  private[llm] def dhashFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    // NO spread here: the A/B lost (q132 0.40 → 0.68 s, q133 flat) —
    // the per-row encode+hash is light enough that the exchange costs
    // more than the serialism, unlike the deflate/DCT fixtures below
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val g = id / 4
      val w = (16 + g % 8).toInt
      val h = (12 + g % 4).toInt
      val sh = (id % 4).toInt
      val px = Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        val r = ((x * 7 + y * 3 + g) % 252 + sh).toInt
        val gg = ((x * 5 + y * 11 + 2 * g) % 252 + sh).toInt
        val b = ((x * 13 + y + 3 * g) % 252 + sh).toInt
        (r << 16) | (gg << 8) | b
      }
      Multimodal.Blob(id, Bmp.encode24(w, h, px))
    }
  }

  /** The q132/q133 oracle's shared derivation: fixture pixels → 9×8
    * pooled scaled-luma cells → cross-multiplied comparisons → 64 bits
    * as two BIGINT halves. Kept as one constant so the two oracles can
    * never drift from each other. */
  private val DhashOracleCte =
    """WITH d AS (SELECT doc_id, doc_id // 4 AS g FROM documents),
      |dim AS (SELECT doc_id, g,
      |               CAST(16 + g % 8 AS INT) AS w, CAST(12 + g % 4 AS INT) AS h,
      |               CAST(doc_id % 4 AS INT) AS sh FROM d),
      |p AS (SELECT doc_id, w, h, sh, g, unnest(range(w * h)) AS i FROM dim),
      |c AS (SELECT doc_id, w, h,
      |             (i % w) AS x, (i // w) AS y,
      |             ((i % w) * 7 + (i // w) * 3 + g) % 252 + sh AS r,
      |             ((i % w) * 5 + (i // w) * 11 + 2 * g) % 252 + sh AS gr,
      |             ((i % w) * 13 + (i // w) + 3 * g) % 252 + sh AS b
      |      FROM p),
      |l AS (SELECT doc_id,
      |             CAST(x * 9 // w AS INT) AS cx, CAST(y * 8 // h AS INT) AS cy,
      |             299 * r + 587 * gr + 114 * b AS lum
      |      FROM c),
      |cell AS (SELECT doc_id, cx, cy, sum(lum) AS s, count(*) AS n
      |         FROM l GROUP BY doc_id, cx, cy),
      |bit AS (SELECT a.doc_id, a.cy * 8 + a.cx AS i,
      |               CASE WHEN a.s * b.n > b.s * a.n THEN 1 ELSE 0 END AS bit
      |        FROM cell a JOIN cell b
      |          ON a.doc_id = b.doc_id AND a.cy = b.cy AND b.cx = a.cx + 1
      |        WHERE a.cx < 8),
      |hsh AS (SELECT doc_id,
      |               CAST(sum(CASE WHEN i >= 32
      |                             THEN bit * (1::BIGINT << (i - 32)) ELSE 0 END)
      |                    AS BIGINT) AS dhash_hi,
      |               CAST(sum(CASE WHEN i < 32
      |                             THEN bit * (1::BIGINT << i) ELSE 0 END)
      |                    AS BIGINT) AS dhash_lo
      |        FROM bit GROUP BY doc_id)""".stripMargin

  // ---------------------------------------------------------------- q132
  // Perceptual image hash (ImageHash.dHash): decoded pixels → 9×8 exact
  // integer pooling → 64 difference bits. Unlike the text near-dup keys
  // (xxhash64 → rows-only), every step is plain integer arithmetic, so
  // the hash itself sits under the DuckDB hash gate — the image branch
  // of the dedup family is oracle-certified end-to-end.
  val q132 = Q(
    "q132_image_dhash",
    DhashOracleCte +
      """
        |SELECT doc_id, dhash_hi, dhash_lo FROM hsh ORDER BY doc_id""".stripMargin) { (s, dir) =>
    ImageHash.dHash(dhashFixture(s, dir))
      .select(col("doc_id"), col("dhash_hi"), col("dhash_lo"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q133
  // Image near-dup pairs (ImageHash.nearDupPairs): 4×16-bit banding —
  // pigeonhole-EXACT at hamming ≤ 3, so unlike the recall-property text
  // LSH the whole candidate join + bit_count rerank is hash-checked; the
  // fixture plants hamming-0 cliques (brightness-shifted groups).
  val q133 = Q(
    "q133_image_neardup",
    DhashOracleCte +
      """,
        |band AS (
        |  SELECT doc_id, dhash_hi, dhash_lo, 0 AS band, dhash_lo & 65535 AS key FROM hsh
        |  UNION ALL SELECT doc_id, dhash_hi, dhash_lo, 1, (dhash_lo >> 16) & 65535 FROM hsh
        |  UNION ALL SELECT doc_id, dhash_hi, dhash_lo, 2, dhash_hi & 65535 FROM hsh
        |  UNION ALL SELECT doc_id, dhash_hi, dhash_lo, 3, (dhash_hi >> 16) & 65535 FROM hsh)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |       CAST(bit_count(xor(a.dhash_hi, c.dhash_hi)) +
        |            bit_count(xor(a.dhash_lo, c.dhash_lo)) AS INT) AS hamming
        |FROM band a JOIN band c
        |  ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.dhash_hi, c.dhash_hi)) +
        |      bit_count(xor(a.dhash_lo, c.dhash_lo)) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    ImageHash.nearDupPairs(ImageHash.dHash(dhashFixture(s, dir)).toDF(), maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q134
  // REAL MP4 container metadata (Mp4 — ISO BMFF box walk, the video twin
  // of q131's MP3 header walk; H.264 SAMPLE decode stays stubbed, it
  // genuinely needs a native codec). Fixture synthesizes spec-shaped
  // files — ftyp brand, optional free-box padding, moov[mvhd v0 OR v1 +
  // n trak[tkhd]], empty mdat — and the oracle re-derives timescale /
  // duration / duration_us (one integer division) / n_tracks
  // arithmetically: a hash match certifies the box walk, both mvhd
  // layouts, and the free-box skip.
  val q134 = Q(
    "q134_mp4_meta",
    """WITH d AS (SELECT doc_id,
      |                  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 600
      |                       WHEN 1 THEN 1000 ELSE 90000 END AS ts,
      |                  1000 + doc_id % 9000 AS dur,
      |                  CAST(1 + doc_id % 3 AS INT) AS n_tracks
      |           FROM documents)
      |SELECT doc_id,
      |       CAST(ts AS BIGINT) AS timescale,
      |       CAST(dur AS BIGINT) AS duration_units,
      |       CAST(CAST(dur AS BIGINT) * 1000000 // ts AS BIGINT) AS duration_us,
      |       n_tracks
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      Multimodal.Blob(id, Mp4.encode(
        timescale = Array(600, 1000, 90000)((id % 3).toInt),
        duration = 1000 + id % 9000,
        nTracks = (1 + id % 3).toInt,
        mvhdVersion = (id % 2).toInt,
        freeBytes = ((id % 4) * 5).toInt))
    }
    Multimodal.decodeMp4Meta(blobs)
      .select(col("doc_id"), col("timescale"), col("duration_units"),
        col("duration_us"), col("n_tracks"))
      .orderBy("doc_id")
  }

  // Shared fixture for the audio near-dup pair (q135 hash / q136 join):
  // groups of 3 docs share one waveform (group g = doc_id/3 drives length
  // and step) at amplitudes ×1/×2/×3 (max |sample| 24 576 < 2¹⁵) —
  // AudioHash is amplitude-invariant, so every group is a planted
  // hamming-0 clique, the structure an audio near-dup pass must find
  // (same recording, different gain).
  private[llm] def ahashFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val g = id / 3
      val n = (200 + g % 50).toInt
      val step = (37 + g % 27).toInt
      val amp = (1 + id % 3).toInt
      val samples = Array.tabulate[Short](n) { j =>
        // per-frame energy ENVELOPE (19 levels, two-modulus group
        // coefficients): a bare sawtooth is energy-flat, which collapsed
        // the 5000-doc corpus onto ~270 hashes and exploded the pair set
        // (probed while building); (g%97, g%89) give every fixture group
        // a distinct coefficient pair, so energy profiles — and hashes —
        // are ~unique per group (1562 distinct / 1667 groups at sf0.1,
        // 14.5k pairs). Max |sample| = 512·19·3 = 29 184 < 2¹⁵.
        val f = j.toLong * AudioHash.Frames / n
        val env = 1 + ((g % 97) * (f + 1) + (g % 89) * (f * f + 1)) % 19
        ((((j.toLong * step) % 4096 - 2048) / 4) * env * amp).toShort
      }
      Multimodal.Blob(id, Wav.encodePcm16(8000, samples))
    }
  }

  /** q135/q136's shared oracle derivation: fixture waveform → 33 exact
    * floor-mapped frames → energy sums → cross-multiplied comparisons →
    * 32 bits in one BIGINT. One constant so the two can't drift. */
  private val AhashOracleCte =
    """WITH d AS (SELECT doc_id, doc_id // 3 AS g FROM documents),
      |w AS (SELECT doc_id, g, CAST(200 + g % 50 AS INT) AS n,
      |             CAST(37 + g % 27 AS INT) AS step,
      |             CAST(1 + doc_id % 3 AS INT) AS amp FROM d),
      |s AS (SELECT doc_id, g, n, step, amp, unnest(range(n)) AS j FROM w),
      |v AS (SELECT doc_id, f,
      |             (((j * step) % 4096 - 2048) // 4)
      |               * (1 + ((g % 97) * (f + 1) + (g % 89) * (f * f + 1)) % 19)
      |               * amp AS smp
      |      FROM (SELECT *, CAST(j * 33 // n AS INT) AS f FROM s)),
      |e AS (SELECT doc_id, f, sum(CAST(smp AS BIGINT) * smp) AS en,
      |             count(*) AS cnt
      |      FROM v GROUP BY doc_id, f),
      |bit AS (SELECT a.doc_id, a.f AS i,
      |               CASE WHEN a.en * b.cnt > b.en * a.cnt THEN 1 ELSE 0 END AS bit
      |        FROM e a JOIN e b
      |          ON a.doc_id = b.doc_id AND b.f = a.f + 1
      |        WHERE a.f < 32),
      |hsh AS (SELECT doc_id,
      |               CAST(sum(bit * (1::BIGINT << i)) AS BIGINT) AS ahash
      |        FROM bit GROUP BY doc_id)""".stripMargin

  // ---------------------------------------------------------------- q135
  // Perceptual AUDIO hash (AudioHash.aHash — the audio member of the
  // dedup family, q132's time-domain twin): 33 exact floor-mapped frames
  // over decoded PCM, energy per frame, one bit per adjacent pair via
  // cross-multiplied comparisons. All-integer ⇒ the hash itself is under
  // the DuckDB gate; amplitude invariance is spec-pinned.
  val q135 = Q(
    "q135_audio_ahash",
    AhashOracleCte +
      """
        |SELECT h.doc_id, CAST(w.n AS INT) AS n_samples, h.ahash
        |FROM hsh h JOIN w ON w.doc_id = h.doc_id
        |ORDER BY h.doc_id""".stripMargin) { (s, dir) =>
    AudioHash.aHash(ahashFixture(s, dir))
      .select(col("doc_id"), col("n_samples"), col("ahash"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q136
  // Audio near-dup pairs (AudioHash.nearDupPairs): 4×8-bit banding —
  // pigeonhole-EXACT at hamming ≤ 3 — over q135's hash; the fixture's
  // amplitude-scaled groups are planted hamming-0 cliques. Completes the
  // oracle-certified near-dup matrix: text (property-tested by xxhash64
  // necessity), image (q133), audio (here).
  val q136 = Q(
    "q136_audio_neardup",
    AhashOracleCte +
      """,
        |band AS (
        |  SELECT doc_id, ahash, 0 AS band, ahash & 255 AS key FROM hsh
        |  UNION ALL SELECT doc_id, ahash, 1, (ahash >> 8) & 255 FROM hsh
        |  UNION ALL SELECT doc_id, ahash, 2, (ahash >> 16) & 255 FROM hsh
        |  UNION ALL SELECT doc_id, ahash, 3, (ahash >> 24) & 255 FROM hsh)
        |SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b,
        |       CAST(bit_count(xor(a.ahash, c.ahash)) AS INT) AS hamming
        |FROM band a JOIN band c
        |  ON a.band = c.band AND a.key = c.key AND a.doc_id < c.doc_id
        |WHERE bit_count(xor(a.ahash, c.ahash)) <= 3
        |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    AudioHash.nearDupPairs(AudioHash.aHash(ahashFixture(s, dir)).toDF(), maxHamming = 3)
      .withColumn("hamming", col("hamming").cast("int"))
      .orderBy("id_a", "id_b")
  }

  // Shared fixture for the video pair (q137 meta / q138 frame sample):
  // deterministic uncompressed AVI per doc — dims reuse q124's padding
  // classes (w%4 ∈ {0..3}), microsecond-per-frame and frame count vary
  // per doc, JUNK padding (0/5/10/15 bytes — odd sizes exercise the RIFF
  // even-pad skip) sits between hdrl and movi, and each frame's pixels
  // carry a frame-index term so a sampler that decodes the WRONG frame
  // (off-by-one seek, missed JUNK skip) hash-mismatches, not just one
  // that decodes wrong bytes.
  private def aviFixture(s: org.apache.spark.sql.SparkSession, dir: String) = {
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (8 + id % 8).toInt
      val h = (4 + id % 4).toInt
      val nFrames = (2 + id % 3).toInt
      val frames = Seq.tabulate(nFrames) { f =>
        Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val r = ((x * 7 + y * 3 + id + 11 * f) % 256).toInt
          val g = ((x * 5 + y * 11 + 2 * id + 7 * f) % 256).toInt
          val b = ((x * 13 + y + 3 * id + 5 * f) % 256).toInt
          (r << 16) | (g << 8) | b
        }
      }
      Multimodal.Blob(id, Avi.encode(
        width = w, height = h,
        usPerFrame = 33000 + (id % 5) * 1000,
        frames = frames,
        junkBytes = ((id % 4) * 5).toInt))
    }
  }

  // ---------------------------------------------------------------- q137
  // REAL video-container metadata (Avi header walk — the uncompressed-AVI
  // counterpart of q134's MP4 box walk, except here the SAMPLES are
  // decodable too, q138). The walk validates the 'vids' stream headers
  // and never touches the movi payload; the oracle re-derives every
  // field arithmetically from the fixture construction, so a hash match
  // certifies the chunk walk, the avih/strh/strf field layout, and the
  // odd-JUNK even-pad skip.
  val q137 = Q(
    "q137_avi_meta",
    """WITH d AS (SELECT doc_id,
      |                  CAST(8 + doc_id % 8 AS INT) AS width,
      |                  CAST(4 + doc_id % 4 AS INT) AS height,
      |                  CAST(33000 + (doc_id % 5) * 1000 AS BIGINT) AS us_per_frame,
      |                  CAST(2 + doc_id % 3 AS INT) AS n_frames
      |           FROM documents)
      |SELECT doc_id, width, height, us_per_frame, n_frames,
      |       1 AS n_streams,
      |       us_per_frame * n_frames AS duration_us
      |FROM d ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Multimodal.decodeAviMeta(aviFixture(s, dir))
      .select(col("doc_id"), col("width"), col("height"), col("us_per_frame"),
        col("n_frames"), col("n_streams"), col("duration_us"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q138
  // REAL video frame sampling (the production upgrade of q54's byte-slice
  // stub): Avi.sampleFrames walks the movi chunk list, SEEKS over
  // non-sampled frames (declared-size position arithmetic, no pixel
  // walk) and DIB-decodes every 2nd frame to exact channel sums + luma.
  // The per-frame pixel term (11f/7f/5f) means the oracle pins WHICH
  // frame was decoded, not just how; ts_us pins the presentation-time
  // arithmetic a pipeline joins transcripts against.
  val q138 = Q(
    "q138_video_frames",
    """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
      |                  33000 + (doc_id % 5) * 1000 AS upf,
      |                  2 + doc_id % 3 AS nf
      |           FROM documents),
      |f AS (SELECT doc_id, w, h, upf, unnest(range(nf)) AS fi FROM d),
      |fs AS (SELECT * FROM f WHERE fi % 2 = 0),
      |p AS (SELECT doc_id, w, h, upf, fi, unnest(range(w * h)) AS i FROM fs),
      |c AS (SELECT doc_id, w, h, upf, fi, (i % w) AS x, (i // w) AS y FROM p),
      |v AS (SELECT doc_id, w, h, upf, fi,
      |             (x * 7 + y * 3 + doc_id + 11 * fi) % 256 AS r,
      |             (x * 5 + y * 11 + 2 * doc_id + 7 * fi) % 256 AS g,
      |             (x * 13 + y + 3 * doc_id + 5 * fi) % 256 AS b
      |      FROM c)
      |SELECT doc_id,
      |       CAST(fi AS INT) AS frame_idx,
      |       CAST(fi * any_value(upf) AS BIGINT) AS ts_us,
      |       CAST(any_value(w) AS INT) AS width,
      |       CAST(any_value(h) AS INT) AS height,
      |       CAST(sum(r) AS BIGINT) AS sum_r,
      |       CAST(sum(g) AS BIGINT) AS sum_g,
      |       CAST(sum(b) AS BIGINT) AS sum_b,
      |       CAST(299 * sum(r) + 587 * sum(g) + 114 * sum(b) AS DOUBLE)
      |         / (1000.0 * any_value(w) * any_value(h)) AS mean_luma
      |FROM v GROUP BY doc_id, fi ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    Multimodal.videoFrames(aviFixture(s, dir), stride = 2)
      .select(col("doc_id"), col("frame_idx"), col("ts_us"), col("width"),
        col("height"), col("sum_r"), col("sum_g"), col("sum_b"), col("mean_luma"))
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q139
  // EXACT edit-distance similarity join (EditDistance.passJoin — segment-
  // pigeonhole candidates + banded levenshtein rerank, no O(n²) stage).
  // Corpus = documents capped at 64 chars (so the ORACLE's brute
  // length-filtered levenshtein join stays tractable — the engine path is
  // length-agnostic) + planted one-edit variants: a char deleted at 21
  // for doc_id%5=0, a '#' substituted at 41 for doc_id%7=0 ('#' never
  // occurs in the fixture text, so the edit is always a real edit). The
  // oracle is BRUTE FORCE — it certifies the pigeonhole candidate scheme
  // exactly, planted and coincidental pairs alike.
  val q139 = Q(
    "q139_edit_distance_join",
    """WITH base AS (SELECT doc_id, substr(text, 1, 64) AS t FROM documents),
      |corpus AS (
      |  SELECT doc_id * 3 AS id, t AS text FROM base
      |  UNION ALL
      |  SELECT doc_id * 3 + 1, substr(t, 1, 20) || substr(t, 22)
      |  FROM base WHERE doc_id % 5 = 0
      |  UNION ALL
      |  SELECT doc_id * 3 + 2, substr(t, 1, 40) || '#' || substr(t, 42)
      |  FROM base WHERE doc_id % 7 = 0)
      |SELECT a.id AS id_a, b.id AS id_b,
      |       CAST(levenshtein(a.text, b.text) AS INT) AS dist
      |FROM corpus a JOIN corpus b
      |  ON a.id < b.id AND abs(length(a.text) - length(b.text)) <= 2
      |WHERE levenshtein(a.text, b.text) <= 2
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    // r19 A/B, reverted: spreading the base scan read 1.91 → 2.37 s
    // across three passes — passJoin's band joins dominate, not the scan
    val base = Tables(s, dir, "documents")
      .selectExpr("doc_id", "substr(text, 1, 64) AS t")
    val corpus = base.selectExpr("doc_id * 3 AS id", "t AS text")
      .unionAll(base.filter("doc_id % 5 = 0")
        .selectExpr("doc_id * 3 + 1 AS id", "substr(t, 1, 20) || substr(t, 22) AS text"))
      .unionAll(base.filter("doc_id % 7 = 0")
        .selectExpr("doc_id * 3 + 2 AS id", "substr(t, 1, 40) || '#' || substr(t, 42) AS text"))
    EditDistance.passJoin(corpus, k = 2).orderBy("id_a", "id_b")
  }

  // Shared fixture for the URL pair (q140 canonicalize / q141 dedup):
  // deterministic mangled URLs, two docs per group j = doc_id div 2, four
  // classes by j % 4. Within every group the two RAW urls differ (case,
  // dot-segments, tracking params, escape casing, default port, fragment)
  // but canonicalize to the SAME string — so q141's dup groups exist ONLY
  // if the normalizer erases exactly the right things. Class 3 is
  // malformed both ways (no-scheme / embedded space) → quarantine.
  private def urlFixture(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables(s, dir, "documents")
      .selectExpr("doc_id", "doc_id div 2 AS j")
      .selectExpr("doc_id", "j",
        "concat('host', cast(j % 97 AS string)) AS h", "j % 4 AS c")
      .selectExpr("doc_id",
        """CASE
          |  WHEN c = 0 AND doc_id % 2 = 0
          |    THEN concat('HTTPS://WWW.', upper(h), '.COM/a/b/../c?id=', cast(j AS string))
          |  WHEN c = 0
          |    THEN concat('https://www.', h, '.com/a/c?id=', cast(j AS string), '&utm_source=x')
          |  WHEN c = 1 AND doc_id % 2 = 0
          |    THEN concat('http://', h, '.org:80/p/./q/?b=2&a=1&ref=', cast(j AS string), '#frag')
          |  WHEN c = 1
          |    THEN concat('HTTP://', h, '.org/p/q/?a=1&ref=', cast(j AS string), '&b=2')
          |  WHEN c = 2 AND doc_id % 2 = 0
          |    THEN concat('https://', h, '.net:8443/%7Euser%2fdocs/%41', cast(j AS string))
          |  WHEN c = 2
          |    THEN concat('https://', h, '.net:8443/~user%2Fdocs/A', cast(j AS string), '#x')
          |  WHEN doc_id % 2 = 0 THEN concat('ftp:/broken ', cast(j AS string))
          |  ELSE concat('://nohost', cast(j AS string))
          |END AS url""".stripMargin)

  private val UrlOracleCte =
    """WITH d AS (SELECT doc_id,
      |                  CAST((doc_id - doc_id % 2) / 2 AS BIGINT) AS j
      |           FROM documents),
      |e AS (SELECT doc_id, j, 'host' || CAST(j % 97 AS VARCHAR) AS h,
      |             j % 4 AS c
      |      FROM d),
      |canon AS (SELECT doc_id, j, h, c, c < 3 AS valid,
      |       CASE WHEN c = 0 THEN 'https://www.' || h || '.com/a/c?id=' || CAST(j AS VARCHAR)
      |            WHEN c = 1 THEN 'http://' || h || '.org/p/q/?a=1&b=2&ref=' || CAST(j AS VARCHAR)
      |            WHEN c = 2 THEN 'https://' || h || '.net:8443/~user%2Fdocs/A' || CAST(j AS VARCHAR)
      |            ELSE '' END AS canonical,
      |       CASE WHEN c = 0 THEN 'www.' || h || '.com'
      |            WHEN c = 1 THEN h || '.org'
      |            WHEN c = 2 THEN h || '.net'
      |            ELSE '' END AS host
      |      FROM e)""".stripMargin

  // ---------------------------------------------------------------- q140
  // URL canonicalization (Url.canonicalize — the web-corpus normalization
  // pass): the oracle re-derives every canonical string ARITHMETICALLY
  // from the fixture classes, so a hash match certifies scheme/host
  // lowering, default-port stripping, dot-segment resolution, unreserved
  // percent-decoding + escape-hex uppercasing, tracking-param dropping,
  // stable query sorting, and fragment removal — each class exercises a
  // distinct subset. Row-local mapPartitions; no shuffle but the output
  // sort.
  val q140 = Q(
    "q140_url_canonicalize",
    UrlOracleCte +
      """
        |SELECT doc_id, valid, canonical, host
        |FROM canon ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Url.canonicalizeAll(urlFixture(s, dir).as[(Long, String)])
      .select(col("doc_id"), col("valid"), col("canonical"), col("host"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q141
  // Canonical-URL web dedup: group on q140's canonical string. Every
  // surviving group exists ONLY because normalization united two
  // differently-mangled raws — a dedup that keyed on raw URLs (or on a
  // canonicalizer missing any rule) returns zero groups / hash-mismatches.
  val q141 = Q(
    "q141_url_dedup",
    UrlOracleCte +
      """
        |SELECT canonical, CAST(count(*) AS BIGINT) AS n_docs,
        |       min(doc_id) AS min_doc, max(doc_id) AS max_doc
        |FROM canon WHERE valid
        |GROUP BY canonical HAVING count(*) > 1
        |ORDER BY canonical""".stripMargin) { (s, dir) =>
    import s.implicits._
    Url.canonicalizeAll(urlFixture(s, dir).as[(Long, String)])
      .filter(col("valid"))
      .groupBy(col("canonical"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .filter(col("n_docs") > 1)
      .orderBy("canonical")
  }

  // ---------------------------------------------------------------- q142
  // BM25 retrieval (TextAnalysis.bm25TopDocs): top-10 docs per term query
  // through the inverted-posting equi-join. The per-term Okapi weight is
  // the SAME expression string in engine and oracle (Bm25TermExpr — only
  // ln's libm ulp can differ, boundary-probed), quantized to integer 1e-4
  // units before the per-(query, doc) sum so the cross-row fold is an
  // exact BIGINT sum and the (score desc, doc_id) ranking is fully
  // deterministic. Queries = first 3 tokens of every 50th doc.
  val q142 = Q(
    "q142_bm25_retrieval",
    s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      |           FROM documents),
      |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |tfq AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
      |dlq AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY 1),
      |dfq AS (SELECT term, count(*) AS df
      |        FROM (SELECT DISTINCT doc_id, term FROM tt) GROUP BY term),
      |meta AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
      |                (SELECT CAST(sum(dl) AS DOUBLE) FROM dlq) /
      |                  (SELECT count(*) FROM documents) AS avgdl),
      |qraw AS (SELECT doc_id AS qid,
      |                unnest((string_split_regex(trim(text), '\\s+'))[1:3]) AS term
      |         FROM documents WHERE doc_id % 50 = 0),
      |qt AS (SELECT DISTINCT qid, term FROM qraw WHERE term <> ''),
      |flat AS (SELECT qt.qid, f.doc_id, f.tf, d.dl, g.df, m.n_docs, m.avgdl
      |         FROM qt
      |         JOIN tfq f ON qt.term = f.term
      |         JOIN dlq d ON f.doc_id = d.doc_id
      |         JOIN dfq g ON f.term = g.term
      |         CROSS JOIN meta m),
      |sc AS (SELECT qid, doc_id,
      |              CAST(floor((${TextAnalysis.Bm25TermExpr}) * 10000.0 + 0.5) AS BIGINT) AS q4
      |       FROM flat),
      |agg AS (SELECT qid, doc_id, CAST(count(*) AS INT) AS n_hit, sum(q4) AS s
      |        FROM sc GROUP BY 1, 2),
      |r AS (SELECT qid, doc_id, n_hit, s,
      |             row_number() OVER (PARTITION BY qid
      |                                ORDER BY s DESC, doc_id) AS rk
      |      FROM agg)
      |SELECT qid, CAST(rk AS INT) AS rk, doc_id, n_hit,
      |       CAST(s AS DOUBLE) / 10000.0 AS score
      |FROM r WHERE rk <= 10 ORDER BY qid, rk""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        explode(slice(split(trim(col("text")), "\\s+"), 1, 3)).as("term"))
      .filter(col("term") =!= "").distinct()
    TextAnalysis.bm25TopDocs(docs, queries, k = 10).orderBy("qid", "rk")
  }

  // ---------------------------------------------------------------- q143
  // Cross-modal temporal alignment: REAL decoded video frames (q138's
  // sampler — container walk, frame seek, presentation-time arithmetic)
  // as-of-joined to a per-doc subtitle track (windows of doc-varying
  // width), the transcripts-to-frames alignment a multimodal training
  // pipeline runs. Engine = AsOf.join (union+window, ONE shuffle on
  // doc_id — no range-join blowup); oracle re-derives each frame's
  // subtitle ARITHMETICALLY (greatest start ≤ ts ≡ ts div width), so a
  // hash match certifies decoder timing AND as-of boundary semantics
  // together.
  val q143 = Q(
    "q143_frame_subtitle_align",
    """WITH d AS (SELECT doc_id,
      |                  33000 + (doc_id % 5) * 1000 AS upf,
      |                  2 + doc_id % 3 AS nf,
      |                  45000 + (doc_id % 5) * 5000 AS w
      |           FROM documents),
      |f AS (SELECT doc_id, upf, w, unnest(range(nf)) AS fi FROM d),
      |fs AS (SELECT doc_id, CAST(fi AS INT) AS frame_idx,
      |              CAST(fi * upf AS BIGINT) AS ts_us, w
      |       FROM f WHERE fi % 2 = 0)
      |SELECT doc_id, frame_idx, ts_us,
      |       CAST(ts_us // w AS INT) AS sub_idx,
      |       'sub' || CAST(ts_us // w AS VARCHAR) AS label
      |FROM fs ORDER BY doc_id, frame_idx""".stripMargin) { (s, dir) =>
    val frames = Multimodal.videoFrames(aviFixture(s, dir), stride = 2)
      .toDF().select(col("doc_id"), col("frame_idx"), col("ts_us"))
    val subs = Tables(s, dir, "documents")
      .selectExpr("doc_id", "45000 + (doc_id % 5) * 5000 AS w")
      .withColumn("sub_idx", explode(sequence(lit(0), lit(3))))
      .selectExpr("doc_id", "CAST(sub_idx * w AS BIGINT) AS start_us",
        "CAST(sub_idx AS INT) AS sub_idx",
        "concat('sub', cast(sub_idx AS string)) AS label")
    graft.operators.AsOf.join(frames, subs,
        key = "doc_id", leftTs = "ts_us", rightTs = "start_us",
        payload = Seq("sub_idx", "label"))
      .select(col("doc_id"), col("frame_idx"), col("ts_us"),
        col("asof_sub_idx").as("sub_idx"), col("asof_label").as("label"))
      .orderBy("doc_id", "frame_idx")
  }

  // ---------------------------------------------------------------- q144
  // REAL subtitle-format parse (Srt — the transcript track's wire format):
  // each doc carries a generated .srt with doc-varying cue count/step, an
  // hour-crossing offset for odd-vs-even docs (exercises the HH field),
  // and a multi-line payload on cue 0. The parser walks numbered cues,
  // `HH:MM:SS,mmm --> HH:MM:SS,mmm` timing lines, blank-line separation;
  // the oracle re-derives every cue arithmetically, so a hash match
  // certifies the timestamp parse (h/m/s/ms decomposition to µs) and the
  // cue walk — the format q143's alignment would consume in production.
  val q144 = Q(
    "q144_srt_parse",
    """WITH d AS (SELECT doc_id, 2 + doc_id % 3 AS n,
      |                  (doc_id % 2) * 3661000 AS off,
      |                  1000 + 100 * (doc_id % 7) AS step
      |           FROM documents),
      |c AS (SELECT doc_id, off, step, unnest(range(n)) AS i FROM d)
      |SELECT doc_id, CAST(i + 1 AS INT) AS idx,
      |       CAST((off + i * step) * 1000 AS BIGINT) AS start_us,
      |       CAST((off + i * step + 900) * 1000 AS BIGINT) AS end_us,
      |       'line' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) ||
      |         CASE WHEN i = 0 THEN chr(10) || 'cont' ELSE '' END AS text
      |FROM c ORDER BY doc_id, idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    val srts = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val n = (2 + id % 3).toInt
      val off = (id % 2) * 3661000L
      val step = 1000L + 100L * (id % 7)
      val cues = Seq.tabulate(n) { i =>
        val start = off + i * step
        val text = s"line${id}_$i" + (if (i == 0) "\ncont" else "")
        (start, start + 900L, text)
      }
      (id, Srt.encode(cues))
    }
    Srt.parseAll(srts)
      .select(col("doc_id"), col("idx"), col("start_us"), col("end_us"), col("text"))
      .orderBy("doc_id", "idx")
  }

  // ---------------------------------------------------------------- q145
  // REAL compressed-text scan (Gzip — the WARC-convention member walk):
  // each doc's first-100-chars ride as gzip bytes, every 3rd doc as TWO
  // concatenated members (the crawl layout), decoded with CRC32 + ISIZE
  // verification per member. The oracle re-derives the decoded text as
  // plain substr arithmetic, so a hash match certifies the full header
  // walk → inflate → verify → UTF-8 path; member splitting is invisible
  // to the oracle by construction (decode must re-join them exactly).
  val q145 = Q(
    "q145_gzip_text",
    """SELECT doc_id, true AS valid,
      |       substr(text, 1, 100) AS text,
      |       CAST(length(substr(text, 1, 100)) AS INT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 100).as("t"))
      .as[(Long, String)].map { case (id, t) =>
        val members =
          if (id % 3 == 0 && t.length > 50) Seq(t.substring(0, 50), t.substring(50))
          else Seq(t)
        Multimodal.Blob(id, Gzip.encodeMembers(members))
      }
    Gzip.decodeAll(blobs)
      .select(col("doc_id"), col("valid"), col("text"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q146
  // REAL crawl ingest (.warc.gz): the full chain a web-corpus pipeline
  // runs before any text op — gzip member walk (one member per record,
  // the WARC convention, CRC-verified) → WARC record walk (version line,
  // headers, Content-Length-delimited payload, record separator) → HTTP
  // response split (status line, headers, body). Every 4th doc carries a
  // leading warcinfo record (mixed record types, byte-exact skip); the
  // oracle re-derives every field arithmetically, so one hash certifies
  // all three protocol layers end-to-end.
  val q146 = Q(
    "q146_warc_ingest",
    """WITH r AS (
      |  SELECT doc_id, 0 AS rec_idx, 'warcinfo' AS warc_type, '' AS target_uri,
      |         -1 AS http_status, '' AS content_type,
      |         'crawl ' || CAST(doc_id AS VARCHAR) AS body
      |  FROM documents WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id, CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END, 'response',
      |         'https://host' || CAST(doc_id % 97 AS VARCHAR) || '.com/page' ||
      |           CAST(doc_id AS VARCHAR),
      |         CAST(200 + (doc_id % 2) * 104 AS INT), 'text/html',
      |         substr(text, 1, 80)
      |  FROM documents)
      |SELECT doc_id, CAST(rec_idx AS INT) AS rec_idx, warc_type, target_uri,
      |       http_status, content_type, body
      |FROM r ORDER BY doc_id, rec_idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 80).as("t"))
      .as[(Long, String)].map { case (id, t) =>
        val response = new String(Warc.encodeResponse(
          uri = s"https://host${id % 97}.com/page$id",
          date = "2026-01-01T00:00:00Z",
          status = (200 + (id % 2) * 104).toInt,
          contentType = "text/html",
          body = t), "UTF-8")
        val members =
          if (id % 4 == 0)
            Seq(new String(Warc.encodeInfo("warcinfo", s"crawl $id"), "UTF-8"), response)
          else Seq(response)
        Multimodal.Blob(id, Gzip.encodeMembers(members))
      }
    val unzipped = blobs.map { b =>
      Multimodal.Blob(b.doc_id,
        Gzip.text(b.payload).map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))
    }
    Warc.ingest(unzipped)
      .select(col("doc_id"), col("rec_idx"), col("warc_type"), col("target_uri"),
        col("http_status"), col("content_type"), col("body"))
      .orderBy("doc_id", "rec_idx")
  }

  // ---------------------------------------------------------------- q147
  // Container-invariant VIDEO dedup — completes the oracle-certified
  // dedup matrix across text (q21/q130), image (q132/q133), audio
  // (q135/q136), video (here). Fixture: two docs per group j = doc_id
  // div 2 share the same PIXELS but different CONTAINER bytes (JUNK
  // padding and frame timing vary by doc parity), so a byte-level dedup
  // splits every pair and only decode-level identity unites them. The
  // per-doc signature aggregates decoded frame features — dims, frame
  // count, channel sums, and a frame-position-weighted term (catches
  // reordered frames) — and pairs fall out of a signature equi-join.
  // Oracle re-derives every signature arithmetically from the fixture's
  // modular pixels.
  val q147 = Q(
    "q147_video_dedup",
    """WITH d AS (SELECT doc_id,
      |                  CAST((doc_id - doc_id % 2) / 2 AS BIGINT) AS j
      |           FROM documents),
      |g AS (SELECT doc_id, j, 8 + j % 8 AS w, 4 + j % 4 AS h,
      |             2 + j % 3 AS nf
      |      FROM d),
      |f AS (SELECT doc_id, j, w, h, unnest(range(nf)) AS fi FROM g),
      |p AS (SELECT doc_id, j, w, h, fi, unnest(range(w * h)) AS i FROM f),
      |c AS (SELECT doc_id, j, w, h, fi, (i % w) AS x, (i // w) AS y FROM p),
      |v AS (SELECT doc_id, fi,
      |             (x * 7 + y * 3 + j + 11 * fi) % 256 AS r,
      |             (x * 5 + y * 11 + 2 * j + 7 * fi) % 256 AS g,
      |             (x * 13 + y + 3 * j + 5 * fi) % 256 AS b
      |      FROM c),
      |s AS (SELECT doc_id, CAST(sum(r) AS BIGINT) AS sr,
      |             CAST(sum(g) AS BIGINT) AS sg, CAST(sum(b) AS BIGINT) AS sb,
      |             CAST(sum((fi + 1) * r) AS BIGINT) AS swr
      |      FROM v GROUP BY doc_id),
      |sig AS (SELECT g.doc_id, g.w, g.h, g.nf, s.sr, s.sg, s.sb, s.swr
      |        FROM g JOIN s ON g.doc_id = s.doc_id)
      |SELECT a.doc_id AS id_a, b.doc_id AS id_b, CAST(a.nf AS INT) AS n_frames
      |FROM sig a JOIN sig b
      |  ON a.doc_id < b.doc_id AND a.w = b.w AND a.h = b.h AND a.nf = b.nf
      | AND a.sr = b.sr AND a.sg = b.sg AND a.sb = b.sb AND a.swr = b.swr
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val j = id / 2
      val w = (8 + j % 8).toInt
      val h = (4 + j % 4).toInt
      val nFrames = (2 + j % 3).toInt
      val frames = Seq.tabulate(nFrames) { f =>
        Array.tabulate(w * h) { i =>
          val x = i % w; val y = i / w
          val r = ((x * 7 + y * 3 + j + 11 * f) % 256).toInt
          val g = ((x * 5 + y * 11 + 2 * j + 7 * f) % 256).toInt
          val b = ((x * 13 + y + 3 * j + 5 * f) % 256).toInt
          (r << 16) | (g << 8) | b
        }
      }
      // container varies by doc parity; pixels do not
      Multimodal.Blob(id, Avi.encode(
        width = w, height = h,
        usPerFrame = 33000 + (j % 5) * 1000 + (id % 2) * 500,
        frames = frames,
        junkBytes = ((id % 2) * 7).toInt))
    }
    val sig = Multimodal.videoFrames(blobs, stride = 1).toDF()
      .groupBy("doc_id")
      .agg(first(col("width")).as("w"), first(col("height")).as("h"),
        count(lit(1)).cast("int").as("nf"),
        sum(col("sum_r")).as("sr"), sum(col("sum_g")).as("sg"),
        sum(col("sum_b")).as("sb"),
        sum((col("frame_idx") + 1) * col("sum_r")).as("swr"))
    sig.as("a").join(sig.as("b"),
        col("a.doc_id") < col("b.doc_id") &&
          col("a.w") === col("b.w") && col("a.h") === col("b.h") &&
          col("a.nf") === col("b.nf") && col("a.sr") === col("b.sr") &&
          col("a.sg") === col("b.sg") && col("a.sb") === col("b.sb") &&
          col("a.swr") === col("b.swr"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.nf").as("n_frames"))
      .orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q148
  // REAL HTML-to-text extraction (Html.extract — the step between q146's
  // HTTP bodies and every text operator): script element dropped WITH
  // its content (which itself contains markup — a regex-strip extractor
  // would leak it), tags → separators, named + decimal + hex character
  // references decoded, comment vanishing, whitespace collapse, first
  // <title> captured. The oracle re-derives title/text/n_chars
  // arithmetically from the fixture construction, so a hash match
  // certifies every rule at corpus scale. Row-local; no shuffle but the
  // output sort.
  val q148 = Q(
    "q148_html_extract",
    """SELECT doc_id,
      |       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      |       'Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
      |         trim(substr(text, 1, 60)) || ' a & b <t> AB' AS text,
      |       CAST(length('Doc ' || CAST(doc_id AS VARCHAR) || ' ' ||
      |         trim(substr(text, 1, 60)) || ' a & b <t> AB') AS INT) AS n_chars
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pages = Tables(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 60).as("t"))
      .as[(Long, String)].map { case (id, t) =>
        (id,
          s"""<html><head><title>Doc $id</title>""" +
            s"""<script>var x = "<p>not text</p>";</script></head>""" +
            s"""<body><h1>Doc $id</h1><p>$t</p>""" +
            s"""<p>a &amp; b &lt;t&gt; &#65;&#x42;</p><!-- hidden --></body></html>""")
      }
    Html.extractAll(pages)
      .select(col("doc_id"), col("title"), col("text"), col("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q149
  // The END-TO-END crawl pipeline, composed from this round's operators:
  // .warc.gz blobs (gzip member walk) → WARC records → HTTP split →
  // HTML-to-text extraction → URL canonicalization → canonical-URL dedup
  // (keep-lowest-id). Fixture: two docs per group carry the SAME page
  // under differently-mangled URLs (q140's four classes) with different
  // bodies, so the output exists only if every stage is right: a break
  // in gzip/WARC/HTML loses rows, a canonicalization miss splits groups,
  // and the keeper's title/n_chars pin WHICH doc survived. Class-3
  // groups (malformed URLs) quarantine out entirely.
  val q149 = Q(
    "q149_crawl_pipeline",
    """WITH d AS (SELECT doc_id, text,
      |                  CAST((doc_id - doc_id % 2) / 2 AS BIGINT) AS j
      |           FROM documents),
      |e AS (SELECT doc_id, text, j, 'host' || CAST(j % 97 AS VARCHAR) AS h,
      |             j % 4 AS c
      |      FROM d)
      |SELECT doc_id,
      |       CASE WHEN c = 0 THEN 'https://www.' || h || '.com/a/c?id=' || CAST(j AS VARCHAR)
      |            WHEN c = 1 THEN 'http://' || h || '.org/p/q/?a=1&b=2&ref=' || CAST(j AS VARCHAR)
      |            ELSE 'https://' || h || '.net:8443/~user%2Fdocs/A' || CAST(j AS VARCHAR)
      |       END AS canonical,
      |       2 AS n_dups,
      |       'Doc ' || CAST(doc_id AS VARCHAR) AS title,
      |       CAST(length(trim(substr(text, 1, 40)) || ' a & b') AS INT) AS n_chars
      |FROM e WHERE c < 3 AND doc_id % 2 = 0 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 40).as("t"))
      .as[(Long, String)].map { case (id, t) =>
        val j = id / 2
        val h = s"host${j % 97}"
        val url = (j % 4, id % 2) match {
          case (0, 0) => s"HTTPS://WWW.${h.toUpperCase}.COM/a/b/../c?id=$j"
          case (0, _) => s"https://www.$h.com/a/c?id=$j&utm_source=x"
          case (1, 0) => s"http://$h.org:80/p/./q/?b=2&a=1&ref=$j#frag"
          case (1, _) => s"HTTP://$h.org/p/q/?a=1&ref=$j&b=2"
          case (2, 0) => s"https://$h.net:8443/%7Euser%2fdocs/%41$j"
          case (2, _) => s"https://$h.net:8443/~user%2Fdocs/A$j#x"
          case (_, 0) => s"ftp:/broken $j"
          case _      => s"://nohost$j"
        }
        val html = s"<title>Doc $id</title><p>$t</p><p>a &amp; b</p>"
        Multimodal.Blob(id, Gzip.encodeMembers(Seq(new String(
          Warc.encodeResponse(url, "2026-01-01T00:00:00Z", 200, "text/html", html),
          "UTF-8"))))
      }
    val records = Warc.ingest(blobs.map(b => Multimodal.Blob(b.doc_id,
        Gzip.text(b.payload).map(_.getBytes("UTF-8")).getOrElse(Array.emptyByteArray))))
      .filter(col("warc_type") === "response")
    val urls = Url.canonicalizeAll(
        records.select(col("doc_id"), col("target_uri")).as[(Long, String)])
      .filter(col("valid")).select(col("doc_id"), col("canonical"))
    val pages = Html.extractAll(
        records.select(col("doc_id"), col("body")).as[(Long, String)])
      .select(col("doc_id"), col("title"), col("n_chars"))
    val joined = urls.join(pages, "doc_id")
    val keep = joined.groupBy("canonical")
      .agg(min(col("doc_id")).as("doc_id"), count(lit(1)).cast("int").as("n_dups"))
    keep.join(joined, Seq("canonical", "doc_id"))
      .select(col("doc_id"), col("canonical"), col("n_dups"), col("title"),
        col("n_chars"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q150
  // REAL audio-metadata tags (Id3 — the sidecar a music/podcast corpus
  // joins against, like q144's subtitles for video): each doc's blob is
  // a full ID3v2 tag followed by real MP3 frames, alternating v2.3/v2.4
  // per doc parity — the two versions encode FRAME sizes differently
  // (plain vs syncsafe big-endian), a classic desync bug this fixture
  // forces both ways. The oracle re-derives version/title/artist/album
  // arithmetically; the audio suffix proves the walk stops at the tag
  // boundary (Mp3Spec's walk skips the same bytes from the other side).
  val q150 = Q(
    "q150_id3_tags",
    """SELECT doc_id, true AS valid,
      |       CAST(3 + doc_id % 2 AS INT) AS version,
      |       'Track ' || CAST(doc_id AS VARCHAR) AS title,
      |       'Artist ' || CAST(doc_id % 23 AS VARCHAR) AS artist,
      |       'Album ' || CAST(doc_id % 7 AS VARCHAR) AS album
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      Multimodal.Blob(id,
        Id3.encode(s"Track $id", s"Artist ${id % 23}", s"Album ${id % 7}",
          version = (3 + id % 2).toInt) ++
          Mp3.encodeFrames((id % 3).toInt, _ => (1 + id % 14).toInt, _ => 0, 2))
    }
    Id3.tagRows(blobs)
      .select(col("doc_id"), col("valid"), col("version"), col("title"),
        col("artist"), col("album"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q151
  // robots.txt frontier filtering (Robots — RFC 9309): per-host rules
  // joined to the URL frontier, longest-pattern decisions with Allow
  // ties, '*' wildcards and the '$' anchor, and a named agent group the
  // evaluator must prefer over '*' (whose rule is Disallow-/ — an
  // evaluator that falls through flips EVERY row). Four path classes
  // exercise default-allow, prefix-Disallow, longer-Allow-override, and
  // the anchored wildcard; the oracle re-derives each decision as CASE
  // arithmetic.
  val q151 = Q(
    "q151_robots_filter",
    """SELECT doc_id,
      |       'host' || CAST(doc_id % 97 AS VARCHAR) AS host,
      |       CASE doc_id % 4
      |         WHEN 0 THEN '/public/p' || CAST(doc_id AS VARCHAR)
      |         WHEN 1 THEN '/private/x' || CAST(doc_id AS VARCHAR)
      |         WHEN 2 THEN '/private/ok' || CAST(doc_id AS VARCHAR)
      |         ELSE '/data/f' || CAST(doc_id AS VARCHAR) || '.json'
      |       END AS path,
      |       doc_id % 4 = 0 OR doc_id % 4 = 2 AS allowed,
      |       CASE doc_id % 4
      |         WHEN 0 THEN ''
      |         WHEN 1 THEN '/private/'
      |         WHEN 2 THEN '/private/ok'
      |         ELSE '/*.json$'
      |       END AS rule
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val urls = Tables(s, dir, "documents").selectExpr(
      "doc_id",
      "concat('host', cast(doc_id % 97 AS string)) AS host",
      """CASE doc_id % 4
        |  WHEN 0 THEN concat('/public/p', cast(doc_id AS string))
        |  WHEN 1 THEN concat('/private/x', cast(doc_id AS string))
        |  WHEN 2 THEN concat('/private/ok', cast(doc_id AS string))
        |  ELSE concat('/data/f', cast(doc_id AS string), '.json')
        |END AS path""".stripMargin)
    val robotsTxt =
      "User-agent: graftbot\nDisallow: /private/\nAllow: /private/ok\n" +
        "Disallow: /*.json$\n\nUser-agent: *\nDisallow: /\n"
    val robots = Tables(s, dir, "documents")
      .selectExpr("concat('host', cast(doc_id % 97 AS string)) AS host")
      .distinct().as[String].map(h => (h, robotsTxt)).toDF("host", "robots_txt")
    Robots.filter(urls, robots, agent = "graftbot")
      .select(col("doc_id"), col("host"), col("path"), col("allowed"), col("rule"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q152
  // sitemap.xml frontier seeding (Sitemap — q151's companion: robots.txt
  // says what MAY be fetched, the sitemap says what the site WANTS
  // fetched). Both document kinds by doc arity (urlset vs sitemapindex),
  // namespace prefixes forced on odd docs (local-name matching), an
  // entity-encoded loc, a CDATA loc every third doc (must NOT decode),
  // an image-extension block whose inner <image:loc> must not leak, a
  // loc-less junk entry that must drop without consuming a seq, and the
  // protocol's 0.5 priority default. Row-local parse + explode; the
  // oracle re-derives both entries per doc as CASE arithmetic.
  val q152 = Q(
    "q152_sitemap_parse",
    """SELECT doc_id, seq, loc, lastmod, changefreq,
      |       round(priority, 1) AS priority, is_index
      |FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN 'https://ex.com/maps/sub' || CAST(doc_id AS VARCHAR) || '_0.xml.gz'
      |         ELSE 'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
      |              CAST(doc_id AS VARCHAR) || '?a=1&b=2' END AS loc,
      |    CAST(DATE '2024-01-01' + CAST(doc_id % 366 AS INT) AS VARCHAR) AS lastmod,
      |    CASE WHEN doc_id % 5 = 0 THEN ''
      |         ELSE CASE doc_id % 7 WHEN 0 THEN 'always' WHEN 1 THEN 'hourly'
      |              WHEN 2 THEN 'daily' WHEN 3 THEN 'weekly' WHEN 4 THEN 'monthly'
      |              WHEN 5 THEN 'yearly' ELSE 'never' END END AS changefreq,
      |    CASE WHEN doc_id % 5 = 0 THEN 0.5
      |         ELSE CAST(doc_id % 10 AS DOUBLE) / 10 END AS priority,
      |    doc_id % 5 = 0 AS is_index
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT),
      |    CASE WHEN doc_id % 5 = 0
      |         THEN 'https://ex.com/maps/sub' || CAST(doc_id AS VARCHAR) || '_1.xml.gz'
      |         ELSE 'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/q/' ||
      |              CAST(doc_id AS VARCHAR) END,
      |    '', '', 0.5, doc_id % 5 = 0
      |  FROM documents
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val freqs = Array("always", "hourly", "daily", "weekly", "monthly", "yearly", "never")
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val p = if (id % 2 == 1) "s:" else ""
      val xmlns =
        if (id % 2 == 1) """ xmlns:s="http://www.sitemaps.org/schemas/sitemap/0.9""""
        else """ xmlns="http://www.sitemaps.org/schemas/sitemap/0.9""""
      val iso = java.time.LocalDate.of(2024, 1, 1).plusDays(id % 366).toString
      val xml =
        if (id % 5 == 0)
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<${p}sitemapindex$xmlns>
             |  <!-- shard index -->
             |  <${p}sitemap><${p}loc>https://ex.com/maps/sub${id}_0.xml.gz</${p}loc><${p}lastmod>$iso</${p}lastmod></${p}sitemap>
             |  <${p}sitemap><${p}loc>https://ex.com/maps/sub${id}_1.xml.gz</${p}loc></${p}sitemap>
             |</${p}sitemapindex>""".stripMargin
        else {
          val locB = s"https://ex${id % 7}.com/q/$id"
          val locBx = if (id % 3 == 0) s"<![CDATA[$locB]]>" else locB
          s"""<?xml version="1.0" encoding="UTF-8"?>
             |<${p}urlset$xmlns xmlns:image="http://www.google.com/schemas/sitemap-image/1.1">
             |  <${p}url>
             |    <${p}loc>https://ex${id % 7}.com/p/$id?a=1&amp;b=2</${p}loc>
             |    <${p}lastmod>$iso</${p}lastmod>
             |    <${p}changefreq>${freqs((id % 7).toInt)}</${p}changefreq>
             |    <image:image><image:loc>https://ex.com/pic$id.png</image:loc></image:image>
             |    <${p}priority>0.${id % 10}</${p}priority>
             |  </${p}url>
             |  <${p}url><${p}lastmod>2020-01-01</${p}lastmod></${p}url>
             |  <${p}url><${p}loc>$locBx</${p}loc></${p}url>
             |</${p}urlset>""".stripMargin
        }
      (id, xml)
    }
    Sitemap.entries(blobs)
      .select(col("doc_id"), col("seq"), col("loc"), col("lastmod"),
        col("changefreq"), round(col("priority"), 1).as("priority"), col("is_index"))
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q153
  // Unicode normalization (codegen NfcNormalize/StripAccents — the first
  // pass of every multi-source text pipeline: composed and decomposed
  // encodings of the SAME text break exact dedup, token counting, and
  // vocab building until NFC'd; accent folding is the fuzzy-match key
  // across diacritic variants). The fixture builds DECOMPOSED text from
  // chr() codepoints IN SQL on both engines — combining acute/diaeresis/
  // ring/cedilla on Latin, Hangul jamo (whose NFD carries no Mn marks, so
  // the fold must RECOMPOSE — an NFD-only fold flips those rows), and an
  // already-NFC class exercising the allocation-free fast path. DuckDB's
  // own nfc_normalize/strip_accents (utf8proc) re-derive every value, so
  // this is a true cross-engine oracle of the kernel itself, not an
  // arithmetic restatement. Row-local, whole-stage codegen end-to-end.
  val q153 = Q(
    "q153_unicode_normalize",
    """SELECT doc_id, nfc_normalize(raw) AS nfc,
      |       strip_accents(nfc_normalize(raw)) AS folded,
      |       CAST(length(raw) AS INT) AS n_raw,
      |       CAST(length(nfc_normalize(raw)) AS INT) AS n_nfc,
      |       raw = nfc_normalize(raw) AS already_nfc
      |FROM (
      |  SELECT doc_id,
      |    CASE doc_id % 5
      |      WHEN 0 THEN 'Cafe' || chr(769) || ' No' || chr(776) || 'el'
      |      WHEN 1 THEN 'A' || chr(778) || 'ngstro' || chr(776) || 'm'
      |      WHEN 2 THEN 'Garc' || chr(807) || 'on'
      |      WHEN 3 THEN chr(4352) || chr(4449) || chr(4523)
      |      ELSE 'plain ' || CAST(doc_id AS VARCHAR)
      |    END AS raw
      |  FROM documents
      |) ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    // Spark's char()/chr() is ASCII-mod-256, NOT codepoint-based, so the
    // decomposed sequences are inlined as literals here; the oracle's
    // chr() IS codepoint-based and builds the identical bytes.
    Tables(s, dir, "documents")
      .selectExpr("doc_id",
        "CASE CAST(doc_id % 5 AS INT) " +
          "WHEN 0 THEN 'Cafe\u0301 No\u0308el' " +
          "WHEN 1 THEN 'A\u030Angstro\u0308m' " +
          "WHEN 2 THEN 'Garc\u0327on' " +
          "WHEN 3 THEN '\u1100\u1161\u11AB' " +
          "ELSE 'plain ' || CAST(doc_id AS STRING) END AS raw")
      .selectExpr("doc_id",
        "nfc_normalize(raw) AS nfc",
        "strip_accents(nfc_normalize(raw)) AS folded",
        "CAST(length(raw) AS INT) AS n_raw",
        "CAST(length(nfc_normalize(raw)) AS INT) AS n_nfc",
        "raw = nfc_normalize(raw) AS already_nfc")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q154
  // <a href> link extraction (Html.links — the crawl chain's frontier-
  // expansion / link-graph step): double-quoted, single-quoted, and
  // unquoted attribute values, attribute-order independence, entity
  // decoding inside values, a decoy "href=" inside ANOTHER attribute's
  // value (a substring-scan extractor matches it; the tokenizer must
  // not), href-less anchors yielding nothing, and anchors inside
  // comments and script content that must NOT extract. Row-local
  // parse + explode; the oracle re-derives all four links per doc.
  val q154 = Q(
    "q154_link_extract",
    """SELECT doc_id, seq, href FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq,
      |         'https://ex' || CAST(doc_id % 7 AS VARCHAR) || '.com/p/' ||
      |           CAST(doc_id + 1 AS VARCHAR) || '?x=1&y=2' AS href
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT),
      |         '/rel/' || CAST(doc_id AS VARCHAR) FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT),
      |         'plain' || CAST(doc_id AS VARCHAR) FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS INT),
      |         'https://ex.com/spaced/' || CAST(doc_id AS VARCHAR) FROM documents
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pages = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      (id,
        s"""<html><body><p>Doc $id</p>
           |<a href="https://ex${id % 7}.com/p/${id + 1}?x=1&amp;y=2">next</a>
           |<a class="c" title="see href=decoy" href='/rel/$id'>rel</a>
           |<a href=plain$id>unquoted</a>
           |<a name="top">no href</a>
           |<!-- <a href="https://ex.com/hidden">no</a> -->
           |<script>var s='<a href="https://ex.com/js">x</a>';</script>
           |<a id="z" href = "https://ex.com/spaced/$id">spaced</a>
           |</body></html>""".stripMargin)
    }
    pages.mapPartitions { it =>
      it.flatMap { case (id, html) =>
        Html.links(html).iterator.zipWithIndex.map { case (h, k) => (id, k, h) }
      }
    }.toDF("doc_id", "seq", "href")
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q155
  // PageRank over the link graph (LinkGraph.pageRank — the page-quality
  // centrality signal crawl curation weighs documents by, downstream of
  // q154's edge harvest). The point under test is an ITERATIVE
  // distributed computation hash-checked with NO rounding: damping 1/2
  // and constant out-degree 2 make every rank an exactly-representable
  // dyadic rational (denominator ≤ 4³), so partition count and summation
  // order cannot move a single bit, and three unrolled join+groupBy CTE
  // levels in DuckDB re-derive the values exactly. Per-iteration cost is
  // one Spark job with one shuffle (graft.operators.VertexRounds).
  val q155 = Q(
    "q155_pagerank",
    """WITH nn AS (SELECT count(*) AS cnt FROM documents),
      |e AS (
      |  SELECT doc_id AS src, (doc_id * 2 + 1) % (SELECT cnt FROM nn) AS dst
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, (doc_id * 3 + 7) % (SELECT cnt FROM nn) FROM documents),
      |c1 AS (SELECT dst AS v, CAST(0.25 AS DOUBLE) * count(*) AS c FROM e GROUP BY dst),
      |r1 AS (SELECT doc_id AS v, 0.5 + coalesce(c, 0) AS r
      |       FROM documents LEFT JOIN c1 ON doc_id = c1.v),
      |c2 AS (SELECT e.dst AS v, CAST(0.25 AS DOUBLE) * sum(r1.r) AS c
      |       FROM e JOIN r1 ON e.src = r1.v GROUP BY e.dst),
      |r2 AS (SELECT doc_id AS v, 0.5 + coalesce(c, 0) AS r
      |       FROM documents LEFT JOIN c2 ON doc_id = c2.v),
      |c3 AS (SELECT e.dst AS v, CAST(0.25 AS DOUBLE) * sum(r2.r) AS c
      |       FROM e JOIN r2 ON e.src = r2.v GROUP BY e.dst),
      |r3 AS (SELECT doc_id AS v, 0.5 + coalesce(c, 0) AS r
      |       FROM documents LEFT JOIN c3 ON doc_id = c3.v)
      |SELECT v AS doc_id, r AS pr FROM r3 ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val n = docs.count() // 1-value scalar: the modulus of the edge map
    val nodes = docs.select(col("doc_id").as("v"))
    val edges = docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 2 + 1) % n).as("dst"))
      .union(docs.select(col("doc_id").as("src"),
        ((col("doc_id") * 3 + 7) % n).as("dst")))
    LinkGraph.pageRank(nodes, edges, iters = 3, damping = 0.5)
      .select(col("v").as("doc_id"), col("pr"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q156
  // Mojibake repair (Mojibake.repair — the crawl-text defect q153's
  // normalization can't touch: a UTF-8 page re-transcoded as Latin-1
  // arrives as valid-but-wrong Unicode). Three fixture classes: ASCII
  // (never flags), legitimately-accented Latin-1-range text (its bytes
  // are INVALID UTF-8, so the strict decoder refuses — the repair must
  // not fire), and genuinely double-encoded text (round-trips back to
  // the clean original). The oracle knows the clean text by
  // construction, so a hash match certifies both the detector's
  // decision boundary and the repair bytes. Row-local, no shuffle.
  val q156 = Q(
    "q156_mojibake_repair",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN 'plain doc ' || CAST(doc_id AS VARCHAR)
      |       ELSE 'R' || chr(233) || 'sum' || chr(233) || ' caf' || chr(233) ||
      |            ' ' || CAST(doc_id AS VARCHAR) END AS text,
      |  doc_id % 3 = 2 AS was_mojibake
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val accented = s"Résumé café $id"
      val text = (id % 3) match {
        case 0 => s"plain doc $id"
        case 1 => accented
        case _ => new String(accented.getBytes("UTF-8"), "ISO-8859-1")
      }
      (id, text)
    }
    Mojibake.repairAll(docs)
      .select(col("doc_id"), col("text"), col("was_mojibake"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q157
  // Charset sniffing + decode (CharsetSniff — the byte-to-text step
  // between q146's HTTP split and q148's HTML extract: a third of the
  // web serves legacy encodings). Five fixture classes force every
  // precedence rule: Content-Type header param (1), UTF-8 BOM (2),
  // <meta charset> in the byte prescan (3), strict-UTF-8 probe (4),
  // and the windows-1252 fallback on invalid UTF-8 (5) — including a
  // cp1252-specific 0x80 euro the Latin-1 reading would get wrong. The
  // oracle re-derives every decoded string via chr() arithmetic, so a
  // hash match certifies both the decision precedence and the decode
  // bytes. Row-local, no shuffle.
  val q157 = Q(
    "q157_charset_sniff",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN 'caf' || chr(233) || ' hdr ' || CAST(doc_id AS VARCHAR)
      |    WHEN 1 THEN 'bom caf' || chr(233) || ' ' || CAST(doc_id AS VARCHAR)
      |    WHEN 2 THEN '<meta charset=windows-1252>caf' || chr(233) || ' ' ||
      |                chr(8364) || ' ' || CAST(doc_id AS VARCHAR)
      |    WHEN 3 THEN 'plain caf' || chr(233) || ' ' || CAST(doc_id AS VARCHAR)
      |    ELSE 'legacy caf' || chr(233) || ' ' || CAST(doc_id AS VARCHAR)
      |  END AS text,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN 'iso-8859-1' WHEN 1 THEN 'utf-8'
      |    WHEN 2 THEN 'windows-1252' WHEN 3 THEN 'utf-8'
      |    ELSE 'windows-1252' END AS charset,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN 'header' WHEN 1 THEN 'bom' WHEN 2 THEN 'meta'
      |    WHEN 3 THEN 'utf8' ELSE 'fallback' END AS source
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      (id % 5) match {
        case 0 => (id, "text/html; charset=iso-8859-1",
          s"café hdr $id".getBytes("ISO-8859-1"))
        case 1 => (id, "text/html",
          Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
            s"bom café $id".getBytes("UTF-8"))
        case 2 => (id, "text/html",
          s"<meta charset=windows-1252>café € $id".getBytes("windows-1252"))
        case 3 => (id, "text/plain", s"plain café $id".getBytes("UTF-8"))
        case _ => (id, "text/plain",
          "legacy caf".getBytes("UTF-8") ++ Array(0xE9.toByte) ++
            s" $id".getBytes("UTF-8"))
      }
    }
    CharsetSniff.decodeAll(docs)
      .select(col("doc_id"), col("text"), col("charset"), col("source"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q158
  // Writing-script profile (codegen ScriptCounts — the non-Latin
  // counterpart of q29's language-ID: script RATIOS are a multilingual
  // crawl's first split, and wrong-script-for-declared-language rows are
  // a strong noise signal). The kernel's classes are EXPLICIT code-point
  // ranges (not the JDK's Unicode tables), so the oracle re-derives every
  // count as CASE constants from the four fixture classes (pure Latin,
  // Cyrillic, CJK+kana, mixed Latin/digit/Arabic). Row-local one-scan
  // expression inside whole-stage codegen; no shuffle.
  val q158 = Q(
    "q158_script_profile",
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 10
      |            WHEN doc_id % 4 = 3 THEN 3 ELSE 0 END AS BIGINT) AS latin,
      |  CAST(CASE WHEN doc_id % 4 = 1 THEN 9 ELSE 0 END AS BIGINT) AS cyrillic,
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN 9 ELSE 0 END AS BIGINT) AS cjk,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN 5 ELSE 0 END AS BIGINT) AS arabic,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN 3 ELSE 0 END AS BIGINT) AS digits,
      |  CAST(CASE WHEN doc_id % 4 = 3 THEN 2 ELSE 1 END AS BIGINT) AS spaces,
      |  CAST(0 AS BIGINT) AS other_c
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    Tables(s, dir, "documents")
      .selectExpr("doc_id",
        "CASE CAST(doc_id % 4 AS INT) " +
          "WHEN 0 THEN 'Hello World' " +
          "WHEN 1 THEN 'Привет мир' " +
          "WHEN 2 THEN '你好世界 こんにちは' " +
          "ELSE 'abc 123 مرحبا' END AS raw")
      .selectExpr("doc_id", "script_counts(raw) AS sc")
      .selectExpr("doc_id",
        "element_at(sc, 1) AS latin", "element_at(sc, 2) AS cyrillic",
        "element_at(sc, 4) AS cjk", "element_at(sc, 6) AS arabic",
        "element_at(sc, 8) AS digits", "element_at(sc, 9) AS spaces",
        "element_at(sc, 10) AS other_c")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q159
  // Page-metadata harvest (Html.metadata — the head-of-document fields
  // crawl curation reads before rendering the body: canonical URL feeds
  // canonical-URL dedup, robots noindex is a hard keep-out, declared
  // lang routes documents before any detector, title/description are
  // the retrieval-display fields). Fixture forces every rule: first-
  // occurrence-wins (duplicate description / canonical), rel as a
  // whitespace token LIST ("alternate canonical" matches,
  // "canonicalish" must not), robots comma/space token match
  // ("noindexplease" must not fire), entity decoding in attribute
  // values and title, charset/http-equiv metas not counted, comment-
  // and script-hidden decoys ignored, quoted and unquoted attribute
  // forms, lang lowercased. Row-local walk, no shuffle; oracle
  // re-derives every field as CASE arithmetic on doc_id.
  val q159 = Q(
    "q159_html_metadata",
    """SELECT doc_id,
      |  'Doc ' || doc_id || ' & Co' AS title,
      |  CASE WHEN doc_id % 2 = 0 THEN 'Summary of doc ' || doc_id
      |       ELSE '' END AS description,
      |  'OG "' || doc_id || '"' AS og_title,
      |  CASE WHEN doc_id % 3 = 0 THEN 'https://ex.com/c/' || doc_id || '?a=1&b=2'
      |       WHEN doc_id % 3 = 1 THEN '/alt/' || doc_id
      |       ELSE '' END AS canonical,
      |  CASE WHEN doc_id % 2 = 0 THEN 'en-us' ELSE 'fr' END AS lang,
      |  CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) AS noindex,
      |  CAST(CASE doc_id % 4 WHEN 0 THEN 5 WHEN 1 THEN 3 WHEN 2 THEN 4
      |       ELSE 2 END AS INT) AS n_meta
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pages = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val langTag = if (id % 2 == 0) "<html lang=\"EN-us\">" else "<html lang=fr>"
      val desc =
        if (id % 2 == 0)
          s"""<meta name="Description" content="Summary   of doc $id">
             |<meta name="description" content="dup $id loses">""".stripMargin
        else ""
      val robots = (id % 4) match {
        case 0 => """<meta name="robots" content="NOFOLLOW, noindex">"""
        case 1 => "<meta name=robots content=noindexplease>"
        case _ => ""
      }
      val canon = (id % 3) match {
        case 0 => s"""<link rel="Canonical" href="https://ex.com/c/$id?a=1&amp;b=2">"""
        case 1 => s"""<link rel="alternate canonical" href="/alt/$id">"""
        case _ => s"""<link rel="canonicalish" href="/no/$id">"""
      }
      (id,
        s"""$langTag<head>
           |<title>Doc $id &amp; Co</title>
           |$desc
           |<meta property="og:title" content="OG &quot;$id&quot;"/>
           |$robots
           |<meta name="viewport" content="width=device-width">
           |<meta charset="utf-8">
           |<!-- <meta name="description" content="hidden"> -->
           |<script>var s='<meta name="robots" content="noindex">';</script>
           |<link rel="stylesheet" href="/css/$id">
           |$canon
           |</head><body><p>Body $id</p></body></html>""".stripMargin)
    }
    pages.map { case (id, html) =>
      val m = Html.metadata(html)
      (id, m.title, m.description, m.ogTitle, m.canonical, m.lang,
        if (m.noindex) 1 else 0, m.nMeta)
    }.toDF("doc_id", "title", "description", "og_title", "canonical", "lang",
        "noindex", "n_meta")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q160
  // Main-content extraction (Html.mainContent — block-level boilerplate
  // removal, the step between q148's whole-page text and quality
  // scoring: nav bars, footers, and link farms score as "text" to q148
  // but poison training data). The justext-family heuristic kept
  // INTEGER-ONLY (good iff nonWs >= 10 && 2*linkNonWs <= nonWs) so the
  // decision boundary is bit-deterministic: the fixture plants one
  // majority-link nav (bad by density, long enough that density is the
  // decider), one too-short block, 2-3 good paragraphs (one with an
  // inline link the density rule must tolerate), comment- and
  // script-hidden good-looking paragraphs (must not leak), and an
  // all-link footer; the oracle re-derives the surviving content string
  // and block counts as CASE arithmetic. Row-local walk, no shuffle.
  val q160 = Q(
    "q160_main_content",
    """SELECT doc_id,
      |  'Document ' || doc_id || ' main body text with plenty of characters.' ||
      |  CASE WHEN doc_id % 2 = 0
      |       THEN ' Second paragraph of document ' || doc_id || ' continues the body.'
      |       ELSE '' END ||
      |  ' See details for more on topic ' || doc_id || ' here.' AS content,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 6 ELSE 5 END AS INT) AS n_blocks,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INT) AS n_good
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val pages = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val second =
        if (id % 2 == 0)
          s"<p>Second paragraph of document $id continues the body.</p>"
        else ""
      (id,
        s"""<html><head><title>T $id</title></head><body>
           |<nav><a href="/1">HomePage</a> <a href="/2">AboutUs</a> <a href="/3">ContactUs</a></nav>
           |<p>Hi</p>
           |<p>Document $id main body text with plenty of characters.</p>
           |$second
           |<p>See <a href="/x/$id">details</a> for more on topic $id here.</p>
           |<!-- <p>Hidden paragraph that is long enough to be good.</p> -->
           |<script>var x='<p>Script paragraph long enough to be good.</p>';</script>
           |<footer><a href="/c">Contact</a> <a href="/p">Privacy</a> <a href="/t">Terms</a></footer>
           |</body></html>""".stripMargin)
    }
    pages.map { case (id, html) =>
      val c = Html.mainContent(html)
      (id, c.content, c.nBlocks, c.nGood)
    }.toDF("doc_id", "content", "n_blocks", "n_good")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q161
  // RSS/Atom feed parse (Feed.entries — the third crawl-source format
  // next to robots q151 / sitemap q152: feeds are how a crawler
  // discovers FRESH content). Fixture forces the format-dispatch
  // differences that make a shared parser interesting: RSS link as
  // ELEMENT TEXT + RFC-1123 pubDate (GMT and numeric-offset zones) vs
  // Atom link as ATTRIBUTE (rel="self" decoy must lose to the first
  // rel-less link) + ISO-8601 updated (Z and -05:00), CDATA/entity
  // titles, channel/feed-level title+link that must not leak into
  // entries, a description block whose nested decoy <title> must not
  // capture, linkless entries dropped, a junk-doc class. ts_epoch is
  // integer civil-date arithmetic (Hinnant days-from-civil), so the
  // oracle re-derives every epoch as pure CASE arithmetic. Row-local
  // parse + explode, no shuffle.
  val q161 = Q(
    "q161_feed_parse",
    """SELECT doc_id, seq, format, title, url, ts_epoch FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq, 'rss' AS format,
      |         'Raw & item A of ' || doc_id AS title,
      |         'https://ex.com/rss/' || doc_id || '/a' AS url,
      |         CAST(1577836800 + (9 + doc_id % 18) * 86400
      |              + (doc_id % 24) * 3600 + (doc_id % 60) * 60 AS BIGINT) AS ts_epoch
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'rss',
      |         'B & C of ' || doc_id,
      |         'https://ex.com/rss/' || doc_id || '/b',
      |         CAST(1577836800 + (9 + doc_id % 18) * 86400
      |              + (doc_id % 24) * 3600 + (doc_id % 60) * 60 - 7200 AS BIGINT)
      |  FROM documents WHERE doc_id % 3 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), 'atom',
      |         'Entry A of ' || doc_id,
      |         'https://ex.com/atom/' || doc_id,
      |         CAST(1580515200 + (9 + doc_id % 19) * 86400
      |              + (doc_id % 24) * 3600 AS BIGINT)
      |  FROM documents WHERE doc_id % 3 = 1
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'atom',
      |         'Entry & B of ' || doc_id,
      |         '/alt/' || doc_id,
      |         CAST(1580515200 + (9 + doc_id % 19) * 86400
      |              + (doc_id % 24) * 3600 + 18000 AS BIGINT)
      |  FROM documents WHERE doc_id % 3 = 1
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val hh = f"${id % 24}%02d"
      val mm = f"${id % 60}%02d"
      (id, (id % 3) match {
        case 0 =>
          val dd = 10 + id % 18
          s"""<?xml version="1.0"?>
             |<rss version="2.0"><channel>
             |<title>Channel of $id must not leak</title>
             |<link>https://ex.com/channel/$id</link>
             |<item>
             |  <title><![CDATA[Raw & item A of $id]]></title>
             |  <link>https://ex.com/rss/$id/a</link>
             |  <description>decoy <title>nested $id</title> body</description>
             |  <pubDate>Mon, $dd Jan 2020 $hh:$mm:00 GMT</pubDate>
             |</item>
             |<item><title>B &amp; C of $id</title>
             |  <link>https://ex.com/rss/$id/b</link>
             |  <pubDate>Mon, $dd Jan 2020 $hh:$mm:00 +0200</pubDate></item>
             |<item><title>linkless of $id drops</title></item>
             |</channel></rss>""".stripMargin
        case 1 =>
          val dd = 10 + id % 19
          s"""<feed xmlns="http://www.w3.org/2005/Atom">
             |<title>Feed of $id must not leak</title>
             |<link rel="self" href="https://ex.com/feed$id.xml"/>
             |<entry>
             |  <link rel="self" href="https://ex.com/self/$id"/>
             |  <link href="https://ex.com/atom/$id"/>
             |  <a:title xmlns:a="x">Entry A of $id</a:title>
             |  <updated>2020-02-${dd}T$hh:00:00Z</updated>
             |</entry>
             |<entry><title><![CDATA[Entry & B of $id]]></title>
             |  <link rel="alternate" href="/alt/$id"/>
             |  <updated>2020-02-${dd}T$hh:00:00-05:00</updated></entry>
             |<entry><title>no link of $id</title></entry>
             |</feed>""".stripMargin
        case _ => s"not a feed $id"
      })
    }
    Feed.entries(docs)
      .toDF()
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q162
  // EXIF metadata extraction (Exif.decode — the TIFF IFD walk inside
  // a JPEG APP1 segment; image metadata is the multimodal counterpart
  // of q159's HTML head harvest, and reading it must not require a
  // pixel decode). The fixture builder writes real TIFF structure and
  // the doc_id parity split forces BOTH byte orders (`II`/`MM`) through
  // every read path; Make exercises offset-ASCII, Model inline-ASCII
  // (≤4 bytes incl. NUL), the pixel dims exercise the SHORT and LONG
  // scalar types, ExposureTime the offset RATIONAL, and the EXIF
  // sub-IFD pointer the one-level indirection. The oracle re-derives
  // every harvested field as CASE/string arithmetic on doc_id, so a
  // hash match certifies the byte-level walk. Row-local, no shuffle.
  val q162 = Q(
    "q162_exif_metadata",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
      |  'CamCo' || (doc_id % 7) AS make,
      |  'M' || (doc_id % 9) AS model,
      |  CAST(1 + doc_id % 8 AS INT) AS orientation,
      |  '2020:01:' || (10 + doc_id % 18) || ' ' ||
      |    lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0') || ':' ||
      |    lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0') || ':00' AS date_time,
      |  CAST(640 + doc_id % 64 AS BIGINT) AS width,
      |  CAST(480 + doc_id % 48 AS BIGINT) AS height,
      |  CAST(100 * (1 + doc_id % 32) AS INT) AS iso,
      |  CAST(1 AS BIGINT) AS exp_num,
      |  CAST(10 + doc_id % 240 AS BIGINT) AS exp_den
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val bytes = Exif.buildJpeg(
        littleEndian = id % 2 == 0,
        make = s"CamCo${id % 7}",
        model = s"M${id % 9}",
        orientation = (1 + id % 8).toInt,
        dateTime = f"2020:01:${10 + id % 18} ${id % 24}%02d:${id % 60}%02d:00",
        width = (640 + id % 64).toInt,
        height = (480 + id % 48).toInt,
        iso = (100 * (1 + id % 32)).toInt,
        exposureNum = 1,
        exposureDen = (10 + id % 240).toInt)
      val d = Exif.decode(bytes).getOrElse(Exif.Absent)
      (id, d.byteOrder, d.make, d.model, d.orientation, d.dateTime,
        d.width, d.height, d.iso, d.exposureNum, d.exposureDen)
    }.toDF("doc_id", "byte_order", "make", "model", "orientation",
        "date_time", "width", "height", "iso", "exp_num", "exp_den")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q163
  // Crawl politeness scheduler (Politeness.schedule — frontier URLs ×
  // per-host crawl delays → fetch slots; the planning step between
  // q151/q152/q161's frontier construction and the fetcher). One hash
  // partition by host feeds both the delay join and the row_number
  // window — per-host sequencing is the parallelism unit, so the
  // single shuffle is inherent (a mega-host partition is the protocol's
  // own serialization, not a fixable skew). Fixture: 23 hosts over the
  // documents table, delays declared only for hosts 0..15 (16..22
  // exercise the default-delay fallback), per-host URL order is binary
  // string order on both engines.
  val q163 = Q(
    "q163_politeness_schedule",
    """WITH f AS (
      |  SELECT doc_id, 'h' || (doc_id % 23) || '.com' AS host,
      |         'https://h' || (doc_id % 23) || '.com/p/' || doc_id AS url
      |  FROM documents),
      |d AS (
      |  SELECT DISTINCT 'h' || (doc_id % 23) || '.com' AS host,
      |         CAST(1 + (doc_id % 23) % 5 AS INT) AS delay_sec
      |  FROM documents WHERE doc_id % 23 < 16)
      |SELECT doc_id, host, url,
      |  CAST(1700000000 + (row_number() OVER (PARTITION BY host ORDER BY url) - 1)
      |       * coalesce(delay_sec, 1) AS BIGINT) AS fetch_at
      |FROM f LEFT JOIN d USING(host)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val frontier = docs.select(
      col("doc_id"),
      concat(lit("h"), col("doc_id") % 23, lit(".com")).as("host"),
      concat(lit("https://h"), col("doc_id") % 23, lit(".com/p/"),
        col("doc_id")).as("url"))
    val delays = docs.filter(col("doc_id") % 23 < 16)
      .select(concat(lit("h"), col("doc_id") % 23, lit(".com")).as("host"),
        (lit(1) + (col("doc_id") % 23) % 5).cast("int").as("delay_sec"))
      .distinct()
    Politeness.schedule(frontier, delays, start = 1700000000L)
      .select("doc_id", "host", "url", "fetch_at")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q164
  // PDF text extraction (Pdf.decode — the document-format member of the
  // decode tier: a meaningful share of any crawl corpus is PDF, and its
  // text lives behind real structure no regex reaches). The doc parity
  // split forces BOTH the raw and /FlateDecode stream paths (zlib
  // DECODE is bijective on valid input, so inflating is deterministic
  // even though encoder bytes are not — the oracle re-derives the TEXT,
  // never compressed bytes); the fixture exercises literal strings with
  // escaped parens, TJ kern arrays, hex strings, T* line breaks, and
  // /Type /Page counting (not /Pages). Row-local, no shuffle; oracle
  // re-derives text and counts as CASE arithmetic.
  val q164 = Q(
    "q164_pdf_extract",
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_pages,
      |  CAST(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END AS INT) AS n_flate,
      |  'Hello doc ' || doc_id || chr(10) || 'kerned text ' || doc_id ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' HEX!' ELSE '' END ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN chr(10) || 'Page two (escaped) of ' || doc_id
      |         ELSE '' END AS text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val hexOp = if (id % 3 == 0) " <2048455821> Tj" else ""
      val page1 = s"BT /F1 12 Tf 72 720 Td (Hello doc $id) Tj T* " +
        s"[(kerned ) -120 (text $id)] TJ$hexOp ET"
      val pages =
        if (id % 2 == 0)
          Seq(page1, s"BT 72 720 Td (Page two \\(escaped\\) of $id) Tj ET")
        else Seq(page1)
      val bytes = Pdf.build(pages, flate = id % 2 == 1)
      val e = Pdf.decode(bytes).getOrElse(Pdf.Extracted(-1, -1, ""))
      (id, e.nPages, e.nFlate, e.text)
    }.toDF("doc_id", "n_pages", "n_flate", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q165
  // ZIP archive member scan (Zip.decode — the container walk under
  // every office document, epub, and jar a crawl surfaces). The parse
  // is the spec's own read path: EOCD found backward through the
  // comment zone, central directory for names/sizes/methods/offsets,
  // member bytes from the LOCAL header (whose name/extra lengths may
  // differ from the central copy), stored copied and deflated inflated
  // through a raw Inflater. The doc parity split forces both methods;
  // oracle re-derives names, sizes (via length()), and decoded text.
  val q165 = Q(
    "q165_zip_scan",
    """SELECT doc_id, seq, name, size, method, text FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq,
      |         'a/first_' || doc_id || '.txt' AS name,
      |         CAST(length('member one of doc ' || doc_id) AS BIGINT) AS size,
      |         'deflate' AS method,
      |         'member one of doc ' || doc_id AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'b/second.txt',
      |         CAST(length('stored member of doc ' || doc_id) AS BIGINT),
      |         CASE WHEN doc_id % 2 = 0 THEN 'stored' ELSE 'deflate' END,
      |         'stored member of doc ' || doc_id
      |  FROM documents
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val bytes = Zip.build(Seq(
        (s"a/first_$id.txt",
          s"member one of doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8),
          false),
        ("b/second.txt",
          s"stored member of doc $id".getBytes(java.nio.charset.StandardCharsets.UTF_8),
          id % 2 == 0)))
      Zip.decode(bytes).getOrElse(Nil).zipWithIndex.map { case (m, k) =>
        val methodName = if (m.method == 0) "stored" else "deflate"
        (id, k, m.name, m.size, methodName,
          new String(m.content, java.nio.charset.StandardCharsets.UTF_8))
      }
    }.toDF("doc_id", "seq", "name", "size", "method", "text")
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q166
  // DOCX text extraction (Zip.docxText — q165's container walk composed
  // with the WordprocessingML run walk: every <w:t> in document order,
  // </w:p> paragraph breaks, <w:tab/> tabs, entities via the shared
  // reference decoder, local-name matching for any namespace prefix).
  // The fixture is a structurally honest .docx ([Content_Types].xml +
  // word/document.xml, deflated); oracle re-derives the text as CASE
  // arithmetic. Row-local, no shuffle.
  val q166 = Q(
    "q166_docx_text",
    """SELECT doc_id,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 3 ELSE 2 END AS INT) AS n_paras,
      |  'Heading of doc ' || doc_id || chr(10) || 'A & B run ' || doc_id ||
      |    CASE WHEN doc_id % 2 = 0
      |         THEN chr(10) || 'tabbed' || chr(9) || 'cols ' || doc_id
      |         ELSE '' END AS text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val extra =
        if (id % 2 == 0)
          s"<w:p><w:r><w:t>tabbed</w:t><w:tab/><w:t>cols $id</w:t></w:r></w:p>"
        else ""
      val docXml =
        s"""<?xml version="1.0" encoding="UTF-8" standalone="yes"?>
           |<w:document xmlns:w="http://schemas.openxmlformats.org/wordprocessingml/2006/main"><w:body>
           |<w:p><w:r><w:t>Heading of doc $id</w:t></w:r></w:p>
           |<w:p><w:r><w:t xml:space="preserve">A &amp; </w:t></w:r><w:r><w:t>B run $id</w:t></w:r></w:p>
           |$extra
           |</w:body></w:document>""".stripMargin
      val bytes = Zip.build(Seq(
        ("[Content_Types].xml",
          "<Types/>".getBytes(java.nio.charset.StandardCharsets.UTF_8), false),
        ("word/document.xml",
          docXml.getBytes(java.nio.charset.StandardCharsets.UTF_8), false)))
      val d = Zip.docxText(bytes).getOrElse(Zip.Doc(-1, ""))
      (id, d.nParas, d.text)
    }.toDF("doc_id", "n_paras", "text")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q167
  // .tar.gz archive ingest (Gzip.decode ∘ Tar.decode — the other
  // container crawl-scale data arrives in: dataset dumps, code
  // tarballs, and web-archive exports; the q146 warc chain's sibling).
  // The tar walk verifies ustar magic AND the header checksum, reads
  // octal size fields, honors the prefix long-path scheme, and pads
  // data to 512-byte blocks; the parity split exercises variable
  // member counts. Oracle re-derives names, length()-derived sizes,
  // typeflags, and member text. Row-local, no shuffle.
  val q167 = Q(
    "q167_tar_scan",
    """SELECT doc_id, seq, name, size, tf, text FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq, 'data/' AS name,
      |         CAST(0 AS BIGINT) AS size, '5' AS tf, '' AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'data/doc_' || doc_id || '.txt',
      |         CAST(length('tar member text of doc ' || doc_id) AS BIGINT),
      |         '0', 'tar member text of doc ' || doc_id
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT), 'data/extra_' || doc_id || '.bin',
      |         CAST(length('extra payload ' || doc_id) AS BIGINT),
      |         '0', 'extra payload ' || doc_id
      |  FROM documents WHERE doc_id % 2 = 0
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val utf8 = java.nio.charset.StandardCharsets.UTF_8
      val entries = Seq(
        ("data/", Array.emptyByteArray, '5'),
        (s"data/doc_$id.txt", s"tar member text of doc $id".getBytes(utf8), '0')) ++
        (if (id % 2 == 0)
          Seq((s"data/extra_$id.bin", s"extra payload $id".getBytes(utf8), '0'))
        else Nil)
      val gz = {
        val bos = new java.io.ByteArrayOutputStream()
        val z = new java.util.zip.GZIPOutputStream(bos)
        z.write(Tar.build(entries)); z.close()
        bos.toByteArray
      }
      val peeled = Gzip.decode(gz).getOrElse(Array.emptyByteArray)
      Tar.decode(peeled).getOrElse(Nil).zipWithIndex.map { case (m, k) =>
        (id, k, m.name, m.size, m.typeflag.toString, new String(m.content, utf8))
      }
    }.toDF("doc_id", "seq", "name", "size", "tf", "text")
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q168
  // Markdown-to-prose extraction (Markdown.extract — the README/docs
  // tier of a code-adjacent corpus: Markdown is the dominant
  // documentation format in source repos, and its prose needs the same
  // markup-stripping q148 gives HTML). The fixture forces every rule:
  // ATX header with text kept+counted, emphasis pairs unwrapping under
  // the flanking rule, a link keeping its text (counted), a code span
  // keeping content, list-marker + blockquote stripping on the same
  // line, a fenced code block dropped whole (counted; even docs add a
  // second ~~~-fenced one), an image removed whole ahead of link
  // matching, and a thematic break dropped. Row-local; oracle
  // re-derives the prose as CASE arithmetic.
  val q168 = Q(
    "q168_markdown_extract",
    """SELECT doc_id,
      |  'Title of doc ' || doc_id || chr(10) ||
      |  'Intro em ' || doc_id || ' and bold ' || doc_id || ' here.' || chr(10) ||
      |  'item link text ' || doc_id || ' tail' || chr(10) ||
      |  'quoted code span ' || doc_id || ' line' ||
      |  CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'caption ' || doc_id
      |       ELSE '' END ||
      |  chr(10) || 'Last line of doc ' || doc_id || '.' AS text,
      |  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INT) AS n_code_blocks,
      |  CAST(1 AS INT) AS n_links,
      |  CAST(1 AS INT) AS n_headers
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val even =
        if (id % 2 == 0)
          s"![logo](x.png) caption $id\n~~~\nmore dropped code $id\n~~~\n"
        else ""
      (id,
        s"""# Title of doc $id
           |Intro *em $id* and **bold $id** here.
           |- item [link text $id](https://ex.com/$id) tail
           |> quoted `code span $id` line
           |```scala
           |val x = $id // not prose
           |```
           |$even---
           |Last line of doc $id.""".stripMargin)
    }
    Markdown.extractAll(docs)
      .toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q169
  // License detection (License.detect — code-corpus curation's
  // gatekeeper: train-ability of a source file turns on its license,
  // and at corpus scale that is a header classifier). Seven fixture
  // classes force both tiers and the ordering: SPDX tags in //-style
  // and /*-style comments (closer stripped, id case preserved, tag
  // BEATING a conflicting phrase in the same doc), MIT/Apache/GPL-3/
  // BSD-3 phrase fingerprints with whitespace noise the normalization
  // must absorb, and a no-license class. Row-local scan of the file
  // head only (scale guard); oracle re-derives both columns as CASE
  // arithmetic.
  val q169 = Q(
    "q169_license_detect",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 7 AS INT)
      |    WHEN 0 THEN 'Apache-2.0' WHEN 1 THEN 'MIT' WHEN 2 THEN 'Apache-2.0'
      |    WHEN 3 THEN 'GPL-3.0' WHEN 4 THEN 'BSD-3-Clause' WHEN 5 THEN 'MIT'
      |    ELSE 'NONE' END AS license,
      |  CASE CAST(doc_id % 7 AS INT)
      |    WHEN 0 THEN 'spdx' WHEN 5 THEN 'spdx'
      |    WHEN 6 THEN 'none' ELSE 'phrase' END AS source
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val text = (id % 7) match {
        case 0 => s"// SPDX-License-Identifier: Apache-2.0\n" +
          s"// GNU General Public License version 3 mention must lose\nobject D$id"
        case 1 => s"/* Permission is hereby granted,\n   free of charge, " +
          s"to any person obtaining a copy */\ndef f$id = $id"
        case 2 => s"# Licensed under the Apache License,\n     Version 2.0 " +
          s"(the \"License\")\nclass C$id"
        case 3 => s"This program is free software under the GNU General " +
          s"Public License,\neither version 3 of the License\nmod m$id"
        case 4 => s"Redistribution and use in source and binary forms " +
          s"permitted.\nNeither the name of project$id may be used.\ncode"
        case 5 => s"/* SPDX-License-Identifier: MIT */\nint main$id(void);"
        case _ => s"just ordinary source text of doc $id with no license"
      }
      (id, text)
    }
    License.detectAll(docs)
      .toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q170
  // XLSX cell extraction (Xlsx.decode — the tabular member of the office
  // tier next to q166's DOCX: spreadsheet values live behind the
  // SpreadsheetML shared-strings indirection, so string cells hold pool
  // INDEXES and a correct reader joins sharedStrings.xml with the sheet
  // walk). The fixture forces all five cell kinds (shared/num/inline/
  // bool/formula), entity round-trip through the pool, pool REUSE on
  // even docs, and the out-of-range-index per-CELL quarantine on odd
  // docs. Row-local, no shuffle; oracle re-derives every cell as UNION
  // ALL CASE arithmetic.
  val q170 = Q(
    "q170_xlsx_cells",
    """SELECT doc_id, seq, ref, kind, value FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq, 'A1' AS ref, 'shared' AS kind,
      |         'Title of doc ' || doc_id AS value FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'B1', 'shared',
      |         'Pooled & value ' || doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT), 'C1', 'num', doc_id || '.25'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS INT), 'D1', 'inline',
      |         'inline text ' || doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(4 AS INT), 'E1', 'bool',
      |         CASE WHEN doc_id % 2 = 0 THEN 'TRUE' ELSE 'FALSE' END
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(5 AS INT), 'F1', 'formula', 'cached ' || doc_id
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(6 AS INT), 'G1', 'shared', 'Title of doc ' || doc_id
      |  FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(6 AS INT), 'H1', 'shared', ''
      |  FROM documents WHERE doc_id % 2 = 1
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val tail =
        if (id % 2 == 0) Seq(("G1", "s", "<v>0</v>")) // pool reuse
        else Seq(("H1", "s", "<v>9</v>"))             // out-of-range → ""
      val bytes = Xlsx.build(
        shared = Seq(s"Title of doc $id", s"Pooled & value $id"),
        cellsSpec = Seq(
          ("A1", "s", "<v>0</v>"),
          ("B1", "s", "<v>1</v>"),
          ("C1", "", s"<v>$id.25</v>"),
          ("D1", "inlineStr", s"<is><t>inline text $id</t></is>"),
          ("E1", "b", s"<v>${if (id % 2 == 0) 1 else 0}</v>"),
          ("F1", "str", s"<v>cached $id</v>")) ++ tail)
      Xlsx.decode(bytes).getOrElse(Nil).zipWithIndex.map { case (c, k) =>
        (id, k, c.ref, c.kind, c.value)
      }
    }.toDF("doc_id", "seq", "ref", "kind", "value")
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q171
  // PPTX text extraction (Pptx.decode — the slide-deck member of the
  // office tier, completing DOCX (q166) + XLSX (q170)). DrawingML uses
  // the same t/p/br local names WordprocessingML does, so each slide
  // rides the existing Zip.wordText walk; what q171 certifies on top is
  // the part selection (exact slideN.xml names, decoys excluded) and
  // NUMERIC slide ordering. Parity split varies deck length. Row-local,
  // no shuffle; oracle re-derives every slide as UNION ALL arithmetic.
  val q171 = Q(
    "q171_pptx_text",
    """SELECT doc_id, slide_no, n_paras, text FROM (
      |  SELECT doc_id, CAST(1 AS INT) AS slide_no, CAST(2 AS INT) AS n_paras,
      |         'Deck title ' || doc_id || chr(10) ||
      |         'Subtitle & intro ' || doc_id AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT), CAST(1 AS INT),
      |         'Body point ' || doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS INT), CAST(1 AS INT),
      |         'Closing ' || doc_id FROM documents WHERE doc_id % 2 = 0
      |) ORDER BY doc_id, slide_no""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val slides = Seq(
        Seq(Seq("Deck title ", s"$id"), Seq(s"Subtitle & intro $id")),
        Seq(Seq(s"Body point $id"))) ++
        (if (id % 2 == 0) Seq(Seq(Seq(s"Closing $id"))) else Nil)
      Pptx.decode(Pptx.build(slides)).getOrElse(Nil)
        .map(sl => (id, sl.no, sl.nParas, sl.text))
    }.toDF("doc_id", "slide_no", "n_paras", "text")
      .orderBy("doc_id", "slide_no")
  }

  // ---------------------------------------------------------------- q172
  // Character-trigram language ID (LangId — the production-shaped
  // upgrade of q29's marker-word contract; Cavnar–Trenkle profile
  // scoring kept ALL-INTEGER). The oracle is fully independent: it
  // re-derives the normalized text with lower/regexp_replace/trim and
  // re-counts every profile trigram with replace-arithmetic (profile
  // trigrams are chosen non-self-overlapping so position counts equal
  // non-overlapping counts), then takes the same greatest()+CASE argmax
  // with lexicographic tie-break. The appended doc_id digits vanish
  // under normalization on BOTH sides. Row-local, profiles ride the
  // closure; no shuffle.
  private val langIdProfiles = Seq(
    "de" -> Seq("der" -> 5, "sch" -> 4, "und" -> 3, "ein" -> 2),
    "en" -> Seq("the" -> 5, "he " -> 3, "ick" -> 2, "ing" -> 2),
    "es" -> Seq("el " -> 4, "rro" -> 4, "per" -> 3, "ado" -> 2),
    "fr" -> Seq("le " -> 4, "eux" -> 4, "ard" -> 3, "ais" -> 2),
    "it" -> Seq("la " -> 4, "olp" -> 3, "igr" -> 3, "ane" -> 2))

  private val langIdTemplates = IndexedSeq(
    "The quick, thinking fox is chasing the shining ducks.",
    "Der schnelle Hund und der scheue Fuchs sind ein Wunder.",
    "Le vieux renard bavard est heureux; le chien est paresseux.",
    "El perro corre adelantado; el zorro es el ganador.",
    "La volpe pigra e il cane sono la meraviglia della strada.")

  val q172 = Q(
    "q172_trigram_langid", {
      def cnt(g: String) =
        s"((length(norm)-length(replace(norm,'$g','')))//3)"
      def score(grams: Seq[(String, Int)]) =
        grams.map { case (g, w) => s"$w*${cnt(g)}" }.mkString(" + ")
      val scores = langIdProfiles.map { case (lang, grams) =>
        s"${score(grams)} AS s_$lang"
      }.mkString(",\n    ")
      val templates = langIdTemplates.zipWithIndex.map { case (t, k) =>
        val lit = t.replace("'", "''")
        if (k < langIdTemplates.length - 1) s"WHEN $k THEN '$lit'"
        else s"ELSE '$lit'"
      }.mkString(" ")
      s"""WITH t AS (
         |  SELECT doc_id,
         |    trim(regexp_replace(regexp_replace(lower(
         |      (CASE CAST(doc_id % 5 AS INT) $templates END)
         |      || ' ' || doc_id), '[^a-z]', ' ', 'g'), ' +', ' ', 'g')) AS norm
         |  FROM documents
         |), s AS (
         |  SELECT doc_id,
         |    $scores
         |  FROM t
         |)
         |SELECT doc_id,
         |  CASE WHEN g = 0 THEN 'und'
         |       WHEN s_de = g THEN 'de' WHEN s_en = g THEN 'en'
         |       WHEN s_es = g THEN 'es' WHEN s_fr = g THEN 'fr'
         |       ELSE 'it' END AS lang,
         |  CAST(g AS BIGINT) AS score
         |FROM (SELECT *, greatest(s_de, s_en, s_es, s_fr, s_it) AS g FROM s)
         |ORDER BY doc_id""".stripMargin
    }) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id, s"${langIdTemplates((id % 5).toInt)} $id"))
    LangId.classifyAll(docs, langIdProfiles)
      .toDF()
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q173
  // JSON-LD structured-data harvest (Html.jsonLd — the crawl-curation
  // signal after q159's head harvest: schema.org entities ship as
  // script-typed JSON payloads, the ONE case where script content is
  // signal). The fixture forces the type dispatch (typed block harvests,
  // typeless and text/javascript decoys drop, comment-hidden blocks on
  // odd docs don't count), raw non-entity-decoded payloads, and
  // document order; the harvested strings then flow through the B28
  // JSON family (Spark get_json_object vs DuckDB json_extract_string —
  // BOTH engines parse the JSON independently). Row-local flatMap, no
  // shuffle; oracle re-derives payloads as string arithmetic.
  val q173 = Q(
    "q173_jsonld_harvest",
    """SELECT doc_id, seq, json, json_extract_string(json, '$.name') AS name
      |FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq,
      |    '{"@type":"Article","name":"Doc ' || doc_id || '","wc":' ||
      |      (doc_id*3) || '}' AS json
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT),
      |    '{"@type":"Product","name":"P &amp; ' || doc_id || '"}'
      |  FROM documents WHERE doc_id % 2 = 0
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val extra =
        if (id % 2 == 0)
          // raw payload: the &amp; must NOT entity-decode (script content
          // is raw text; both engines keep the literal five bytes)
          s"""<script type=" application/ld+json ; charset=utf-8 ">
             |  {"@type":"Product","name":"P &amp; $id"}
             |</script>""".stripMargin
        else
          s"""<!-- <script type="application/ld+json">{"hidden":$id}</script> -->"""
      (id,
        s"""<html><head><title>D$id</title>
           |<script type="application/ld+json">{"@type":"Article","name":"Doc $id","wc":${id * 3}}</script>
           |<script>var decoy = {"name":"nope $id"};</script>
           |<script type="text/javascript">{"name":"nope2 $id"}</script>
           |$extra
           |</head><body><p>text</p></body></html>""".stripMargin)
    }
    Html.jsonLdAll(docs).toDF()
      .withColumn("name", get_json_object(col("json"), "$.name"))
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q174
  // The Gopher/MassiveText quality-rule panel (llm/Gopher — Rae et al.
  // 2021 §A1.1, the published filter suite most large-corpus pipelines
  // start from; q71's duplicate-ngram fraction is one member, this is
  // the rest). Seven fixture classes: a passing doc and six that each
  // trip exactly the rule they're built for (word floor, mean word
  // length, symbol ratio, bullet lines, ellipsis lines, alpha+stopword)
  // — repeat counts scale with k = 1 + doc_id % 3 so the formulas are
  // exercised at three sizes. ALL-INTEGER: the oracle re-derives every
  // count from the synthesis arithmetic and re-applies every rule as
  // the same cross-multiplied comparison, so the hash certifies counts
  // AND decisions. Row-local, no shuffle.
  val q174 = Q(
    "q174_gopher_rules",
    """WITH c AS (
      |  SELECT doc_id, CAST(doc_id % 7 AS INT) AS cls,
      |         1 + doc_id % 3 AS k
      |  FROM documents
      |), n AS (
      |  SELECT doc_id,
      |    CASE cls WHEN 0 THEN 64*k WHEN 1 THEN 5 WHEN 2 THEN 60*k
      |             WHEN 3 THEN 60*k WHEN 4 THEN 118 WHEN 5 THEN 50
      |             ELSE 60*k END AS n_words,
      |    CASE cls WHEN 0 THEN 240*k WHEN 1 THEN 16 WHEN 2 THEN 720*k
      |             WHEN 3 THEN 220*k WHEN 4 THEN 397 WHEN 5 THEN 176
      |             ELSE 180*k END AS sum_word_len,
      |    CAST(CASE cls WHEN 4 THEN 19 WHEN 5 THEN 3 ELSE 1 END AS BIGINT) AS n_lines,
      |    CAST(CASE cls WHEN 4 THEN 18 ELSE 0 END AS BIGINT) AS n_bullet_lines,
      |    CAST(CASE cls WHEN 5 THEN 2 ELSE 0 END AS BIGINT) AS n_ellipsis_lines,
      |    CASE cls WHEN 3 THEN 20*k WHEN 5 THEN 2 ELSE 0 END AS n_symbols,
      |    CASE cls WHEN 0 THEN 64*k WHEN 1 THEN 5 WHEN 2 THEN 60*k
      |             WHEN 3 THEN 50*k WHEN 4 THEN 100 WHEN 5 THEN 50
      |             ELSE 0 END AS n_alpha_words,
      |    CAST(CASE cls WHEN 4 THEN 6 WHEN 6 THEN 0 ELSE 3 END AS BIGINT) AS n_stopwords
      |  FROM c
      |)
      |SELECT doc_id, n_words, sum_word_len, n_lines, n_bullet_lines,
      |  n_ellipsis_lines, n_symbols, n_alpha_words, n_stopwords,
      |  (n_words >= 50 AND n_words <= 100000) AS pass_word_count,
      |  (n_words > 0 AND 3*n_words <= sum_word_len
      |     AND sum_word_len <= 10*n_words) AS pass_mean_len,
      |  (10*n_symbols <= n_words) AS pass_symbol,
      |  (10*n_bullet_lines <= 9*n_lines) AS pass_bullet,
      |  (10*n_ellipsis_lines <= 3*n_lines) AS pass_ellipsis,
      |  (n_words > 0 AND 5*n_alpha_words >= 4*n_words) AS pass_alpha,
      |  (n_stopwords >= 2) AS pass_stopword,
      |  ((n_words >= 50 AND n_words <= 100000)
      |    AND (n_words > 0 AND 3*n_words <= sum_word_len
      |         AND sum_word_len <= 10*n_words)
      |    AND (10*n_symbols <= n_words)
      |    AND (10*n_bullet_lines <= 9*n_lines)
      |    AND (10*n_ellipsis_lines <= 3*n_lines)
      |    AND (n_words > 0 AND 5*n_alpha_words >= 4*n_words)
      |    AND (n_stopwords >= 2)) AS pass
      |FROM n ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val k = (1 + id % 3).toInt
      val text = (id % 7) match {
        case 0 => "the solid value of good text and more " * (8 * k)
        case 1 => "the of and tiny text"
        case 2 =>
          "extraordinarily incomprehensibilities the of and antidisestablishmentarianism " * (10 * k)
        case 3 => "the coding of and tagger ## " * (10 * k)
        case 4 =>
          (1 to 18).map(_ => "- the solid item of value").mkString("\n") +
            "\nthe end and of with have that solid words more"
        case 5 =>
          "the story of value and text continues...\n" +
            "the story of value and text continues...\n" +
            ("the end of all and more " * 6)
        case _ => "1234 5678 90 12 " * (15 * k)
      }
      (id, text)
    }
    Gopher.reportAll(docs).toDF().orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q175
  // The C4 cleaning pass (llm/C4Clean — Raffel et al. 2020 §2.2: where
  // q174's Gopher panel VERDICTS documents, C4 REWRITES them line by
  // line and then verdicts what's left). Six fixture classes force
  // every rule: a clean keeper, a doc whose bad lines (no terminal
  // punctuation / under 5 words / javascript / privacy-policy) drop
  // while it survives, lorem-ipsum and curly-brace page poison (the
  // brace on an already-dropped line still kills the page — the
  // document-level scan reads the ORIGINAL text), the 3-sentence
  // floor, and the quote-after-punctuation ending. Oracle re-derives
  // the retained text by string arithmetic and the verdicts as CASE
  // comparisons. Row-local, no shuffle.
  val q175 = Q(
    "q175_c4_clean",
    """WITH c AS (
      |  SELECT doc_id, CAST(doc_id % 6 AS INT) AS cls,
      |    'The first solid sentence of doc ' || doc_id || '.' || chr(10) ||
      |    'The second solid sentence of doc ' || doc_id || '.' || chr(10) ||
      |    'The third solid sentence of doc ' || doc_id || '.' AS triple
      |  FROM documents
      |)
      |SELECT doc_id,
      |  CASE cls
      |    WHEN 0 THEN triple
      |    WHEN 1 THEN 'The first good line of doc ' || doc_id || '.'
      |      || chr(10) || 'The second good line of doc ' || doc_id || '.'
      |      || chr(10) || 'The third good line of doc ' || doc_id || '.'
      |    WHEN 2 THEN triple || chr(10) ||
      |      'The lorem ipsum generator made this sentence too.'
      |    WHEN 3 THEN triple
      |    WHEN 4 THEN 'Only sentence one of doc ' || doc_id || '.'
      |      || chr(10) || 'Only sentence two of doc ' || doc_id || '.'
      |    ELSE 'He said this was doc ' || doc_id || '."'
      |      || chr(10) || 'The second solid sentence of doc ' || doc_id || '.'
      |      || chr(10) || 'The third solid sentence of doc ' || doc_id || '.'
      |  END AS text,
      |  CAST(CASE cls WHEN 1 THEN 7 WHEN 2 THEN 4 WHEN 3 THEN 4
      |                WHEN 4 THEN 2 ELSE 3 END AS BIGINT) AS n_lines_in,
      |  CAST(CASE cls WHEN 2 THEN 4 WHEN 4 THEN 2
      |                ELSE 3 END AS BIGINT) AS n_lines_kept,
      |  CAST(CASE cls WHEN 2 THEN 4 WHEN 4 THEN 2
      |                ELSE 3 END AS BIGINT) AS n_sentences,
      |  (cls IN (0, 1, 5)) AS keep
      |FROM c ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    def goodTriple(id: Long): String =
      s"The first solid sentence of doc $id.\n" +
        s"The second solid sentence of doc $id.\n" +
        s"The third solid sentence of doc $id."
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val text = (id % 6) match {
        case 0 => goodTriple(id)
        case 1 =>
          s"The first good line of doc $id.\n" +
            "no terminal punctuation here at all\n" +
            "Too short here.\n" +
            "Please enable javascript to view this content properly.\n" +
            "Read our privacy policy before you continue browsing.\n" +
            s"The second good line of doc $id.\n" +
            s"The third good line of doc $id."
        case 2 => goodTriple(id) +
          "\nThe lorem ipsum generator made this sentence too."
        case 3 => goodTriple(id) + "\nfunction f() {"
        case 4 =>
          s"Only sentence one of doc $id.\nOnly sentence two of doc $id."
        case _ =>
          s"He said this was doc $id.\"\n" +
            s"The second solid sentence of doc $id.\n" +
            s"The third solid sentence of doc $id."
      }
      (id, text)
    }
    C4Clean.cleanAll(docs).toDF().orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q176
  // EPUB chapter extraction (llm/Epub — the book tier: long-form prose
  // is the highest-value training text and ships as a ZIP of XHTML
  // chapters bound by OCF/OPF packaging). Read the way the spec says:
  // container.xml names the OPF, the OPF's SPINE gives reading order,
  // hrefs resolve against the OPF directory, chapters extract through
  // the same Html walk as the crawl chain. The fixture's spine order
  // deliberately disagrees with BOTH alphabetical and member order
  // (zlast before afirst), so a globbing reader hash-mismatches; even
  // docs add a third chapter. Oracle re-derives every chapter as UNION
  // ALL arithmetic. Row-local, no shuffle.
  val q176 = Q(
    "q176_epub_chapters",
    """SELECT doc_id, pos, href, title, text FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS pos, 'zlast.xhtml' AS href,
      |         'Opening of book ' || doc_id AS title,
      |         'The opening chapter text of book ' || doc_id || '.' AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), 'afirst.xhtml',
      |         'Middle of book ' || doc_id,
      |         'A & B middle text of book ' || doc_id || '.'
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT), 'sub/deep.xhtml',
      |         'Closing of book ' || doc_id,
      |         'The closing chapter text of book ' || doc_id || '.'
      |  FROM documents WHERE doc_id % 2 = 0
      |) ORDER BY doc_id, pos""".stripMargin) { (s, dir) =>
    import s.implicits._
    def ch(title: String, body: String): String =
      s"<html><head><title>$title</title></head><body><p>$body</p></body></html>"
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val chapters = Seq(
        ("zlast.xhtml", ch(s"Opening of book $id",
          s"The opening chapter text of book $id.")),
        ("afirst.xhtml", ch(s"Middle of book $id",
          s"A &amp; B middle text of book $id."))) ++
        (if (id % 2 == 0)
          Seq(("sub/deep.xhtml", ch(s"Closing of book $id",
            s"The closing chapter text of book $id.")))
        else Nil)
      Epub.decode(Epub.build(chapters)).getOrElse(Nil)
        .map(c => (id, c.pos, c.href, c.title, c.text))
    }.toDF("doc_id", "pos", "href", "title", "text")
      .orderBy("doc_id", "pos")
  }

  // ---------------------------------------------------------------- q177
  // The END-TO-END curation pipeline (r12 — the training-prep composite,
  // q149's crawl twin: where q149 certifies ingest, this certifies the
  // FILTER chain a corpus actually runs): raw text → C4 line cleaning +
  // page verdict (q175) → trigram language ID on the CLEANED text
  // (q172) → Gopher rule panel gating ENGLISH docs only (q174 — the
  // published MassiveText setup: the stopword/mean-length rules are
  // English-calibrated, so non-English docs route past them) → exact
  // dedup on the cleaned text, keep-lowest-id (q27). Eight fixture
  // classes: unique passers, a lorem-poisoned page (dies at C4), a
  // thin doc that SURVIVES C4 but dies at Gopher's word floor, a
  // bullet-heavy doc whose every line passes C4 while the PANEL kills
  // it, a German doc that must bypass the English gate, and a
  // duplicate pair whose loser dies only at dedup — output rows exist
  // only if every stage cuts exactly where it should. Chain is
  // row-local until the single dedup shuffle; one oracle hash.
  val q177 = Q(
    "q177_curation_pipeline",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 8 = 5 THEN 'de' ELSE 'en' END AS lang,
      |  CAST(CASE WHEN doc_id % 8 = 5 THEN 87 ELSE 85 END AS BIGINT) AS n_words
      |FROM documents
      |WHERE CAST(doc_id % 8 AS INT) IN (0, 1, 5, 6)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val enLine = "The solid value of good text and more items appear here."
    val deLine = "Der schnelle Hund und der scheue Fuchs sind ein Wunder hier."
    def enDoc(id: Long): String =
      (Seq.fill(7)(enLine) :+
        s"The closing line of document $id stays fine.").mkString("\n")
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val text = (id % 8) match {
        case 2 => enDoc(id) +
          "\nThe lorem ipsum generator made this sentence too."
        case 3 => Seq.fill(3)("The tiny doc line stays short.").mkString("\n")
        case 4 =>
          (Seq.fill(10)("- the item of value number one.") :+ enLine)
            .mkString("\n")
        case 5 => (Seq.fill(7)(deLine) :+
          s"Der Schluss der Geschichte von Dokument $id endet genau hier.")
          .mkString("\n")
        case 6 => enDoc(id)
        case 7 => enDoc(id - 1) // the duplicate: dies only at dedup
        case _ => enDoc(id)
      }
      (id, text)
    }
    val kept = C4Clean.cleanAll(docs).filter(_.keep)
    // row-local: language on the cleaned text; Gopher gates English only
    val scored = kept.mapPartitions(_.flatMap { c =>
      val (lang, _) = LangId.classify(LangId.normalize(c.text), langIdProfiles)
      val rep = Gopher.report(c.doc_id, c.text)
      if (lang != "en" || rep.pass) Some((c.doc_id, lang, rep.n_words, c.text))
      else None
    })
    scored.toDF("doc_id", "lang", "n_words", "text")
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(struct(col("doc_id"), col("lang"), col("n_words"))).as("r"))
      .select(col("r.doc_id"), col("r.lang"), col("r.n_words"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q178
  // WebDataset-style tar shard export (r12 — the WRITE side of q167's
  // tar walk: sharded tar archives are the format large training jobs
  // actually stream, and the exporter's framing must be byte-exact for
  // readers to seek). Shard assignment is divisor arithmetic on doc_id
  // (NO global running-sum window — a cumulative-bytes assignment needs
  // a single-partition window, the 100 TB anti-pattern; fixed-count
  // shards keep assignment embarrassingly parallel), members sort by
  // doc_id within a shard, bytes come from the same Tar.build the q167
  // oracle certified — via Tar.buildBounded, the ENFORCED max-shard-
  // bytes contract (archives materialize in-memory per shard; the
  // contract raises on violation rather than OOMing an executor when
  // sharding misgroups). The oracle re-derives member counts AND the exact
  // archive length from ustar framing arithmetic (512-byte header +
  // 512-padded data per member + 1024-byte end marker); the engine
  // additionally re-parses its own shard (n_reparsed) so the round-trip
  // is closed inside the query. One inherent shuffle (members to their
  // shard).
  val q178 = Q(
    "q178_tar_shard_export",
    """SELECT shard_id, count(*) AS n_members,
      |  CAST(sum(512 + 512*((len + 511)//512)) + 1024 AS BIGINT) AS tar_len,
      |  count(*) AS n_reparsed
      |FROM (SELECT doc_id//16 AS shard_id,
      |             100 + (doc_id%7)*50 AS len FROM documents)
      |GROUP BY shard_id ORDER BY shard_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id / 16, id, 100 + (id % 7).toInt * 50))
      .toDF("shard_id", "doc_id", "len")
      .groupBy("shard_id")
      .agg(sort_array(collect_list(struct(col("doc_id"), col("len"))))
        .as("members"))
      .as[(Long, Seq[(Long, Int)])]
      .map { case (shard, members) =>
        val entries = members.map { case (id, len) =>
          (s"doc_$id.txt", Array.fill[Byte](len)('x'.toByte), '0')
        }
        // Enforced shard-size contract (raises, never degrades): 16
        // members × ≤400 B payload frame well under 64 KiB; a sharding
        // bug that regrouped members would throw here, not OOM an
        // executor materializing an unbounded archive.
        val bytes = Tar.buildBounded(entries, maxBytes = 64L * 1024)
        val reparsed = Tar.decode(bytes).map(_.size).getOrElse(-1)
        (shard, members.size.toLong, bytes.length.toLong, reparsed.toLong)
      }
      .toDF("shard_id", "n_members", "tar_len", "n_reparsed")
      .orderBy("shard_id")
  }

  // ---------------------------------------------------------------- q179
  // Voice-activity segmentation (llm/Vad — the speech-corpus prep step
  // between q123's WAV decode and any audio-LM pipeline: silence
  // carries no training signal, VAD is how audio corpora drop it and
  // split long recordings into utterances). Fixture alternates 256-
  // sample quiet/loud blocks (amplitudes 64 vs 4096, sign-alternating
  // so energies are exact), giving 4-frame speech runs at every odd
  // block; block count varies per doc. The oracle re-derives every
  // segment's frame span and exact Σs² energy from the synthesis
  // arithmetic — certifying the WAV decode, the 64-sample framing, the
  // STRICT threshold, and the run detection together. Row-local, runs
  // detected in-pass (no frame explode, no window shuffle).
  val q179 = Q(
    "q179_audio_vad",
    """WITH d AS (SELECT doc_id, 6 + (doc_id % 3) * 2 AS nb FROM documents),
      |s AS (SELECT doc_id, unnest(range(nb // 2)) AS k FROM d)
      |SELECT doc_id, CAST(k AS INT) AS seg,
      |  CAST(8 * k + 4 AS INT) AS start_frame,
      |  CAST(8 * k + 7 AS INT) AS end_frame,
      |  CAST(4 AS INT) AS n_frames,
      |  CAST(4294967296 AS BIGINT) AS energy_sum
      |FROM s ORDER BY doc_id, seg""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val nb = (6 + (id % 3) * 2).toInt
      val samples = Array.tabulate[Short](nb * 256) { i =>
        val a = if ((i / 256) % 2 == 0) 64 else 4096
        (if (i % 2 == 0) a else -a).toShort
      }
      Multimodal.Blob(id, Wav.encodePcm16(8000, samples))
    }
    Vad.segmentsAll(blobs, frameLen = 64, threshold = 10000000L)
      .toDF().orderBy("doc_id", "seg")
  }

  // ---------------------------------------------------------------- q180
  // Scene-cut detection (llm/SceneCut — q179's video twin, the step
  // between q138's AVI frame decode and video-LM curation: scene
  // boundaries are where corpora split clips, sample keyframes, and
  // dedup footage). Fixture builds flat-color scenes of 2 frames each
  // (per-doc color offset cancels in the deltas; widths 4..7 cover all
  // BMP row-padding classes); cuts fire at every scene boundary with
  // delta = w·h·3·60 exactly. The oracle re-derives boundary indexes
  // and signed deltas arithmetically — certifying the container walk,
  // the per-frame Σ(r+g+b) signature, and the strict threshold
  // together. Row-local single pass, no shuffle.
  val q180 = Q(
    "q180_scene_cuts",
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS ns,
      |                  CAST(4 + doc_id % 4 AS INT) AS w FROM documents),
      |s AS (SELECT doc_id, w, unnest(range(1, ns)) AS sc FROM d)
      |SELECT doc_id, CAST(sc - 1 AS INT) AS cut,
      |  CAST(2 * sc AS INT) AS frame_idx,
      |  CAST(w * 4 * 3 * 60 AS BIGINT) AS delta
      |FROM s ORDER BY doc_id, cut""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val w = (4 + id % 4).toInt
      val h = 4
      val ns = (2 + id % 3).toInt
      val frames = Seq.tabulate(ns * 2) { f =>
        val c = (20 + 60 * (f / 2) + (id % 10)).toInt
        Array.fill(w * h)((c << 16) | (c << 8) | c)
      }
      Multimodal.Blob(id, Avi.encode(w, h, usPerFrame = 33000, frames = frames))
    }
    SceneCut.cutsAll(blobs, threshold = 1000L)
      .toDF().orderBy("doc_id", "cut")
  }

  // ---------------------------------------------------------------- q181
  // Fill-in-the-middle training splits (r12 — FIM, Bavarian et al.
  // 2022: code/infilling models train on documents REORDERED as
  // prefix/suffix/middle with sentinel tokens, and the split must be
  // deterministic for reproducible training). Thirds by CHARACTER
  // offsets (integer div — both engines), PSM on even docs / SPM on
  // odd (sentinel order swaps, middle always last — the canonical
  // layouts). Pure SQL functions end-to-end — length/substring/concat/
  // CASE, whole-stage codegen, zero UDF, zero shuffle beyond the
  // presentation sort; the oracle mirrors the same substr arithmetic
  // over the SAME real documents.text column (no synthesis).
  val q181 = Q(
    "q181_fim_splits",
    """SELECT doc_id, CAST(length(text) AS INT) AS n,
      |  CAST(length(text)//3 AS INT) AS p1,
      |  CAST(2*length(text)//3 AS INT) AS p2,
      |  CASE WHEN doc_id % 2 = 0 THEN 'psm' ELSE 'spm' END AS mode,
      |  CASE WHEN doc_id % 2 = 0 THEN
      |    '<|fim_pre|>' || substr(text, 1, length(text)//3) ||
      |    '<|fim_suf|>' || substr(text, 2*length(text)//3 + 1) ||
      |    '<|fim_mid|>' || substr(text, length(text)//3 + 1,
      |                            2*length(text)//3 - length(text)//3)
      |  ELSE
      |    '<|fim_suf|>' || substr(text, 2*length(text)//3 + 1) ||
      |    '<|fim_pre|>' || substr(text, 1, length(text)//3) ||
      |    '<|fim_mid|>' || substr(text, length(text)//3 + 1,
      |                            2*length(text)//3 - length(text)//3)
      |  END AS fim
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Tables(s, dir, "documents")
      .select(col("doc_id"), col("text"))
      .withColumn("n", length(col("text")))
      .withColumn("p1", expr("n div 3").cast("int"))
      .withColumn("p2", expr("(2 * n) div 3").cast("int"))
      .withColumn("mode",
        when(col("doc_id") % 2 === 0, lit("psm")).otherwise(lit("spm")))
      .withColumn("pre", expr("substring(text, 1, p1)"))
      .withColumn("mid", expr("substring(text, p1 + 1, p2 - p1)"))
      .withColumn("suf", expr("substring(text, p2 + 1, n - p2)"))
      .withColumn("fim",
        when(col("doc_id") % 2 === 0,
          concat(lit("<|fim_pre|>"), col("pre"), lit("<|fim_suf|>"),
            col("suf"), lit("<|fim_mid|>"), col("mid")))
          .otherwise(
            concat(lit("<|fim_suf|>"), col("suf"), lit("<|fim_pre|>"),
              col("pre"), lit("<|fim_mid|>"), col("mid"))))
      .select("doc_id", "n", "p1", "p2", "mode", "fim")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q182
  // Chat-template rendering + loss-mask offsets (r12 — the SFT-data
  // prep step: conversations render into one training string under a
  // ChatML-style template, and the trainer needs the CHARACTER SPANS
  // of the assistant turns because loss is masked everywhere else; an
  // off-by-one here silently trains on user text). The render is pure
  // codegen HOFs (transform over sequence + array_join); spans come
  // from a running window sum per doc (the one inherent shuffle —
  // per-doc sequencing, the q163 shape); the engine then EXTRACTS each
  // span from its own rendered string (substring(full, start, len))
  // and emits it, so the oracle's independently-derived content column
  // certifies that every offset lands exactly on the assistant text.
  val q182 = Q(
    "q182_chat_template",
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS nt
      |           FROM documents),
      |t AS (SELECT doc_id, unnest(range(nt)) AS k FROM d),
      |c AS (SELECT doc_id, k,
      |        'Ask ' || k || ' of doc ' || doc_id AS u,
      |        'Answer ' || k || ' for doc ' || doc_id AS a FROM t),
      |l AS (SELECT doc_id, k, u, a,
      |        61 + length(u) + length(a) AS exch_len FROM c)
      |SELECT doc_id, CAST(k AS INT) AS k,
      |  CAST(COALESCE(sum(exch_len) OVER (PARTITION BY doc_id ORDER BY k
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |       + 50 + length(u) + 1 AS BIGINT) AS start,
      |  CAST(length(a) AS BIGINT) AS len,
      |  CAST(sum(exch_len) OVER (PARTITION BY doc_id) AS BIGINT) AS total_len,
      |  a AS content
      |FROM l ORDER BY doc_id, k""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), (lit(2) + col("doc_id") % 3).cast("int").as("nt"))
      .withColumn("full", array_join(
        transform(sequence(lit(0), col("nt") - 1), k =>
          concat(
            lit("<|im_start|>user\n"),
            lit("Ask "), k, lit(" of doc "), col("doc_id"),
            lit("<|im_end|>\n<|im_start|>assistant\n"),
            lit("Answer "), k, lit(" for doc "), col("doc_id"),
            lit("<|im_end|>\n"))), ""))
    val turns = base
      .select(col("doc_id"), col("full"),
        explode(sequence(lit(0), col("nt") - 1)).as("k"))
      .withColumn("u", concat(lit("Ask "), col("k"), lit(" of doc "), col("doc_id")))
      .withColumn("a", concat(lit("Answer "), col("k"), lit(" for doc "), col("doc_id")))
      .withColumn("exch_len", lit(61) + length(col("u")) + length(col("a")))
    val w = Window.partitionBy("doc_id").orderBy("k")
    turns
      .withColumn("prior", coalesce(
        sum(col("exch_len")).over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("start", (col("prior") + lit(50) + length(col("u")) + 1).cast("long"))
      .withColumn("len", length(col("a")).cast("long"))
      .withColumn("total_len",
        sum(col("exch_len")).over(Window.partitionBy("doc_id")).cast("long"))
      // the span, extracted from the engine's OWN rendered string — the
      // oracle's independent content column certifies the offsets
      .withColumn("content", expr("substring(full, start, len)"))
      .select("doc_id", "k", "start", "len", "total_len", "content")
      .orderBy("doc_id", "k")
  }

  // ---------------------------------------------------------------- q183
  // Product-quantization SDC search (llm/Pq — the remaining ANN
  // compression member next to IVF q42, int8 q73, Rp q35: an M-byte
  // code per vector replaces the float embedding, and a query scores
  // the corpus with M table lookups per vector; Jégou et al. 2011).
  // Kept exact the graft way: integer grid first (the q73a rounding
  // convention), codebooks PINNED to corpus rows (the q42a fixed-
  // centroid discipline), every distance an exact integer Σ(a−b)² —
  // encode argmin (lowest-j ties), per-query tables, and the final
  // rank are bit-deterministic with NO rounded double anywhere, so the
  // oracle replays grid → encode → SDC → top-k wholesale. M=8
  // subspaces × 8 dims, K=8 pinned sub-centroids, 3 queries, top-5.
  val q183 = Q(
    "q183_pq_sdc",
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding::DOUBLE[],
      |               x -> CAST(least(127, greatest(-127, round(x * 64)))
      |                    AS BIGINT)) AS g
      |           FROM embeddings),
      |cb AS (SELECT vec_id AS j, g FROM e WHERE vec_id < 8),
      |ms AS (SELECT unnest(range(8)) AS m),
      |sub AS (SELECT e.vec_id, ms.m, cb.j,
      |          list_sum(list_transform(range(1, 9),
      |            i -> (e.g[8*ms.m + i] - cb.g[8*ms.m + i])
      |               * (e.g[8*ms.m + i] - cb.g[8*ms.m + i]))) AS d2
      |        FROM e CROSS JOIN ms CROSS JOIN cb),
      |codes AS (SELECT vec_id, m, j AS code FROM (
      |            SELECT vec_id, m, j,
      |                   row_number() OVER (PARTITION BY vec_id, m
      |                                      ORDER BY d2, j) AS rn
      |            FROM sub) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, g AS qg FROM e WHERE vec_id < 3),
      |qd AS (SELECT q.q_id, codes.vec_id,
      |         CAST(sum(list_sum(list_transform(range(1, 9),
      |           i -> (q.qg[8*codes.m + i] - cb.g[8*codes.m + i])
      |              * (q.qg[8*codes.m + i] - cb.g[8*codes.m + i]))))
      |           AS BIGINT) AS dist
      |       FROM codes
      |       JOIN cb ON cb.j = codes.code
      |       CROSS JOIN q
      |       WHERE codes.vec_id <> q.q_id
      |       GROUP BY q.q_id, codes.vec_id)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id, dist FROM (
      |  SELECT q_id, vec_id, dist,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY dist, vec_id) AS rk
      |  FROM qd) WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    Pq.sdcTopK(Tables(s, dir, "embeddings"), m = 8, dimsPer = 8,
      nCodebook = 8, nQueries = 3, k = 5)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q184
  // MIME email parsing (llm/Eml — the mail-archive tier: mailing lists
  // and public archives are classic high-quality prose sources whose
  // text sits behind RFC 5322/2045/2047 wire structure). Four fixture
  // classes force the layers: quoted-printable bodies (=25 escapes),
  // base64 bodies (fixture encodes with the JDK encoder, the engine
  // must round-trip), multipart/alternative with the text/plain part
  // QP-encoded and an html decoy part, and RFC 2047 B-encoded subjects.
  // The oracle states the DECODED strings arithmetically — so a hash
  // match certifies header folding, encoded-word decode, boundary
  // walking, and both transfer decodings together. Row-local, no
  // shuffle.
  val q184 = Q(
    "q184_eml_parse",
    """SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 3 THEN 'Sujet ' || doc_id
      |       ELSE 'Mail ' || doc_id END AS subject,
      |  'user' || doc_id || '@example.com' AS "from",
      |  CAST(CASE WHEN doc_id % 4 = 2 THEN 2 ELSE 1 END AS INT) AS n_parts,
      |  CASE CAST(doc_id % 4 AS INT)
      |    WHEN 0 THEN 'Body' || doc_id || ' has 100% text.'
      |    WHEN 1 THEN 'Encoded body of mail ' || doc_id || '.'
      |    WHEN 2 THEN 'Part text of mail ' || doc_id
      |    ELSE 'Plain body ' || doc_id END AS text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val from = s"user$id@example.com"
      val raw = (id % 4) match {
        case 0 =>
          s"Subject: Mail $id\nFrom: $from\n" +
            "Content-Transfer-Encoding: quoted-printable\n\n" +
            s"Body$id has 100=25 text."
        case 1 =>
          val b64 = java.util.Base64.getEncoder.encodeToString(
            s"Encoded body of mail $id.".getBytes("UTF-8"))
          s"Subject: Mail $id\nFrom: $from\n" +
            s"Content-Transfer-Encoding: base64\n\n$b64"
        case 2 =>
          s"""Subject: Mail $id
             |From: $from
             |Content-Type: multipart/alternative; boundary="B$id"
             |
             |preamble drops
             |--B$id
             |Content-Type: text/plain
             |Content-Transfer-Encoding: quoted-printable
             |
             |Part text of=20mail $id
             |--B$id
             |Content-Type: text/html
             |
             |<p>html decoy $id</p>
             |--B$id--
             |epilogue drops""".stripMargin
        case _ =>
          val b64 = java.util.Base64.getEncoder.encodeToString(
            s"Sujet $id".getBytes("UTF-8"))
          s"Subject: =?UTF-8?B?$b64?=\nFrom: $from\n\nPlain body $id"
      }
      (id, raw)
    }
    Eml.parseAll(docs).toDF().orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q185
  // Sentence segmentation (llm/Sentences — the text-prep primitive
  // under chunking q70, C4's sentence accounting q175, and sentence-
  // level dedup: regex-free, rule-explicit, byte-deterministic). Four
  // fixture classes force each rule: plain .!? boundaries, the
  // lowercase-continuation non-boundary, abbreviation + single-letter
  // guards with a digit-terminated sentence (digit before '.' is NOT a
  // guard), decimals/URLs never reaching the whitespace test, closing
  // quotes attaching LEFT, and an unterminated tail. Oracle re-derives
  // every sentence as UNION ALL CASE arithmetic. Row-local explode, no
  // shuffle.
  val q185 = Q(
    "q185_sentence_split",
    """SELECT doc_id, seq, sentence FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS seq,
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'First sentence of doc ' || doc_id || '.'
      |      WHEN 1 THEN 'Dr. Smith met J. Jones in lab ' || doc_id || '.'
      |      WHEN 2 THEN 'Pi is 3.14 roughly in doc ' || doc_id || '.'
      |      ELSE 'Complete line here in doc ' || doc_id || '. and it continues.'
      |    END AS sentence
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT),
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'Second one here!'
      |      WHEN 1 THEN 'They spoke about doc ' || doc_id || '.'
      |      WHEN 2 THEN 'He said "Done."'
      |      ELSE 'Trailing bit ' || doc_id
      |    END
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(2 AS INT),
      |    CASE CAST(doc_id % 4 AS INT)
      |      WHEN 0 THEN 'Third question?'
      |      WHEN 2 THEN 'Then left doc ' || doc_id || '.'
      |    END
      |  FROM documents WHERE CAST(doc_id % 4 AS INT) IN (0, 2)
      |  UNION ALL
      |  SELECT doc_id, CAST(3 AS INT), 'Yes indeed ' || doc_id || '.'
      |  FROM documents WHERE doc_id % 4 = 0
      |) ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val text = (id % 4) match {
        case 0 => s"First sentence of doc $id. Second one here! " +
          s"Third question? Yes indeed $id."
        case 1 => s"Dr. Smith met J. Jones in lab $id. " +
          s"They spoke about doc $id."
        case 2 => s"Pi is 3.14 roughly in doc $id. " +
          s"He said \"Done.\" Then left doc $id."
        case _ => s"Complete line here in doc $id. and it continues. " +
          s"Trailing bit $id"
      }
      (id, text)
    }
    Sentences.splitAll(docs)
      .toDF("doc_id", "seq", "sentence")
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q186
  // Mail-thread reconstruction (r12 — Eml.refs ∘ Components.connected:
  // conversation-format training data comes from mailing-list archives
  // THREADED, and threading is the References graph's connected
  // components). The engine derives everything from the wire format:
  // Message-ID/In-Reply-To parsed per mail (folded headers), edges by
  // a real equi-join on the msg-id STRING, components via the q62
  // iterative min-label propagation, roots = no In-Reply-To; isolated
  // roots (threads of one) come back via the left join. The oracle
  // knows the thread layout only from the fixture arithmetic — a parse
  // miss, join miss, or propagation bug all hash-mismatch. One string
  // equi-join + the component loop's bounded rounds.
  val q186 = Q(
    "q186_mail_threads",
    """SELECT doc_id, doc_id - doc_id % 4 AS thread,
      |  (doc_id % 4 = 0) AS is_root
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val msgs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val reply = if (id % 4 == 0) "" else s"In-Reply-To: <m${id - 1}@x>\n"
      val raw = s"Message-ID: <m$id@x>\n${reply}Subject: t $id\n\nbody $id"
      val (mid, irt) = Eml.refs(raw).getOrElse(("", ""))
      (id, mid, irt)
    }.toDF("doc_id", "mid", "irt")
    val edges = msgs.as("a")
      .join(msgs.select(col("doc_id").as("p_id"), col("mid").as("p_mid")).as("b"),
        col("a.irt") === col("b.p_mid"))
      .select(col("a.doc_id").as("id_a"), col("b.p_id").as("id_b"))
    val comp = Components.connected(edges, "id_a", "id_b")
    msgs.join(comp, msgs("doc_id") === comp("id"), "left")
      .select(msgs("doc_id"),
        coalesce(col("component"), msgs("doc_id")).as("thread"),
        (col("irt") === lit("")).as("is_root"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q187
  // HTML table-cell extraction (Html.tables — the structured-data
  // harvest from page BODIES, the <table> counterpart of q173's script
  // harvest: statistics and specs ship as tables and a tabular corpus
  // wants cells, not prose). Fixture forces the grid accounting
  // (0-based table/row/col, th header flags), entity decode, a colspan
  // cell that must shift the NEXT cell's column by its span, a nested
  // table that must be skipped whole without consuming outer indexes
  // (even docs), and a comment-hidden decoy table; oracle re-derives
  // every cell as UNION ALL arithmetic. Row-local explode, no shuffle.
  val q187 = Q(
    "q187_html_tables",
    """SELECT doc_id, tbl, r, c, header, text FROM (
      |  SELECT doc_id, CAST(0 AS INT) AS tbl, CAST(0 AS INT) AS r,
      |         CAST(0 AS INT) AS c, true AS header, 'Name' AS text
      |  FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), CAST(0 AS INT), CAST(1 AS INT),
      |         true, 'Value & unit' FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), CAST(1 AS INT), CAST(0 AS INT),
      |         false, 'metric ' || doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), CAST(1 AS INT), CAST(1 AS INT),
      |         false, (doc_id * 2) || ' ms' FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), CAST(2 AS INT), CAST(0 AS INT),
      |         false, 'wide ' || doc_id FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(0 AS INT), CAST(2 AS INT), CAST(2 AS INT),
      |         false, 'end' FROM documents
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), CAST(0 AS INT),
      |         false, 'outer ' || doc_id FROM documents WHERE doc_id % 2 = 0
      |  UNION ALL
      |  SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), CAST(1 AS INT),
      |         false, 'tail ' || doc_id FROM documents WHERE doc_id % 2 = 0
      |) ORDER BY doc_id, tbl, r, c""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val nested =
        if (id % 2 == 0)
          s"<table><tr><td>outer $id</td><td><table><tr><td>inner</td></tr>" +
            s"</table> tail $id</td></tr></table>"
        else ""
      val html =
        s"""<!-- <table><tr><td>decoy</td></tr></table> -->
           |<table>
           |<tr><th>Name</th><th>Value &amp; unit</th></tr>
           |<tr><td>metric $id</td><td>${id * 2} ms</td></tr>
           |<tr><td colspan="2">wide $id</td><td>end</td></tr>
           |</table>
           |$nested""".stripMargin
      Html.tables(html).map(tc => (id, tc.table, tc.row, tc.col, tc.header, tc.text))
    }.toDF("doc_id", "tbl", "r", "c", "header", "text")
      .orderBy("doc_id", "tbl", "r", "c")
  }

  // ---------------------------------------------------------------- q188
  // CSV dialect sniffing (llm/CsvSniff — the loader front-end next to
  // q157's charset sniff: crawled "CSV" arrives with unknown delimiter,
  // quoting, and header row, and spark.read.csv needs all three before
  // it parses a byte). Five fixture classes force the rules: comma with
  // a header row, semicolon without, TAB beating comma on column count
  // when quoted fields embed commas (the quote-aware split is what's
  // being certified), pipe with a numeric first row (header must stay
  // false), and plain prose (not a CSV). Oracle re-derives every
  // dialect as CASE constants. Row-local, first-10-lines scale guard.
  val q188 = Q(
    "q188_csv_sniff",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 5 AS INT)
      |    WHEN 0 THEN ',' WHEN 1 THEN ';' WHEN 2 THEN chr(9)
      |    WHEN 3 THEN '|' ELSE '' END AS delim,
      |  CAST(CASE WHEN doc_id % 5 = 4 THEN 1 ELSE 3 END AS INT) AS n_cols,
      |  (doc_id % 5 = 0) AS header
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val text = (id % 5) match {
        case 0 => s"name,score,unit\nalpha $id,1,ms\nbeta $id,2,ms"
        case 1 => s"a $id;1;x\nb $id;2;y"
        case 2 => s"x $id\t\"v, w\"\t2\ny $id\t\"p, q\"\t3"
        case 3 => s"p $id|q|3.5\nr $id|s|4.5"
        case _ => s"just plain prose text of doc $id"
      }
      (id, text)
    }
    CsvSniff.sniffAll(docs).toDF().orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q189
  // IVFPQ composed search (Pq.ivfpqTopK — the production composition of
  // q42's coarse IVF cells and q183's PQ table scoring, Jégou et al.
  // 2011's deployed shape: probe nProbe cells per query, SDC-score ONLY
  // their members — candidate work ∝ nProbe/nCells at M lookups per
  // candidate). Both halves keep their certified disciplines: integer
  // grid, coarse centroids pinned to grid rows [0,8), PQ sub-codebooks
  // to rows [8,16) (disjoint ranges), every distance an exact integer,
  // lowest-index tie-breaks, queries encoded through the codebook (true
  // SDC). The output carries each member's cell so the hash certifies
  // the coarse assignment AND the PQ ranking together; the oracle
  // replays grid → assign → encode → probe → tables → top-k wholesale.
  // nCells=8, nProbe=3, M=8×8 dims, K=8, 3 queries, top-5. Bounded
  // collects + row-local scoring + one top-k window shuffle.
  val q189 = Q(
    "q189_ivfpq_search",
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding::DOUBLE[],
      |               x -> CAST(least(127, greatest(-127, round(x * 64)))
      |                    AS BIGINT)) AS g
      |           FROM embeddings),
      |cc AS (SELECT vec_id AS c, g FROM e WHERE vec_id < 8),
      |cells AS (SELECT vec_id, c AS cell FROM (
      |            SELECT e.vec_id, cc.c,
      |                   row_number() OVER (PARTITION BY e.vec_id
      |                     ORDER BY list_sum(list_transform(range(1, 65),
      |                       i -> (e.g[i]-cc.g[i])*(e.g[i]-cc.g[i]))), cc.c)
      |                     AS rn
      |            FROM e CROSS JOIN cc) WHERE rn = 1),
      |cb AS (SELECT vec_id - 8 AS j, g FROM e
      |       WHERE vec_id >= 8 AND vec_id < 16),
      |ms AS (SELECT unnest(range(8)) AS m),
      |sub AS (SELECT e.vec_id, ms.m, cb.j,
      |          list_sum(list_transform(range(1, 9),
      |            i -> (e.g[8*ms.m + i] - cb.g[8*ms.m + i])
      |               * (e.g[8*ms.m + i] - cb.g[8*ms.m + i]))) AS d2
      |        FROM e CROSS JOIN ms CROSS JOIN cb),
      |codes AS (SELECT vec_id, m, j AS code FROM (
      |            SELECT vec_id, m, j,
      |                   row_number() OVER (PARTITION BY vec_id, m
      |                                      ORDER BY d2, j) AS rn
      |            FROM sub) WHERE rn = 1),
      |q AS (SELECT vec_id AS q_id, g AS qg FROM e WHERE vec_id < 3),
      |qprobe AS (SELECT q_id, c AS cell FROM (
      |             SELECT q.q_id, cc.c,
      |                    row_number() OVER (PARTITION BY q.q_id
      |                      ORDER BY list_sum(list_transform(range(1, 65),
      |                        i -> (q.qg[i]-cc.g[i])*(q.qg[i]-cc.g[i]))),
      |                        cc.c) AS rn
      |             FROM q CROSS JOIN cc) WHERE rn <= 3),
      |qcode AS (SELECT q.q_id, codes.m, codes.code FROM q
      |          JOIN codes ON codes.vec_id = q.q_id),
      |tbl AS (SELECT qcode.q_id, qcode.m, cb2.j,
      |          list_sum(list_transform(range(1, 9),
      |            i -> (cbq.g[8*qcode.m + i] - cb2.g[8*qcode.m + i])
      |               * (cbq.g[8*qcode.m + i] - cb2.g[8*qcode.m + i]))) AS d2
      |        FROM qcode
      |        JOIN cb cbq ON cbq.j = qcode.code
      |        CROSS JOIN cb cb2),
      |qd AS (SELECT t.q_id, codes.vec_id, cells.cell,
      |              CAST(sum(t.d2) AS BIGINT) AS dist
      |       FROM codes
      |       JOIN cells ON cells.vec_id = codes.vec_id
      |       JOIN qprobe ON qprobe.cell = cells.cell
      |       JOIN tbl t ON t.q_id = qprobe.q_id AND t.m = codes.m
      |                 AND t.j = codes.code
      |       WHERE codes.vec_id <> t.q_id
      |       GROUP BY t.q_id, codes.vec_id, cells.cell)
      |SELECT q_id, CAST(rk AS INT) AS rk, vec_id, CAST(cell AS INT) AS cell,
      |       dist FROM (
      |  SELECT q_id, vec_id, cell, dist,
      |         row_number() OVER (PARTITION BY q_id
      |                            ORDER BY dist, vec_id) AS rk
      |  FROM qd) WHERE rk <= 5
      |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    Pq.ivfpqTopK(Tables(s, dir, "embeddings"), nCells = 8, nProbe = 3,
      m = 8, dimsPer = 8, nCodebook = 8, nQueries = 3, k = 5)
      .orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q190
  // Model-based quality gate (llm/QualityClassifier — the CCNet/FineWeb
  // tier above q174's rules and q83/q108's LM proxies: production
  // pipelines run a TRAINED classifier after the hard rules; the model
  // fits offline and ships as a frozen weight vector applied row-
  // locally, and that inference pass is this operator). Weights are
  // PINNED integers (q42a discipline; QualityClassifierSpec's seeded
  // MLlib logistic fit demonstrates the train side recovers the gate),
  // features are per-mille integer divisions of the certified Gopher
  // counts — so feature → score → verdict replays in SQL as CASE
  // arithmetic with no float anywhere. Five fixture classes: good
  // prose (keeps), tiny text, symbol spam, bullet-list boilerplate,
  // numeric no-alpha (all drop), count-scaled by k = 1 + doc_id % 3.
  // Row-local single pass, no shuffle.
  val q190 = Q(
    "q190_quality_classifier",
    """WITH c AS (
      |  SELECT doc_id, CAST(doc_id % 5 AS INT) AS cls, 1 + doc_id % 3 AS k
      |  FROM documents
      |), n AS (
      |  SELECT doc_id,
      |    CASE cls WHEN 0 THEN 64*k WHEN 1 THEN 5 WHEN 2 THEN 70*k
      |             WHEN 3 THEN 118 ELSE 60*k END AS n_words,
      |    CASE cls WHEN 0 THEN 240*k WHEN 1 THEN 16 WHEN 2 THEN 200*k
      |             WHEN 3 THEN 397 ELSE 180*k END AS sum_word_len,
      |    CAST(CASE cls WHEN 3 THEN 19 ELSE 1 END AS BIGINT) AS n_lines,
      |    CAST(CASE cls WHEN 3 THEN 18 ELSE 0 END AS BIGINT) AS n_bullet_lines,
      |    CASE cls WHEN 2 THEN 40*k ELSE 0 END AS n_symbols,
      |    CASE cls WHEN 0 THEN 64*k WHEN 1 THEN 5 WHEN 2 THEN 50*k
      |             WHEN 3 THEN 100 ELSE 0 END AS n_alpha_words,
      |    CAST(CASE cls WHEN 3 THEN 6 WHEN 4 THEN 0 ELSE 3 END AS BIGINT)
      |      AS stop_cnt
      |  FROM c
      |), f AS (
      |  SELECT doc_id, least(n_words, 100) AS f_wc,
      |    CASE WHEN n_words > 0 THEN 1000*n_alpha_words//n_words
      |         ELSE 0 END AS alpha_pm,
      |    stop_cnt,
      |    CASE WHEN n_words > 0 THEN least(10*sum_word_len//n_words, 100)
      |         ELSE 0 END AS meanlen_x10,
      |    CASE WHEN n_words > 0 THEN 1000*n_symbols//n_words
      |         ELSE 0 END AS symbol_pm,
      |    CASE WHEN n_lines > 0 THEN 1000*n_bullet_lines//n_lines
      |         ELSE 0 END AS bullet_pm
      |  FROM n
      |)
      |SELECT doc_id, f_wc, alpha_pm, stop_cnt, meanlen_x10, symbol_pm,
      |  bullet_pm,
      |  3*f_wc + 2*alpha_pm + 100*stop_cnt + 4*meanlen_x10
      |    - 3*symbol_pm - 2*bullet_pm AS score,
      |  (3*f_wc + 2*alpha_pm + 100*stop_cnt + 4*meanlen_x10
      |    - 3*symbol_pm - 2*bullet_pm >= 2500) AS keep
      |FROM f ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val docs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val k = (1 + id % 3).toInt
      val text = (id % 5) match {
        case 0 => "the solid value of good text and more " * (8 * k)
        case 1 => "the of and tiny text"
        case 2 => "the code of and note ## ## " * (10 * k)
        case 3 =>
          (1 to 18).map(_ => "- the solid item of value").mkString("\n") +
            "\nthe end and of with have that solid words more"
        case _ => "1234 5678 90 12 " * (15 * k)
      }
      (id, text)
    }
    QualityClassifier.scoreAll(docs).toDF().orderBy("doc_id")
  }

  /** q191's sample assembly, shared with `ScaleStress --samples` so the
    * harness times the operator the query runs: real decoded frames
    * (q138's sampler: container walk + frame seek) and parsed subtitles,
    * aligned, rendered and packed; one row per doc joined with its chunk. */
  private[graft] def multimodalSamples(blobs: Dataset[Multimodal.Blob],
      srts: Dataset[(Long, String)]): DataFrame = {
    val frames = Multimodal.videoFrames(blobs, stride = 2)
      .toDF().select(col("doc_id"), col("frame_idx"),
        col("ts_us"), (col("sum_r") + col("sum_g") + col("sum_b")).as("rgb"))
    val subs = Srt.parseAll(srts).toDF()
      .select(col("doc_id"), col("start_us"), col("text").as("sub_text"))
    // transcripts-to-frames alignment (q143's engine)
    val aligned = graft.operators.AsOf.join(frames, subs,
        key = "doc_id", leftTs = "ts_us", rightTs = "start_us",
        payload = Seq("sub_text"))
      .withColumn("item", concat(lit("<|frame|>"), col("asof_sub_text")))
    // per-doc interleaved chat render + assistant span (q182's template)
    val samples = aligned.groupBy("doc_id").agg(
        count(lit(1)).cast("int").as("n_frames"),
        sum(col("rgb")).as("rgb_sum"),
        array_join(transform(
          sort_array(collect_list(struct(col("frame_idx"), col("item")))),
          x => x.getField("item")), " ").as("u"))
      .withColumn("render", concat(
        lit("<|im_start|>user\n"), col("u"),
        lit("<|im_end|>\n<|im_start|>assistant\nCaption for doc "),
        col("doc_id"),
        lit("<|im_end|>\n")))
      .withColumn("a_start", (length(col("u")) + lit(51)).cast("long"))
      .withColumn("a_len",
        (lit(16) + length(col("doc_id").cast("string"))).cast("long"))
      // the span, extracted from the engine's OWN render — the oracle's
      // independent content column certifies the offsets (q182's move)
      .withColumn("content", expr("substring(render, a_start, a_len)"))
      // eager materialization before the fan-out: packChunks and the
      // join-back both read the assembled samples, and without this the
      // whole decode → as-of → render pipeline executes TWICE (one row
      // per doc here — tiny next to the decode it saves; blocks self-
      // release via ContextCleaner, the Ivf.fit convention)
      .localCheckpoint(true)
    // token-budget packing through the certified operator (q66); its
    // 4-column output broadcast-joins back onto the samples
    val packed = CorpusPrep.packChunks(
      samples.select(col("doc_id"), col("render").as("text")),
      budgetTokens = 32, shards = 8)
    samples.join(packed, "doc_id")
  }

  // ---------------------------------------------------------------- q191
  // Multimodal training-sample assembly (the q177/q149 composed-pipeline
  // treatment for the MULTIMODAL plane): real AVI frame decode with
  // stride sampling (q138's engine) → real .srt subtitle parse (q144's
  // wire format) → frames-to-transcript as-of alignment (q143's AsOf
  // join, one doc_id shuffle) → per-doc interleaved chat render with
  // the assistant-span offsets a trainer masks loss against (q182's
  // template; the engine EXTRACTS the span from its own render while
  // the oracle derives content independently) → token-budget packing
  // through the certified CorpusPrep.packChunks (q66). One oracle hash
  // certifies decoder pixel sums, cue timing, as-of boundary semantics,
  // template offsets, whitespace token counts, and chunk assignment
  // TOGETHER. The oracle states n_tokens in closed form (n_frames + 7:
  // header + fused frame items + assistant header + 4 caption tokens +
  // the trailing-newline empty segment — trim() is SPACE-only in both
  // engines, so a '\n'-terminated render splits into one trailing empty
  // token; the closed form states the shared convention) while the
  // engine genuinely tokenizes its render. Plan shape:
  // decode/parse row-local; the as-of window and the per-doc
  // aggregation share the doc_id partitioning; packing adds the shard
  // window; the packChunks join is co-partitioned on doc_id.
  val q191 = Q(
    "q191_multimodal_sample",
    """WITH d AS (SELECT doc_id, 8 + doc_id % 8 AS w, 4 + doc_id % 4 AS h,
      |                  33000 + (doc_id % 5) * 1000 AS upf,
      |                  2 + doc_id % 3 AS nf,
      |                  (45 + 5 * (doc_id % 5)) * 1000 AS sw
      |           FROM documents),
      |f AS (SELECT doc_id, w, h, upf, sw, unnest(range(nf)) AS fi FROM d),
      |fs AS (SELECT * FROM f WHERE fi % 2 = 0),
      |p AS (SELECT doc_id, w, fi, unnest(range(w*h)) AS i FROM fs),
      |pix AS (SELECT doc_id,
      |          ((i % w) * 7 + (i // w) * 3 + doc_id + 11 * fi) % 256
      |        + ((i % w) * 5 + (i // w) * 11 + 2 * doc_id + 7 * fi) % 256
      |        + ((i % w) * 13 + (i // w) + 3 * doc_id + 5 * fi) % 256 AS v
      |        FROM p),
      |rgb AS (SELECT doc_id, CAST(sum(v) AS BIGINT) AS rgb_sum
      |        FROM pix GROUP BY doc_id),
      |items AS (SELECT doc_id, fi,
      |            '<|frame|>sub' || doc_id || '_' ||
      |              CAST((fi * upf) // sw AS VARCHAR) AS item
      |          FROM fs),
      |uc AS (SELECT doc_id, string_agg(item, ' ' ORDER BY fi) AS u,
      |              CAST(count(*) AS INT) AS n_frames
      |       FROM items GROUP BY doc_id),
      |r AS (SELECT doc_id, n_frames, u,
      |        '<|im_start|>user' || chr(10) || u ||
      |        '<|im_end|>' || chr(10) || '<|im_start|>assistant' || chr(10)
      |        || 'Caption for doc ' || doc_id || '<|im_end|>' || chr(10)
      |          AS render
      |      FROM uc),
      |t AS (SELECT doc_id, n_frames, render,
      |        CAST(length(u) + 51 AS BIGINT) AS a_start,
      |        CAST(16 + length(CAST(doc_id AS VARCHAR)) AS BIGINT) AS a_len,
      |        'Caption for doc ' || doc_id AS content,
      |        CAST(n_frames + 7 AS BIGINT) AS n_tokens,
      |        CAST(doc_id % 8 AS INT) AS shard
      |      FROM r)
      |SELECT doc_id, n_frames, rgb.rgb_sum, render, a_start, a_len,
      |       content, n_tokens, shard,
      |       CAST(floor(coalesce(sum(n_tokens) OVER (
      |              PARTITION BY shard ORDER BY doc_id
      |              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |            / 32) AS BIGINT) AS chunk
      |FROM t JOIN rgb USING (doc_id)
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    // real subtitle track over the q144 wire format (cue step in ms so
    // SRT's HH:MM:SS,mmm resolution is exact)
    val srts = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val stepMs = 45 + 5 * (id % 5)
      (id, Srt.encode(Seq.tabulate(4) { i =>
        (i * stepMs, i * stepMs + 30, s"sub${id}_$i")
      }))
    }
    multimodalSamples(aviFixture(s, dir), srts)
      .select("doc_id", "n_frames", "rgb_sum", "render", "a_start",
        "a_len", "content", "n_tokens", "shard", "chunk")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q192
  // ASR training-segment assembly (q191's AUDIO twin — the speech-corpus
  // prep shape: an ASR/audio-LM pipeline decodes audio, VAD-splits it
  // into utterances, and aligns each utterance to the transcript cue
  // covering its start time): real WAV encode/decode + in-pass VAD run
  // detection (q179's engine, no frame explode) → real .srt transcript
  // parse (q144's wire format) → utterance-to-cue as-of alignment
  // (q143's AsOf.join, one doc_id shuffle). Segment start_us is frame
  // arithmetic (frameLen 64 @ 8 kHz = 8 000 µs/frame); late utterances
  // start past the last cue, so the as-of CLAMP to the final cue is
  // exercised (oracle: least(start_us // sw, 3)). One hash certifies
  // PCM energy sums, framing, run detection, cue timing, and boundary
  // semantics together. Row-local decode, one as-of shuffle.
  val q192 = Q(
    "q192_asr_segments",
    """WITH d AS (SELECT doc_id, 6 + (doc_id % 3) * 2 AS nb,
      |                  (45 + 5 * (doc_id % 5)) * 1000 AS sw
      |           FROM documents),
      |s AS (SELECT doc_id, sw, unnest(range(nb // 2)) AS k FROM d)
      |SELECT doc_id, CAST(k AS INT) AS seg,
      |  CAST(8*k + 4 AS INT) AS start_frame,
      |  CAST(8*k + 7 AS INT) AS end_frame,
      |  CAST(4294967296 AS BIGINT) AS energy_sum,
      |  CAST((8*k + 4) * 8000 AS BIGINT) AS start_us,
      |  'sub' || doc_id || '_' ||
      |    CAST(least(((8*k + 4) * 8000) // sw, 3) AS VARCHAR) AS label
      |FROM s ORDER BY doc_id, seg""".stripMargin) { (s, dir) =>
    import s.implicits._
    // real audio: alternating quiet/loud 256-sample blocks (q179's
    // synthesis — amplitudes exact so energies are exact integers)
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val nb = (6 + (id % 3) * 2).toInt
      val samples = Array.tabulate[Short](nb * 256) { i =>
        val a = if ((i / 256) % 2 == 0) 64 else 4096
        (if (i % 2 == 0) a else -a).toShort
      }
      Multimodal.Blob(id, Wav.encodePcm16(8000, samples))
    }
    val segs = Vad.segmentsAll(blobs, frameLen = 64, threshold = 10000000L)
      .toDF()
      .withColumn("start_us", col("start_frame").cast("long") * 8000L)
      .select("doc_id", "seg", "start_frame", "end_frame", "energy_sum",
        "start_us")
    // real transcript track (q191's srt fixture: ms-exact cue steps)
    val srts = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val stepMs = 45 + 5 * (id % 5)
      (id, Srt.encode(Seq.tabulate(4) { i =>
        (i * stepMs, i * stepMs + 30, s"sub${id}_$i")
      }))
    }
    val cues = Srt.parseAll(srts).toDF()
      .select(col("doc_id"), col("start_us").as("cue_us"),
        col("text").as("label"))
    graft.operators.AsOf.join(segs, cues,
        key = "doc_id", leftTs = "start_us", rightTs = "cue_us",
        payload = Seq("label"))
      .select(col("doc_id"), col("seg"), col("start_frame"),
        col("end_frame"), col("energy_sum"), col("start_us"),
        col("asof_label").as("label"))
      .orderBy("doc_id", "seg")
  }

  // ---------------------------------------------------------------- q193
  // BPE decode round-trip (Bpe.decodeIds — the tokenizer loop CLOSED:
  // learn q79, encode q80, ids q95, and now detokenize; a vocab/merge
  // mismatch between encode and decode corrupts text silently, so the
  // identity decode(encode(t)) == whitespace-stripped t gets its own
  // hash gate). The engine runs the REAL pipeline — vocab build, merge
  // encode, id mapping, then ids → symbols → string through the
  // alphabet-sized map literal — while the oracle states the identity
  // as pure string arithmetic; this BPE carries no word-boundary
  // marker, so exactly the inter-word whitespace is non-recoverable BY
  // DESIGN and the identity is against the stripped text. Decode is
  // row-local codegen (no join, no shuffle); encode pays q95's passes.
  val q193 = Q(
    "q193_bpe_roundtrip",
    """SELECT doc_id,
      |  regexp_replace(trim(coalesce(text, '')), '\s+', '', 'g') AS decoded
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val v = Bpe.vocab(docs, q95Merges)
    Bpe.decodeIds(Bpe.encodeCorpusIds(docs, q95Merges, v), v)
      .select(col("doc_id"), col("decoded"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q194
  // Dedup survivor selection (the KEEP-ONE policy over q62's clusters —
  // the step every production dedup actually ends with: connected
  // near-dup components say WHICH docs duplicate each other, and the
  // pipeline must then pick ONE canonical representative per cluster
  // and drop the rest; SlimPajama/FineWeb keep the longest member, ties
  // by stable id, and an unstable pick makes reruns non-reproducible).
  // Composes the certified component engine (Components.connected over
  // the 3-gram Jaccard pairs) with the policy: survivor = max n_words,
  // tie → lowest doc_id, expressed as one struct-min window over the
  // component key (no extra shuffle beyond the component grouping).
  // The oracle replays clusters via the recursive CTE and the policy as
  // a window rank.
  val q194 = Q(
    "q194_dedup_survivors",
    s"""$componentCteSql,
      |n AS (SELECT doc_id, len(string_split_regex(trim(text), '\\s+')) AS n_words
      |      FROM documents WHERE doc_id < 1000),
      |m AS (SELECT comp.id AS doc_id, comp.component, n.n_words
      |      FROM comp JOIN n ON n.doc_id = comp.id),
      |sv AS (SELECT component, doc_id AS survivor_id FROM (
      |         SELECT component, doc_id,
      |                row_number() OVER (PARTITION BY component
      |                                   ORDER BY n_words DESC, doc_id) AS rn
      |         FROM m) WHERE rn = 1)
      |SELECT m.doc_id, m.component, CAST(m.n_words AS BIGINT) AS n_words,
      |       sv.survivor_id, (m.doc_id = sv.survivor_id) AS kept
      |FROM m JOIN sv USING (component) ORDER BY m.doc_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val comp = Components.connected(dupPairs(s, dir), "doc_a", "doc_b")
      .withColumnRenamed("id", "doc_id")
    val words = Tables(s, dir, "documents").filter(col("doc_id") < 1000)
      .select(col("doc_id"), TextAnalysis.tokenCount(col("text")).as("n_words"))
    val w = Window.partitionBy("component")
    comp.join(words, "doc_id")
      .withColumn("sv", min(struct((-col("n_words")).as("neg"),
        col("doc_id").as("id"))).over(w))
      .select(col("doc_id"), col("component"), col("n_words"),
        col("sv.id").as("survivor_id"),
        (col("doc_id") === col("sv.id")).as("kept"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q195
  // Interleaved image-text sample assembly (the MMC4/OBELICS shape —
  // image-text pretraining interleaves decoded images INTO the document
  // at their source positions, and both the image identity and the
  // insertion arithmetic must be exact or samples silently misalign):
  // real sentence segmentation (q185's engine over a rule-forcing
  // fixture) + real BMP decode → dHash (q132's engine and its
  // oracle-certified integer pooling), interleaved at a per-doc
  // position (doc_id % 4, covering before-first through after-last).
  // Sentinels, not NULLs: image rows carry content='' and text rows
  // dhash=0 — the kind column disambiguates and the hash compare stays
  // total. Both streams are row-local; the interleave is a UNION with
  // arithmetic seq assignment — ZERO shuffle beyond the presentation
  // sort.
  val q195 = Q(
    "q195_interleaved_sample",
    DhashOracleCte +
      """,
        |sents AS (
        |  SELECT doc_id, i,
        |    CASE i WHEN 0 THEN 'First part of doc ' || doc_id || '.'
        |           WHEN 1 THEN 'Second part of doc ' || doc_id || '!'
        |           ELSE 'Third part of doc ' || doc_id || '.' END AS sentence
        |  FROM (SELECT doc_id, unnest(range(3)) AS i FROM documents)),
        |rows_ AS (
        |  SELECT doc_id,
        |         CAST(i + CASE WHEN i >= doc_id % 4 THEN 1 ELSE 0 END AS INT)
        |           AS seq,
        |         'text' AS kind, sentence AS content,
        |         CAST(0 AS BIGINT) AS dhash_hi, CAST(0 AS BIGINT) AS dhash_lo
        |  FROM sents
        |  UNION ALL
        |  SELECT doc_id, CAST(doc_id % 4 AS INT), 'image', '',
        |         dhash_hi, dhash_lo
        |  FROM hsh)
        |SELECT doc_id, seq, kind, content, dhash_hi, dhash_lo
        |FROM rows_ ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val texts = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .map(id => (id,
        s"First part of doc $id. Second part of doc $id! Third part of doc $id."))
    val textRows = Sentences.splitAll(texts).toDF()
      .select(col("doc_id"),
        (col("idx") + when(col("idx") >= pmod(col("doc_id"), lit(4L)), 1)
          .otherwise(0)).cast("int").as("seq"),
        lit("text").as("kind"), col("sentence").as("content"),
        lit(0L).as("dhash_hi"), lit(0L).as("dhash_lo"))
    val imgRows = ImageHash.dHash(dhashFixture(s, dir)).toDF()
      .select(col("doc_id"),
        pmod(col("doc_id"), lit(4L)).cast("int").as("seq"),
        lit("image").as("kind"), lit("").as("content"),
        col("dhash_hi"), col("dhash_lo"))
    textRows.unionByName(imgRows).orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q196
  // Registrable-domain extraction (Url.registrableDomain — eTLD+1, the
  // grouping key the domain-level operations actually want: domain
  // mixing q74, leakage-safe splits q122, and host dedup must group
  // "www.blog.x.co.uk" with "x.co.uk", and grouping on the raw host
  // silently splits them). The PSL algorithm over a PINNED suffix
  // subset (the real list is a moving external resource; the q42a
  // discipline pins a snapshot): longest-suffix wins (co.uk beats uk),
  // registrable = suffix + ONE label, suffix-only hosts and IPv4
  // literals have none, unlisted TLDs follow the PSL "*" default. Six
  // fixture classes force each rule; oracle re-derives every verdict as
  // CASE constants. Row-local, no shuffle.
  val q196 = Q(
    "q196_registrable_domain",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN 'www.blog.doc' || doc_id || '.co.uk'
      |    WHEN 1 THEN 'a.b.doc' || doc_id || '.com'
      |    WHEN 2 THEN 'doc' || doc_id || '.com'
      |    WHEN 3 THEN 'co.uk'
      |    WHEN 4 THEN '10.0.0.' || CAST(doc_id % 256 AS VARCHAR)
      |    ELSE 'x.doc' || doc_id || '.zzz' END AS host,
      |  CASE CAST(doc_id % 6 AS INT)
      |    WHEN 0 THEN 'doc' || doc_id || '.co.uk'
      |    WHEN 1 THEN 'doc' || doc_id || '.com'
      |    WHEN 2 THEN 'doc' || doc_id || '.com'
      |    WHEN 3 THEN '' WHEN 4 THEN ''
      |    ELSE 'doc' || doc_id || '.zzz' END AS domain,
      |  (doc_id % 6 NOT IN (3, 4)) AS valid
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val host = (id % 6) match {
        case 0 => s"www.blog.doc$id.co.uk"
        case 1 => s"a.b.doc$id.com"
        case 2 => s"doc$id.com"
        case 3 => "co.uk"
        case 4 => s"10.0.0.${id % 256}"
        case _ => s"x.doc$id.zzz"
      }
      val d = Url.registrableDomain(host)
      (id, host, d.getOrElse(""), d.isDefined)
    }.toDF("doc_id", "host", "domain", "valid").orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q197
  // Decode-health audit (the OPS dashboard over the decoder tier: every
  // format module quarantines corrupt input instead of throwing — the
  // audit-not-drop contract — and at 100 TB an operator WATCHES the
  // quarantine rate per format, because a rate step-change is how a
  // partner's export break or a crawler bug first shows up). Fixture
  // mixes real builds (WAV/BMP/PDF/ZIP/TAR via the same builders the
  // format oracles certified) with garbage payloads on every 3rd doc;
  // the engine decodes each blob through its format's parser and
  // aggregates valid/quarantined per format, the oracle re-derives the
  // counts from the class arithmetic — a hash match certifies that
  // corrupt inputs land in the quarantine COUNT, not in silence or a
  // crash. Row-local decode, one aggregation exchange.
  val q197 = Q(
    "q197_decode_health",
    """WITH d AS (SELECT doc_id,
      |             CASE CAST(doc_id % 5 AS INT)
      |               WHEN 0 THEN 'wav' WHEN 1 THEN 'bmp' WHEN 2 THEN 'pdf'
      |               WHEN 3 THEN 'zip' ELSE 'tar' END AS fmt,
      |             (doc_id % 3 = 0) AS corrupt
      |           FROM documents)
      |SELECT fmt, count(*) AS n_docs,
      |       CAST(sum(CASE WHEN corrupt THEN 0 ELSE 1 END) AS BIGINT)
      |         AS n_valid,
      |       CAST(sum(CASE WHEN corrupt THEN 1 ELSE 0 END) AS BIGINT)
      |         AS n_quarantined
      |FROM d GROUP BY fmt ORDER BY fmt""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val fmt = (id % 5) match {
        case 0 => "wav"
        case 1 => "bmp"
        case 2 => "pdf"
        case 3 => "zip"
        case _ => "tar"
      }
      val bytes: Array[Byte] =
        if (id % 3 == 0) s"garbage payload, not a $fmt, doc $id".getBytes("UTF-8")
        else fmt match {
          case "wav" => Wav.encodePcm16(8000, Array.tabulate[Short](64)(i => i.toShort))
          case "bmp" => Bmp.encode24(4, 3, Array.tabulate(12)(i => i * 7))
          case "pdf" => Pdf.build(Seq(s"BT (doc $id) Tj ET"), flate = true)
          case "zip" => Zip.build(Seq((s"m$id.txt", s"member $id".getBytes("UTF-8"), false)))
          case _     => Tar.build(Seq((s"m$id.txt", s"member $id".getBytes("UTF-8"), '0')))
        }
      val ok = fmt match {
        case "wav" => Wav.decode(bytes).isDefined
        case "bmp" => Bmp.decode(bytes).isDefined
        case "pdf" => Pdf.decode(bytes).isDefined
        case "zip" => Zip.decode(bytes).isDefined
        case _     => Tar.decode(bytes).isDefined
      }
      (fmt, ok)
    }.toDF("fmt", "ok")
      .groupBy("fmt")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_valid"),
        sum(when(col("ok"), 0L).otherwise(1L)).as("n_quarantined"))
      .orderBy("fmt")
  }

  // ---------------------------------------------------------------- q198
  // REAL compressed-audio-sample decode (llm/Adpcm — IMA/DVI ADPCM, WAV
  // format tag 0x0011: telephony and game audio, 4 bits/sample against
  // the published 89-entry step table). This MOVES the repo's
  // compressed-SAMPLE boundary: MP3/H.264 stay stubbed because
  // perceptual codecs genuinely need native libs, but IMA is a pure
  // integer state machine — so the oracle replays the DECODER ITSELF as
  // a recursive CTE (step table as an unnest, per-nibble diff/clamp/
  // index-adjust as CASE arithmetic) and the hash certifies every
  // decoded sample of every doc. The fixture drives nibbles from a
  // direct formula (not the encoder, so engine-side pack/unpack bugs
  // can't cancel — the golden-bytes AdpcmSpec pins the wire layout
  // separately) with per-doc header predictor/index and varying length.
  // Row-local decode, no shuffle.
  val q198 = Q(
    "q198_adpcm_decode",
    """WITH RECURSIVE
      |st AS (SELECT unnest(range(89)) AS si, unnest([7,8,9,10,11,12,13,
      |  14,16,17,19,21,23,25,28,31,34,37,41,45,50,55,60,66,73,80,88,97,
      |  107,118,130,143,157,173,190,209,230,253,279,307,337,371,408,449,
      |  494,544,598,658,724,796,876,963,1060,1166,1282,1411,1552,1707,
      |  1878,2066,2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,
      |  5894,6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,
      |  16818,18500,20350,22385,24623,27086,29794,32767]) AS step),
      |d AS (SELECT doc_id,
      |             CAST((doc_id * 37) % 4001 - 2000 AS INT) AS pred0,
      |             CAST(doc_id % 89 AS INT) AS idx0,
      |             CAST(32 + (doc_id % 3) * 8 AS INT) AS nn
      |      FROM documents),
      |r(doc_id, i, pred, idx, nn) AS (
      |  SELECT doc_id, 0, pred0, idx0, nn FROM d
      |  UNION ALL
      |  SELECT r.doc_id, r.i + 1,
      |    CAST(greatest(-32768, least(32767,
      |      r.pred + (CASE WHEN ((r.doc_id + r.i) % 16) & 8 = 8
      |                     THEN -1 ELSE 1 END) *
      |        ((st.step // 8)
      |         + CASE WHEN ((r.doc_id + r.i) % 16) & 4 = 4
      |                THEN st.step ELSE 0 END
      |         + CASE WHEN ((r.doc_id + r.i) % 16) & 2 = 2
      |                THEN st.step // 2 ELSE 0 END
      |         + CASE WHEN ((r.doc_id + r.i) % 16) & 1 = 1
      |                THEN st.step // 4 ELSE 0 END))) AS INT),
      |    CAST(greatest(0, least(88,
      |      r.idx + CASE CAST(((r.doc_id + r.i) % 16) & 7 AS INT)
      |                WHEN 4 THEN 2 WHEN 5 THEN 4 WHEN 6 THEN 6
      |                WHEN 7 THEN 8 ELSE -1 END)) AS INT),
      |    r.nn
      |  FROM r JOIN st ON st.si = r.idx
      |  WHERE r.i < r.nn
      |)
      |SELECT doc_id, CAST(i AS INT) AS i, CAST(pred AS INT) AS sample
      |FROM r ORDER BY doc_id, i""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val pred0 = ((id * 37) % 4001 - 2000).toInt
      val idx0 = (id % 89).toInt
      val nn = (32 + (id % 3) * 8).toInt
      val bytes = new Array[Byte](4 + nn / 2)
      bytes(0) = (pred0 & 0xff).toByte
      bytes(1) = ((pred0 >> 8) & 0xff).toByte
      bytes(2) = idx0.toByte
      var i = 0
      while (i < nn) {
        val n = ((id + i) % 16).toInt
        if ((i & 1) == 0) bytes(4 + (i >> 1)) = (n & 0xf).toByte
        else bytes(4 + (i >> 1)) = (bytes(4 + (i >> 1)) | ((n & 0xf) << 4)).toByte
        i += 1
      }
      Multimodal.Blob(id, bytes)
    }
    Adpcm.decodeAll(blobs).toDF().orderBy("doc_id", "i")
  }

  // ---------------------------------------------------------------- q199
  // REAL compressed-video-sample decode (llm/Rle8 — BI_RLE8, the BMP
  // biCompression=1 / AVI 'mrle' codec: q198's VIDEO sibling on the
  // compressed-sample boundary, a pure integer byte machine where only
  // PERCEPTUAL codecs stay stubbed). The fixture encodes each frame row
  // as two runs — or, on every 3rd doc's TOP row, absolute-mode literal
  // bytes with the word-padding rule — in the format's bottom-up row
  // order with EOL/EOD escapes; byte streams are built from a
  // direct formula (not an encoder, the q198 anti-cancel rule; the
  // delta escape and strict bounds quarantine are golden-byte-pinned in
  // Rle8Spec). The engine decodes and aggregates per image row; the
  // oracle re-derives every row's sum and edge pixels arithmetically —
  // certifying run expansion, absolute mode + padding, bottom-up row
  // mapping, and the escape walk together. Row-local, no shuffle.
  val q199 = Q(
    "q199_rle8_decode",
    """WITH d AS (SELECT doc_id, CAST(8 + doc_id % 8 AS INT) AS w,
      |                  CAST(4 + doc_id % 4 AS INT) AS h
      |           FROM documents),
      |a AS (SELECT doc_id, CAST(sum((doc_id + i) % 256) AS BIGINT) AS asum
      |      FROM (SELECT doc_id, unnest(range(w)) AS i FROM d)
      |      GROUP BY doc_id),
      |r AS (SELECT doc_id, w, unnest(range(h)) AS y FROM d)
      |SELECT r.doc_id, CAST(r.y AS INT) AS y,
      |  CAST(CASE WHEN r.doc_id % 3 = 0 AND r.y = 0 THEN a.asum
      |       ELSE (r.w - 3) * ((r.doc_id + 5*r.y) % 256)
      |            + 3 * ((r.doc_id*3 + r.y) % 256) END AS BIGINT) AS row_sum,
      |  CAST(CASE WHEN r.doc_id % 3 = 0 AND r.y = 0 THEN r.doc_id % 256
      |       ELSE (r.doc_id + 5*r.y) % 256 END AS INT) AS px_first,
      |  CAST(CASE WHEN r.doc_id % 3 = 0 AND r.y = 0
      |       THEN (r.doc_id + r.w - 1) % 256
      |       ELSE (r.doc_id*3 + r.y) % 256 END AS INT) AS px_last
      |FROM r JOIN a USING (doc_id) ORDER BY r.doc_id, y""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val w = (8 + id % 8).toInt
      val h = (4 + id % 4).toInt
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      // rows in the stream are BOTTOM-UP: y_img = h-1 first
      for (yb <- 0 until h) {
        val y = h - 1 - yb // image row this stream row lands on
        if (id % 3 == 0 && y == 0) {
          // absolute mode: w literal bytes + pad to 16-bit boundary
          out += 0x00.toByte += w.toByte
          (0 until w).foreach(i => out += ((id + i) % 256).toByte)
          if ((w & 1) == 1) out += 0x00.toByte
        } else {
          val c = ((id + 5 * y) % 256).toInt
          val c2 = ((id * 3 + y) % 256).toInt
          out += (w - 3).toByte += c.toByte
          out += 3.toByte += c2.toByte
        }
        if (yb < h - 1) { out += 0x00.toByte += 0x00.toByte } // EOL
      }
      out += 0x00.toByte += 0x01.toByte // EOD
      Rle8.decode(out.toArray, w, h) match {
        case Some(px) =>
          (0 until h).iterator.map { y =>
            val rowPx = (0 until w).map(x => px(y * w + x))
            (id, y, rowPx.map(_.toLong).sum, rowPx.head, rowPx.last)
          }
        case None => Iterator.empty // quarantine by omission
      }
    }.toDF("doc_id", "y", "row_sum", "px_first", "px_last")
      .orderBy("doc_id", "y")
  }

  // ---------------------------------------------------------------- q200
  // Avro object-container ingest (llm/AvroIngest — the record format
  // the Hadoop/Beam data-prep era shipped corpora in, read through the
  // Avro core library Spark bundles; the ImageIO precedent: the
  // canonical library does the wire decode, the query certifies the
  // INGEST PLUMBING — schema-driven field access, per-blob record
  // iteration incl. deflate-compressed blocks, and quarantine). Fixture
  // classes: plain containers with 1-3 records, deflate-codec
  // containers on every 4th doc (block decompression), garbage bytes on
  // every 7th doc (must quarantine whole, by omission). The oracle
  // re-derives every surviving record arithmetically. Row-local, no
  // shuffle.
  val q200 = Q(
    "q200_avro_ingest",
    """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS nr
      |           FROM documents WHERE doc_id % 7 <> 0),
      |r AS (SELECT doc_id, unnest(range(nr)) AS j FROM d)
      |SELECT doc_id, CAST(j AS INT) AS seq,
      |  CAST(doc_id * 10 + j AS BIGINT) AS id,
      |  'rec ' || doc_id || '_' || j AS title,
      |  CAST((doc_id + j) % 100 AS INT) AS score
      |FROM r ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val bytes: Array[Byte] =
        if (id % 7 == 0) s"definitely not an avro container $id".getBytes("UTF-8")
        else {
          val schema = new org.apache.avro.Schema.Parser().parse(
            """{"type":"record","name":"Doc","fields":[
              |{"name":"id","type":"long"},
              |{"name":"title","type":"string"},
              |{"name":"score","type":"int"}]}""".stripMargin)
          val out = new java.io.ByteArrayOutputStream()
          val w = new org.apache.avro.file.DataFileWriter(
            new org.apache.avro.generic.GenericDatumWriter[
              org.apache.avro.generic.GenericRecord](schema))
          if (id % 4 == 0)
            w.setCodec(org.apache.avro.file.CodecFactory.deflateCodec(6)): Unit
          w.create(schema, out)
          val nr = (1 + id % 3).toInt
          (0 until nr).foreach { j =>
            val rec = new org.apache.avro.generic.GenericData.Record(schema)
            rec.put("id", id * 10 + j)
            rec.put("title", s"rec ${id}_$j")
            rec.put("score", ((id + j) % 100).toInt)
            w.append(rec)
          }
          w.close()
          out.toByteArray
        }
      Multimodal.Blob(id, bytes)
    }
    AvroIngest.parseAll(blobs).toDF().orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q201
  // G.711 μ-law + A-law decode (llm/G711 — telephony companding, WAV
  // tags 0x0007/0x0006, RTP payloads 0/8): the THIRD compressed-sample
  // codec, and the simplest — stateless byte→sample expansion, so the
  // oracle replays BOTH CCITT expansions as per-byte CASE arithmetic
  // (no recursion needed, unlike q198's ADPCM state machine). One
  // fixture stream certifies both tables; bytes come from a direct
  // formula covering the full 0..255 range across docs (the q198
  // anti-cancel rule: no engine-side encoder that a decode bug could
  // cancel against). Row-local, no shuffle.
  val q201 = Q(
    "q201_g711_decode",
    """WITH d AS (SELECT doc_id, CAST(24 + doc_id % 9 AS INT) AS nn
      |           FROM documents),
      |b AS (SELECT doc_id, unnest(range(nn)) AS i FROM d),
      |x AS (SELECT doc_id, i,
      |             CAST(255 - (doc_id*7 + i*13) % 256 AS INT) AS u,
      |             CAST(xor((doc_id*7 + i*13) % 256, 85) AS INT) AS a
      |      FROM b)
      |SELECT doc_id, CAST(i AS INT) AS i,
      |  CAST(CASE WHEN (u & 128) = 128
      |       THEN 132 - ((((u & 15) << 3) + 132) << ((u >> 4) & 7))
      |       ELSE ((((u & 15) << 3) + 132) << ((u >> 4) & 7)) - 132
      |       END AS INT) AS mu,
      |  CAST((CASE WHEN (a & 128) = 128 THEN 1 ELSE -1 END) *
      |       (CASE WHEN ((a >> 4) & 7) = 0 THEN ((a & 15) << 4) + 8
      |             WHEN ((a >> 4) & 7) = 1 THEN ((a & 15) << 4) + 264
      |             ELSE (((a & 15) << 4) + 264) << (((a >> 4) & 7) - 1)
      |        END) AS INT) AS al
      |FROM x ORDER BY doc_id, i""".stripMargin) { (s, dir) =>
    import s.implicits._
    val blobs = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val nn = (24 + id % 9).toInt
      val bytes = Array.tabulate(nn)(i => (((id * 7 + i * 13) % 256) & 0xff).toByte)
      Multimodal.Blob(id, bytes)
    }
    G711.decodeAll(blobs).toDF().select(
      col("doc_id"), col("i"), col("mu"), col("al"))
      .orderBy("doc_id", "i")
  }

  // ---------------------------------------------------------------- q202
  // CCNet head/middle/tail perplexity bucketing (llm/Ccnet — Wenzek et
  // al. 2020): per LANGUAGE, order docs by LM score (q83's rounded
  // unigram avg-logprob, the certified proxy; doc_id tie-break) and cut
  // at 1/3 and 2/3 of CUMULATIVE CHARS via cross-multiplied integers,
  // assigning each doc by where it STARTS in the sorted prefix — each
  // bucket holds a third of the data, the published curation rule.
  // The missing tier between the rules panel (q174/q175) and the
  // trained gate (q190). One LM aggregate + ONE lang-partitioned window
  // shuffle; per-doc assignment hash-checked.
  val q202 = Q(
    "q202_ccnet_buckets",
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |           FROM documents),
      |tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
      |lm AS (SELECT token, count(*) AS cnt FROM tt GROUP BY token),
      |tot AS (SELECT sum(cnt) AS total FROM lm),
      |s AS (SELECT doc_id, round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS lp
      |      FROM tt JOIN lm USING (token) CROSS JOIN tot
      |      GROUP BY doc_id),
      |d AS (SELECT d.doc_id, d.lang, d.n_chars, s.lp
      |      FROM documents d LEFT JOIN s USING (doc_id)),
      |w AS (SELECT doc_id, lang, n_chars,
      |        sum(n_chars) OVER (PARTITION BY lang
      |          ORDER BY lp DESC NULLS LAST, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(n_chars) OVER (PARTITION BY lang) AS tot_chars
      |      FROM d)
      |SELECT doc_id, lang, CAST(n_chars AS BIGINT) AS n_chars,
      |  CAST(cum AS BIGINT) AS cum_chars,
      |  CASE WHEN 3*(cum - n_chars) < tot_chars THEN 'head'
      |       WHEN 3*(cum - n_chars) < 2*tot_chars THEN 'middle'
      |       ELSE 'tail' END AS bucket
      |FROM w ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Ccnet.buckets(Tables(s, dir, "documents")).orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q203
  // Z-order box query (operators/ZCurve — the QUERY side of the
  // `--zorder` layout curve): morton-interleave two bucketed dims into
  // one sortable key, then answer a 2D box predicate through a BOUNDED
  // set of z-ranges (budget-bounded quadtree descent, Tropf & Herzog's
  // region splitting) plus the exact residual — the predicate shape
  // that row-group-prunes on a z-sorted layout where a plain 2D box
  // cannot. The oracle replays the interleave as 20 bit terms and the
  // plain box predicate: a wrong or lossy z-range decomposition (or a
  // single bad interleave bit) breaks the hash. Row-local + pushed
  // range filters, no shuffle.
  val q203 = Q(
    "q203_zorder_box",
    """WITH d AS (SELECT l_orderkey, l_linenumber,
      |  (l_orderkey * 2654435761) % 1024 AS x,
      |  ((l_orderkey + l_linenumber) * 40503) % 1024 AS y
      |  FROM lineitem)
      |SELECT l_orderkey, l_linenumber, CAST(x AS BIGINT) AS x,
      |  CAST(y AS BIGINT) AS y,
      |  CAST((((x >> 0) & 1) << 0) + (((x >> 1) & 1) << 2)
      |     + (((x >> 2) & 1) << 4) + (((x >> 3) & 1) << 6)
      |     + (((x >> 4) & 1) << 8) + (((x >> 5) & 1) << 10)
      |     + (((x >> 6) & 1) << 12) + (((x >> 7) & 1) << 14)
      |     + (((x >> 8) & 1) << 16) + (((x >> 9) & 1) << 18)
      |     + (((y >> 0) & 1) << 1) + (((y >> 1) & 1) << 3)
      |     + (((y >> 2) & 1) << 5) + (((y >> 3) & 1) << 7)
      |     + (((y >> 4) & 1) << 9) + (((y >> 5) & 1) << 11)
      |     + (((y >> 6) & 1) << 13) + (((y >> 7) & 1) << 15)
      |     + (((y >> 8) & 1) << 17) + (((y >> 9) & 1) << 19) AS BIGINT) AS z
      |FROM d
      |WHERE x BETWEEN 100 AND 400 AND y BETWEEN 200 AND 500
      |ORDER BY l_orderkey, l_linenumber""".stripMargin) { (s, dir) =>
    val df = Tables(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"))
      .withColumn("x", pmod(col("l_orderkey") * lit(2654435761L), lit(1024L)))
      .withColumn("y", pmod((col("l_orderkey") + col("l_linenumber"))
        * lit(40503L), lit(1024L)))
      .withColumn("z", graft.operators.ZCurve.zColumn(s, col("x"), col("y")))
    graft.operators.ZCurve.boxFilter(df, col("x"), col("y"), col("z"),
        100L, 400L, 200L, 500L, bits = 10, budget = 64)
      .orderBy("l_orderkey", "l_linenumber")
  }

  // ---------------------------------------------------------------- q204
  // Schema-evolution scan (B2): a corpus written in GENERATIONS whose
  // schema grew a column — the normal life of a 100 TB table (v1 files
  // never rewritten when v2 adds `lang`). Engine writes both generations
  // (v2 also REORDERS columns, so matching must be by NAME, not
  // position), then one mergeSchema read unions them with nulls where
  // v1 predates the column. DuckDB reads THE SAME staged files via
  // union_by_name, so the cross-engine contract under test is the real
  // parquet evolution semantics, not a same-table derivation (the q49
  // staging pattern: pid-suffixed dir, offBench single-writer).
  // NOT cleaned up on exit, deliberately: the driver's DuckDB compare
  // reads these staged files AFTER the Verify JVM exits (q49's deferred-
  // compare constraint) — a shutdown hook here would break the
  // correctness gate. The pid suffix keeps concurrent runs apart; /tmp
  // is per-host ephemeral.
  private val evoDir =
    s"/tmp/graft_schema_evo_p${ProcessHandle.current().pid()}"
  val q204 = Q.offBench(
    "q204_schema_evolution",
    s"""SELECT doc_id, n_chars, lang
       |FROM read_parquet(['$evoDir/gen1/*.parquet', '$evoDir/gen2/*.parquet'],
       |                  union_by_name=true)
       |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    val base = Tables(s, dir, "documents")
      .select(col("doc_id"), col("n_chars"), col("lang"), col("source"))
    base.filter(col("source") === "web")
      .select("doc_id", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/gen1")
    base.filter(col("source") =!= "web")
      .select("lang", "doc_id", "n_chars") // reordered: name-matching only
      .coalesce(1).write.mode("overwrite").parquet(s"$evoDir/gen2")
    s.read.option("mergeSchema", "true")
      .parquet(s"$evoDir/gen1", s"$evoDir/gen2")
      .select("doc_id", "n_chars", "lang")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q205
  // WordPiece encode (llm/WordPiece — the BERT-family tokenizer,
  // completing the tokenizer matrix next to BPE learn/encode/decode
  // q79/q80/q193): greedy longest-match-first with ## continuations and
  // the all-or-nothing [UNK] rule, over the pinned DemoVocab (every
  // letter but 'q' as start+continuation, plus multi-char pieces — so
  // 'query' → [UNK] exercises the failure rule on real fixture words).
  // The oracle re-derives the greedy walk INDEPENDENTLY: per-position
  // longest matches as a join+max (no recursion needed for "longest"),
  // then the piece chain as a recursive CTE that only advances through
  // best matches — a word whose chain never reaches len(word) is [UNK].
  // Engine tokenizes DISTINCT words once and joins positions back
  // (q80's dictionary-join discipline); the oracle does the same.
  val q205 = Q(
    "q205_wordpiece_encode",
    """WITH RECURSIVE
      |w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      |       FROM documents),
      |words AS (SELECT doc_id, CAST(wi AS INT) AS widx, arr[wi+1] AS word
      |          FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS wi FROM w0)
      |          WHERE arr[wi+1] <> ''),
      |sing AS (SELECT chr(97+CAST(i AS INT)) AS core, false AS cont
      |         FROM (SELECT unnest(range(26)) AS i) WHERE i <> 16
      |         UNION ALL
      |         SELECT chr(97+CAST(i AS INT)), true
      |         FROM (SELECT unnest(range(26)) AS i) WHERE i <> 16),
      |multi(core, cont) AS (VALUES
      |  ('the',false),('join',false),('sort',false),('key',false),
      |  ('fast',false),('mer',false),('sc',false),('col',false),
      |  ('win',false),('or',false),('val',false),('str',false),
      |  ('ge',true),('an',true),('umn',true),('dow',true),('der',true),
      |  ('ue',true),('eam',true),('atch',true),('low',true),('mall',true)),
      |vocab AS (SELECT * FROM sing UNION ALL SELECT * FROM multi),
      |dw AS (SELECT DISTINCT word FROM words WHERE len(word) <= 32),
      |pos AS (SELECT word, unnest(range(len(word))) AS p FROM dw),
      |cand AS (SELECT pos.word, pos.p, len(v.core) AS l
      |         FROM pos JOIN vocab v
      |           ON substr(pos.word, CAST(pos.p+1 AS INT), len(v.core)) = v.core
      |          AND ((pos.p = 0) = (NOT v.cont))),
      |best AS (SELECT word, p, max(l) AS l FROM cand GROUP BY 1, 2),
      |r(word, p, k) AS (
      |  SELECT word, CAST(0 AS BIGINT), 0 FROM dw
      |  UNION ALL
      |  SELECT r.word, r.p + b.l, r.k + 1
      |  FROM r JOIN best b ON b.word = r.word AND b.p = r.p
      |  WHERE r.p < len(r.word)),
      |done AS (SELECT DISTINCT word FROM r WHERE p = len(word)),
      |steps AS (SELECT r.word, r.p, r.k, b.l
      |          FROM r JOIN best b ON b.word = r.word AND b.p = r.p
      |          WHERE r.word IN (SELECT word FROM done)),
      |pieces AS (SELECT word, k,
      |             CASE WHEN p = 0 THEN substr(word, 1, CAST(l AS INT))
      |                  ELSE '##' || substr(word, CAST(p+1 AS INT), CAST(l AS INT))
      |             END AS piece
      |           FROM steps),
      |unk AS (SELECT word, 0 AS k, '[UNK]' AS piece
      |        FROM (SELECT DISTINCT word FROM words)
      |        WHERE word NOT IN (SELECT word FROM done))
      |SELECT w.doc_id, w.widx, CAST(p.k AS INT) AS k, p.piece
      |FROM words w
      |JOIN (SELECT * FROM pieces UNION ALL SELECT * FROM unk) p USING (word)
      |ORDER BY doc_id, widx, k""".stripMargin) { (s, dir) =>
    WordPiece.tokenizeAll(Tables(s, dir, "documents"))
      .orderBy("doc_id", "widx", "k")
  }

  // ---------------------------------------------------------------- q206
  // Span-level decontamination (CorpusPrep.contaminatedSpans — the
  // GPT-3 appendix-C shape one step past q65's doc flag: production
  // pipelines EXCISE the contaminated span and split the doc around it,
  // so the operator reports WHERE the overlap sits). Matched 3-gram
  // start positions merge into maximal spans via gaps-and-islands; the
  // oracle replays positional shingling, the bench join, and the island
  // windowing. Same every-10th-doc bench split as q65. Bench shingles
  // broadcast; ONE doc-keyed window shuffle over match rows only.
  val q206 = Q(
    "q206_decontaminate_spans",
    """WITH d AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS ts
      |           FROM documents),
      |sh AS (SELECT doc_id, i AS pos,
      |              ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] AS shingle
      |       FROM (SELECT doc_id, ts, unnest(range(len(ts)-2)) AS i
      |             FROM d WHERE len(ts) >= 3)),
      |bench AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 10 = 0),
      |hits AS (SELECT doc_id, pos FROM sh
      |         WHERE doc_id % 10 <> 0
      |           AND shingle IN (SELECT shingle FROM bench)),
      |g AS (SELECT doc_id, pos,
      |        CASE WHEN pos > coalesce(lag(pos) OVER (PARTITION BY doc_id
      |               ORDER BY pos), -1000000) + 3 THEN 1 ELSE 0 END AS ns
      |      FROM hits),
      |s AS (SELECT doc_id, pos, sum(ns) OVER (PARTITION BY doc_id
      |        ORDER BY pos ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |        AS span_id
      |      FROM g)
      |SELECT doc_id, CAST(span_id AS INT) AS span_id,
      |  CAST(min(pos) AS INT) AS span_start,
      |  CAST(max(pos) + 2 AS INT) AS span_end,
      |  count(*) AS n_grams
      |FROM s GROUP BY doc_id, span_id
      |ORDER BY doc_id, span_id""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    CorpusPrep.contaminatedSpans(
        train = docs.filter(pmod(col("doc_id"), lit(10L)) =!= 0L),
        bench = docs.filter(pmod(col("doc_id"), lit(10L)) === 0L))
      .orderBy("doc_id", "span_id")
  }

  // ---------------------------------------------------------------- q207
  // Count-Min sketch (functions/CountMin — Cormode & Muthukrishnan
  // 2005): the mergeable POINT-FREQUENCY sketch completing the family
  // next to HLL cardinality (q114) and Misra-Gries heavy hitters
  // (q120). Pinned affine hashes make every cell and estimate
  // integer-exact, so the oracle replays the full sketch: build the
  // depth-4 × width-256 table over events.user_id, probe 20 keys, and
  // emit estimate vs exact count side by side (est ≥ true always; the
  // one-sided error is VISIBLE in the hashed result wherever buckets
  // collide). One hash-aggregate shuffle, cells bounded at depth·width.
  val q207 = Q(
    "q207_countmin_sketch",
    """WITH seeds(j, a, b) AS (VALUES (0, 31, 7), (1, 131, 17),
      |  (2, 1031, 29), (3, 65537, 41)),
      |cells AS (SELECT j, ((a*user_id + b) % 2147483647) % 256 AS bucket,
      |                 count(*) AS cnt
      |          FROM events CROSS JOIN seeds GROUP BY 1, 2),
      |keys AS (SELECT unnest(range(20)) AS u),
      |kb AS (SELECT u, j, ((a*u + b) % 2147483647) % 256 AS bucket
      |       FROM keys CROSS JOIN seeds),
      |est AS (SELECT u, min(coalesce(cnt, 0)) AS est
      |        FROM kb LEFT JOIN cells USING (j, bucket) GROUP BY u),
      |tru AS (SELECT user_id AS u, count(*) AS cnt FROM events GROUP BY 1)
      |SELECT CAST(u AS BIGINT) AS u, est,
      |       coalesce(tru.cnt, 0) AS true_cnt
      |FROM est LEFT JOIN tru USING (u) ORDER BY u""".stripMargin) { (s, dir) =>
    import s.implicits._
    val events = Tables(s, dir, "events")
    val cells = graft.functions.CountMin.table(events, col("user_id"))
    val probe = (0L until 20L).toDF("u")
    val est = graft.functions.CountMin.estimates(cells, probe, "u")
    val tru = events.groupBy(col("user_id").as("u"))
      .agg(count(lit(1)).as("true_cnt"))
    est.join(tru, Seq("u"), "left")
      .select(col("u"), col("est"),
        coalesce(col("true_cnt"), lit(0L)).as("true_cnt"))
      .orderBy("u")
  }

  // ---------------------------------------------------------------- q208
  // Changelog apply / CDC upsert-merge (operators/Upsert — the MERGE
  // INTO / log-compaction shape every mutable 100 TB table lives by):
  // base snapshot at version 0 plus a derived changelog (two update
  // waves, tombstones, and brand-new inserted keys), materialized to
  // the latest non-tombstone state per key via ONE max_by hash
  // aggregate (no window, no sort — map-side combine absorbs hot keys).
  // Money routes through DECIMAL(18,2) per the determinism contract;
  // the oracle replays the union + latest-wins with a window. Expected
  // survivors: %9 keys deleted; %6 keys carry the second update; other
  // %3 keys the first; %11 keys also appear as inserted twins.
  val q208 = Q(
    "q208_upsert_merge",
    """WITH base AS (SELECT o_orderkey AS k,
      |         CAST(o_totalprice AS DECIMAL(18,2)) AS price,
      |         0 AS version, 'U' AS op FROM orders),
      |u1 AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) + 100,
      |              1, 'U' FROM orders WHERE o_orderkey % 3 = 0),
      |u2 AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) + 200,
      |              2, 'U' FROM orders WHERE o_orderkey % 6 = 0),
      |del AS (SELECT o_orderkey, CAST(0 AS DECIMAL(18,2)), 3, 'D'
      |        FROM orders WHERE o_orderkey % 9 = 0),
      |ins AS (SELECT o_orderkey + 1000000000,
      |               CAST(o_totalprice AS DECIMAL(18,2)) + 7, 1, 'U'
      |        FROM orders WHERE o_orderkey % 11 = 0),
      |a AS (SELECT * FROM base UNION ALL SELECT * FROM u1
      |      UNION ALL SELECT * FROM u2 UNION ALL SELECT * FROM del
      |      UNION ALL SELECT * FROM ins),
      |r AS (SELECT *, row_number() OVER (PARTITION BY k
      |        ORDER BY version DESC,
      |                 CASE WHEN op = 'D' THEN 1 ELSE 0 END DESC) AS rn
      |      FROM a)
      |SELECT k, CAST(CAST(price AS VARCHAR) AS DOUBLE) AS price,
      |       CAST(version AS BIGINT) AS version
      |FROM r WHERE rn = 1 AND op <> 'D' ORDER BY k""".stripMargin) { (s, dir) =>
    val o = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        col("o_totalprice").cast("decimal(18,2)").as("price"))
    def wave(pred: org.apache.spark.sql.Column,
        dPrice: org.apache.spark.sql.Column, ver: Long, op: String,
        kExpr: org.apache.spark.sql.Column = col("k")) =
      o.filter(pred).select(kExpr.as("k"), dPrice.as("price"),
        lit(ver).as("version"), lit(op).as("op"))
    val base = o.select(col("k"), col("price"),
      lit(0L).as("version"), lit("U").as("op"))
    val changes =
      wave(col("k") % 3 === 0, col("price") + 100, 1L, "U")
        .unionByName(wave(col("k") % 6 === 0, col("price") + 200, 2L, "U"))
        .unionByName(wave(col("k") % 9 === 0,
          lit(java.math.BigDecimal.ZERO).cast("decimal(18,2)"), 3L, "D"))
        .unionByName(wave(col("k") % 11 === 0, col("price") + 7, 1L, "U",
          kExpr = col("k") + 1000000000L))
    graft.operators.Upsert(base, changes, Seq("k"))
      // decimal arithmetic stays internal; the dumped column goes out as
      // the double of the decimal's STRING (identical parse in both
      // engines — the q49 routing)
      .select(col("k"),
        col("price").cast("decimal(18,2)").cast("string")
          .cast("double").as("price"),
        col("version"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- q209
  // Exact phrase search over a positional inverted index
  // (llm/PhraseSearch — the retrieval operator q142's BM25 bags cannot
  // express: "merge sort" as ADJACENT tokens, not co-occurrence):
  // token-keyed postings (a phrase touches only its own words' lists)
  // with (doc_id, pos+i) adjacency equi-joins, the classic positional-
  // index plan. Three pinned phrases (two bigrams, one trigram); the
  // oracle re-derives positions via the same adjacency self-joins over
  // an independently built positional CTE. Every match position is in
  // the hash.
  val q209 = Q(
    "q209_phrase_search",
    """WITH p AS (SELECT doc_id, CAST(i AS INT) AS pos, arr[i+1] AS token
      |           FROM (SELECT doc_id,
      |                        string_split_regex(trim(text), '\s+') AS arr
      |                 FROM documents) d,
      |                LATERAL (SELECT unnest(range(len(arr))) AS i) g
      |           WHERE arr[i+1] <> ''),
      |m2 AS (SELECT 'merge sort' AS phrase, a.doc_id, a.pos
      |       FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |       WHERE a.token = 'merge' AND b.token = 'sort'),
      |m2b AS (SELECT 'hash join' AS phrase, a.doc_id, a.pos
      |        FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |        WHERE a.token = 'hash' AND b.token = 'join'),
      |m3 AS (SELECT 'the fast key' AS phrase, a.doc_id, a.pos
      |       FROM p a
      |       JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
      |       JOIN p c ON c.doc_id = a.doc_id AND c.pos = a.pos + 2
      |       WHERE a.token = 'the' AND b.token = 'fast' AND c.token = 'key')
      |SELECT phrase, doc_id, pos
      |FROM (SELECT * FROM m2 UNION ALL SELECT * FROM m2b
      |      UNION ALL SELECT * FROM m3)
      |ORDER BY phrase, doc_id, pos""".stripMargin) { (s, dir) =>
    PhraseSearch.search(Tables(s, dir, "documents"), Seq(
        Seq("merge", "sort"), Seq("hash", "join"), Seq("the", "fast", "key")))
      .orderBy("phrase", "doc_id", "pos")
  }

  // ---------------------------------------------------------------- q210
  // TGA decode (llm/Tga — Truevision TGA, the game-texture / scanned-
  // frame format): type 2 uncompressed + type 10 RLE truecolor, 24 bpp
  // BGR, with TGA's packet grammar (1-bit kind + 7-bit count, never
  // crossing a scanline — strictly enforced) and the ORIGIN flag
  // (descriptor bit 5) deciding top-down vs bottom-up row mapping.
  // Fixture alternates type and origin across docs from direct
  // formulas (the anti-cancel rule); engine aggregates per image row,
  // oracle re-derives row sums and edge channels arithmetically —
  // certifying packet expansion, BGR order, origin mirroring, and the
  // header walk together. Row-local, no shuffle.
  val q210 = Q(
    "q210_tga_decode",
    """WITH d AS (SELECT doc_id, CAST(6 + doc_id % 6 AS INT) AS w,
      |                  CAST(3 + doc_id % 3 AS INT) AS h,
      |                  doc_id % 3 = 0 AS rle
      |           FROM documents),
      |r0 AS (SELECT doc_id, w, rle, unnest(range(h)) AS y FROM d),
      |px AS (SELECT doc_id, w, rle, y, unnest(range(w)) AS x FROM r0),
      |rawv AS (SELECT doc_id, w, rle, y, x,
      |           (doc_id + x + y) % 256 + (2*x + y) % 256
      |             + (doc_id + x) % 256 AS s
      |         FROM px),
      |t AS (SELECT doc_id, w, rle, y, sum(s) AS sum_all,
      |             sum(CASE WHEN x >= w - 2 THEN s ELSE 0 END) AS sum_tail
      |      FROM rawv GROUP BY doc_id, w, rle, y)
      |SELECT doc_id, CAST(y AS INT) AS y,
      |  CAST(CASE WHEN rle THEN (w-2) * ((doc_id + 5*y) % 256
      |                + (doc_id*3 + y) % 256 + (doc_id + 7*y) % 256)
      |                + sum_tail
      |       ELSE sum_all END AS BIGINT) AS row_sum,
      |  CAST(CASE WHEN rle THEN (doc_id + 5*y) % 256
      |       ELSE (doc_id + y) % 256 END AS INT) AS r_first,
      |  CAST((doc_id + w - 1) % 256 AS INT) AS b_last
      |FROM t ORDER BY doc_id, y""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val w = (6 + id % 6).toInt
      val h = (3 + id % 3).toInt
      val rle = id % 3 == 0
      val topDown = id % 2 == 0
      def runPx(y: Int) = (((id + 5 * y) % 256).toInt,
        ((id * 3 + y) % 256).toInt, ((id + 7 * y) % 256).toInt)
      def rawPx(x: Int, y: Int) = (((id + x + y) % 256).toInt,
        ((2 * x + y) % 256).toInt, ((id + x) % 256).toInt)
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      out += 0; out += 0; out += (if (rle) 10 else 2).toByte
      out ++= Array.fill[Byte](9)(0)
      out += (w & 0xff).toByte; out += ((w >> 8) & 0xff).toByte
      out += (h & 0xff).toByte; out += ((h >> 8) & 0xff).toByte
      out += 24; out += (if (topDown) 0x20 else 0).toByte
      def put(rgb: (Int, Int, Int)): Unit = {
        out += rgb._3.toByte; out += rgb._2.toByte; out += rgb._1.toByte
      }
      for (sr <- 0 until h) {
        val y = if (topDown) sr else h - 1 - sr
        if (rle) {
          out += (0x80 | (w - 3)).toByte // run of w-2
          put(runPx(y))
          out += 1.toByte // raw packet of 2
          put(rawPx(w - 2, y)); put(rawPx(w - 1, y))
        } else {
          for (x <- 0 until w) put(rawPx(x, y))
        }
      }
      Tga.decode(out.toArray) match {
        case Some(img) =>
          (0 until img.h).iterator.map { y =>
            val row = (0 until img.w).map(x => img.px(y * img.w + x))
            val rowSum = row.map(v =>
              ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)).map(_.toLong).sum
            (id, y, rowSum, (row.head >> 16) & 0xff, row.last & 0xff)
          }
        case None => Iterator.empty // quarantine by omission
      }
    }.toDF("doc_id", "y", "row_sum", "r_first", "b_last")
      .orderBy("doc_id", "y")
  }

  // ---------------------------------------------------------------- q211
  // WebVTT parse (llm/Vtt — SRT's modern sibling, the HTML5/YouTube
  // subtitle default; the grammar differs from SRT everywhere a parser
  // can get it wrong: dot millis, OPTIONAL hours, optional cue ids
  // instead of mandatory indexes, cue settings after the end stamp,
  // NOTE blocks): fixture alternates every variant across cues — with/
  // without hours, with/without id, with/without settings, one- and
  // two-line payloads, plus a NOTE block — and the oracle re-derives
  // each cue's id/stamps/settings/payload arithmetically. Row-local.
  val q211 = Q(
    "q211_vtt_parse",
    """WITH d AS (SELECT doc_id, CAST(2 + doc_id % 3 AS INT) AS nc
      |           FROM documents),
      |c AS (SELECT doc_id, unnest(range(nc)) AS j FROM d),
      |t AS (SELECT doc_id, j,
      |        (doc_id*100 + j*2000) AS sms,
      |        (doc_id*100 + j*2000 + 1500 + (j % 2)*250) AS ems
      |      FROM c)
      |SELECT doc_id, CAST(j AS INT) AS seq,
      |  CASE WHEN j % 2 = 1 THEN 'c' || j ELSE '' END AS cue_id,
      |  CAST(sms*1000 AS BIGINT) AS start_us,
      |  CAST(ems*1000 AS BIGINT) AS end_us,
      |  CASE WHEN j % 3 = 0 THEN 'align:start' ELSE '' END AS settings,
      |  CASE WHEN j % 2 = 0
      |       THEN 'line ' || doc_id || ' ' || j || chr(10) || 'more ' || j
      |       ELSE 'line ' || doc_id || ' ' || j END AS text
      |FROM t ORDER BY doc_id, seq""".stripMargin) { (s, dir) =>
    import s.implicits._
    val vtts = Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val nc = (2 + id % 3).toInt
      def stamp(ms: Long, hours: Boolean): String = {
        // carry minutes into hours past 59 — the no-hours form is only
        // legal under one hour, whatever the style flag says (a larger
        // fixture would otherwise emit '60:00.000' and quarantine
        // engine-side while the arithmetic oracle kept the doc)
        val h = ms / 3600000; val m = (ms / 60000) % 60
        val sec = (ms / 1000) % 60; val f = ms % 1000
        if (hours || h > 0) f"$h%02d:$m%02d:$sec%02d.$f%03d"
        else f"$m%02d:$sec%02d.$f%03d"
      }
      val sb = new StringBuilder("WEBVTT - graft track\n\n")
      sb.append("NOTE synthetic fixture\nsecond note line\n\n")
      for (j <- 0 until nc) {
        val sms = id * 100 + j * 2000
        val ems = sms + 1500 + (j % 2) * 250
        if (j % 2 == 1) sb.append(s"c$j\n")
        sb.append(stamp(sms, hours = j % 2 == 1))
        sb.append(" --> ")
        sb.append(stamp(ems, hours = j % 2 == 1))
        if (j % 3 == 0) sb.append(" align:start")
        sb.append('\n')
        sb.append(s"line $id $j\n")
        if (j % 2 == 0) sb.append(s"more $j\n")
        sb.append('\n')
      }
      (id, sb.toString)
    }
    Vtt.parseAll(vtts).toDF()
      .select(col("doc_id"), col("seq"), col("cue_id"),
        col("start_us"), col("end_us"), col("settings"), col("text"))
      .orderBy("doc_id", "seq")
  }

  // ---------------------------------------------------------------- q212
  // Curriculum training order (Ccnet.curriculum — the composite q202's
  // buckets feed a trainer with): every shard consumes head → middle →
  // tail, deterministically shuffled WITHIN each bucket by q89's
  // multiplicative hash; positions are PER SHARD (a global sequence is
  // a single-partition sort — per-shard offsets are how distributed
  // training consumes data). Composes two certified operators; the
  // oracle replays the q202 bucket derivation + the q89 hash + the
  // shard-partitioned window end-to-end.
  val q212 = Q(
    "q212_curriculum_order",
    """WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\s+')) AS token
      |           FROM documents),
      |tt AS (SELECT doc_id, token FROM t WHERE token <> ''),
      |lm AS (SELECT token, count(*) AS cnt FROM tt GROUP BY token),
      |tot AS (SELECT sum(cnt) AS total FROM lm),
      |s AS (SELECT doc_id, round(avg(ln(CAST(cnt AS DOUBLE) / total)), 4) AS lp
      |      FROM tt JOIN lm USING (token) CROSS JOIN tot
      |      GROUP BY doc_id),
      |d AS (SELECT d.doc_id, d.lang, d.n_chars, s.lp
      |      FROM documents d LEFT JOIN s USING (doc_id)),
      |w AS (SELECT doc_id, lang, n_chars,
      |        sum(n_chars) OVER (PARTITION BY lang
      |          ORDER BY lp DESC NULLS LAST, doc_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(n_chars) OVER (PARTITION BY lang) AS tot_chars
      |      FROM d),
      |b AS (SELECT doc_id, lang,
      |        CASE WHEN 3*(cum - n_chars) < tot_chars THEN 'head'
      |             WHEN 3*(cum - n_chars) < 2*tot_chars THEN 'middle'
      |             ELSE 'tail' END AS bucket
      |      FROM w),
      |h AS (SELECT doc_id, lang, bucket,
      |        (((doc_id % 1000003) * 2654435761) % 999999937) % 1000000 AS hk,
      |        CASE bucket WHEN 'head' THEN 0 WHEN 'middle' THEN 1
      |             ELSE 2 END AS brank
      |      FROM b)
      |SELECT doc_id, lang, bucket, CAST(hk % 8 AS INT) AS shard,
      |  CAST(row_number() OVER (PARTITION BY hk % 8
      |         ORDER BY brank, hk, doc_id) AS INT) AS pos
      |FROM h ORDER BY doc_id""".stripMargin) { (s, dir) =>
    Ccnet.curriculum(Tables(s, dir, "documents"), shards = 8)
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q213
  // Temperature-scaled multilingual sampling (CorpusPrep
  // .temperatureRates — the mT5/XLM-R α-sampling rule, p_l ∝ n_l^α,
  // α = 0.3 pinned): the mixture knob between q74's explicit rates and
  // q202's quality buckets — high-resource languages down-weight,
  // low-resource up-weight (boost = p / share > 1). Rounded 4dp
  // doubles with boundary probes (pow differs by ulps across libm);
  // one languages-sized aggregate + a broadcast-scalar normalizer.
  val q213 = Q(
    "q213_temperature_sampling",
    """WITH l AS (SELECT lang, sum(n_chars) AS n FROM documents GROUP BY lang),
      |t AS (SELECT sum(pow(CAST(n AS DOUBLE), 0.3)) AS z,
      |             sum(n) AS total FROM l)
      |SELECT lang, CAST(n AS BIGINT) AS n_chars,
      |  round(pow(CAST(n AS DOUBLE), 0.3) / z, 4) AS p,
      |  round((pow(CAST(n AS DOUBLE), 0.3) / z)
      |        / (CAST(n AS DOUBLE) / total), 4) AS boost
      |FROM l CROSS JOIN t ORDER BY lang""".stripMargin) { (s, dir) =>
    CorpusPrep.temperatureRates(Tables(s, dir, "documents"), alpha = 0.3)
      .orderBy("lang")
  }

  // ---------------------------------------------------------------- q214
  // Exact triangle counting (operators/Triangles — the third classic
  // graph operator next to PageRank q155 and components q62; per-node
  // triangles / degree is the clustering coefficient, the spam-farm
  // discriminator in web-graph curation). Engine runs the DEGREE-
  // ORIENTED wedge join (Suri & Vassilvitskii 2011: out-degrees
  // bounded O(√m), so a star hub contributes zero wedges — the
  // property TrianglesSpec pins); the oracle is the INDEPENDENT plain
  // 3-way self-join over canonical a<b edges, so orientation bugs
  // cannot cancel. Edge fixture derives a dense 60-node graph from
  // lineitem keys.
  val q214 = Q(
    "q214_triangle_count",
    """WITH e AS (SELECT DISTINCT least(u, v) AS a, greatest(u, v) AS b
      |           FROM (SELECT (l_orderkey*7 + l_linenumber) % 60 AS u,
      |                        (l_orderkey*13 + l_partkey) % 60 AS v
      |                 FROM lineitem)
      |           WHERE u <> v),
      |t AS (SELECT e1.a, e1.b, e2.b AS c
      |      FROM e e1
      |      JOIN e e2 ON e2.a = e1.b
      |      JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b)
      |SELECT node, count(*) AS triangles
      |FROM (SELECT unnest([a, b, c]) AS node FROM t)
      |GROUP BY node ORDER BY node""".stripMargin) { (s, dir) =>
    val raw = Tables(s, dir, "lineitem").select(
      (pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(60L))).as("u"),
      (pmod(col("l_orderkey") * 13 + col("l_partkey"), lit(60L))).as("v"))
    val e = graft.operators.Triangles.canonical(raw, "u", "v")
    graft.operators.Triangles.perNode(e).orderBy("node")
  }

  // ---------------------------------------------------------------- q215
  // Snapshot drift with changed-column attribution (operators/Drift —
  // one step past q113's "which keys changed": WHAT changed, the
  // report a pipeline publishes after rewriting a table and the
  // validation a CDC feed like q208 is checked against). Null-safe
  // comparisons; unchanged keys omitted (the report must be
  // diff-sized, not table-sized). ONE full-outer hash join; the
  // attribution is row-local array arithmetic. The after-snapshot
  // derives from orders with deterministic mutations; the oracle
  // replays join + IS DISTINCT FROM attribution. The final
  // changed_cols column is array_join'd to a plain string — the
  // driver's pandas canonicalization cannot sort ARRAY columns
  // (r14's only red row), same contract as the r6 no-DECIMAL rule;
  // Drift.changedColumns keeps returning the array for programmatic
  // callers. DuckDB quirk: array_to_string([]) is NULL, not '' —
  // coalesce'd so added/removed rows hash like the engine's ''.
  val q215 = Q(
    "q215_snapshot_drift",
    """WITH b AS (SELECT o_orderkey AS k, o_totalprice AS price,
      |                  o_orderstatus AS st FROM orders),
      |a AS (SELECT k,
      |        CASE WHEN k % 7 = 0 THEN price + 10 ELSE price END AS price,
      |        CASE WHEN k % 11 = 0 THEN 'X' ELSE st END AS st
      |      FROM b WHERE k % 13 <> 0
      |      UNION ALL
      |      SELECT k + 2000000000, price, st FROM b WHERE k % 17 = 0),
      |j AS (SELECT coalesce(b.k, a.k) AS k,
      |             b.k IS NOT NULL AS inb, a.k IS NOT NULL AS ina,
      |             b.price AS bp, a.price AS ap, b.st AS bs, a.st AS asx
      |      FROM b FULL OUTER JOIN a ON a.k = b.k),
      |c AS (SELECT k, inb, ina,
      |        CASE WHEN inb AND ina THEN
      |          list_sort(list_filter(
      |            [CASE WHEN bp IS DISTINCT FROM ap THEN 'price' END,
      |             CASE WHEN bs IS DISTINCT FROM asx THEN 'st' END],
      |            x -> x IS NOT NULL))
      |        ELSE CAST([] AS VARCHAR[]) END AS changed_cols
      |      FROM j)
      |SELECT k,
      |  CASE WHEN NOT inb THEN 'added'
      |       WHEN NOT ina THEN 'removed'
      |       ELSE 'changed' END AS status,
      |  coalesce(array_to_string(changed_cols, ','), '') AS changed_cols
      |FROM c
      |WHERE NOT inb OR NOT ina OR len(changed_cols) > 0
      |ORDER BY k""".stripMargin) { (s, dir) =>
    val before = Tables(s, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_totalprice").as("price"),
      col("o_orderstatus").as("st"))
    val after = before.filter(col("k") % 13 =!= 0)
      .select(col("k"),
        when(col("k") % 7 === 0, col("price") + 10)
          .otherwise(col("price")).as("price"),
        when(col("k") % 11 === 0, lit("X")).otherwise(col("st")).as("st"))
      .unionByName(before.filter(col("k") % 17 === 0)
        .select((col("k") + 2000000000L).as("k"), col("price"), col("st")))
    graft.operators.Drift.changedColumns(before, after, "k", Seq("price", "st"))
      .withColumn("changed_cols", array_join(col("changed_cols"), ","))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- q216
  // Ordered funnel depth (operators/Funnel — the product-analytics
  // staple needing SUBSEQUENCE semantics: a purchase before any view
  // must not count; SQL MATCH_RECOGNIZE's most common case, which
  // Spark lacks as a primitive): stage flags are chained cumulative
  // window maxima — stage i fires only where stage i−1 fired strictly
  // before — so a k-stage funnel is ONE user-keyed window shuffle plus
  // one aggregate, not k chained aggregate-join rounds. Total (ts,
  // event_id) ordering makes tied timestamps deterministic. Oracle
  // replays the chained windows in three CTE layers.
  val q216 = Q(
    "q216_funnel_depth",
    """WITH a AS (SELECT user_id, event_type, ts, event_id,
      |        max(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0
      |      FROM events),
      |b AS (SELECT *,
      |        max(CASE WHEN event_type = 'click' AND f0 = 1
      |                 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
      |      FROM a),
      |c AS (SELECT *,
      |        max(CASE WHEN event_type = 'purchase' AND f1 = 1
      |                 THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY ts, event_id
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f2
      |      FROM b)
      |SELECT user_id, count(*) AS n_events,
      |       CAST(max(f0 + f1 + f2) AS INT) AS stage
      |FROM c GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Funnel.depth(Tables(s, dir, "events"),
        "user_id", "event_type", Seq(col("ts"), col("event_id")),
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q217
  // Cohort retention matrix (q216's sibling analytics staple): users
  // cohort by their FIRST active epoch-week, then each (cohort, offset)
  // cell counts distinct users active offset weeks later. Epoch-week
  // integers (µs / 604800e6) keep every value exact — no calendar
  // functions to diverge on. Scale shape: one user-keyed aggregate for
  // cohorts (map-side combine), one distinct-aggregate for cells; both
  // results are cohort-matrix-sized, not event-sized.
  val q217 = Q(
    "q217_cohort_retention",
    """WITH e AS (SELECT user_id,
      |                  CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
      |           FROM events),
      |c AS (SELECT user_id, min(wk) AS cohort FROM e GROUP BY user_id)
      |SELECT c.cohort, CAST(e.wk - c.cohort AS BIGINT) AS offset_wk,
      |       count(DISTINCT e.user_id) AS n_users
      |FROM e JOIN c USING (user_id)
      |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    // `div`, not `/`: Column `/` is double division, and a quotient that
    // lands a hair under an integer boundary would truncate off by one
    val e = Tables(s, dir, "events").select(col("user_id"),
      expr("unix_micros(ts) div 604800000000").as("wk"))
    val c = e.groupBy("user_id").agg(min("wk").as("cohort"))
    e.join(c, Seq("user_id"))
      .groupBy(col("cohort"), (col("wk") - col("cohort")).as("offset_wk"))
      .agg(countDistinct("user_id").as("n_users"))
      .orderBy("cohort", "offset_wk")
  }

  // ---------------------------------------------------------------- q218
  // Event-transition counts (the Markov-chain view of user journeys —
  // funnel q216 asks "did the path happen", this asks "which steps do
  // users actually take"): adjacent event pairs per user in total
  // (ts, event_id) order via ONE lag window, counted per (from, to)
  // with the from-state total alongside — all integers, the
  // probability is the caller's division. One window shuffle + one
  // pair-keyed aggregate.
  val q218 = Q(
    "q218_event_transitions",
    """WITH o AS (SELECT user_id, event_type,
      |        lag(event_type) OVER (PARTITION BY user_id
      |          ORDER BY ts, event_id) AS prev
      |      FROM events),
      |t AS (SELECT prev AS src, event_type AS dst, count(*) AS n
      |      FROM o WHERE prev IS NOT NULL GROUP BY 1, 2),
      |f AS (SELECT src, CAST(sum(n) AS BIGINT) AS n_src FROM t GROUP BY src)
      |SELECT src, dst, n, n_src
      |FROM t JOIN f USING (src) ORDER BY src, dst""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val t = Tables(s, dir, "events")
      .withColumn("prev", lag("event_type", 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("prev").as("src"), col("event_type").as("dst"))
      .agg(count(lit(1)).as("n"))
    val f = t.groupBy("src").agg(sum("n").as("n_src"))
    t.join(f, Seq("src")).select("src", "dst", "n", "n_src")
      .orderBy("src", "dst")
  }

  // ---------------------------------------------------------------- q219
  // Market-basket pair affinity (the relational sibling of q98's token
  // co-occurrence: which item categories sell TOGETHER): per-order
  // distinct categories, within-order pairs (fan-out bounded by basket
  // size, ≤7 lineitems per order), support counts and the lift ratio
  // kept as CROSS-MULTIPLIED INTEGERS (lift > 1 ⟺ n_ab·N > n_a·n_b —
  // no float division near 1.0 to hash); top-50 by support through a
  // rank window over the already-AGGREGATED pair space (category²-
  // bounded, corpus-size-independent — the single-partition window is
  // over ≤1225 rows, not the fact table).
  val q219 = Q(
    "q219_basket_lift",
    """WITH items AS (SELECT DISTINCT l_orderkey AS o, l_partkey % 50 AS it
      |               FROM lineitem),
      |n AS (SELECT count(DISTINCT o) AS n_orders FROM items),
      |cnt AS (SELECT it, count(*) AS n_it FROM items GROUP BY it),
      |pairs AS (SELECT x.it AS a, y.it AS b, count(*) AS n_ab
      |          FROM items x JOIN items y ON y.o = x.o AND x.it < y.it
      |          GROUP BY 1, 2),
      |s AS (SELECT a, b, n_ab,
      |             ca.n_it AS n_a, cb.n_it AS n_b, n.n_orders,
      |             CAST(n_ab * n.n_orders AS BIGINT) AS lift_num,
      |             CAST(ca.n_it * cb.n_it AS BIGINT) AS lift_den
      |      FROM pairs
      |      JOIN cnt ca ON ca.it = pairs.a
      |      JOIN cnt cb ON cb.it = pairs.b
      |      CROSS JOIN n)
      |SELECT a, b, n_ab, n_a, n_b, n_orders,
      |       lift_num, lift_den,
      |       lift_num > lift_den AS lift_gt_1
      |FROM s ORDER BY n_ab DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
    val items = Tables(s, dir, "lineitem")
      .select(col("l_orderkey").as("o"),
        pmod(col("l_partkey"), lit(50L)).as("it"))
      .distinct()
    val n = broadcast(items.agg(countDistinct("o").as("n_orders")))
    val cnt = items.groupBy("it").agg(count(lit(1)).as("n_it"))
    val pairs = items.as("x")
      .join(items.as("y"),
        col("y.o") === col("x.o") && col("x.it") < col("y.it"))
      .groupBy(col("x.it").as("a"), col("y.it").as("b"))
      .agg(count(lit(1)).as("n_ab"))
    val scored = pairs
      .join(cnt.select(col("it").as("a"), col("n_it").as("n_a")), Seq("a"))
      .join(cnt.select(col("it").as("b"), col("n_it").as("n_b")), Seq("b"))
      .crossJoin(n)
      .withColumn("lift_num", col("n_ab") * col("n_orders"))
      .withColumn("lift_den", col("n_a") * col("n_b"))
    // top-k via sort+limit, NOT a global rank window — the registry's
    // scale lint forbids unpartitioned Window operators outright, and
    // TakeOrderedAndProject is the per-partition-heap plan anyway
    scored
      .select(col("a"), col("b"), col("n_ab"), col("n_a"),
        col("n_b"), col("n_orders"), col("lift_num"), col("lift_den"),
        (col("lift_num") > col("lift_den")).as("lift_gt_1"))
      .orderBy(col("n_ab").desc, col("a"), col("b"))
      .limit(50)
  }

  // ---------------------------------------------------------------- q220
  // Funnel conversion latency (Funnel.conversionLatency — q216's
  // follow-up metric: for users who complete the whole funnel IN
  // ORDER, microseconds from the first view to the purchase that
  // CLOSES the funnel — not the first purchase, which may predate the
  // funnel and must not count). Same single window pass; exact integer
  // µs. Oracle replays the chained hit flags and the two min-
  // timestamps.
  val q220 = Q(
    "q220_funnel_latency",
    """WITH a AS (SELECT user_id, event_type, ts, event_id,
      |        CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS h0
      |      FROM events),
      |b AS (SELECT *,
      |        max(h0) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0
      |      FROM a),
      |c AS (SELECT *,
      |        CASE WHEN event_type = 'click' AND f0 = 1 THEN 1 ELSE 0 END AS h1
      |      FROM b),
      |d AS (SELECT *,
      |        max(h1) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1
      |      FROM c),
      |e AS (SELECT *,
      |        CASE WHEN event_type = 'purchase' AND f1 = 1 THEN 1 ELSE 0 END AS h2
      |      FROM d),
      |g AS (SELECT user_id,
      |        min(CASE WHEN h0 = 1 THEN epoch_us(ts) END) AS t0,
      |        min(CASE WHEN h2 = 1 THEN epoch_us(ts) END) AS t1
      |      FROM e GROUP BY user_id)
      |SELECT user_id, CAST(t1 - t0 AS BIGINT) AS convert_us
      |FROM g WHERE t1 IS NOT NULL ORDER BY user_id""".stripMargin) { (s, dir) =>
    graft.operators.Funnel.conversionLatency(Tables(s, dir, "events"),
        "user_id", "event_type", "ts", col("event_id"),
        Seq("view", "click", "purchase"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q221
  // Per-group OLS trend (operators/Regression — "is daily shipped
  // quantity drifting?"): the five sufficient statistics fold in ONE
  // hash aggregate with map-side combine, and slope/intercept emit as
  // EXACT INTEGER FRACTIONS (the q219 cross-multiplication discipline
  // applied to regression — no float division to hash). x is centered
  // on a fixed epoch anchor so n·Σx² keeps ~200× BIGINT headroom at
  // sf0.1; the overflow contract is documented on the operator.
  val q221 = Q(
    "q221_ols_trend",
    """WITH t AS (SELECT l_returnflag AS g,
      |        CAST(date_diff('day', DATE '1995-01-01', l_shipdate) AS BIGINT) AS x,
      |        CAST(l_quantity AS BIGINT) AS y FROM lineitem),
      |s AS (SELECT g, count(*) AS n,
      |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |        CAST(sum(x*x) AS BIGINT) AS sxx, CAST(sum(x*y) AS BIGINT) AS sxy
      |      FROM t GROUP BY g)
      |SELECT g, n, sx, sy, sxx, sxy,
      |       n*sxy - sx*sy AS slope_num,
      |       n*sxx - sx*sx AS slope_den,
      |       sy*sxx - sx*sxy AS icept_num
      |FROM s ORDER BY g""".stripMargin) { (s, dir) =>
    graft.operators.Regression.olsFractions(
        Tables(s, dir, "lineitem"),
        col("l_returnflag"),
        datediff(col("l_shipdate"), lit("1995-01-01")),
        col("l_quantity"))
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q222
  // Sweep-line peak concurrency (operators/SweepLine — "max
  // simultaneous open sessions, and when?"): each event opens a
  // 10-minute half-open interval; ±1 boundary events + one
  // group-partitioned running sum replace the quadratic overlap
  // self-join (q75 answers WHICH intervals overlap; this answers HOW
  // MANY at once). Ordering (t, d) puts closes before opens at tied
  // instants — the half-open contract decided by the sort key.
  val q222 = Q(
    "q222_peak_concurrency",
    """WITH iv AS (SELECT event_type AS g, epoch_us(ts) AS st,
      |                   epoch_us(ts) + 600000000 AS en FROM events),
      |ev AS (SELECT g, st AS t, 1 AS d FROM iv
      |       UNION ALL SELECT g, en, -1 FROM iv),
      |r AS (SELECT g, t,
      |        CAST(sum(d) OVER (PARTITION BY g ORDER BY t, d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS c
      |      FROM ev),
      |p AS (SELECT g, max(c) AS peak FROM r GROUP BY g)
      |SELECT r.g, CAST(min(p.peak) AS BIGINT) AS peak, min(r.t) AS t_peak
      |FROM r JOIN p ON p.g = r.g AND r.c = p.peak
      |GROUP BY r.g ORDER BY r.g""".stripMargin) { (s, dir) =>
    val us = unix_micros(col("ts"))
    graft.operators.SweepLine.peakConcurrency(
        Tables(s, dir, "events"), col("event_type"), us, us + lit(600000000L))
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q223
  // KMV distinct-cardinality sketch (functions/KmvAgg — the DISTINCT
  // sibling of q207's Count-Min point frequency and q120's
  // Misra-Gries top-k): k smallest distinct values of a PINNED affine
  // hash per group, estimate (k−1)·M / R_k; fewer than k distinct →
  // the sketch is exact. Unlike HLL (q08/q114, opaque bit patterns),
  // every kept hash replays in SQL, so the whole estimate is
  // integer-checked. Only k-long buffers shuffle (map-side combine);
  // the exact countDistinct alongside is the A/B denominator.
  val q223 = Q(
    "q223_kmv_distinct",
    """WITH h AS (SELECT DISTINCT lang AS g,
      |        (doc_id*2654435761+101) % 4294967296 AS h FROM documents),
      |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      |      FROM h),
      |s AS (SELECT g, CAST(count(*) AS BIGINT) AS n_exact,
      |             max(CASE WHEN rn = 64 THEN h END) AS kth,
      |             CAST(sum(CASE WHEN rn <= 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      |      FROM r GROUP BY g)
      |SELECT g, n_kept, kth, n_exact,
      |       CAST(CASE WHEN kth IS NULL THEN n_exact
      |            ELSE (63 * 4294967296) // kth END AS BIGINT) AS est
      |FROM s ORDER BY g""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val h = pmod(col("doc_id") * lit(2654435761L) + lit(101L),
      lit(4294967296L))
    Tables(s, dir, "documents")
      .select(col("lang").as("g"), h.as("h"))
      .groupBy("g")
      .agg(expr("kmv_minhashes(h, 64)").as("kmv"),
        countDistinct("h").as("n_exact"))
      .select(col("g"),
        size(col("kmv")).cast("long").as("n_kept"),
        // try_element_at, not element_at: under Spark 4's ANSI default,
        // element_at THROWS on groups with <64 distinct hashes instead of
        // yielding the NULL the exact-count fallback below keys on
        try_element_at(col("kmv"), lit(64)).as("kth"),
        col("n_exact"))
      // `div`, not `/`: the estimate must be exact BIGINT division
      // (the q217 discipline — Column `/` is double division)
      .withColumn("est", when(col("kth").isNull, col("n_exact"))
        .otherwise(expr(s"${63L * 4294967296L}L div kth")))
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q224
  // SCD Type-2 history build (operators/Scd — q215 diffs TWO
  // snapshots; this folds a four-generation stack into per-key
  // validity intervals [gen_from, gen_to), the point-in-time
  // dimension shape). Generations derive from orders with
  // deterministic mutations: status flips once at gen k%4, price
  // steps once at gen 2 — so every key collapses to ≤3 versions.
  // Both windows and the run aggregate are key-partitioned; no
  // snapshot-stack self-join. The oracle replays boundary flags,
  // run ids, and the lead.
  val q224 = Q(
    "q224_scd2_history",
    """WITH snap AS (
      |  SELECT o_orderkey AS k, g.g AS g,
      |         CASE WHEN g.g >= o_orderkey % 4 THEN 'S'
      |              ELSE o_orderstatus END AS st,
      |         o_totalprice + 10 * (g.g // 2) AS price
      |  FROM orders CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(g)),
      |b AS (SELECT *,
      |        CASE WHEN lag(g) OVER w IS NULL
      |               OR st IS DISTINCT FROM lag(st) OVER w
      |               OR price IS DISTINCT FROM lag(price) OVER w
      |             THEN 1 ELSE 0 END AS chg
      |      FROM snap WINDOW w AS (PARTITION BY k ORDER BY g)),
      |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY k ORDER BY g
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      |      FROM b),
      |v AS (SELECT k, run, min(g) AS gen_from,
      |             min(st) AS st, min(price) AS price
      |      FROM r GROUP BY k, run)
      |SELECT k, gen_from,
      |       lead(gen_from) OVER (PARTITION BY k ORDER BY gen_from) AS gen_to,
      |       st, price
      |FROM v ORDER BY k, gen_from""".stripMargin) { (s, dir) =>
    val snaps = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"),
        col("o_totalprice"), explode(array((0 to 3).map(lit): _*)).as("g"))
      .select(col("k"), col("g"),
        when(col("g") >= pmod(col("k"), lit(4L)).cast("int"), lit("S"))
          .otherwise(col("o_orderstatus")).as("st"),
        (col("o_totalprice") + lit(10) * (col("g") / 2).cast("int"))
          .as("price"))
    graft.operators.Scd.type2History(snaps, "k", "g", Seq("st", "price"))
      .orderBy("k", "gen_from")
  }

  // ---------------------------------------------------------------- q225
  // Grid-bucketed radius join (operators/GridJoin — the planar
  // sibling of q68's binned range join): suppliers and customers get
  // deterministic integer coordinates on a [0,10000)² plane; "how
  // many customers within 500 of each supplier, and how near is the
  // nearest?" answers through a cell-width-r grid equi-join with a
  // fixed 9× probe fan-out — no cartesian pair scan (the oracle IS
  // the brute pair scan, feasible only at oracle scale). Zero-match
  // suppliers still emit (left join), so the result is non-vacuous
  // at every SF by construction.
  val q225 = Q(
    "q225_grid_radius_join",
    """WITH c AS (SELECT c_custkey AS cid,
      |        (c_custkey*7919+13) % 10000 AS x,
      |        (c_custkey*104729+37) % 10000 AS y FROM customer),
      |sup AS (SELECT s_suppkey AS sid,
      |        (s_suppkey*4793+7) % 10000 AS x,
      |        (s_suppkey*9973+91) % 10000 AS y FROM supplier),
      |p AS (SELECT sid, cid,
      |        (c.x-sup.x)*(c.x-sup.x) + (c.y-sup.y)*(c.y-sup.y) AS d2
      |      FROM sup JOIN c
      |        ON (c.x-sup.x)*(c.x-sup.x) + (c.y-sup.y)*(c.y-sup.y) <= 250000),
      |a AS (SELECT sid, CAST(count(*) AS BIGINT) AS n_within,
      |             min(d2) AS nearest_d2
      |      FROM p GROUP BY sid)
      |SELECT sup.sid, coalesce(a.n_within, 0) AS n_within, a.nearest_d2
      |FROM sup LEFT JOIN a USING (sid) ORDER BY sup.sid""".stripMargin) { (s, dir) =>
    def coords(df: org.apache.spark.sql.DataFrame, key: String, a1: Long,
        b1: Long, a2: Long, b2: Long) =
      df.select(col(key).as("id"),
        pmod(col(key) * a1 + b1, lit(10000L)).as("x"),
        pmod(col(key) * a2 + b2, lit(10000L)).as("y"))
    val cust = coords(Tables(s, dir, "customer"), "c_custkey", 7919L, 13L,
      104729L, 37L)
    val sup = coords(Tables(s, dir, "supplier"), "s_suppkey", 4793L, 7L,
      9973L, 91L)
    val pairs = graft.operators.GridJoin.radiusJoin(cust, sup, 500L)
    val agg = pairs.groupBy(col("probe_id").as("sid"))
      .agg(count(lit(1)).as("n_within"), min("d2").as("nearest_d2"))
    sup.select(col("id").as("sid"))
      .join(agg, Seq("sid"), "left")
      .select(col("sid"), coalesce(col("n_within"), lit(0L)).as("n_within"),
        col("nearest_d2"))
      .orderBy("sid")
  }

  // ---------------------------------------------------------------- q226
  // Trigram-postings substring search (llm/TrigramIndex — the pg_trgm
  // / Code Search design: LIKE '%p%' without the per-query full scan).
  // Candidacy = the doc holds EVERY distinct trigram of the pattern
  // (sound: can over-select, never miss), exact contains() runs on
  // candidates only; n_candidates vs n_matched makes the pruning
  // ratio part of the checked result. Patterns are pinned literals,
  // so the oracle replays candidacy as an AND of contains() — no
  // index needed on its side.
  private val q226Patterns =
    Seq("customer query", "merge batch", "slow filter", "vector")
  val q226 = Q(
    "q226_trigram_search",
    q226Patterns.map { p =>
      val candCond = p.sliding(3).toSeq.distinct
        .map(t => s"contains(text, '$t')").mkString(" AND ")
      s"""SELECT '$p' AS pattern,
         |  CAST(sum(CASE WHEN $candCond THEN 1 ELSE 0 END) AS BIGINT) AS n_candidates,
         |  CAST(sum(CASE WHEN contains(text, '$p') THEN 1 ELSE 0 END) AS BIGINT) AS n_matched
         |FROM documents""".stripMargin
    }.mkString("\nUNION ALL\n") + "\nORDER BY pattern") { (s, dir) =>
    TrigramIndex.search(Tables(s, dir, "documents"), "doc_id", "text",
        q226Patterns)
      .orderBy("pattern")
  }

  // ---------------------------------------------------------------- q227
  // Combined-log-format parse (llm/AccessLog — the web-facing sibling
  // of the WARC crawl tier; CLF's three quoted/bracketed islands break
  // every split-on-space parser). The engine renders byte-faithful
  // combined lines from events (ip octets, quoted request line,
  // bracketed timestamp, referer/UA extension), re-parses them with
  // the rule-explicit walker, and rolls up by method × status class;
  // the oracle re-derives the rollup straight from the base columns —
  // the render/parse round trip cancels only if BOTH are correct.
  val q227 = Q(
    "q227_access_log",
    """WITH e AS (SELECT
      |    CASE WHEN event_type IN ('purchase','signup') THEN 'POST'
      |         ELSE 'GET' END AS method,
      |    CASE WHEN event_type = 'error'
      |         THEN CASE WHEN user_id % 2 = 0 THEN 500 ELSE 404 END
      |         ELSE CASE WHEN user_id % 3 = 0 THEN 301 ELSE 200 END
      |    END AS status,
      |    user_id % 9973 AS bytes
      |  FROM events)
      |SELECT method, CAST(status // 100 AS BIGINT) AS status_class,
      |       CAST(count(*) AS BIGINT) AS n,
      |       CAST(sum(bytes) AS BIGINT) AS total_bytes
      |FROM e GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
    import s.implicits._
    val method = when(col("event_type").isin("purchase", "signup"),
      lit("POST")).otherwise(lit("GET"))
    val status = when(col("event_type") === "error",
        when(pmod(col("user_id"), lit(2L)) === 0, 500).otherwise(404))
      .otherwise(when(pmod(col("user_id"), lit(3L)) === 0, 301).otherwise(200))
    val bytes = pmod(col("user_id"), lit(9973L))
    val lines = Tables(s, dir, "events").select(col("event_id"), concat(
      lit("10."), pmod(expr("user_id div 65536"), lit(256L)).cast("string"),
      lit("."), pmod(expr("user_id div 256"), lit(256L)).cast("string"),
      lit("."), pmod(col("user_id"), lit(256L)).cast("string"),
      lit(" - u"), col("user_id").cast("string"),
      lit(" [10/Oct/2000:13:55:36 +0000] \""), method, lit(" /"),
      col("event_type"), lit("/"),
      get_json_object(col("props"), "$.k"), lit(" HTTP/1.1\" "),
      status.cast("string"), lit(" "), bytes.cast("string"),
      lit(" \"-\" \"graft/1.0\"")).as("line"))
      .as[(Long, String)]
    AccessLog.parseAll(lines).toDF()
      .groupBy(col("method"),
        expr("CAST(status AS BIGINT) div 100").as("status_class"))
      .agg(count(lit(1)).as("n"), sum("bytes").as("total_bytes"))
      .orderBy("method", "status_class")
  }

  // ---------------------------------------------------------------- q228
  // QOI decode (llm/Qoi — the 2021 game-texture/intermediate format
  // beside PNG/BMP/TGA in a media lake; every chunk op mutates
  // decoder STATE, so one mis-step poisons all later pixels). The
  // fixture exercises RGB, RUN, DIFF, LUMA and (on id%3==0 docs)
  // INDEX — the variant changes the ENCODING only, the decoded grid
  // stays formula-derived, so the oracle certifies that both chunk
  // paths land identical state. Per-row integer stats; row-local.
  val q228 = Q(
    "q228_qoi_decode",
    """WITH d AS (SELECT doc_id, CAST(6 + doc_id % 5 AS INT) AS w,
      |                  CAST(3 + doc_id % 2 AS INT) AS h FROM documents),
      |r0 AS (SELECT doc_id, w, unnest(range(h)) AS y FROM d),
      |c AS (SELECT doc_id, w, y,
      |        (doc_id + y) % 256 AS pr, (2*y + 1) % 256 AS pg,
      |        (2*doc_id + y) % 256 AS pb
      |      FROM r0)
      |SELECT doc_id, CAST(y AS INT) AS y,
      |  CAST((w-3)*(pr+pg+pb)
      |    + ((pr+1) % 256) + (pg-1) + pb
      |    + ((pr+4) % 256) + ((pg+4) % 256) + ((pb+8) % 256)
      |    + (3*doc_id + y) % 256 + (y+7) % 256 + (doc_id + 5*y) % 256
      |    AS BIGINT) AS row_sum,
      |  CAST(pr AS INT) AS r_first,
      |  CAST((y+7) % 256 AS INT) AS g_last
      |FROM c ORDER BY doc_id, y""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val w = (6 + id % 5).toInt
      val h = (3 + id % 2).toInt
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      out ++= "qoif".getBytes
      for (v <- Seq(w, h); sh <- Seq(24, 16, 8, 0)) out += (v >> sh).toByte
      out += 3; out += 0
      def rgbChunk(r: Int, g: Int, b: Int): Unit = {
        out += 0xfe.toByte; out += r.toByte; out += g.toByte; out += b.toByte
      }
      for (y <- 0 until h) {
        val pr = ((id + y) % 256).toInt
        val pg = (2 * y + 1) % 256
        val pb = ((2 * id + y) % 256).toInt
        rgbChunk(pr, pg, pb)
        if (id % 3 == 0) {
          // INDEX straight back to the pixel just inserted, then a
          // shorter run — same decoded row, different chunk path
          out += ((3 * pr + 5 * pg + 7 * pb + 11 * 255) % 64).toByte
          out += (0xc0 | (w - 5 - 1)).toByte
        } else out += (0xc0 | (w - 4 - 1)).toByte
        out += (0x40 | (3 << 4) | (1 << 2) | 2).toByte // DIFF +1,-1,0
        out += (0x80 | 37).toByte                      // LUMA dg=+5
        out += ((6 << 4) | 11).toByte                  // dr-dg=-2, db-dg=+3
        rgbChunk(((3 * id + y) % 256).toInt, (y + 7) % 256,
          ((id + 5 * y) % 256).toInt)
      }
      out ++= Array[Byte](0, 0, 0, 0, 0, 0, 0, 1)
      Qoi.decode(out.toArray) match {
        case Some(img) =>
          (0 until img.h).iterator.map { y =>
            var sum = 0L
            var x = 0
            while (x < img.w) {
              val v = img.px(y * img.w + x)
              sum += ((v >> 16) & 0xff) + ((v >> 8) & 0xff) + (v & 0xff)
              x += 1
            }
            (id, y, sum, (img.px(y * img.w) >> 16) & 0xff,
              (img.px(y * img.w + img.w - 1) >> 8) & 0xff)
          }
        case None => Iterator.empty // quarantine by omission
      }
    }.toDF("doc_id", "y", "row_sum", "r_first", "g_last")
      .orderBy("doc_id", "y")
  }

  // ---------------------------------------------------------------- q229
  // NetPBM decode (llm/Pnm — P2/P3/P5/P6 with comment lines legal
  // anywhere in the header and binary bodies starting exactly one
  // whitespace byte after maxval). Kind rotates with doc_id % 4 so
  // every parser path decodes every round; values stay < 251 via the
  // formula mod, so maxval=250 bounds-checks for real. Gray docs
  // replicate to r=g=b — the oracle states that equality instead of
  // repeating the sum. Per-doc channel totals; row-local.
  val q229 = Q(
    "q229_pnm_decode",
    """WITH d AS (SELECT doc_id, CAST(4 + doc_id % 4 AS INT) AS w,
      |                  CAST(2 + doc_id % 3 AS INT) AS h,
      |                  CAST(doc_id % 4 AS INT) AS k FROM documents),
      |r0 AS (SELECT doc_id, w, h, k, unnest(range(h)) AS y FROM d),
      |px AS (SELECT doc_id, w, h, k, y, unnest(range(w)) AS x FROM r0),
      |v AS (SELECT doc_id, w, h, k,
      |        (doc_id + 2*x + 3*y) % 251 AS r,
      |        CASE WHEN k IN (0, 1) THEN (2*doc_id + x) % 251
      |             ELSE (doc_id + 2*x + 3*y) % 251 END AS g,
      |        CASE WHEN k IN (0, 1) THEN (doc_id + x*y) % 251
      |             ELSE (doc_id + 2*x + 3*y) % 251 END AS b
      |      FROM px)
      |SELECT doc_id,
      |  CASE k WHEN 0 THEN 'P6' WHEN 1 THEN 'P3'
      |         WHEN 2 THEN 'P5' ELSE 'P2' END AS kind,
      |  CAST(min(w) AS INT) AS w, CAST(min(h) AS INT) AS h,
      |  CAST(sum(r) AS BIGINT) AS sum_r,
      |  CAST(sum(g) AS BIGINT) AS sum_g,
      |  CAST(sum(b) AS BIGINT) AS sum_b
      |FROM v GROUP BY doc_id, k ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val w = (4 + id % 4).toInt
      val h = (2 + id % 3).toInt
      val k = (id % 4).toInt
      val rgb = k <= 1
      def r(x: Int, y: Int) = ((id + 2 * x + 3 * y) % 251).toInt
      def g(x: Int, y: Int) = ((2 * id + x) % 251).toInt
      def b(x: Int, y: Int) = ((id + x * y) % 251).toInt
      val kind = Seq("P6", "P3", "P5", "P2")(k)
      val header = s"$kind\n# graft synthetic fixture\n$w $h\n250\n"
      val bytes: Array[Byte] = k match {
        case 0 => header.getBytes ++ (for (y <- 0 until h; x <- 0 until w;
          v <- Seq(r(x, y), g(x, y), b(x, y))) yield v.toByte).toArray
        case 2 => header.getBytes ++ (for (y <- 0 until h; x <- 0 until w)
          yield r(x, y).toByte).toArray
        case 1 => (header + (0 until h).map(y => (0 until w).map(x =>
          s"${r(x, y)} ${g(x, y)} ${b(x, y)}").mkString(" "))
          .mkString("\n") + "\n").getBytes
        case _ => (header + (0 until h).map(y => (0 until w).map(x =>
          s"${r(x, y)}").mkString(" ")).mkString("\n") + "\n").getBytes
      }
      Pnm.decode(bytes) match {
        case Some(img) =>
          var sr = 0L; var sg = 0L; var sb = 0L
          for (v <- img.px) {
            sr += (v >> 16) & 0xff; sg += (v >> 8) & 0xff; sb += v & 0xff
          }
          Iterator.single((id, img.kind, img.w, img.h, sr, sg, sb))
        case None => Iterator.empty
      }
    }.toDF("doc_id", "kind", "w", "h", "sum_r", "sum_g", "sum_b")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q230
  // Exact-threshold Jaccard set-similarity join (llm/SetSimJoin —
  // AllPairs/SSJoin prefix filtering): the near-dup matrix's missing
  // exact engine (MinHash q31/q33 approximates this with recall < 1).
  // Rare-first prefix candidacy is COMPLETE, so the oracle is the
  // independent BRUTE pair scan — a wrong prefix length or non-global
  // token order silently drops true pairs and hash-fails. 8-gram
  // shingles over documents find the planted near-dup families
  // (all at J ≈ 0.99, the next pair below 0.2 — measured); J ≥ 4/5
  // cross-multiplied, nothing floats. The threshold sets the PREFIX
  // length (rarest ~20% of each set), which is what keeps candidate
  // fan-out flat as the corpus grows — at t = 1/2 the prefixes held
  // half of every set and candidates exploded 70× (measured, r14).
  // 12-char shingles (not 8) because this corpus's 31-word vocabulary
  // makes short shingles globally common — longer spans restore the
  // Zipfian rarity the prefix filter feeds on (47× fewer candidates
  // with the length filter, measured); the planted families stay
  // untouched at J ≈ 0.99.
  val q230 = Q(
    "q230_jaccard_join",
    """WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 12),
      |g AS (SELECT doc_id, unnest(range(1, length(text)-10)) AS i, text FROM d),
      |sh AS (SELECT DISTINCT doc_id, substr(text, i, 12) AS s FROM g),
      |sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
      |i AS (SELECT a.doc_id AS ia, b.doc_id AS ib, count(*) AS inter
      |      FROM sh a JOIN sh b ON b.s = a.s AND a.doc_id < b.doc_id
      |      GROUP BY 1, 2)
      |SELECT ia AS id_a, ib AS id_b, CAST(inter AS BIGINT) AS inter,
      |       CAST(sa.n AS BIGINT) AS n_a, CAST(sb.n AS BIGINT) AS n_b
      |FROM i JOIN sz sa ON sa.doc_id = ia JOIN sz sb ON sb.doc_id = ib
      |WHERE 9*inter >= 4*(sa.n + sb.n)
      |ORDER BY id_a, id_b""".stripMargin) { (s, dir) =>
    val sets = SetSimJoin.shingles(Tables(s, dir, "documents"),
      "doc_id", "text", 12)
    SetSimJoin.jaccardJoin(sets, 4, 5).orderBy("id_a", "id_b")
  }

  // ---------------------------------------------------------------- q231
  // Bounded-hop BFS distances (operators/Bfs — the graph tier's
  // traversal corner: components q62 ask WHETHER connected, PageRank
  // q155 HOW CENTRAL, triangles q214 HOW CLUSTERED; this asks HOW
  // FAR, the link-distance feature crawl curation derives from a
  // seed set). Exactly maxHops propagation rounds by CONTRACT —
  // vertices farther than 3 hops are absent, not converged-to; the
  // oracle replays the three rounds as chained aggregating CTEs.
  // Sparse 20k-node graph (sampled lineitem arithmetic) keeps all
  // four distance values populated at every SF.
  val q231 = Q(
    "q231_bfs_distances",
    """WITH e0 AS (SELECT DISTINCT (l_orderkey*7 + l_linenumber) % 20000 AS u,
      |                   (l_orderkey*13 + l_partkey) % 20000 AS v
      |            FROM lineitem WHERE l_partkey % 5 = 0),
      |e AS (SELECT u, v FROM e0 WHERE u <> v
      |      UNION SELECT v, u FROM e0 WHERE u <> v),
      |s AS (SELECT DISTINCT u AS id FROM e WHERE u % 10 = 0),
      |d0 AS (SELECT id, CAST(0 AS BIGINT) AS dist FROM s),
      |d1 AS (SELECT id, min(dist) AS dist FROM (SELECT * FROM d0 UNION ALL
      |        SELECT e.v, d0.dist+1 FROM e JOIN d0 ON d0.id = e.u) GROUP BY id),
      |d2 AS (SELECT id, min(dist) AS dist FROM (SELECT * FROM d1 UNION ALL
      |        SELECT e.v, d1.dist+1 FROM e JOIN d1 ON d1.id = e.u) GROUP BY id),
      |d3 AS (SELECT id, min(dist) AS dist FROM (SELECT * FROM d2 UNION ALL
      |        SELECT e.v, d2.dist+1 FROM e JOIN d2 ON d2.id = e.u) GROUP BY id)
      |SELECT id, CAST(dist AS BIGINT) AS dist FROM d3
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val raw = Tables(s, dir, "lineitem")
      .filter(pmod(col("l_partkey"), lit(5L)) === 0)
      .select(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(20000L)).as("u"),
        pmod(col("l_orderkey") * 13 + col("l_partkey"), lit(20000L)).as("v"))
      .filter(col("u") =!= col("v"))
    val sources = raw.select(col("u")).union(raw.select(col("v")))
      .distinct().filter(pmod(col("u"), lit(10L)) === 0)
    graft.operators.Bfs.boundedDistances(raw, "u", "v", sources, 3)
      .orderBy("id")
  }

  // ---------------------------------------------------------------- q232
  // Bounded-round k-core peel (operators/KCore — HOW DEEP each vertex
  // sits: the density-tier screen separating dense community cores
  // from fringe in link-graph curation). A deterministic tree-like
  // graph (u → u/2, u → u/3 halver edges) peels in clean layers —
  // leaves first — so every round label and the surviving core are
  // populated at every SF; isolated-by-peeling vertices peel via
  // their 0 left-join degree (phantom-survivor guard, spec-pinned).
  // Oracle replays all three rounds as chained aggregating CTEs.
  val q232 = Q(
    "q232_kcore_peel",
    """WITH u0 AS (SELECT DISTINCT (l_orderkey*7 + l_linenumber) % 4000 AS u
      |            FROM lineitem),
      |e0 AS (SELECT u, u // 2 AS v FROM u0 WHERE u >= 2
      |       UNION SELECT u, u // 3 AS v FROM u0 WHERE u >= 3),
      |e AS (SELECT u, v FROM e0 WHERE u <> v
      |      UNION SELECT v, u FROM e0 WHERE u <> v),
      |v0 AS (SELECT DISTINCT u AS id FROM e),
      |d1 AS (SELECT a.id, count(e.v) AS d FROM v0 a
      |       LEFT JOIN e ON e.u = a.id GROUP BY a.id),
      |rm1 AS (SELECT id FROM d1 WHERE d < 3),
      |v1 AS (SELECT id FROM d1 WHERE d >= 3),
      |e1 AS (SELECT u, v FROM e WHERE u IN (SELECT id FROM v1)
      |       AND v IN (SELECT id FROM v1)),
      |d2 AS (SELECT a.id, count(e1.v) AS d FROM v1 a
      |       LEFT JOIN e1 ON e1.u = a.id GROUP BY a.id),
      |rm2 AS (SELECT id FROM d2 WHERE d < 3),
      |v2 AS (SELECT id FROM d2 WHERE d >= 3),
      |e2 AS (SELECT u, v FROM e1 WHERE u IN (SELECT id FROM v2)
      |       AND v IN (SELECT id FROM v2)),
      |d3 AS (SELECT a.id, count(e2.v) AS d FROM v2 a
      |       LEFT JOIN e2 ON e2.u = a.id GROUP BY a.id),
      |rm3 AS (SELECT id FROM d3 WHERE d < 3),
      |v3 AS (SELECT id FROM d3 WHERE d >= 3)
      |SELECT id, removed_round FROM (
      |  SELECT id, 1 AS removed_round FROM rm1
      |  UNION ALL SELECT id, 2 FROM rm2
      |  UNION ALL SELECT id, 3 FROM rm3
      |  UNION ALL SELECT id, 0 FROM v3)
      |ORDER BY id""".stripMargin) { (s, dir) =>
    val u0 = Tables(s, dir, "lineitem")
      .select(pmod(col("l_orderkey") * 7 + col("l_linenumber"), lit(4000L))
        .as("u"))
      .distinct()
    val halves = u0.filter(col("u") >= 2)
      .select(col("u"), expr("u div 2").as("v"))
    val thirds = u0.filter(col("u") >= 3)
      .select(col("u"), expr("u div 3").as("v"))
    graft.operators.KCore.peelRounds(
        halves.union(thirds).distinct(), "u", "v", 3, 3)
      .orderBy("id")
  }

  // ---------------------------------------------------------------- q233
  // 2×2 chi-square A/B readout (operators/Contingency — the
  // hypothesis-test tier the analytics plane lacked: χ² =
  // N(ad−bc)²/((a+b)(c+d)(a+c)(b+d)) as a ratio of two BIGINTs, the
  // q221 discipline applied to testing; significance decided by
  // cross-multiplied integers at the pinned 3.84 critical value).
  // Treatment = user parity; the signup arm carries a real planted
  // lift (odd-moduli outcome stays parity-independent elsewhere), so
  // verdicts split true/false by group; the event_id % 11 subsample
  // keeps the worst-case N⁵/16 inside BIGINT through sf0.1 with wide
  // margin (documented contract on the operator).
  val q233 = Q(
    "q233_ab_chisquare",
    """WITH e AS (SELECT event_type AS g, user_id % 2 = 0 AS t,
      |    CASE WHEN event_type = 'signup' AND user_id % 2 = 0
      |         THEN user_id % 3 = 0 OR user_id % 5 = 0 OR user_id % 7 = 0
      |         ELSE user_id % 3 = 0 END AS h
      |  FROM events WHERE event_id % 11 = 0),
      |c AS (SELECT g,
      |    CAST(sum(CASE WHEN t AND h THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN t AND NOT h THEN 1 ELSE 0 END) AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT t AND h THEN 1 ELSE 0 END) AS BIGINT) AS c2,
      |    CAST(sum(CASE WHEN NOT t AND NOT h THEN 1 ELSE 0 END) AS BIGINT) AS d
      |  FROM e GROUP BY g)
      |SELECT g, a, b, c2 AS c, d,
      |  (a+b+c2+d)*(a*d - b*c2)*(a*d - b*c2) AS chi2_num,
      |  (a+b)*(c2+d)*(a+c2)*(b+d) AS chi2_den,
      |  ((a+b)*(c2+d)*(a+c2)*(b+d) > 0 AND
      |   100*((a+b+c2+d)*(a*d - b*c2)*(a*d - b*c2))
      |     >= 384*((a+b)*(c2+d)*(a+c2)*(b+d))) AS sig_05
      |FROM c ORDER BY g""".stripMargin) { (s, dir) =>
    val treated = pmod(col("user_id"), lit(2L)) === 0
    val hit = when(col("event_type") === "signup" && treated,
        pmod(col("user_id"), lit(3L)) === 0 ||
          pmod(col("user_id"), lit(5L)) === 0 ||
          pmod(col("user_id"), lit(7L)) === 0)
      .otherwise(pmod(col("user_id"), lit(3L)) === 0)
    graft.operators.Contingency.chiSquare2x2(
        Tables(s, dir, "events").filter(pmod(col("event_id"), lit(11L)) === 0),
        col("event_type"), treated, hit)
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q234
  // Directory-prefix rollup (operators/PathRollup — du over a
  // manifest: files/bytes under every directory at every depth, the
  // partition-size audit and hot-prefix screen object-store sharding
  // decisions read). One HOF explode of each path's ancestor chain
  // (fan-out = depth, bounded by namespace design) + one map-side-
  // combined aggregate; the oracle derives the three fixed-depth
  // prefixes arithmetically — no split anywhere on its side.
  val q234 = Q(
    "q234_path_rollup",
    """WITH f AS (SELECT 'data/' || source || '/' || lang ||
      |                  '/doc_' || doc_id || '.txt' AS p,
      |                  n_chars FROM documents),
      |pre AS (SELECT 'data' AS prefix, 1 AS depth, n_chars FROM f
      |        UNION ALL
      |        SELECT 'data/' || source, 2, n_chars
      |        FROM documents
      |        UNION ALL
      |        SELECT 'data/' || source || '/' || lang, 3, n_chars
      |        FROM documents)
      |SELECT prefix, depth, CAST(count(*) AS BIGINT) AS n_files,
      |       CAST(sum(n_chars) AS BIGINT) AS total_bytes
      |FROM pre GROUP BY prefix, depth ORDER BY prefix""".stripMargin) { (s, dir) =>
    val files = Tables(s, dir, "documents")
      .select(concat(lit("data/"), col("source"), lit("/"), col("lang"),
        lit("/doc_"), col("doc_id").cast("string"), lit(".txt")).as("path"),
        col("n_chars"))
    graft.operators.PathRollup.prefixRollup(files, col("path"), col("n_chars"))
      .orderBy("prefix")
  }

  // ---------------------------------------------------------------- q235
  // Last-touch attribution (operators/Attribution — the funnel
  // family's money-counting sibling: credit each purchase to the
  // channel of the user's most recent view/click within 7 days, else
  // 'direct'). One running last(ignoreNulls) window carries the
  // latest touch onto every row — as-of semantics in one pass, no
  // join; the lookback test is row-local integer µs. Revenue folds
  // as floor(value·100) BIGINT cents (floor, not cast — Spark casts
  // truncate where DuckDB CASTs round).
  val q235 = Q(
    "q235_last_touch_attribution",
    """WITH ev AS (SELECT user_id, epoch_us(ts) AS t, event_id,
      |    event_type IN ('view', 'click') AS is_t,
      |    event_type = 'purchase' AS is_c,
      |    CASE CAST(json_extract_string(props, '$.k') AS BIGINT) % 4
      |      WHEN 0 THEN 'ads' WHEN 1 THEN 'email'
      |      WHEN 2 THEN 'social' ELSE 'organic' END AS ch,
      |    CAST(floor(value * 100) AS BIGINT) AS rev
      |  FROM events WHERE event_type IN ('view', 'click', 'purchase')),
      |m AS (SELECT *,
      |    last_value(CASE WHEN is_t THEN struct_pack(ts := t, ch := ch) END
      |      IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS lt
      |  FROM ev),
      |c AS (SELECT CASE WHEN lt IS NOT NULL AND t - lt.ts <= 604800000000
      |             THEN lt.ch ELSE 'direct' END AS channel, rev
      |      FROM m WHERE is_c)
      |SELECT channel, CAST(count(*) AS BIGINT) AS n_conversions,
      |       CAST(sum(rev) AS BIGINT) AS revenue
      |FROM c GROUP BY channel ORDER BY channel""".stripMargin) { (s, dir) =>
    val k = get_json_object(col("props"), "$.k").cast("long")
    val ch = when(pmod(k, lit(4L)) === 0, "ads")
      .when(pmod(k, lit(4L)) === 1, "email")
      .when(pmod(k, lit(4L)) === 2, "social")
      .otherwise("organic")
    graft.operators.Attribution.lastTouch(
        Tables(s, dir, "events")
          .filter(col("event_type").isin("view", "click", "purchase")),
        "user_id", unix_micros(col("ts")), col("event_id"),
        col("event_type").isin("view", "click"), ch,
        col("event_type") === "purchase",
        floor(col("value") * 100).cast("long"), 604800000000L)
      .orderBy("channel")
  }

  // ---------------------------------------------------------------- q236
  // Fixed-width layout parse (llm/FixedWidth — the mainframe/COBOL
  // export shape: no delimiters, declared byte ranges, zero-padded
  // numerics, space-padded text). The layout compiles to SUBSTRING
  // columns (pure codegen, no per-row interpreter) behind a strict
  // record-length gate — every 101st record renders TRUNCATED and
  // must quarantine whole rather than shift-corrupt its tail fields;
  // the oracle rebuilds the rollup from base columns excluding
  // exactly those records.
  val q236 = Q(
    "q236_fixed_width",
    """WITH src AS (SELECT event_id, user_id, event_type,
      |    epoch_us(ts) // 86400000000 AS day,
      |    CAST(floor(value * 100) AS BIGINT) AS amount
      |  FROM events WHERE event_id % 101 <> 0)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(amount) AS BIGINT) AS total_amount,
      |  CAST(max(day) AS BIGINT) AS max_day
      |FROM src GROUP BY event_type ORDER BY event_type""".stripMargin) { (s, dir) =>
    import graft.llm.FixedWidth.Field
    val layout = Seq(Field("uid", 1, 8), Field("day", 9, 8),
      Field("etype", 17, 10), Field("amount", 27, 10))
    val rendered = Tables(s, dir, "events").select(
      concat(
        lpad(col("user_id").cast("string"), 8, "0"),
        lpad(expr("unix_micros(ts) div 86400000000").cast("string"), 8, "0"),
        rpad(col("event_type"), 10, " "),
        lpad(floor(col("value") * 100).cast("long").cast("string"), 10, "0"))
        .as("line0"),
      col("event_id"))
      // every 101st record truncates mid-field — the corrupt class
      .select(when(pmod(col("event_id"), lit(101L)) === 0,
        substring(col("line0"), 1, 20)).otherwise(col("line0")).as("line"))
    FixedWidth.project(rendered, col("line"), layout)
      .groupBy(rtrim(col("etype")).as("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("amount").cast("long")).as("total_amount"),
        max(col("day").cast("long")).as("max_day"))
      .orderBy("event_type")
  }

  // ---------------------------------------------------------------- q237
  // Benford first-digit audit (B11/B24 — the fraud/quality screen:
  // does a money column's leading-digit distribution track Benford's
  // law?): per digit the observed count vs the PINNED per-mille
  // expectation (301, 176, …), deviation decided by cross-multiplied
  // integers (1000·n_obs vs N·exp_pm) — an audit emits flags, it does
  // not assert the law holds (TPC-H's bounded price range deviates,
  // which is exactly what the readout shows). One aggregate + one
  // broadcast total.
  val q237 = Q(
    "q237_benford_audit",
    """WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT)
      |                 AS VARCHAR), 1, 1) AS INT) AS digit
      |           FROM orders),
      |c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n_obs FROM d GROUP BY digit),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS total FROM d),
      |e AS (SELECT * FROM (VALUES (1, 301), (2, 176), (3, 125), (4, 97),
      |      (5, 79), (6, 67), (7, 58), (8, 51), (9, 46)) AS t(digit, exp_pm))
      |SELECT e.digit, coalesce(c.n_obs, 0) AS n_obs,
      |       CAST(e.exp_pm AS BIGINT) AS exp_pm, n.total,
      |       1000 * coalesce(c.n_obs, 0) > n.total * e.exp_pm AS over_expected
      |FROM e LEFT JOIN c ON c.digit = e.digit CROSS JOIN n
      |ORDER BY e.digit""".stripMargin) { (s, dir) =>
    val spark = s
    import spark.implicits._
    val d = Tables(s, dir, "orders")
      .select(substring(floor(col("o_totalprice")).cast("long").cast("string"),
        1, 1).cast("int").as("digit"))
    val c = d.groupBy("digit").agg(count(lit(1)).as("n_obs"))
    val n = broadcast(d.agg(count(lit(1)).as("total")))
    val e = Seq((1, 301L), (2, 176L), (3, 125L), (4, 97L), (5, 79L),
      (6, 67L), (7, 58L), (8, 51L), (9, 46L)).toDF("digit", "exp_pm")
    e.join(c, Seq("digit"), "left").crossJoin(n)
      .select(col("digit"), coalesce(col("n_obs"), lit(0L)).as("n_obs"),
        col("exp_pm"), col("total"),
        (lit(1000L) * coalesce(col("n_obs"), lit(0L)) >
          col("total") * col("exp_pm")).as("over_expected"))
      .orderBy("digit")
  }

  // ---------------------------------------------------------------- q238
  // ICO container decode (llm/Ico — the favicon/Windows-resource
  // directory: header-less DIBs with DOUBLED biHeight sharing one
  // header between the XOR color plane and the 1-bpp AND mask, rows
  // padded to 32 bits — every place a naive BMP reuse breaks). Multi-
  // size directories (1–3 entries per doc), formula pixels incl. an
  // alternating alpha and a modular mask; the oracle re-derives every
  // entry's channel/alpha/mask aggregates from the formulas.
  // PNG-compressed entries stay the documented entry-level
  // quarantine boundary (spec-pinned). Row-local, no shuffle.
  val q238 = Q(
    "q238_ico_decode",
    """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 3 AS INT) AS n
      |           FROM documents),
      |ent AS (SELECT doc_id, unnest(range(n)) AS j FROM d),
      |dim AS (SELECT doc_id, j, CAST(4 + 2*((doc_id + j) % 3) AS INT) AS w
      |        FROM ent),
      |p0 AS (SELECT doc_id, j, w, unnest(range(w)) AS y FROM dim),
      |px AS (SELECT doc_id, j, w, y, unnest(range(w)) AS x FROM p0)
      |SELECT doc_id, CAST(j AS INT) AS idx, CAST(min(w) AS INT) AS w,
      |  CAST(sum((2*doc_id + y) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum(255 - ((x + y) % 2) * 17) AS BIGINT) AS sum_a,
      |  CAST(sum(CASE WHEN (x + y + doc_id) % 5 = 0 THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_mask
      |FROM px GROUP BY doc_id, j
      |ORDER BY doc_id, idx""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val n = (1 + id % 3).toInt
      val entries = (0 until n).map { j =>
        val w = (4 + 2 * ((id + j) % 3)).toInt
        val px = Array.tabulate(w * w) { p =>
          val x = p % w; val y = p / w
          val a = 255 - ((x + y) % 2) * 17
          val r = ((2 * id + y) % 256).toInt
          val g = (x + y + j) % 256
          val b = ((id + x) % 256).toInt
          (a << 24) | (r << 16) | (g << 8) | b
        }
        (w, w, px, (x: Int, y: Int) => (x + y + id) % 5 == 0)
      }
      Ico.decode(Ico.build(entries)) match {
        case Some(es) => es.iterator.map { e =>
          var sr = 0L; var sa = 0L
          for (v <- e.px) { sr += (v >> 16) & 0xff; sa += (v >>> 24) & 0xff }
          (id, e.idx, e.w, sr, sa, e.maskSet.toLong)
        }
        case None => Iterator.empty // quarantine by omission
      }
    }.toDF("doc_id", "idx", "w", "sum_r", "sum_a", "n_mask")
      .orderBy("doc_id", "idx")
  }

  // ---------------------------------------------------------------- q239
  // OGG page walk (llm/Ogg — RFC 3533 transport, the audio-container
  // gap beside MP3 frames q131 / MP4 boxes q134 / WAV chunks):
  // 27-byte headers, lacing-table packet framing (a packet completes
  // at the first lacing < 255), and OGG's OWN direct-feed CRC-32
  // (0x04C11DB7, not zlib's reflected one) VERIFIED per page — every
  // 7th doc ships one payload-corrupted page that must quarantine
  // while the walk resumes at the next page (OGG's per-page resync
  // story). The oracle re-derives page/packet/payload/granule
  // aggregates from the formulas, minus exactly the corrupted pages.
  val q239 = Q(
    "q239_ogg_pages",
    """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 3 AS INT) AS np
      |           FROM documents),
      |p AS (SELECT doc_id, np, unnest(range(np)) AS j FROM d),
      |sv AS (SELECT doc_id, np, j, (doc_id + j) % 200 + 285 + j AS pay
      |       FROM p WHERE NOT (doc_id % 7 = 0 AND j = 1))
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pages,
      |  CAST(2 * count(*) AS BIGINT) AS n_packets,
      |  CAST(sum(pay) AS BIGINT) AS total_payload,
      |  CAST(max(doc_id * 1000 + (np - 1) * 100) AS BIGINT) AS last_granule
      |FROM sv GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val np = (3 + id % 3).toInt
      val bytes = (0 until np).flatMap { j =>
        val lace = Seq(((id + j) % 200).toInt, 255, 30 + j)
        val flags = (if (j == 0) 2 else 0) | (if (j == np - 1) 4 else 0)
        val page = Ogg.buildPage(id, j.toLong, id * 1000 + j * 100, flags,
          lace, Array.fill(lace.sum)(((id + j) % 251).toByte))
        if (id % 7 == 0 && j == 1) { // corrupt one payload byte
          page(page.length - 1) = (page(page.length - 1) ^ 0x5a).toByte
        }
        page
      }.toArray
      Ogg.decode(bytes).filter(_.nonEmpty).iterator.map(ps => (id, ps.size.toLong,
        ps.map(_.packets.toLong).sum, ps.map(_.payloadBytes.toLong).sum,
        ps.map(_.granule).max))
    }.toDF("doc_id", "n_pages", "n_packets", "total_payload", "last_granule")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q240
  // Punycode host decode (llm/Punycode — RFC 3492, the ACE encoding
  // inside every `xn--` IDN label): two spellings of one IDN host
  // must group together, so the domain tier decodes ACE before any
  // host-keyed operation. Full adaptive-bias algorithm, certified
  // against java.net.IDN (an INDEPENDENT implementation) in the spec;
  // the fixture/oracle side pins (unicode, punycode) LITERAL pairs —
  // no encoder exists in this repo, so a bug pair cannot cancel.
  // Every 9th doc carries an overflowing ACE label that must
  // quarantine the whole host. Row-local.
  val q240 = Q(
    "q240_punycode_hosts",
    """WITH h AS (SELECT doc_id FROM documents WHERE doc_id % 9 <> 0),
      |m AS (SELECT CASE doc_id % 8
      |        WHEN 0 THEN 'münchen' WHEN 1 THEN 'bücher'
      |        WHEN 2 THEN 'café' WHEN 3 THEN 'niño'
      |        WHEN 4 THEN 'zürich' WHEN 5 THEN 'résumé'
      |        WHEN 6 THEN '北京' ELSE 'москва' END || '.shop' AS host
      |      FROM h)
      |SELECT host, CAST(count(*) AS BIGINT) AS n
      |FROM m GROUP BY host ORDER BY host""".stripMargin) { (s, dir) =>
    import s.implicits._
    val puny = Array("mnchen-3ya", "bcher-kva", "caf-dma", "nio-8ma",
      "zrich-kva", "rsum-bpad", "1lq90i", "80adxhks")
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val ace =
        if (id % 9 == 0) "xn--999999999999999999.shop"
        else s"xn--${puny((id % 8).toInt)}.shop"
      Punycode.decodeHost(ace).iterator
    }.toDF("host")
      .groupBy("host").agg(count(lit(1)).as("n"))
      .orderBy("host")
  }

  // ---------------------------------------------------------------- q241
  // Day-of-week seasonal profile (B11/B23 — the seasonality readout
  // behind anomaly baselines: each event type's weekly rhythm, with
  // over/under-uniform flags per cell): epoch-day % 7, NOT the SQL
  // dayofweek() — Spark counts 1=Sunday where DuckDB counts
  // 0=Sunday, so the pure-integer day index is the only
  // calendar-free formulation both engines share. The uniform test
  // is cross-multiplied (7·n_cell vs total).
  val q241 = Q(
    "q241_seasonal_profile",
    """WITH e AS (SELECT event_type AS g,
      |        (epoch_us(ts) // 86400000000) % 7 AS dow FROM events),
      |c AS (SELECT g, dow, CAST(count(*) AS BIGINT) AS n
      |      FROM e GROUP BY g, dow),
      |t AS (SELECT g, CAST(sum(n) AS BIGINT) AS total FROM c GROUP BY g)
      |SELECT c.g, CAST(c.dow AS BIGINT) AS dow, c.n, t.total,
      |       7 * c.n > t.total AS over_uniform
      |FROM c JOIN t ON t.g = c.g
      |ORDER BY c.g, dow""".stripMargin) { (s, dir) =>
    val e = Tables(s, dir, "events").select(col("event_type").as("g"),
      pmod(expr("unix_micros(ts) div 86400000000"), lit(7L)).as("dow"))
    val c = e.groupBy("g", "dow").agg(count(lit(1)).as("n"))
    val t = c.groupBy("g").agg(sum("n").as("total"))
    c.join(t, Seq("g"))
      .select(col("g"), col("dow"), col("n"), col("total"),
        (lit(7L) * col("n") > col("total")).as("over_uniform"))
      .orderBy("g", "dow")
  }

  // ---------------------------------------------------------------- q242
  // Point-in-time lookup over SCD2 history (the join q224's intervals
  // exist FOR: "what was this key's version at generation g?"):
  // probes carry their own generation; ONE equi-join on the key with
  // the half-open interval test as the residual condition — a hash
  // join with a row-local filter, no range-join machinery needed
  // because the equi key exists (the planner contract a bitemporal
  // lookup should have). Null gen_to = still current, covers probes
  // past the last generation. Oracle replays the q224 CTE stack plus
  // the interval containment.
  val q242 = Q(
    "q242_pit_lookup",
    """WITH snap AS (
      |  SELECT o_orderkey AS k, g.g AS g,
      |         CASE WHEN g.g >= o_orderkey % 4 THEN 'S'
      |              ELSE o_orderstatus END AS st,
      |         o_totalprice + 10 * (g.g // 2) AS price
      |  FROM orders CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(g)),
      |b AS (SELECT *,
      |        CASE WHEN lag(g) OVER w IS NULL
      |               OR st IS DISTINCT FROM lag(st) OVER w
      |               OR price IS DISTINCT FROM lag(price) OVER w
      |             THEN 1 ELSE 0 END AS chg
      |      FROM snap WINDOW w AS (PARTITION BY k ORDER BY g)),
      |r AS (SELECT *, sum(chg) OVER (PARTITION BY k ORDER BY g
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run
      |      FROM b),
      |v AS (SELECT k, run, min(g) AS gen_from,
      |             min(st) AS st, min(price) AS price
      |      FROM r GROUP BY k, run),
      |hist AS (SELECT k, gen_from,
      |           lead(gen_from) OVER (PARTITION BY k ORDER BY gen_from) AS gen_to,
      |           st, price FROM v),
      |probe AS (SELECT o_orderkey AS k,
      |            CAST((o_orderkey * 7) % 5 AS INT) AS g FROM orders)
      |SELECT probe.k, probe.g, hist.st, hist.price
      |FROM probe JOIN hist ON hist.k = probe.k
      |  AND hist.gen_from <= probe.g
      |  AND (hist.gen_to IS NULL OR probe.g < hist.gen_to)
      |ORDER BY probe.k""".stripMargin) { (s, dir) =>
    val snaps = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"),
        col("o_totalprice"), explode(array((0 to 3).map(lit): _*)).as("g"))
      .select(col("k"), col("g"),
        when(col("g") >= pmod(col("k"), lit(4L)).cast("int"), lit("S"))
          .otherwise(col("o_orderstatus")).as("st"),
        (col("o_totalprice") + lit(10) * (col("g") / 2).cast("int"))
          .as("price"))
    val hist = graft.operators.Scd.type2History(snaps, "k", "g",
      Seq("st", "price"))
    val probe = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"),
        pmod(col("o_orderkey") * 7, lit(5L)).cast("int").as("g"))
    probe.join(hist.withColumnRenamed("k", "hk"),
        col("hk") === col("k") && col("gen_from") <= col("g") &&
          (col("gen_to").isNull || col("g") < col("gen_to")))
      .select(col("k"), col("g"), col("st"), col("price"))
      .orderBy("k")
  }

  // ---------------------------------------------------------------- q243
  // Largest-remainder quota allocation (operators/Allocate — the
  // Hamilton method: split a fixed sampling budget across strata in
  // INTEGERS that sum to exactly k; naive rounding loses or invents
  // slots). Base = (k·wᵢ) div W, leftover slots to the largest
  // remainders, ties by stratum ascending (deterministic reruns).
  // The remainder rank is a window over the STRATA-sized aggregate —
  // the operator asserts the strata bound rather than hoping.
  val q243 = Q(
    "q243_quota_allocation",
    """WITH w AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS weight
      |           FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot FROM w),
      |b AS (SELECT stratum, weight,
      |        (100000 * weight) // tot AS base,
      |        (100000 * weight) % tot AS rem
      |      FROM w CROSS JOIN t),
      |l AS (SELECT CAST(100000 - sum(base) AS BIGINT) AS leftover FROM b),
      |r AS (SELECT *, CAST(row_number() OVER (ORDER BY rem DESC, stratum)
      |        AS INT) AS rem_rank FROM b)
      |SELECT stratum, weight, CAST(base AS BIGINT) AS base, rem_rank,
      |  CAST(base + CASE WHEN rem_rank <= l.leftover THEN 1 ELSE 0 END
      |    AS BIGINT) AS alloc
      |FROM r CROSS JOIN l ORDER BY stratum""".stripMargin) { (s, dir) =>
    val w = Tables(s, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("weight"))
    graft.operators.Allocate.largestRemainder(w, "lang", col("weight"),
        100000L)
      .orderBy("stratum")
  }

  // ---------------------------------------------------------------- q244
  // Stream-disorder audit (B16/B37 — the watermark-tuning input: how
  // out-of-order does each user's stream ARRIVE, and how far back do
  // the jumps reach?): arrival order is a deterministic hash shuffle
  // of event_id (the fixture's ids are ts-sorted, so real disorder
  // must be synthesized to exercise the metric); per user one lag
  // window in arrival order counts event-time regressions and the
  // deepest backward jump in exact µs — the numbers that size a
  // withWatermark delay.
  val q244 = Q(
    "q244_stream_disorder",
    """WITH o AS (SELECT user_id, epoch_us(ts) AS t,
      |    lag(epoch_us(ts)) OVER (PARTITION BY user_id
      |      ORDER BY (event_id * 48271) % 1000000007) AS pt
      |  FROM events)
      |SELECT user_id,
      |  CAST(count(pt) AS BIGINT) AS n_adjacent,
      |  CAST(sum(CASE WHEN pt > t THEN 1 ELSE 0 END) AS BIGINT) AS n_inversions,
      |  CAST(max(CASE WHEN pt > t THEN pt - t ELSE 0 END) AS BIGINT) AS max_backjump_us
      |FROM o GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val arr = pmod(col("event_id") * lit(48271L), lit(1000000007L))
    val w = Window.partitionBy("user_id").orderBy(arr)
    Tables(s, dir, "events")
      .select(col("user_id"), unix_micros(col("ts")).as("t"),
        lag(unix_micros(col("ts")), 1).over(w).as("pt"))
      .groupBy("user_id")
      .agg(count(col("pt")).as("n_adjacent"),
        sum(when(col("pt") > col("t"), 1L).otherwise(0L)).as("n_inversions"),
        max(when(col("pt") > col("t"), col("pt") - col("t")).otherwise(0L))
          .as("max_backjump_us"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q245
  // Magic-number format census (llm/MagicSniff — the router in FRONT
  // of the decode tier: before any decoder runs on 100 TB, every
  // blob gets a bounded ≤265-byte kind verdict, and the census
  // decides which tiers to schedule; q197 audits the decoders, this
  // audits the dispatch). Fixture rotates TEN blob classes through
  // the CERTIFIED builders (bmp/wav/pdf/zip/qoi/pnm/ico/ogg/tar) plus
  // garbage; positional magics (RIFF form types, tar's offset-257
  // ustar) and the no-magic TGA negative are spec-pinned. Row-local.
  val q245 = Q(
    "q245_format_census",
    """WITH d AS (SELECT CASE doc_id % 10
      |    WHEN 0 THEN 'bmp' WHEN 1 THEN 'wav' WHEN 2 THEN 'pdf'
      |    WHEN 3 THEN 'zip' WHEN 4 THEN 'qoi' WHEN 5 THEN 'pnm'
      |    WHEN 6 THEN 'ico' WHEN 7 THEN 'ogg' WHEN 8 THEN 'tar'
      |    ELSE 'unknown' END AS kind
      |  FROM documents)
      |SELECT kind, CAST(count(*) AS BIGINT) AS n
      |FROM d GROUP BY kind ORDER BY kind""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].map { id =>
      val blob: Array[Byte] = (id % 10) match {
        case 0 => Bmp.encode24(1, 1, Array((id % 255).toInt))
        case 1 => Wav.encodePcm16(8000, Array((id % 100).toShort))
        case 2 => Pdf.build(Seq(s"BT (doc $id) Tj ET"), flate = false)
        case 3 => Zip.build(Seq((s"f$id", s"body $id".getBytes, false)))
        case 4 => "qoif".getBytes ++ Array[Byte](0, 0, 0, 1, 0, 0, 0, 1,
          3, 0, 0xfe.toByte, 1, 2, 3, 0, 0, 0, 0, 0, 0, 0, 1)
        case 5 => s"P5 1 1 255\n".getBytes ++ Array[Byte]((id % 200).toByte)
        case 6 => Ico.build(Seq((1, 1, Array(0xff000000 | (id % 255).toInt),
          (_: Int, _: Int) => false)))
        case 7 => Ogg.buildPage(id, 0L, id, 2, Seq(1),
          Array[Byte]((id % 100).toByte))
        case 8 => Tar.build(Seq((s"m$id.txt", s"text $id".getBytes, '0')))
        case _ => s"no magic here $id".getBytes
      }
      MagicSniff.sniff(blob)
    }.toDF("kind")
      .groupBy("kind").agg(count(lit(1)).as("n"))
      .orderBy("kind")
  }

  // ---------------------------------------------------------------- q246
  // LaTeX-to-text strip (llm/Latex — the arXiv-prep operator:
  // scientific corpora arrive as .tex and training wants the PROSE,
  // not preamble/math/citation keys). The engine walks a full
  // synthetic paper (preamble, comment, title, document env, inline +
  // display math, cite, tie, escaped percent); the oracle
  // CONSTRUCTS the expected plain text from the same formulas
  // without ever seeing LaTeX — exact string compare through the
  // hash, the strongest possible gate for a text transform.
  // Row-local, no shuffle.
  val q246 = Q(
    "q246_latex_strip",
    """SELECT doc_id,
      |  chr(10) || 'Doc ' || doc_id || chr(10) || chr(10) ||
      |  'Intro ' || doc_id || ' with bold ' || (doc_id % 7) ||
      |  ' and  refs.' || chr(10) || chr(10) || chr(10) ||
      |  'Tail text ' || (doc_id % 5) || ', 100% real.' || chr(10) || chr(10)
      |  AS text
      |FROM documents ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    val texs = Tables(s, dir, "documents").select(col("doc_id")).as[Long]
      .map { id =>
        val src = s"""\\documentclass{article}
          |% synthetic $id
          |\\title{Doc $id}
          |\\begin{document}
          |Intro $id with \\textbf{bold ${id % 7}} and \\cite{x$id} refs.
          |$$e=mc^2$$
          |\\begin{equation}
          |x_$id
          |\\end{equation}
          |Tail~text ${id % 5}, 100\\% real.
          |\\end{document}
          |""".stripMargin
        (id, src)
      }
    Latex.stripAll(texs).toDF("doc_id", "text").orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q247
  // Stratified sample assembly (the pipeline q243's allocation exists
  // FOR: allocate a fixed budget across languages by corpus share,
  // then take exactly that many docs per language by deterministic
  // hash priority — the reproducible "draw 100 docs proportionally"
  // every training-mix build runs). Composition: Allocate (Hamilton,
  // driver-side strata rank) + one language-partitioned row_number
  // over hash priority + one broadcast alloc join; ties on priority
  // break by doc_id. Output is exactly k rows at every SF.
  val q247 = Q(
    "q247_stratified_sample",
    """WITH w AS (SELECT lang AS stratum, CAST(count(*) AS BIGINT) AS weight
      |           FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot FROM w),
      |b AS (SELECT stratum, weight,
      |        (100 * weight) // tot AS base, (100 * weight) % tot AS rem
      |      FROM w CROSS JOIN t),
      |l AS (SELECT CAST(100 - sum(base) AS BIGINT) AS leftover FROM b),
      |a AS (SELECT stratum, base + CASE WHEN row_number()
      |          OVER (ORDER BY rem DESC, stratum) <= l.leftover
      |        THEN 1 ELSE 0 END AS alloc
      |      FROM b CROSS JOIN l),
      |r AS (SELECT lang, doc_id,
      |        (doc_id * 2654435761 + 17) % 4294967296 AS pri,
      |        row_number() OVER (PARTITION BY lang
      |          ORDER BY (doc_id * 2654435761 + 17) % 4294967296, doc_id)
      |          AS rk
      |      FROM documents)
      |SELECT r.lang, r.doc_id, CAST(r.rk AS BIGINT) AS rk
      |FROM r JOIN a ON a.stratum = r.lang AND r.rk <= a.alloc
      |ORDER BY r.lang, rk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val w = docs.groupBy(col("lang")).agg(count(lit(1)).as("weight"))
    val alloc = graft.operators.Allocate
      .largestRemainder(w, "lang", col("weight"), 100L)
      .select(col("stratum").as("lang"), col("alloc"))
    val pri = pmod(col("doc_id") * lit(2654435761L) + 17L, lit(4294967296L))
    val ranked = docs.select(col("lang"), col("doc_id"), pri.as("pri"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("lang").orderBy(col("pri"), col("doc_id"))))
    ranked.join(broadcast(alloc), Seq("lang"))
      .filter(col("rk") <= col("alloc"))
      .select(col("lang"), col("doc_id"), col("rk").cast("long").as("rk"))
      .orderBy("lang", "rk")
  }

  // ---------------------------------------------------------------- q248
  // Activity streaks (the gaps-and-islands classic on CALENDAR days —
  // q101's sessionize groups by time gap in µs; this answers "longest
  // run of CONSECUTIVE ACTIVE DAYS per user", the DAU-streak staple):
  // distinct epoch-days per user, then day − row_number() is CONSTANT
  // within a consecutive run — one partitioned window + one island
  // aggregate, no self-join; epoch-day integers so no calendar
  // function can diverge (the q241 discipline).
  val q248 = Q(
    "q248_activity_streaks",
    """WITH d AS (SELECT DISTINCT user_id,
      |        epoch_us(ts) // 86400000000 AS day FROM events),
      |i AS (SELECT user_id, day,
      |        day - row_number() OVER (PARTITION BY user_id ORDER BY day)
      |          AS island
      |      FROM d),
      |s AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
      |             min(day) AS streak_start
      |      FROM i GROUP BY user_id, island)
      |SELECT user_id, CAST(max(len) AS BIGINT) AS longest_streak,
      |  CAST(count(*) AS BIGINT) AS n_streaks,
      |  CAST(min(streak_start) AS BIGINT) AS first_day
      |FROM s GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val d = Tables(s, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("day"))
      .distinct()
    val i = d.withColumn("island", col("day") -
      row_number().over(Window.partitionBy("user_id").orderBy("day")))
    val st = i.groupBy("user_id", "island")
      .agg(count(lit(1)).as("len"), min("day").as("streak_start"))
    st.groupBy("user_id")
      .agg(max("len").as("longest_streak"), count(lit(1)).as("n_streaks"),
        min("streak_start").as("first_day"))
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q249
  // Conversion-latency percentiles per cohort (q220's follow-up
  // readout: not each user's latency but the DISTRIBUTION — p50/p90
  // as EXACT rank selections over integer µs, no interpolation to
  // diverge between engines): converting users cohort by first-event
  // epoch-week; within each cohort the p-th percentile is the value
  // at rank ⌈p·n⌉ (nearest-rank definition, stated) via one
  // cohort-partitioned rank window over the (cohort-sized) latency
  // rows.
  val q249 = Q(
    "q249_conversion_percentiles",
    """WITH a AS (SELECT user_id, event_type, ts, event_id,
      |        CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS h0
      |      FROM events),
      |b AS (SELECT *, max(h0) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f0 FROM a),
      |c AS (SELECT *, CASE WHEN event_type = 'click' AND f0 = 1
      |        THEN 1 ELSE 0 END AS h1 FROM b),
      |d AS (SELECT *, max(h1) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f1 FROM c),
      |e AS (SELECT *, CASE WHEN event_type = 'purchase' AND f1 = 1
      |        THEN 1 ELSE 0 END AS h2 FROM d),
      |g AS (SELECT user_id,
      |        min(CASE WHEN h0 = 1 THEN epoch_us(ts) END) AS t0,
      |        min(CASE WHEN h2 = 1 THEN epoch_us(ts) END) AS t1,
      |        min(epoch_us(ts)) // 604800000000 AS cohort
      |      FROM e GROUP BY user_id),
      |lat AS (SELECT cohort, t1 - t0 AS us FROM g WHERE t1 IS NOT NULL),
      |r AS (SELECT cohort, us,
      |        row_number() OVER (PARTITION BY cohort ORDER BY us, cohort) AS rk,
      |        count(*) OVER (PARTITION BY cohort) AS n
      |      FROM lat)
      |SELECT cohort, CAST(min(n) AS BIGINT) AS n_converted,
      |  CAST(min(CASE WHEN 2*rk >= n THEN us END) AS BIGINT) AS p50_us,
      |  CAST(min(CASE WHEN 10*rk >= 9*n THEN us END) AS BIGINT) AS p90_us
      |FROM r GROUP BY cohort ORDER BY cohort""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = Tables(s, dir, "events")
    val lat = graft.operators.Funnel.conversionLatency(ev, "user_id",
      "event_type", "ts", col("event_id"), Seq("view", "click", "purchase"))
    val cohort = ev.groupBy("user_id")
      .agg(expr("min(unix_micros(ts)) div 604800000000").as("cohort"))
    val r = lat.join(cohort, Seq("user_id"))
      .select(col("cohort"), col("convert_us").as("us"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("cohort").orderBy(col("us"), col("cohort"))))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("cohort")))
    r.groupBy("cohort")
      .agg(min("n").as("n_converted"),
        min(when(lit(2) * col("rk") >= col("n"), col("us"))).as("p50_us"),
        min(when(lit(10) * col("rk") >= lit(9) * col("n"), col("us")))
          .as("p90_us"))
      .orderBy("cohort")
  }

  // ---------------------------------------------------------------- q250
  // SentencePiece-Unigram encode (llm/Unigram — Kudo 2018, completing
  // the published tokenizer matrix: BPE learn/encode/decode q79/q80/
  // q193, WordPiece q205, and now the Viterbi family the T5/mT5/LLaMA
  // lineage ships). Integer piece costs (scaled −log p, the q221
  // exact-arithmetic discipline) make the DP minimum engine-agnostic;
  // arg-min ties break toward the LONGEST piece at each backward step
  // (the DemoVocab plants an exact tie — 'ab' = 'a'+'b' — so the rule
  // is exercised on fixture words like 'table'). Engine segments
  // DISTINCT words once and joins positions back (the q80/q205
  // dictionary-join shape). The oracle replays the DP itself — not a
  // greedy approximation: a forward recursive CTE carries the
  // prefix-best vector as a LIST (one row per word per step, the q198
  // deep-replay precedent), then a backward CTE reconstructs the path
  // with the same longest-piece tie-break via list_max.
  val q250 = Q(
    "q250_unigram_encode",
    """WITH RECURSIVE
      |w0 AS (SELECT doc_id, string_split_regex(trim(text), '\s+') AS arr
      |       FROM documents),
      |words AS (SELECT doc_id, CAST(wi AS INT) AS widx, arr[wi+1] AS word
      |          FROM (SELECT doc_id, arr, unnest(range(len(arr))) AS wi FROM w0)
      |          WHERE arr[wi+1] <> ''),
      |sing AS (SELECT chr(97+CAST(i AS INT)) AS core, 100 AS c
      |         FROM (SELECT unnest(range(26)) AS i) WHERE i <> 16),
      |multi(core, c) AS (VALUES
      |  ('the',190),('jo',150),('in',120),('join',230),
      |  ('or',130),('so',150),('rt',150),('key',240),
      |  ('fa',140),('st',110),('mer',210),('ge',130),
      |  ('an',120),('col',220),('umn',250),('win',200),
      |  ('dow',240),('val',230),('ue',140),('str',200),
      |  ('eam',230),('er',120),('ed',130),('ing',180),
      |  ('ab',200)),
      |vocab AS (SELECT core, CAST(len(core) AS INT) AS l, CAST(c AS INT) AS c
      |          FROM (SELECT * FROM sing UNION ALL SELECT * FROM multi)),
      |dw AS (SELECT DISTINCT word FROM words WHERE len(word) <= 32),
      |poss AS (SELECT word, CAST(pe AS INT) AS pe
      |         FROM (SELECT word, unnest(range(1, len(word)+1)) AS pe FROM dw)),
      |cand AS (SELECT p.word, p.pe, v.l, v.c
      |         FROM poss p JOIN vocab v
      |           ON v.l <= p.pe
      |          AND substr(p.word, p.pe - v.l + 1, v.l) = v.core),
      |mm AS (SELECT word, pe, list(struct_pack(l := l, c := c) ORDER BY l) AS ms
      |       FROM cand GROUP BY 1, 2),
      |wm AS (SELECT p.word,
      |         list(CASE WHEN mm.ms IS NULL
      |                   THEN CAST([] AS STRUCT(l INTEGER, c INTEGER)[])
      |                   ELSE mm.ms END ORDER BY p.pe) AS msv
      |       FROM poss p LEFT JOIN mm USING (word, pe)
      |       GROUP BY p.word),
      |fwd(word, p, bests) AS (
      |  SELECT word, 0, [CAST(0 AS INTEGER)] FROM dw
      |  UNION ALL
      |  SELECT f.word, f.p + 1,
      |    list_append(f.bests, list_min(list_filter(
      |      list_transform(w.msv[f.p + 1],
      |        m -> CASE WHEN f.bests[f.p + 2 - m.l] IS NULL THEN NULL
      |                  ELSE f.bests[f.p + 2 - m.l] + m.c END),
      |      x -> x IS NOT NULL)))
      |  FROM fwd f JOIN wm w USING (word)
      |  WHERE f.p < len(f.word)),
      |fin AS (SELECT word, bests FROM fwd WHERE p = len(word)),
      |bwd(word, q, pieces) AS (
      |  SELECT word, CAST(len(word) AS INT), CAST([] AS VARCHAR[])
      |  FROM fin WHERE bests[len(word) + 1] IS NOT NULL
      |  UNION ALL
      |  SELECT b.word,
      |    b.q - list_max(list_transform(list_filter(w.msv[b.q],
      |        m -> f.bests[b.q - m.l + 1] IS NOT NULL
      |         AND f.bests[b.q - m.l + 1] + m.c = f.bests[b.q + 1]),
      |      m -> m.l)),
      |    list_prepend(substr(b.word,
      |        b.q - list_max(list_transform(list_filter(w.msv[b.q],
      |            m -> f.bests[b.q - m.l + 1] IS NOT NULL
      |             AND f.bests[b.q - m.l + 1] + m.c = f.bests[b.q + 1]),
      |          m -> m.l)) + 1,
      |        list_max(list_transform(list_filter(w.msv[b.q],
      |            m -> f.bests[b.q - m.l + 1] IS NOT NULL
      |             AND f.bests[b.q - m.l + 1] + m.c = f.bests[b.q + 1]),
      |          m -> m.l))),
      |      b.pieces)
      |  FROM bwd b JOIN wm w USING (word) JOIN fin f USING (word)
      |  WHERE b.q > 0),
      |seg AS (SELECT word, pieces FROM bwd WHERE q = 0),
      |segk AS (SELECT word, CAST(k0 AS INT) AS k, pieces[CAST(k0 AS INT) + 1] AS piece
      |         FROM (SELECT word, pieces, unnest(range(len(pieces))) AS k0 FROM seg)),
      |unk AS (SELECT word, 0 AS k, '<unk>' AS piece
      |        FROM (SELECT DISTINCT word FROM words)
      |        WHERE word NOT IN (SELECT word FROM seg))
      |SELECT w.doc_id, w.widx, p.k, p.piece
      |FROM words w
      |JOIN (SELECT * FROM segk UNION ALL SELECT * FROM unk) p USING (word)
      |ORDER BY doc_id, widx, k""".stripMargin) { (s, dir) =>
    Unigram.segmentAll(Tables(s, dir, "documents"))
      .orderBy("doc_id", "widx", "k")
  }

  // ---------------------------------------------------------------- q251
  // CDC pipeline round-trip (the composed warehouse-plane law, the
  // q177/q149 treatment: q215 diffs snapshots, q208 applies
  // changelogs, q224 builds SCD2 history, q242 probes it — this
  // composes ALL FOUR and pins the algebra that makes them a
  // pipeline): (1) derive a changelog from adjacent snapshot
  // generations with Drift (upserts from added/changed, tombstones
  // from removed), (2) Upsert-apply it over generation 0 — the result
  // must equal generation 3 EXACTLY (apply ∘ diff ≡ identity on the
  // final state), (3) build SCD2 history over the full key×gen
  // lattice (absent generations carried as present=false with NULL
  // attrs — exercising the null-safe boundary comparisons), (4)
  // point-in-time-probe the history at EVERY generation — each
  // reconstruction must equal its snapshot. The fixture plants
  // deletions AND re-insertions (keys k%10=g vanish at exactly
  // generation g), so tombstone apply, interval splitting, and
  // re-appearance all execute. Output: per-generation key counts and
  // checksums derived independently by the oracle from the mutation
  // formula, plus the two law columns pinned to 0 — the engine earns
  // its zeros through real full-outer drift joins. Scale shape: every
  // stage is the underlying operator's (key-keyed joins/aggregates/
  // windows); nothing new materializes beyond diff-sized frames.
  val q251 = Q(
    "q251_cdc_roundtrip",
    """WITH l AS (
      |  SELECT o_orderkey AS k, g.g AS g,
      |         CASE WHEN g.g >= o_orderkey % 4 THEN 'S'
      |              ELSE o_orderstatus END AS st
      |  FROM orders CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(g)
      |  WHERE NOT (g.g > 0 AND o_orderkey % 10 = g.g))
      |SELECT CAST(g AS BIGINT) AS gen,
      |  CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(k) AS BIGINT) AS k_sum,
      |  CAST(count(CASE WHEN st = 'S' THEN 1 END) AS BIGINT) AS n_st_s,
      |  CAST(0 AS BIGINT) AS pit_drift,
      |  CAST(0 AS BIGINT) AS apply_drift
      |FROM l GROUP BY g ORDER BY gen""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    import graft.operators.{Drift, Scd, Upsert}
    // r19 measured A/B, then reverted (guide §1.1's empirical loop): the
    // ~15 consumers re-reading this 3-column projection LOOK like a
    // checkpoint-once candidate, but materializing it is a net LOSS here —
    // localCheckpoint 5.6 → 8.7 s (an RDD leaf loses size stats, demoting
    // every downstream broadcast join to sort-merge) and cache() 5.6 →
    // 6.9 s (columnar round-trip + barrier with no scan savings: the
    // 15k-row parquet re-scan was never the cost; the wall is the
    // composite's planning + many small stages). Plain re-scan stands.
    val o = Tables(s, dir, "orders").select(
      col("o_orderkey").as("k"), col("o_orderstatus").as("st0"),
      col("o_totalprice").as("price0"))
    // deterministic generation g of the snapshot stack: q224's status/
    // price mutations plus planted deletions (k%10 = g vanishes at g)
    def stAt(g: Int) = when(lit(g) >= pmod(col("k"), lit(4L)).cast("int"),
      lit("S")).otherwise(col("st0"))
    def priceAt(g: Int) = col("price0") + lit(10.0 * (g / 2))
    def snap(g: Int): DataFrame = o
      .filter(if (g == 0) lit(true) else pmod(col("k"), lit(10L)) =!= g)
      .select(col("k"), stAt(g).as("st"), priceAt(g).as("price"))
    val gens = 0 to 3
    // leg 1: changelog from adjacent generations via Drift, applied
    // over generation 0 via Upsert — must reproduce generation 3
    val changelog = (1 to 3).map { g =>
      val d = Drift.changedColumns(snap(g - 1), snap(g), "k",
        Seq("st", "price"))
      val ups = d.filter(col("status") =!= "removed").select("k")
        .join(snap(g), Seq("k"))
        .select(col("k"), col("st"), col("price"),
          lit(g.toLong).as("version"), lit("U").as("op"))
      val dels = d.filter(col("status") === "removed")
        .select(col("k"), lit(null).cast("string").as("st"),
          lit(null).cast("double").as("price"),
          lit(g.toLong).as("version"), lit("D").as("op"))
      ups.unionByName(dels)
    }.reduce(_ unionByName _)
    val base = snap(0)
      .withColumn("version", lit(0L)).withColumn("op", lit("U"))
    val applied = Upsert(base, changelog, Seq("k"))
      .select("k", "st", "price")
    val applyDrift = Drift.changedColumns(applied, snap(3), "k",
        Seq("st", "price"))
      .agg(count(lit(1)).as("apply_drift"))
    // leg 2: SCD2 over the full key×gen lattice (absent gens present=
    // false, NULL attrs), PIT-probed at every generation
    val lattice = o
      .select(col("k"), col("st0"), col("price0"),
        explode(array(gens.map(lit): _*)).as("g"))
      .withColumn("present",
        !(col("g") > 0 && pmod(col("k"), lit(10L)) === col("g")))
      .select(col("k"), col("g"),
        when(col("present"), when(col("g") >= pmod(col("k"), lit(4L))
          .cast("int"), lit("S")).otherwise(col("st0"))).as("st"),
        when(col("present"),
          col("price0") + lit(10.0) * floor(col("g") / 2)).as("price"),
        col("present"))
    val scd = Scd.type2History(lattice, "k", "g",
      Seq("st", "price", "present")).cache()
    def pit(g: Int): DataFrame = scd
      .filter(col("gen_from") <= g &&
        (col("gen_to").isNull || lit(g) < col("gen_to")) && col("present"))
      .select("k", "st", "price")
    val pitDriftRows = gens.map { g =>
      Drift.changedColumns(pit(g), snap(g), "k", Seq("st", "price"))
        .select(lit(g.toLong).as("gen"))
    }.reduce(_ unionByName _)
    val genFrame = {
      import s.implicits._
      gens.map(_.toLong).toDF("gen")
    }
    val pitDrift = genFrame.join(
        pitDriftRows.groupBy("gen").agg(count(lit(1)).as("pd")),
        Seq("gen"), "left")
      .select(col("gen"), coalesce(col("pd"), lit(0L)).as("pit_drift"))
    // independent per-generation stats (the oracle's derivation)
    val stats = lattice.filter(col("present"))
      .groupBy(col("g").cast("long").as("gen"))
      .agg(count(lit(1)).as("n_keys"), sum("k").as("k_sum"),
        count(when(col("st") === "S", lit(1))).as("n_st_s"))
    stats.join(pitDrift, Seq("gen"))
      .crossJoin(applyDrift)
      .select(col("gen"), col("n_keys"), col("k_sum"), col("n_st_s"),
        col("pit_drift"), col("apply_drift"))
      .orderBy("gen")
  }

  // ---------------------------------------------------------------- q252
  // Incremental SCD2 merge (operators/ScdMerge — q224 is the backfill,
  // this is the nightly load: apply ONE new snapshot generation to an
  // existing history without the snapshot stack, which at 100 TB is
  // orders of magnitude larger than the history and may no longer
  // exist). The oracle REBUILDS from the full 4-generation stack
  // (q224's CTE verbatim) while the engine merges generation 3 into
  // the history built from generations 0–2 — a hash match certifies
  // the incremental-apply law merge(build(0..2), snap_3) ≡ build(0..3)
  // (the q208 upsert-law treatment for the dimension plane; also
  // law-checked directly in ScdMergeSpec with new-key/null-safe
  // cases). Scale shape: closed intervals never move; only the per-key
  // open row joins the snapshot — one key-keyed full-outer join.
  val q252 = Q(
    "q252_scd2_merge",
    """WITH snap AS (
      |  SELECT o_orderkey AS k, g.g AS g,
      |         CASE WHEN g.g >= o_orderkey % 4 THEN 'S'
      |              ELSE o_orderstatus END AS st,
      |         o_totalprice + 10 * (g.g // 2) AS price
      |  FROM orders CROSS JOIN (VALUES (0), (1), (2), (3)) AS g(g)),
      |b AS (SELECT *,
      |        CASE WHEN lag(g) OVER w IS NULL
      |               OR st IS DISTINCT FROM lag(st) OVER w
      |               OR price IS DISTINCT FROM lag(price) OVER w
      |             THEN 1 ELSE 0 END AS chg
      |      FROM snap WINDOW w AS (PARTITION BY k ORDER BY g)),
      |r AS (SELECT *, CAST(sum(chg) OVER (PARTITION BY k ORDER BY g
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run
      |      FROM b),
      |v AS (SELECT k, run, min(g) AS gen_from,
      |             min(st) AS st, min(price) AS price
      |      FROM r GROUP BY k, run)
      |SELECT k, CAST(gen_from AS BIGINT) AS gen_from,
      |       CAST(lead(gen_from) OVER (PARTITION BY k ORDER BY gen_from)
      |            AS BIGINT) AS gen_to,
      |       st, price
      |FROM v ORDER BY k, gen_from""".stripMargin) { (s, dir) =>
    val snaps = Tables(s, dir, "orders")
      .select(col("o_orderkey").as("k"), col("o_orderstatus"),
        col("o_totalprice"), explode(array((0 to 3).map(lit): _*)).as("g"))
      .select(col("k"), col("g"),
        when(col("g") >= pmod(col("k"), lit(4L)).cast("int"), lit("S"))
          .otherwise(col("o_orderstatus")).as("st"),
        (col("o_totalprice") + lit(10) * (col("g") / 2).cast("int"))
          .as("price"))
    val history012 = graft.operators.Scd.type2History(
      snaps.filter(col("g") <= 2), "k", "g", Seq("st", "price"))
    val snap3 = snaps.filter(col("g") === 3).select("k", "st", "price")
    graft.operators.ScdMerge.merge(history012, snap3, "k",
        Seq("st", "price"), 3L)
      .orderBy("k", "gen_from")
  }

  // ---------------------------------------------------------------- q253
  // Integer EWMA smoothing (operators/Ewma — the metrics-drift readout
  // beside q241's seasonal profile and q244's disorder audit): daily
  // event counts per (event_type, user-bucket) smoothed with α = 1/8,
  // state in 1/64 units, all arithmetic non-negative integers so
  // truncating (Spark div) and flooring (DuckDB //) division agree —
  // the q221 exactness discipline applied to a RECURRENCE. Engine
  // folds each bounded per-key series with a codegen'd higher-order
  // aggregate (one key-keyed shuffle, no window, no UDF, no driver
  // loop — parallelism is across keys, the only parallelism a
  // sequential recurrence has); oracle replays the recurrence as a
  // rank-joined recursive CTE.
  val q253 = Q(
    "q253_ewma_daily",
    """WITH RECURSIVE
      |e AS (SELECT event_type, user_id % 8 AS ub,
      |             epoch_us(ts) // 86400000000 AS d FROM events),
      |c AS (SELECT event_type, ub, d, CAST(count(*) AS BIGINT) AS x
      |      FROM e GROUP BY 1, 2, 3),
      |o AS (SELECT *, row_number() OVER (PARTITION BY event_type, ub
      |        ORDER BY d) AS rn FROM c),
      |r(event_type, ub, rn, d, x, s) AS (
      |  SELECT event_type, ub, rn, d, x, 64 * x FROM o WHERE rn = 1
      |  UNION ALL
      |  SELECT o.event_type, o.ub, o.rn, o.d, o.x, (7 * r.s + 64 * o.x) // 8
      |  FROM r JOIN o ON o.event_type = r.event_type AND o.ub = r.ub
      |   AND o.rn = r.rn + 1)
      |SELECT event_type, ub, d, x, CAST(s AS BIGINT) AS ewma64
      |FROM r ORDER BY event_type, ub, d""".stripMargin) { (s, dir) =>
    val counts = Tables(s, dir, "events")
      .select(col("event_type"), pmod(col("user_id"), lit(8L)).as("ub"),
        expr("unix_micros(ts) div 86400000000").as("d"))
      .groupBy("event_type", "ub", "d").agg(count(lit(1)).as("x"))
    // maxLen = days of a decade: the grain is DAILY by construction, so
    // the honest bound is calendar-sized, not corpus-sized (the fold is
    // O(n²) per key — a loose cap would permit the blowup it guards)
    graft.operators.Ewma.smooth(counts, Seq("event_type", "ub"), "d", "x",
        maxLen = 3660)
      .orderBy("event_type", "ub", "d")
  }

  // ---------------------------------------------------------------- q254
  // Sorted-neighborhood record linkage (operators/SortedNeighborhood —
  // Hernández & Stolfo 1995, the blocking method the dedup tier
  // lacked: q31/q32 key on content overlap, q139 on global edit
  // distance; this keys on SORT proximity — compare only rows within w
  // positions of a blocked sort, the merge/purge staple for dirty
  // entity names). Fixture plants a one-character-deletion twin for
  // every 5th part (drop position = partkey mod len, so some twins
  // lose their FIRST character and sort into another block — the
  // method's documented blind spot, exercised not hidden); candidates
  // verify with levenshtein ≤ 2. Rank per BLOCK (first character) — a
  // global rank is a single-partition window, the registry lint's
  // target — and the pair join buckets ranks by `div (w−1)` with
  // fan-out 2 (the q225 grid discipline in 1-D), never a rank-band
  // theta join. Oracle replays block-rank, window pairing, and the
  // levenshtein verify wholesale.
  val q254 = Q(
    "q254_sorted_neighborhood",
    """WITH recs AS (
      |  SELECT p_partkey AS id, p_name AS key FROM part
      |  UNION ALL
      |  SELECT p_partkey + 1000000000,
      |         substr(p_name, 1, p_partkey % len(p_name)) ||
      |         substr(p_name, (p_partkey % len(p_name)) + 2)
      |  FROM part WHERE p_partkey % 5 = 0),
      |r AS (SELECT id, key, substr(key, 1, 1) AS block,
      |        row_number() OVER (PARTITION BY substr(key, 1, 1)
      |          ORDER BY key, id) AS rn
      |      FROM recs),
      |p AS (SELECT a.id AS id1, b.id AS id2, a.key AS key1, b.key AS key2,
      |             b.rn - a.rn AS gap
      |      FROM r a JOIN r b
      |        ON a.block = b.block AND b.rn - a.rn BETWEEN 1 AND 3)
      |SELECT id1, id2, key1, key2, CAST(gap AS BIGINT) AS gap,
      |       CAST(levenshtein(key1, key2) AS BIGINT) AS dist
      |FROM p WHERE levenshtein(key1, key2) <= 2
      |ORDER BY id1, id2""".stripMargin) { (s, dir) =>
    val part = Tables(s, dir, "part")
    val dirty = part.filter(col("p_partkey") % 5 === 0)
      .select((col("p_partkey") + 1000000000L).as("id"),
        expr("substr(p_name, 1, CAST(p_partkey % length(p_name) AS INT)) || " +
          "substr(p_name, CAST(p_partkey % length(p_name) AS INT) + 2)")
          .as("key"))
    val recs = part.select(col("p_partkey").as("id"), col("p_name").as("key"))
      .unionByName(dirty)
    graft.operators.SortedNeighborhood.pairs(recs, "id", "key",
        substring(col("key"), 1, 1), w = 4)
      .filter(levenshtein(col("key1"), col("key2")) <= 2)
      .select(col("id1"), col("id2"), col("key1"), col("key2"),
        col("gap").cast("long").as("gap"),
        levenshtein(col("key1"), col("key2")).cast("long").as("dist"))
      .orderBy("id1", "id2")
  }

  // ---------------------------------------------------------------- q255
  // FLAC metadata walk (llm/Flac — the lossless-audio container beside
  // WAV chunks / MP3 frames q131 / MP4 boxes q134 / OGG pages q239;
  // RFC 9639): ingest needs rate/channels/bits/length and tags WITHOUT
  // decoding audio, and the format plants two classic traps this walk
  // certifies — bit-packed big-endian STREAMINFO fields at fixed
  // offsets (20-bit rate, 36-bit total spanning byte boundaries) and a
  // LITTLE-endian vorbis-comment block inside the big-endian container.
  // Sample decode stays out of scope with the perceptual codecs: FLAC
  // audio is rice-coded bit-level territory, while the metadata section
  // is byte-structured and exactly checkable. Every 6th doc carries a
  // PADDING block (skipped, counted), every 3rd an extra comment, every
  // 11th a corrupt magic that quarantines the WHOLE stream; trailing
  // fake audio bytes prove the walk stops at the last-flagged block.
  // Oracle re-derives every field from the generating formula (the
  // builder can't cancel: FlacSpec pins the 34 STREAMINFO bytes BY
  // HAND). Row-local, no shuffle.
  val q255 = Q(
    "q255_flac_metadata",
    """SELECT doc_id,
      |  CAST(8000 * (1 + doc_id % 6) AS BIGINT) AS sample_rate,
      |  CAST(1 + doc_id % 3 AS BIGINT) AS channels,
      |  CAST(8 + 4 * (doc_id % 5) AS BIGINT) AS bps,
      |  CAST(1000 + doc_id * 7 AS BIGINT) AS total_samples,
      |  CAST(CASE WHEN doc_id % 6 = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_blocks,
      |  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END AS BIGINT) AS n_comments,
      |  'doc' || doc_id AS title
      |FROM documents WHERE doc_id % 11 <> 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val md5 = Array.tabulate[Byte](16)(j => ((id * 7 + j) % 256).toByte)
      val info = Flac.buildStreamInfo(4096, 4096, 14, 8192,
        (8000 * (1 + id % 6)).toInt, (1 + id % 3).toInt,
        (8 + 4 * (id % 5)).toInt, 1000L + id * 7, md5)
      val comments = Seq("TITLE" -> s"doc$id",
        "LANGUAGE" -> Seq("en", "de", "fr", "ja")((id % 4).toInt)) ++
        (if (id % 3 == 0) Seq("NOTE" -> "planted") else Nil)
      val vc = Flac.buildVorbisComment("graft", comments)
      val blocks = (0 -> info) +:
        (if (id % 6 == 0) Seq(1 -> new Array[Byte](32)) else Nil) :+
        (4 -> vc)
      val bytes = Flac.build(blocks) ++
        Array.fill[Byte](19)(((id % 251) + 1).toByte) // fake audio frames
      if (id % 11 == 0) bytes(2) = 'X'.toByte // corrupt magic -> quarantine
      Flac.decode(bytes).iterator.map { m =>
        (id, m.info.sampleRate.toLong, m.info.channels.toLong,
          m.info.bitsPerSample.toLong, m.info.totalSamples,
          m.nBlocks.toLong, m.comments.size.toLong,
          m.comments.find(_._1 == "TITLE").map(_._2).getOrElse(""))
      }
    }.toDF("doc_id", "sample_rate", "channels", "bps", "total_samples",
        "n_blocks", "n_comments", "title")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q256
  // Weighted systematic PPS draw (operators/Systematic — the
  // token-budgeted corpus draw q247 is the document-budgeted half of:
  // a training mix budgets TOKENS, so inclusion must be proportional
  // to length; Madow 1949 midpoint systematic sampling makes that an
  // EXACT INTEGER draw — points p_j = ⌊W(2j+1)/2k⌋ on the cumulative-
  // weight line, no float probabilities, no seeded RNG, reruns and
  // oracles derive the identical sample). Per-language quotas come
  // from q243's Hamilton allocator over char mass; the line order is
  // the pinned multiplicative hash (q244's LCG), so position can't
  // correlate with weight. Exactly 1000 output rows at EVERY SF by
  // construction (the exact-k contract; heavy docs repeat — PPS with
  // multiplicity, the stated semantics). One lang-keyed window + one
  // lang-sized aggregate + a BROADCAST points join (≤k rows) with the
  // interval test residual — the corpus never shuffles for the points.
  val q256 = Q(
    "q256_pps_systematic",
    """WITH w AS (SELECT lang AS stratum, CAST(sum(n_chars) AS BIGINT) AS weight
      |           FROM documents GROUP BY lang),
      |t AS (SELECT CAST(sum(weight) AS BIGINT) AS tot FROM w),
      |b AS (SELECT stratum, weight,
      |        (1000 * weight) // tot AS base,
      |        (1000 * weight) % tot AS rem
      |      FROM w CROSS JOIN t),
      |l AS (SELECT CAST(1000 - sum(base) AS BIGINT) AS leftover FROM b),
      |al AS (SELECT stratum, weight,
      |         base + CASE WHEN row_number() OVER (ORDER BY rem DESC, stratum)
      |                       <= l.leftover THEN 1 ELSE 0 END AS alloc
      |       FROM b CROSS JOIN l),
      |it AS (SELECT lang AS stratum, doc_id AS id,
      |         CAST(n_chars AS BIGINT) AS w,
      |         coalesce(sum(n_chars) OVER (PARTITION BY lang
      |           ORDER BY ((doc_id % 1000000007) * 48271) % 1000000007, doc_id
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cexcl
      |       FROM documents),
      |pts AS (SELECT stratum, j, (weight * (2 * j + 1)) // (2 * alloc) AS p
      |        FROM (SELECT stratum, weight, alloc, unnest(range(alloc)) AS j
      |              FROM al WHERE alloc >= 1))
      |SELECT it.stratum, CAST(pts.j AS BIGINT) AS j, it.id, it.w
      |FROM it JOIN pts ON pts.stratum = it.stratum
      | AND pts.p >= it.cexcl AND pts.p < it.cexcl + it.w
      |ORDER BY it.stratum, j""".stripMargin) { (s, dir) =>
    val docs = Tables(s, dir, "documents")
    val weights = docs.groupBy(col("lang"))
      .agg(sum(col("n_chars")).as("weight"))
    val allocs = graft.operators.Allocate.largestRemainder(
      weights, "lang", col("weight"), 1000L)
    graft.operators.Systematic.sample(
        docs.select(col("lang"), col("doc_id"), col("n_chars")),
        "lang", "doc_id", col("n_chars"), allocs)
      .orderBy("stratum", "j")
  }

  // ---------------------------------------------------------------- q257
  // Interval union / coverage report (operators/Intervals — the
  // gaps-and-islands MERGE, completing the interval toolkit beside
  // q222's sweep-line overlap count and q248's integer-run streaks:
  // billing hours, SLA uptime stretches, and availability reports all
  // reduce to "how much did each key cover, in how many stretches,
  // with what biggest hole"). The load-bearing subtlety is the
  // SWALLOWING case: an island boundary tests the start against the
  // RUNNING MAX of all earlier ends — lag(end) splits wrongly when a
  // long interval swallows its successors (spec-pinned). Touching
  // intervals merge (half-open [s,e) semantics). ONE user-keyed window
  // shuffle shared by both windows and the island aggregate; the gap
  // pass runs over merged island rows. All integer µs.
  val q257 = Q(
    "q257_interval_coverage",
    """WITH i AS (SELECT user_id,
      |    epoch_us(ts) AS s,
      |    epoch_us(ts) + (event_id % 50 + 10) * 60000000 AS e
      |  FROM events),
      |o AS (SELECT *, max(e) OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pme
      |      FROM i),
      |f AS (SELECT *, CASE WHEN pme IS NULL OR s > pme THEN 1 ELSE 0 END
      |        AS nw FROM o),
      |g AS (SELECT *, sum(nw) OVER (PARTITION BY user_id ORDER BY s, e
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |      FROM f),
      |v AS (SELECT user_id, isl, count(*) AS n, min(s) AS ms, max(e) AS me
      |      FROM g GROUP BY 1, 2),
      |w2 AS (SELECT *, coalesce(lead(ms) OVER (PARTITION BY user_id
      |         ORDER BY ms) - me, 0) AS gap FROM v)
      |SELECT user_id, CAST(sum(n) AS BIGINT) AS n_intervals,
      |  CAST(count(*) AS BIGINT) AS n_islands,
      |  CAST(sum(me - ms) AS BIGINT) AS covered_us,
      |  CAST(max(gap) AS BIGINT) AS max_gap_us
      |FROM w2 GROUP BY user_id ORDER BY user_id""".stripMargin) { (s, dir) =>
    val iv = Tables(s, dir, "events").select(col("user_id"),
      unix_micros(col("ts")).as("s"),
      (unix_micros(col("ts")) +
        (pmod(col("event_id"), lit(50L)) + 10) * 60000000L).as("e"))
    graft.operators.Intervals.coverage(iv, "user_id", "s", "e")
      .orderBy("user_id")
  }

  // ---------------------------------------------------------------- q258
  // Rendezvous (HRW) sharding with a resize-movement audit (Thaler &
  // Ravishankar 1996 — the stable-assignment primitive behind
  // consistent shuffles, cache rings, and cluster resizes at 100 TB:
  // when the shard count changes, only keys whose NEW shard wins move;
  // everything else stays). shard(k, S) = the s < S maximizing a
  // pinned affine hash h(k, s), ties to the SMALLEST s — the argmax is
  // a codegen'd higher-order fold (max over an array of (h, −s)
  // structs), row-local, no shuffle until the final count. The output
  // certifies the HRW LAW: resizing 8 → 9 moves keys ONLY INTO the new
  // shard (n_stayed = n_keys on shards 0–7, 0 on shard 8) at ~1/9 of
  // the keyspace. Oracle replays the argmax as max-hash + min-shard
  // joins over an unnested shard range. The hash is QUADRATIC in the
  // reduced affine form — h = a·(a+12345) mod p with a = (k·P₁ + s·P₂
  // + 17) mod p — because ANY affine-in-s hash makes argmax degenerate
  // (h(s) steps by a constant mod p, so one shard wins almost always;
  // the first cut measured 64% on shard 0). Overflow discipline: the
  // key PRE-REDUCES mod p before the multiply (k%p ≤ ~1e9, ×P₁ ≈
  // 2.7e18 < 2⁶³ — a raw key would overflow under ANSI once keys pass
  // ~3.5e9, i.e. at real warehouse scale) and a < p keeps the
  // quadratic term under 2⁶³ in both engines.
  val q258 = Q(
    "q258_rendezvous_shards",
    """WITH k AS (SELECT o_orderkey AS k FROM orders),
      |h AS (SELECT k, s, a * (a + 12345) % 1000000007 AS h
      |      FROM (SELECT k, s,
      |              ((k % 1000000007) * 2654435761 + s * 40503 + 17)
      |                % 1000000007 AS a
      |            FROM k CROSS JOIN (SELECT unnest(range(9)) AS s) t)),
      |m8 AS (SELECT k, max(h) AS mh FROM h WHERE s < 8 GROUP BY k),
      |a8 AS (SELECT h.k, CAST(min(s) AS BIGINT) AS s8
      |       FROM h JOIN m8 ON h.k = m8.k AND h.h = m8.mh AND h.s < 8
      |       GROUP BY h.k),
      |m9 AS (SELECT k, max(h) AS mh FROM h GROUP BY k),
      |a9 AS (SELECT h.k, CAST(min(s) AS BIGINT) AS s9
      |       FROM h JOIN m9 ON h.k = m9.k AND h.h = m9.mh GROUP BY h.k)
      |SELECT s9, CAST(count(*) AS BIGINT) AS n_keys,
      |  CAST(sum(CASE WHEN s8 = s9 THEN 1 ELSE 0 END) AS BIGINT) AS n_stayed
      |FROM a8 JOIN a9 USING (k)
      |GROUP BY s9 ORDER BY s9""".stripMargin) { (s, dir) =>
    def shard(n: Int) = expr(
      s"""-(array_max(transform(
         |  transform(sequence(0, ${n - 1}),
         |    s -> named_struct('a',
         |      ((o_orderkey % 1000000007L) * 2654435761L
         |        + s * 40503L + 17L) % 1000000007L,
         |      'ns', -s)),
         |  e -> struct(e.a * (e.a + 12345L) % 1000000007L AS h,
         |       e.ns AS ns))).ns)""".stripMargin).cast("long")
    // r19: spread — the 17-hash-per-row rendezvous projection ran serial
    // on the one-split orders scan (guide §2.5, par ≈ 0.9)
    graft.operators.Parallelism.spread(Tables(s, dir, "orders"))
      .select(shard(8).as("s8"), shard(9).as("s9"))
      .groupBy("s9")
      .agg(count(lit(1)).as("n_keys"),
        sum(when(col("s8") === col("s9"), 1L).otherwise(0L)).as("n_stayed"))
      .orderBy("s9")
  }

  // ---------------------------------------------------------------- q259
  // WebP feature census (llm/Webp — the RIFF-contained image format a
  // crawl meets beside PNG/GIF/JPEG; RIFF is WAV's own chunk layout):
  // pixel decode is perceptual-codec territory (VP8 is a video intra
  // frame — the documented native boundary), but the DIMENSIONS are
  // byte/bit-structured in three different ways and each is exactly
  // checkable: VP8X 24-bit LE canvas dims + flag bits (fixture widths
  // exceed 16 bits so a u16 misread cannot pass), lossy VP8 u16le dims
  // behind a start code with 2 scaling-hint bits masked off, lossless
  // VP8L 14+14 bits packed LSB-first. Every 7th doc truncates →
  // quarantines whole (the RIFF size must agree with the buffer);
  // skippable pre-image chunks with odd-length padding are WebpSpec
  // territory. Oracle re-derives every field from the generating
  // formula. Row-local, no shuffle.
  val q259 = Q(
    "q259_webp_census",
    """SELECT doc_id,
      |  CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'VP8X' WHEN 1 THEN 'VP8'
      |       ELSE 'VP8L' END AS format,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |       WHEN 0 THEN 65536 + doc_id % 1000
      |       WHEN 1 THEN 16 + doc_id % 1000
      |       ELSE 1 + doc_id % 16383 END AS BIGINT) AS width,
      |  CAST(CASE CAST(doc_id % 3 AS INT)
      |       WHEN 0 THEN 300 + doc_id % 200
      |       WHEN 1 THEN 16 + doc_id % 800
      |       ELSE 1 + doc_id % 500 END AS BIGINT) AS height,
      |  doc_id % 3 = 0 AND doc_id % 2 = 0 AS has_alpha,
      |  doc_id % 3 = 0 AND doc_id % 4 = 0 AS has_anim
      |FROM documents WHERE doc_id % 7 <> 0
      |ORDER BY doc_id""".stripMargin) { (s, dir) =>
    import s.implicits._
    Tables(s, dir, "documents").select(col("doc_id")).as[Long].flatMap { id =>
      val bytes = (id % 3) match {
        case 0 => Webp.buildVp8x((65536 + id % 1000).toInt,
          (300 + id % 200).toInt, alpha = id % 2 == 0, anim = id % 4 == 0)
        case 1 => Webp.buildVp8((16 + id % 1000).toInt, (16 + id % 800).toInt)
        case _ => Webp.buildVp8l((1 + id % 16383).toInt, (1 + id % 500).toInt)
      }
      val blob = if (id % 7 == 0) bytes.dropRight(3) else bytes
      Webp.decode(blob).iterator.map(f =>
        (id, f.format, f.width.toLong, f.height.toLong, f.hasAlpha,
          f.hasAnim))
    }.toDF("doc_id", "format", "width", "height", "has_alpha", "has_anim")
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q260
  // Referential-integrity audit (B6/B8 — the warehouse health check a
  // 100 TB lake runs after every load: per declared FK relationship,
  // how many child rows/keys point at a parent that does not exist;
  // orphans are how a partial parent load or an out-of-order ingest
  // first surfaces). Six TPC-H-shaped relationships in one report;
  // each is ONE anti-join (broadcastable parent keysets for the small
  // dims, key-shuffle for the big ones — Catalyst's call via AQE) plus
  // a distinct count; the report is relationship-sized. Oracle replays
  // each as NOT IN over the parent keyset. The fixture is referentially
  // clean by construction (orphan columns 0 — a fact worth hashing),
  // so a seventh PLANTED relationship corrupts the FK of every 13th
  // ORDER's lineitems to certify the orphan arithmetic with non-zero
  // values (l_linenumber never reaches 13 — the first cut keyed the
  // corruption on it and planted nothing).
  val q260 = Q(
    "q260_fk_audit",
    """WITH rel(name, child_rows, child_keys, orphan_rows, orphan_keys) AS (
      |  SELECT 'lineitem.orderkey->orders', count(*), count(DISTINCT l_orderkey),
      |    count(*) FILTER (o_orderkey IS NULL),
      |    count(DISTINCT l_orderkey) FILTER (o_orderkey IS NULL)
      |  FROM lineitem LEFT JOIN orders ON l_orderkey = o_orderkey
      |  UNION ALL
      |  SELECT 'lineitem.partkey->part', count(*), count(DISTINCT l_partkey),
      |    count(*) FILTER (p_partkey IS NULL),
      |    count(DISTINCT l_partkey) FILTER (p_partkey IS NULL)
      |  FROM lineitem LEFT JOIN part ON l_partkey = p_partkey
      |  UNION ALL
      |  SELECT 'lineitem.suppkey->supplier', count(*), count(DISTINCT l_suppkey),
      |    count(*) FILTER (s_suppkey IS NULL),
      |    count(DISTINCT l_suppkey) FILTER (s_suppkey IS NULL)
      |  FROM lineitem LEFT JOIN supplier ON l_suppkey = s_suppkey
      |  UNION ALL
      |  SELECT 'orders.custkey->customer', count(*), count(DISTINCT o_custkey),
      |    count(*) FILTER (c_custkey IS NULL),
      |    count(DISTINCT o_custkey) FILTER (c_custkey IS NULL)
      |  FROM orders LEFT JOIN customer ON o_custkey = c_custkey
      |  UNION ALL
      |  SELECT 'customer.nationkey->nation', count(*), count(DISTINCT c_nationkey),
      |    count(*) FILTER (n_nationkey IS NULL),
      |    count(DISTINCT c_nationkey) FILTER (n_nationkey IS NULL)
      |  FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey
      |  UNION ALL
      |  SELECT 'nation.regionkey->region', count(*), count(DISTINCT n_regionkey),
      |    count(*) FILTER (r_regionkey IS NULL),
      |    count(DISTINCT n_regionkey) FILTER (r_regionkey IS NULL)
      |  FROM nation LEFT JOIN region ON n_regionkey = r_regionkey
      |  UNION ALL
      |  SELECT 'planted.orderkey->orders', count(*), count(DISTINCT k),
      |    count(*) FILTER (o_orderkey IS NULL),
      |    count(DISTINCT k) FILTER (o_orderkey IS NULL)
      |  FROM (SELECT CASE WHEN l_orderkey % 13 = 0
      |               THEN l_orderkey + 2000000000 ELSE l_orderkey END AS k
      |        FROM lineitem) c
      |  LEFT JOIN orders ON c.k = o_orderkey)
      |SELECT name, CAST(child_rows AS BIGINT) AS child_rows,
      |  CAST(child_keys AS BIGINT) AS child_keys,
      |  CAST(orphan_rows AS BIGINT) AS orphan_rows,
      |  CAST(orphan_keys AS BIGINT) AS orphan_keys
      |FROM rel ORDER BY name""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.DataFrame
    def audit(name: String, child: DataFrame, fk: String, parent: DataFrame,
        pk: String): DataFrame = {
      val j = child.select(col(fk)).join(
        parent.select(col(pk)).distinct().withColumn("__p", lit(true)),
        col(fk) === col(pk), "left")
      j.agg(
        lit(name).as("name"),
        count(lit(1)).as("child_rows"),
        countDistinct(col(fk)).as("child_keys"),
        count(when(col("__p").isNull, 1)).as("orphan_rows"),
        countDistinct(when(col("__p").isNull, col(fk))).as("orphan_keys"))
        .select("name", "child_rows", "child_keys", "orphan_rows",
          "orphan_keys")
    }
    val li = Tables(s, dir, "lineitem")
    Seq(
      audit("lineitem.orderkey->orders", li, "l_orderkey",
        Tables(s, dir, "orders"), "o_orderkey"),
      audit("lineitem.partkey->part", li, "l_partkey",
        Tables(s, dir, "part"), "p_partkey"),
      audit("lineitem.suppkey->supplier", li, "l_suppkey",
        Tables(s, dir, "supplier"), "s_suppkey"),
      audit("orders.custkey->customer", Tables(s, dir, "orders"),
        "o_custkey", Tables(s, dir, "customer"), "c_custkey"),
      audit("customer.nationkey->nation", Tables(s, dir, "customer"),
        "c_nationkey", Tables(s, dir, "nation"), "n_nationkey"),
      audit("nation.regionkey->region", Tables(s, dir, "nation"),
        "n_regionkey", Tables(s, dir, "region"), "r_regionkey"),
      audit("planted.orderkey->orders",
        li.select(when(col("l_orderkey") % 13 === 0,
          col("l_orderkey") + 2000000000L)
          .otherwise(col("l_orderkey")).as("k")), "k",
        Tables(s, dir, "orders"), "o_orderkey"))
      .reduce(_ unionByName _)
      .orderBy("name")
  }

  // ---------------------------------------------------------------- q261
  // Content-defined chunk dedup (llm/Cdc — LBFS/rsync boundary rule,
  // the INSERTION-ROBUST sub-document dedup q130's fixed shingles are
  // not: one inserted byte shifts every fixed window, CDC boundaries
  // realign after the edit so untouched chunks keep their identity
  // across document versions — CdcSpec pins exactly that property).
  // Boundary = 16-char polynomial window hash ≡ 0 mod 64, prime
  // modulus BEFORE the residue test (a power-of-two modulus collapses
  // 257^k to two classes and the rule degenerates), power constants
  // pinned identically in both engines, all hash arithmetic 64-bit on
  // BOTH sides (a code point can reach 0x10FFFF; INT products overflow
  // under ANSI — the r15 advice class, closed here). Per-doc report:
  // chunk count, length extremes, and how many of the doc's chunks
  // appear in OTHER docs (the dedup signal — 127/500 docs share at
  // sf0.001). Engine is ONE codegen'd Catalyst expression
  // (functions/ContentChunks — O(len) kernel pass, whole-stage
  // codegen; the r15 interpreted-HOF form it replaces ran 6.6 s and
  // survives as Cdc.withChunksHof, the spec's cross-check twin), one
  // chunk-keyed exchange for the sharing counts; chunk identity is the
  // string so the oracle replays equality — at 100 TB the key is
  // xxhash64(chunk) (q130's measured 2.9× hash-vs-string trade).
  val q261 = Q(
    "q261_cdc_chunks",
    """WITH pw(j, p) AS (VALUES (0,57526),(1,385439),(2,203835),(3,117525),
      |  (4,731977),(5,555379),(6,126675),(7,381817),(8,709659),(9,107820),
      |  (10,529604),(11,457315),(12,974545),(13,66049),(14,257),(15,1)),
      |d AS (SELECT doc_id, text, len(text) AS n FROM documents
      |      WHERE len(text) >= 1),
      |pos AS (SELECT doc_id, text, n, CAST(i AS INT) AS i
      |        FROM (SELECT doc_id, text, n, unnest(range(16, n + 1)) AS i
      |              FROM d)),
      |hb AS (SELECT doc_id, i
      |       FROM pos JOIN pw ON true
      |       GROUP BY doc_id, text, i
      |       HAVING sum(CAST(ascii(substr(text, i - 15 + CAST(j AS INT), 1))
      |                       AS BIGINT) * p)
      |              % 1000003 % 64 = 0),
      |bnd AS (SELECT doc_id, i,
      |          row_number() OVER (PARTITION BY doc_id ORDER BY i) AS r
      |        FROM hb),
      |spans AS (
      |  SELECT b1.doc_id, coalesce(b0.i, 0) + 1 AS s, b1.i AS e
      |  FROM bnd b1 LEFT JOIN bnd b0
      |    ON b0.doc_id = b1.doc_id AND b0.r = b1.r - 1
      |  UNION ALL
      |  SELECT d.doc_id, coalesce(bl.mi, 0) + 1, d.n
      |  FROM d LEFT JOIN (SELECT doc_id, max(i) AS mi FROM bnd
      |                    GROUP BY doc_id) bl
      |    ON bl.doc_id = d.doc_id
      |  WHERE coalesce(bl.mi, 0) < d.n),
      |ch AS (SELECT spans.doc_id,
      |         substr(d.text, CAST(s AS INT), CAST(e - s + 1 AS INT)) AS chunk
      |       FROM spans JOIN d ON d.doc_id = spans.doc_id),
      |g AS (SELECT chunk, count(DISTINCT doc_id) AS nd FROM ch GROUP BY chunk)
      |SELECT ch.doc_id, CAST(count(*) AS BIGINT) AS n_chunks,
      |  CAST(min(len(chunk)) AS BIGINT) AS min_len,
      |  CAST(max(len(chunk)) AS BIGINT) AS max_len,
      |  CAST(sum(CASE WHEN g.nd > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
      |FROM ch JOIN g USING (chunk)
      |GROUP BY ch.doc_id ORDER BY ch.doc_id""".stripMargin) { (s, dir) =>
    // spread: the chunk pass is CPU-bound (one kernel scan per doc) —
    // a one-split parquet scan would run it serial on 32 cores
    val docs = graft.operators.Parallelism.spread(
      Tables(s, dir, "documents")
        .select(col("doc_id"), col("text"))
        .filter(length(col("text")) >= 1))
    val ch = Cdc.withChunks(docs, "text")
      .select(col("doc_id"), explode(col("chunks")).as("chunk"))
    val g = ch.groupBy("chunk").agg(countDistinct("doc_id").as("nd"))
    ch.join(g, Seq("chunk"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        min(length(col("chunk"))).cast("long").as("min_len"),
        max(length(col("chunk"))).cast("long").as("max_len"),
        sum(when(col("nd") > 1, 1L).otherwise(0L)).as("n_shared"))
      .orderBy("doc_id")
  }

  // ---------------------------------------------------------------- q262
  // Mergeable quantile sketch (functions/QuantileSketchAgg — DDSketch
  // lineage, Masson/Rim/Lee VLDB 2019, with DECIMAL-DIGIT buckets so
  // every index is exact integer arithmetic both engines replay: γ-log
  // buckets round differently across engines at bucket edges). The
  // rank/percentile member the sketch family lacked (HLL q114 =
  // distincts, Count-Min q207 = point frequency, Misra-Gries q120 =
  // heavy hitters, KMV q223 = cardinality): one-pass, fixed-size
  // (≤1000 exact + 900/decimal-scale buckets), and — the reason it
  // exists beside q118's exact two-pass median — LOSSLESSLY mergeable:
  // the sketch is its bucket-count array, so merge is explode + re-sum
  // and the union's sketch equals the bucket-wise sum BIT FOR BIT
  // under any merge tree. The engine path PROVES that: per-batch
  // sketches (l_orderkey%4 — the per-batch persist → union-on-read
  // incremental shape q114 established) are merged relationally, the
  // direct single-pass sketch is computed beside, and merge_law pins
  // the worst quantile delta to 0. Quantile rule all-integer: est(p) =
  // min lower bound with 100·cum ≥ p·n (cum integer ⇒ ≡ cum ≥
  // ⌈p·n/100⌉), reported as the bucket's EXACT lower bound m·10^k —
  // ≤1% relative error from bucket width alone, merge-invariant. At
  // 100 TB only bucket maps shuffle (map-side combine), never values;
  // cents route through DECIMAL (the q02 discipline — double×100
  // truncation diverges between engines).
  val q262 = Q(
    "q262_quantile_sketch",
    """WITH pw(k, p) AS (VALUES (0, CAST(1 AS BIGINT)), (1, 10), (2, 100),
      |  (3, 1000), (4, 10000), (5, 100000), (6, 1000000), (7, 10000000),
      |  (8, 100000000), (9, 1000000000), (10, 10000000000),
      |  (11, 100000000000), (12, 1000000000000), (13, 10000000000000),
      |  (14, 100000000000000), (15, 1000000000000000),
      |  (16, 10000000000000000)),
      |src AS (SELECT l_returnflag AS g,
      |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |        FROM lineitem),
      |b0 AS (SELECT g, v, CASE WHEN v < 1000 THEN 0
      |         ELSE length(CAST(v AS VARCHAR)) - 3 END AS k FROM src),
      |bu AS (SELECT g, b0.k, CAST(v // pw.p AS BIGINT) AS m, count(*) AS c
      |       FROM b0 JOIN pw ON pw.k = b0.k GROUP BY 1, 2, 3),
      |cu AS (SELECT g, bu.k, m, c, m * pw.p AS lo,
      |         sum(c) OVER (PARTITION BY g ORDER BY m * pw.p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n
      |       FROM bu JOIN pw ON pw.k = bu.k)
      |SELECT g, CAST(max(n) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(min(CASE WHEN 100 * cum >= 50 * n THEN lo END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN 100 * cum >= 90 * n THEN lo END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN 100 * cum >= 99 * n THEN lo END) AS BIGINT) AS p99,
      |  CAST(0 AS BIGINT) AS merge_law
      |FROM cu GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val li = Tables(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"),
      pmod(col("l_orderkey"), lit(4L)).as("b"))
    val pows = graft.functions.QuantileSketch.Pows
      .map(p => s"${p}L").mkString("array(", ", ", ")")
    def quantiles(buckets: org.apache.spark.sql.DataFrame) = {
      val wCum = Window.partitionBy("g").orderBy("lo")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cu = buckets
        .withColumn("lo", expr(s"m * element_at($pows, k + 1)"))
        .withColumn("cum", sum("c").over(wCum))
        .withColumn("n", sum("c").over(Window.partitionBy("g")))
      cu.groupBy("g").agg(
        max("n").as("n"),
        count(lit(1)).as("n_buckets"),
        min(when(col("cum") * 100 >= col("n") * 50, col("lo"))).as("p50"),
        min(when(col("cum") * 100 >= col("n") * 90, col("lo"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("lo"))).as("p99"))
    }
    def flat(sk: org.apache.spark.sql.DataFrame) = sk
      .select(col("g"), explode(col("sk")).as("bk"))
      .select(col("g"), col("bk.k").as("k"), col("bk.m").as("m"),
        col("bk.c").as("c"))
    // merged path: per-batch sketches, then the relational merge —
    // explode + re-sum per bucket (what an incremental nightly refresh
    // does to persisted per-batch sketch rows)
    val merged = flat(li.groupBy("g", "b")
        .agg(expr("qsketch_buckets(v)").as("sk")))
      .groupBy("g", "k", "m").agg(sum(col("c")).as("c"))
    val direct = flat(li.groupBy("g").agg(expr("qsketch_buckets(v)").as("sk")))
    val qd = quantiles(direct).select(col("g"), col("p50").as("d50"),
      col("p90").as("d90"), col("p99").as("d99"))
    quantiles(merged).join(qd, Seq("g"))
      .select(col("g"), col("n"), col("n_buckets"),
        col("p50"), col("p90"), col("p99"),
        greatest(abs(col("p50") - col("d50")), abs(col("p90") - col("d90")),
          abs(col("p99") - col("d99"))).as("merge_law"))
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q263
  // Incremental aggregate maintenance (operators/AggMaintain — the
  // materialized-view delta refresh, Gupta & Mumick 1995: the CDC
  // plane applies changelogs to ROWS — Upsert q208 state, ScdMerge
  // q252 history — and this is the missing AGGREGATE member). Law
  // certified exactly the q252 way: the ENGINE maintains agg(S₀)
  // through a changelog (cnt/sum pure deltas for every group; min/max
  // re-checked ONLY where a delete ties the stored extremum, via a
  // broadcast dirty-key semi-join into S₁ — the partition-pruning
  // probe at 100 TB) while the ORACLE rebuilds agg(S₁) from scratch;
  // the hash match IS refresh(agg(S₀), cl) ≡ agg(S₁). Fixture: orders
  // splits by orderkey residues — %7==0 rows arrive as inserts, %11==0
  // survivors leave as deletes — so every delete class occurs (extremum
  // deletes → dirty=1 groups, interior deletes stay on the delta path,
  // some custkeys vanish, insert-only custkeys appear); the dirty flag
  // is an output column the oracle replays from S₀+deletes, proving
  // the rescan tier actually fired (non-vacuity) and fired exactly
  // where the self-maintainability boundary says it must.
  val q263 = Q(
    "q263_agg_maintain",
    """WITH o AS (SELECT o_custkey AS k,
      |        CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |        o_orderkey AS ok FROM orders),
      |s0 AS (SELECT * FROM o WHERE ok % 7 <> 0),
      |s1 AS (SELECT * FROM o
      |       WHERE ok % 7 = 0 OR (ok % 7 <> 0 AND ok % 11 <> 0)),
      |a0 AS (SELECT k, min(v) AS mn0, max(v) AS mx0 FROM s0 GROUP BY k),
      |dl AS (SELECT k, min(v) AS dmn, max(v) AS dmx FROM s0
      |       WHERE ok % 11 = 0 GROUP BY k),
      |a1 AS (SELECT k, CAST(count(*) AS BIGINT) AS cnt,
      |         CAST(sum(v) AS BIGINT) AS sum_v,
      |         min(v) AS mn, max(v) AS mx FROM s1 GROUP BY k)
      |SELECT a1.k, a1.cnt, a1.sum_v, a1.mn, a1.mx,
      |  CAST(CASE WHEN dl.k IS NOT NULL
      |              AND (dl.dmn <= a0.mn0 OR dl.dmx >= a0.mx0)
      |       THEN 1 ELSE 0 END AS BIGINT) AS dirty
      |FROM a1 LEFT JOIN a0 ON a0.k = a1.k LEFT JOIN dl ON dl.k = a1.k
      |ORDER BY a1.k""".stripMargin) { (s, dir) =>
    val o = Tables(s, dir, "orders").select(col("o_custkey").as("k"),
      (col("o_totalprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"),
      col("o_orderkey").as("ok"))
    val s0 = o.filter(pmod(col("ok"), lit(7L)) =!= 0)
    val ins = o.filter(pmod(col("ok"), lit(7L)) === 0)
      .select(col("k"), col("v"), lit("I").as("op"))
    val del = s0.filter(pmod(col("ok"), lit(11L)) === 0)
      .select(col("k"), col("v"), lit("D").as("op"))
    val s1 = o.filter(pmod(col("ok"), lit(7L)) === 0 ||
        (pmod(col("ok"), lit(7L)) =!= 0 && pmod(col("ok"), lit(11L)) =!= 0))
      .select("k", "v")
    val agg0 = s0.groupBy("k").agg(count(lit(1)).as("cnt"),
      sum("v").as("sum_v"), min("v").as("mn"), max("v").as("mx"))
    graft.operators.AggMaintain
      .refresh(agg0, ins.unionByName(del), s1, "k")
      .orderBy("k")
  }

  // shared oracle prefix for the k-NN-graph pair (q264/q265): pinned
  // first-12 centroids, the q42a ‖c‖²−2⟨x,c⟩ strict-< lowest-index
  // assignment, 3-probe cells, same-cell candidate pairs, cosine, and
  // per-src top-12 ranked on FULL-PRECISION sims (ties by dst) — no
  // rounded column is hashed, so no boundary_guard probe is needed;
  // exact-double rank parity is the discipline q42a established.
  private val knnOraclePrefix =
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |                  list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
      |           FROM embeddings),
      |cent AS (SELECT vec_id AS cell, v AS c, list_dot_product(v, v) AS cn
      |         FROM e WHERE vec_id < 12),
      |pr AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, cent.cell,
      |                row_number() OVER (PARTITION BY e.vec_id
      |                  ORDER BY cent.cn - 2 * list_dot_product(e.v, cent.c),
      |                           cent.cell) AS rn
      |         FROM e CROSS JOIN cent) WHERE rn <= 3),
      |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      |         FROM pr a JOIN pr b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |sc AS (SELECT cand.src, cand.dst,
      |              list_dot_product(ea.v, eb.v) / sqrt(ea.n * eb.n) AS sim
      |       FROM cand JOIN e ea ON ea.vec_id = cand.src
      |                 JOIN e eb ON eb.vec_id = cand.dst)""".stripMargin

  // ---------------------------------------------------------------- q264
  // k-NN graph build (llm/KnnGraph — the graph-ANN family, HNSW/Vamana
  // lineage, closing the similarity-search matrix's one missing
  // lineage next to LSH/IVF/int8/PQ/IVFPQ). DETERMINISTIC end to end
  // (the q42a move: pinned first-12 centroids, strict-< lowest-index
  // assignment, full-precision rank ties by id), so the whole
  // distributed build — multi-probe cell explode (the cross-cell
  // stitch), bucketed same-cell pair join (never all-pairs), per-node
  // top-12 by cosine — hash-checks against the oracle rather than
  // settling for a recall property (recall vs brute IS also pinned, in
  // KnnGraphSpec: ≥85% at these exact parameters on the uniform
  // no-cluster fixture, measured 91.7%). At 100 TB the edge table
  // writes bucketed by src so q265's search hops are co-located
  // lookups.
  val q264 = Q(
    "q264_knn_graph",
    s"""$knnOraclePrefix
      |SELECT src, CAST(rk AS INT) AS rk, dst FROM (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src
      |           ORDER BY sim DESC, dst) AS rk FROM sc)
      |WHERE rk <= 12 ORDER BY src, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst").orderBy("src", "rk")
  }

  // ---------------------------------------------------------------- q265
  // Greedy beam search over the q264 graph (the DiskANN shard-entry
  // shape): entries are the per-cell MEDOIDS (a beam seeded in every
  // region cannot strand in one neighborhood — the single-entry trap
  // of flat k-NN graphs on this uniform no-cluster fixture), then 4
  // frontier expansions keeping the best 16 per query, finally top-3.
  // Work per query per round is ≤ beam·degree lookups — independent
  // of corpus size, the property the graph family exists for. The
  // oracle UNROLLS the identical 4 rounds as CTE layers (b0→b4) over
  // brute-force sims — the oracle may be brute, the engine never is —
  // so even the sequential search loop is hash-certified, keeping the
  // rows-only set at exactly its frozen 17.
  val q265 = Q(
    "q265_knn_beam_search",
    s"""$knnOraclePrefix,
      |asg AS (SELECT vec_id, cell, d FROM (
      |          SELECT e.vec_id, cent.cell,
      |                 cent.cn - 2 * list_dot_product(e.v, cent.c) AS d,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY cent.cn - 2 * list_dot_product(e.v, cent.c),
      |                            cent.cell) AS rn
      |          FROM e CROSS JOIN cent) WHERE rn = 1),
      |entry AS (SELECT vec_id AS node FROM (
      |            SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
      |                     ORDER BY d, vec_id) AS er FROM asg) WHERE er = 1),
      |edges AS (SELECT src, dst FROM (
      |            SELECT src, dst, row_number() OVER (PARTITION BY src
      |                     ORDER BY sim DESC, dst) AS rk FROM sc)
      |          WHERE rk <= 12),
      |q AS (SELECT vec_id AS q_id, v AS qv, n AS qn FROM e WHERE vec_id < 5),
      |sims AS (SELECT q.q_id, e.vec_id AS node,
      |                list_dot_product(q.qv, e.v) / sqrt(q.qn * e.n) AS sim
      |         FROM q JOIN e ON e.vec_id <> q.q_id),
      |b0 AS (SELECT q_id, node, sim FROM (
      |         SELECT s.q_id, s.node, s.sim,
      |                row_number() OVER (PARTITION BY s.q_id
      |                  ORDER BY s.sim DESC, s.node) AS rn
      |         FROM sims s JOIN entry ON entry.node = s.node) WHERE rn <= 16),
      |x1 AS (SELECT b0.q_id, edges.dst AS node
      |       FROM b0 JOIN edges ON edges.src = b0.node
      |       UNION SELECT q_id, node FROM b0),
      |b1 AS (SELECT q_id, node, sim FROM (
      |         SELECT s.q_id, s.node, s.sim,
      |                row_number() OVER (PARTITION BY s.q_id
      |                  ORDER BY s.sim DESC, s.node) AS rn
      |         FROM sims s JOIN x1 ON x1.q_id = s.q_id AND x1.node = s.node)
      |       WHERE rn <= 16),
      |x2 AS (SELECT b1.q_id, edges.dst AS node
      |       FROM b1 JOIN edges ON edges.src = b1.node
      |       UNION SELECT q_id, node FROM b1),
      |b2 AS (SELECT q_id, node, sim FROM (
      |         SELECT s.q_id, s.node, s.sim,
      |                row_number() OVER (PARTITION BY s.q_id
      |                  ORDER BY s.sim DESC, s.node) AS rn
      |         FROM sims s JOIN x2 ON x2.q_id = s.q_id AND x2.node = s.node)
      |       WHERE rn <= 16),
      |x3 AS (SELECT b2.q_id, edges.dst AS node
      |       FROM b2 JOIN edges ON edges.src = b2.node
      |       UNION SELECT q_id, node FROM b2),
      |b3 AS (SELECT q_id, node, sim FROM (
      |         SELECT s.q_id, s.node, s.sim,
      |                row_number() OVER (PARTITION BY s.q_id
      |                  ORDER BY s.sim DESC, s.node) AS rn
      |         FROM sims s JOIN x3 ON x3.q_id = s.q_id AND x3.node = s.node)
      |       WHERE rn <= 16),
      |x4 AS (SELECT b3.q_id, edges.dst AS node
      |       FROM b3 JOIN edges ON edges.src = b3.node
      |       UNION SELECT q_id, node FROM b3),
      |b4 AS (SELECT q_id, node, sim FROM (
      |         SELECT s.q_id, s.node, s.sim,
      |                row_number() OVER (PARTITION BY s.q_id
      |                  ORDER BY s.sim DESC, s.node) AS rn
      |         FROM sims s JOIN x4 ON x4.q_id = s.q_id AND x4.node = s.node)
      |       WHERE rn <= 16)
      |SELECT q_id, CAST(rk AS INT) AS rk, node FROM (
      |  SELECT q_id, node, row_number() OVER (PARTITION BY q_id
      |           ORDER BY sim DESC, node) AS rk FROM b4)
      |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    val entries = KnnGraph.entryPoints(emb, cs)
    KnnGraph.search(edges, emb, emb.filter(col("vec_id") < 5), entries,
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q266
  // Diversified k-NN graph (KnnGraph.buildDiverse — the α=1
  // RobustPrune of Vamana / Toussaint's RNG rule, the principled fix
  // for the operating contract the --knngraph curve measured: under
  // near-dup clusters larger than `degree`, plain top-k edges are all
  // intra-cluster, the graph degenerates into disconnected cliques,
  // and beam recall is 0%): walk the top-32 candidates in similarity
  // order, PRUNE candidate j if an already-kept neighbor k is strictly
  // closer to j than the source is (cos(k,j) > cos(src,j) — j stays
  // reachable via k, the edge budget buys a new DIRECTION), stop at
  // 12 kept. Deterministic: full-precision walk order (sim DESC, dst
  // ASC), strict-> prune, ties keep; the oracle replays the sequential
  // walk as a recursive CTE carrying the kept list, with dominator
  // sets precomputed per (src, candidate) and MATERIALIZED — a
  // recursive CTE re-evaluates non-materialized inputs EVERY iteration
  // (measured 35 s → 3 s at sf0.001). KnnGraphSpec pins the payoff
  // A/B: at degree 12 under planted 16-replica clusters the plain
  // graph's beam recall collapses while the diversified graph's
  // recovers, same edge budget. Engine: candidate scoring rides the
  // codegen'd build stages; the prune is a row-local HOF fold over ≤32
  // in-memory candidates after the WindowGroupLimit top-k cut.
  val q266 = Q(
    "q266_knn_graph_diverse",
    s"""$knnOraclePrefix,
      |cnd AS MATERIALIZED (SELECT src, dst, sim, rk FROM (
      |          SELECT src, dst, sim, row_number() OVER (PARTITION BY src
      |                   ORDER BY sim DESC, dst) AS rk FROM sc)
      |        WHERE rk <= 32),
      |en AS (SELECT vec_id, list_transform(v, x -> x / sqrt(n)) AS vn FROM e),
      |dom AS MATERIALIZED (SELECT a.src, b.dst AS j, list(a.dst) AS doms
      |        FROM cnd a JOIN cnd b ON a.src = b.src AND a.dst <> b.dst
      |        JOIN en ka ON ka.vec_id = a.dst JOIN en jb ON jb.vec_id = b.dst
      |        WHERE list_dot_product(ka.vn, jb.vn) > b.sim
      |        GROUP BY a.src, b.dst),
      |rec AS (
      |  SELECT src, 0 AS r, CAST([] AS BIGINT[]) AS kept
      |  FROM (SELECT DISTINCT src FROM cnd)
      |  UNION ALL
      |  SELECT rec.src, rec.r + 1,
      |    CASE WHEN c.dst IS NULL OR len(rec.kept) >= 12 THEN rec.kept
      |         WHEN len(list_intersect(rec.kept, coalesce(d.doms, []))) > 0
      |         THEN rec.kept
      |         ELSE list_append(rec.kept, c.dst) END
      |  FROM rec
      |  LEFT JOIN cnd c ON c.src = rec.src AND c.rk = rec.r + 1
      |  LEFT JOIN dom d ON d.src = rec.src AND d.j = c.dst
      |  WHERE rec.r < 32),
      |fin AS (SELECT src, kept FROM rec WHERE r = 32)
      |SELECT src, CAST(p AS INT) AS rk, kept[p] AS dst
      |FROM fin, unnest(range(1, len(kept) + 1)) AS t(p)
      |ORDER BY src, rk""".stripMargin
      .replace("WITH e AS", "WITH RECURSIVE e AS")) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    KnnGraph.buildDiverse(emb, cs, degree = 12, nProbe = 3, breadth = 32)
      .orderBy("src", "rk")
  }

  // ---------------------------------------------------------------- q267
  // KMV sketch SET ALGEBRA (Beyer et al., SIGMOD 2007 — "On synopses
  // for distinct-value estimation under multiset operations": the
  // reason KMV beats HLL as a warehouse synopsis is that the SAME
  // k-min sketch answers union AND intersection cardinalities without
  // rescanning raw data — union = merge-and-truncate, intersection via
  // the Jaccard of kept values: ρ = |K_∪ ∩ A ∩ B| / k, D_∩ ≈ ρ·D_∪).
  // Sets are user-DAYS per event type (the q244 events fixture has
  // every user touching every type, so raw user sets are degenerate
  // Jaccard-1; user-days differentiate at ρ ≈ 0.22). The element hash
  // is the pinned Lehmer form with the key PRE-REDUCED mod p before
  // the multiply (the q258/q256 overflow discipline — p = 1e9+7 keeps
  // the product ≤ ~4.8e13), day = integer epoch-µs div (no tz/date
  // semantics to diverge on). All estimate arithmetic is exact BIGINT
  // div; sub-k unions fall back to the exact size (the q223 rule,
  // try_element_at under ANSI). The exact hashed-key union and
  // intersection ride beside the estimates so the sketch error is
  // VISIBLE in the hashed result, the q207 one-sided-error treatment.
  // One aggregation exchange builds all 5 sketches; the pair frame is
  // groups², tiny, row-local list algebra after a broadcast self-join.
  val q267 = Q(
    "q267_kmv_set_algebra",
    """WITH m AS (SELECT DISTINCT event_type AS g,
      |    ((user_id * 1000000 + epoch_us(ts) // 86400000000) % 1000000007)
      |      * 48271 % 1000000007 AS h
      |  FROM events),
      |r AS (SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h) AS rn
      |      FROM m),
      |sk AS (SELECT g, list(h ORDER BY h) AS kmv FROM r
      |       WHERE rn <= 64 GROUP BY g),
      |ex AS (SELECT g, count(*) AS n FROM m GROUP BY g),
      |xint AS (SELECT a.g AS ga, b.g AS gb, count(*) AS n_int
      |         FROM m a JOIN m b ON a.g < b.g AND a.h = b.h GROUP BY 1, 2),
      |p AS (SELECT a.g AS ga, b.g AS gb, a.kmv AS ka, b.kmv AS kb,
      |             ea.n AS na, eb.n AS nb
      |      FROM sk a JOIN sk b ON a.g < b.g
      |      JOIN ex ea ON ea.g = a.g JOIN ex eb ON eb.g = b.g),
      |u AS (SELECT ga, gb, ka, kb, na, nb,
      |        list_sort(list_distinct(list_concat(ka, kb)))[1:64] AS ku
      |      FROM p),
      |est AS (SELECT ga, gb, na, nb, len(ku) AS n_ku,
      |         CASE WHEN len(ku) < 64 THEN len(ku)
      |              ELSE (63 * CAST(1000000007 AS BIGINT)) // ku[64] END
      |           AS est_union,
      |         len(list_filter(ku, x -> list_contains(ka, x)
      |                                  AND list_contains(kb, x))) AS k_both
      |        FROM u)
      |SELECT est.ga, est.gb,
      |  CAST(est_union AS BIGINT) AS est_union,
      |  CAST(na + nb - coalesce(x.n_int, 0) AS BIGINT) AS n_union_exact,
      |  CAST(k_both AS BIGINT) AS k_both,
      |  CAST(k_both * est_union // n_ku AS BIGINT) AS est_intersect,
      |  CAST(coalesce(x.n_int, 0) AS BIGINT) AS n_intersect_exact
      |FROM est LEFT JOIN xint x ON x.ga = est.ga AND x.gb = est.gb
      |ORDER BY est.ga, est.gb""".stripMargin) { (s, dir) =>
    graft.functions.GraftFunctions.register(s)
    val m = Tables(s, dir, "events")
      .select(col("event_type").as("g"),
        pmod(pmod(col("user_id") * 1000000L +
          expr("unix_micros(ts) div 86400000000"), lit(1000000007L)) *
          lit(48271L), lit(1000000007L)).as("h"))
      .distinct()
    val sk = m.groupBy("g").agg(expr("kmv_minhashes(h, 64)").as("kmv"),
      count(lit(1)).as("n"))
    val xint = m.select(col("g").as("ga"), col("h"))
      .join(m.select(col("g").as("gb"), col("h")), Seq("h"))
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n_int"))
    val pairs = broadcast(sk.select(col("g").as("ga"), col("kmv").as("ka"),
        col("n").as("na")))
      .join(broadcast(sk.select(col("g").as("gb"), col("kmv").as("kb"),
        col("n").as("nb"))), col("ga") < col("gb"))
      .withColumn("ku", expr("slice(array_sort(array_union(ka, kb)), 1, 64)"))
      .withColumn("est_union",
        when(size(col("ku")) < 64, size(col("ku")).cast("long"))
          .otherwise(expr(s"${63L * 1000000007L}L div try_element_at(ku, 64)")))
      .withColumn("k_both", expr(
        "size(filter(ku, x -> array_contains(ka, x) AND array_contains(kb, x)))"))
    pairs.join(xint, Seq("ga", "gb"), "left")
      .select(col("ga"), col("gb"),
        col("est_union"),
        (col("na") + col("nb") - coalesce(col("n_int"), lit(0L)))
          .as("n_union_exact"),
        col("k_both").cast("long").as("k_both"),
        // divide by the KEPT size, not k: a sub-k union sketch saw
        // EVERYTHING, so ρ = k_both/|ku| makes the intersection exact
        // there (k_both·|ku|/|ku|), and at |ku| = k it is Beyer's ρ·D_∪
        expr("(k_both * est_union) div size(ku)").as("est_intersect"),
        coalesce(col("n_int"), lit(0L)).as("n_intersect_exact"))
      .orderBy("ga", "gb")
  }

  // ---------------------------------------------------------------- q268
  // Quantile-sketch MAINTENANCE under deletes (the turnstile-stream
  // composition of q262 + q263: because q262's sketch is EXACT bucket
  // counts, a changelog applies as bucket-count DELTAS — inserts +1,
  // deletes −1 — with NO dirty-group rescan tier at all; count-based
  // sketches are fully self-maintainable where min/max needed q263's
  // re-check, and this is precisely the deletion support the
  // rank-compaction families (KLL/GK, whose kept items are
  // irrevocably merged) cannot offer). Law certified the q252/q263
  // way: the ENGINE maintains sketch(S₀) through the changelog —
  // union the base's bucket rows with ±1 bucket deltas, re-sum, drop
  // zeroed buckets — while the ORACLE builds sketch(S₁) from scratch;
  // the hash match IS apply(sketch(S₀), cl) ≡ sketch(S₁), per-bucket,
  // and the quantile columns ride on the MAINTAINED buckets. Fixture:
  // lineitem cents by returnflag, %7==0 rows arrive as inserts,
  // %11==0 survivors leave as deletes (the q263 residue split — every
  // bucket class occurs, some buckets zero out and must VANISH, the
  // spec-worthy edge). Only bucket maps move; the changelog folds to
  // ≤ |buckets| delta rows map-side.
  val q268 = Q(
    "q268_qsketch_maintain",
    """WITH pw(k, p) AS (VALUES (0, CAST(1 AS BIGINT)), (1, 10), (2, 100),
      |  (3, 1000), (4, 10000), (5, 100000), (6, 1000000), (7, 10000000),
      |  (8, 100000000), (9, 1000000000), (10, 10000000000),
      |  (11, 100000000000), (12, 1000000000000), (13, 10000000000000),
      |  (14, 100000000000000), (15, 1000000000000000),
      |  (16, 10000000000000000)),
      |src AS (SELECT l_returnflag AS g,
      |          CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v,
      |          l_orderkey AS ok
      |        FROM lineitem),
      |s1 AS (SELECT g, v FROM src
      |       WHERE ok % 7 = 0 OR (ok % 7 <> 0 AND ok % 11 <> 0)),
      |b0 AS (SELECT g, v, CASE WHEN v < 1000 THEN 0
      |         ELSE length(CAST(v AS VARCHAR)) - 3 END AS k FROM s1),
      |bu AS (SELECT g, b0.k, CAST(v // pw.p AS BIGINT) AS m, count(*) AS c
      |       FROM b0 JOIN pw ON pw.k = b0.k GROUP BY 1, 2, 3),
      |cu AS (SELECT g, bu.k, m, c, m * pw.p AS lo,
      |         sum(c) OVER (PARTITION BY g ORDER BY m * pw.p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(c) OVER (PARTITION BY g) AS n
      |       FROM bu JOIN pw ON pw.k = bu.k)
      |SELECT g, CAST(max(n) AS BIGINT) AS n,
      |  CAST(count(*) AS BIGINT) AS n_buckets,
      |  CAST(min(CASE WHEN 100 * cum >= 50 * n THEN lo END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN 100 * cum >= 90 * n THEN lo END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN 100 * cum >= 99 * n THEN lo END) AS BIGINT) AS p99
      |FROM cu GROUP BY g ORDER BY g""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val src = Tables(s, dir, "lineitem").select(
      col("l_returnflag").as("g"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100)
        .cast("long").as("v"),
      col("l_orderkey").as("ok"))
    val s0 = src.filter(pmod(col("ok"), lit(7L)) =!= 0)
    // the changelog: inserts (+1 per value) and deletes (−1) fold to
    // bucket deltas BEFORE touching the persisted sketch
    val cl = src.filter(pmod(col("ok"), lit(7L)) === 0)
        .select(col("g"), col("v"), lit(1L).as("d"))
      .unionByName(s0.filter(pmod(col("ok"), lit(11L)) === 0)
        .select(col("g"), col("v"), lit(-1L).as("d")))
    // persisted sketch of S₀ as bucket rows
    def bucketRows(df: org.apache.spark.sql.DataFrame) = df
      .groupBy("g").agg(expr("qsketch_buckets(v)").as("sk"))
      .select(col("g"), explode(col("sk")).as("bk"))
      .select(col("g"), col("bk.k").as("k"), col("bk.m").as("m"),
        col("bk.c").as("c"))
    val sk0 = bucketRows(s0)
    // changelog → signed bucket deltas THROUGH the same aggregate (one
    // bucket rule, no re-derivation): sketch the inserts and the
    // deletes separately per sign, then sign the counts — the
    // changelog folds to ≤ 2·|buckets| delta rows map-side
    val clB = cl.groupBy("g", "d")
      .agg(expr("qsketch_buckets(v)").as("sk"))
      .select(col("g"), col("d"), explode(col("sk")).as("bk"))
      .select(col("g"), col("bk.k").as("k"), col("bk.m").as("m"),
        (col("bk.c") * col("d")).as("c"))
    // apply: union + re-sum, zeroed buckets VANISH (as sketch(S₁)
    // never had them); negative survivors would mean a delete of a
    // value the base never held — fail loudly (the q263 discipline)
    val maintained = sk0.unionByName(clB)
      .groupBy("g", "k", "m").agg(sum(col("c")).as("c"))
      .filter(assert_true(col("c") >= 0,
        lit("q268: bucket count went negative — changelog deletes a " +
          "value the base never held")).isNull)
      .filter(col("c") > 0)
    val pows = graft.functions.QuantileSketch.Pows
      .map(p => s"${p}L").mkString("array(", ", ", ")")
    val wCum = Window.partitionBy("g").orderBy("lo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cu = maintained
      .withColumn("lo", expr(s"m * element_at($pows, k + 1)"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy("g")))
    cu.groupBy("g").agg(
        max("n").as("n"),
        count(lit(1)).as("n_buckets"),
        min(when(col("cum") * 100 >= col("n") * 50, col("lo"))).as("p50"),
        min(when(col("cum") * 100 >= col("n") * 90, col("lo"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("lo"))).as("p99"))
      .orderBy("g")
  }

  // ---------------------------------------------------------------- q269
  // Incremental k-NN-graph upsert (KnnGraph.upsert — the FreshDiskANN
  // shape: a production vector index ingests continuously, and
  // rebuilding a billion-edge graph per batch is not a plan). The
  // engine starts from build(base = vec_id ≥ 40), then UPSERTS the 40
  // newest vectors: new nodes get full edge lists via the probe-cell
  // machinery, affected base nodes splice back-edge candidates into
  // their existing lists and re-cut to degree, untouched base nodes
  // pass through with no window. The ORACLE IS q264's full-rebuild
  // oracle VERBATIM — the law upsert(build(B), N) ≡ build(B ∪ N) holds
  // exactly (the rebuild keeps ≤ degree old candidates per node, all
  // inside the old top-degree list, so re-cutting the spliced list
  // reproduces the rebuild's ranking bit for bit; sims don't depend on
  // which pass computed them), so one hash certifies the whole
  // incremental path including the touched/untouched split.
  val q269 = Q(
    "q269_knn_graph_upsert",
    s"""$knnOraclePrefix
      |SELECT src, CAST(rk AS INT) AS rk, dst FROM (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src
      |           ORDER BY sim DESC, dst) AS rk FROM sc)
      |WHERE rk <= 12 ORDER BY src, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val base = emb.filter(col("vec_id") >= 40)
    val fresh = emb.filter(col("vec_id") < 40)
    val g0 = KnnGraph.build(base, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true) // the PERSISTED index the upsert starts from
    KnnGraph.upsert(g0, base, fresh, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst").orderBy("src", "rk")
  }

  // ---------------------------------------------------------------- q270
  // Join-size estimation from Count-Min inner products (Cormode &
  // Muthukrishnan 2005 §4.2 — the sketch answer to the question a join
  // PLANNER asks at 100 TB: how big is A ⋈ B on this key, for every
  // candidate pair, WITHOUT scanning raw data: Σ_k fA(k)·fB(k) is
  // exactly the equi-join size, the inner product of two CM rows
  // estimates it, min across depth rows tightens it, and like the
  // point estimate it NEVER underestimates — collisions only add).
  // Sketches are per-event-type user_id frequency sketches (q207's
  // pinned affine hashes, depth 4 × width 256 — cells independent of
  // corpus size); the TRUE join size rides beside every estimate so
  // the one-sided error is VISIBLE in the hash (width 256 vs ~150
  // users at sf0.01 → near-exact; ~1500 users at sf0.1 → collision
  // inflation the reader can see, the q207 treatment). One aggregate
  // builds all 5 sketches; the estimate plane joins cells×cells —
  // depth·width-bounded, no raw-data rescan.
  val q270 = Q(
    "q270_cm_join_size",
    """WITH seeds(j, a, b) AS (VALUES (0, 31, 7), (1, 131, 17),
      |  (2, 1031, 29), (3, 65537, 41)),
      |cells AS (SELECT event_type AS g, j,
      |            ((a*user_id + b) % 2147483647) % 256 AS bucket,
      |            count(*) AS cnt
      |          FROM events CROSS JOIN seeds GROUP BY 1, 2, 3),
      |ip AS (SELECT x.g AS ga, y.g AS gb, x.j,
      |         sum(x.cnt * y.cnt) AS ip
      |       FROM cells x JOIN cells y
      |         ON x.g < y.g AND x.j = y.j AND x.bucket = y.bucket
      |       GROUP BY 1, 2, 3),
      |gs AS (SELECT DISTINCT event_type AS g FROM events),
      |pairs AS (SELECT x.g AS ga, y.g AS gb FROM gs x JOIN gs y
      |          ON x.g < y.g),
      |est AS (SELECT pairs.ga, pairs.gb,
      |          min(coalesce(ip.ip, 0)) AS est_join
      |        FROM pairs CROSS JOIN seeds
      |        LEFT JOIN ip ON ip.ga = pairs.ga AND ip.gb = pairs.gb
      |          AND ip.j = seeds.j
      |        GROUP BY 1, 2),
      |tru AS (SELECT a.event_type AS ga, b.event_type AS gb, count(*) AS n
      |        FROM events a JOIN events b
      |          ON a.user_id = b.user_id AND a.event_type < b.event_type
      |        GROUP BY 1, 2)
      |SELECT est.ga, est.gb, CAST(est_join AS BIGINT) AS est_join,
      |  CAST(coalesce(tru.n, 0) AS BIGINT) AS true_join
      |FROM est LEFT JOIN tru ON tru.ga = est.ga AND tru.gb = est.gb
      |ORDER BY est.ga, est.gb""".stripMargin) { (s, dir) =>
    val ev = Tables(s, dir, "events")
      .select(col("event_type").as("g"), col("user_id"))
    val cells = graft.functions.CountMin.tableBy(ev, col("g"),
      col("user_id"))
    val est = graft.functions.CountMin.joinSizes(cells)
    val tru = ev.select(col("g").as("ga"), col("user_id"))
      .join(ev.select(col("g").as("gb"), col("user_id")), Seq("user_id"))
      .filter(col("ga") < col("gb"))
      .groupBy("ga", "gb").agg(count(lit(1)).as("n"))
    est.join(tru, Seq("ga", "gb"), "left")
      .select(col("ga"), col("gb"), col("est_join"),
        coalesce(col("n"), lit(0L)).as("true_join"))
      .orderBy("ga", "gb")
  }

  // ---------------------------------------------------------------- q271
  // Mass-weighted quantiles (the r16 weighted form of q262's sketch:
  // `qsketch_buckets(v, w)` adds w per row — the token-budget world's
  // percentiles, because "half the corpus BYTES live in docs shorter
  // than X" is a DIFFERENT number from the doc-count p50 under a long
  // tail; a curation dashboard reads both side by side to see where
  // the mass actually sits). Per source, BOTH distributions come from
  // ONE aggregate pass (two sketches per group — doc-count and
  // char-mass, weight = v itself), then one shared window pass keyed
  // (g, mode) extracts p50/p90/p99 with the established all-integer
  // rule. Long-format output (no pivot): (g, mode, n, p50, p90, p99).
  // Weight sums stay exact longs (Σ v·1[bucket] per bucket); the
  // oracle replays both bucket tables as a UNION ALL over the same
  // decimal-digit rule.
  val q271 = Q(
    "q271_weighted_quantiles",
    """WITH pw(k, p) AS (VALUES (0, CAST(1 AS BIGINT)), (1, 10), (2, 100),
      |  (3, 1000), (4, 10000), (5, 100000), (6, 1000000), (7, 10000000),
      |  (8, 100000000), (9, 1000000000), (10, 10000000000),
      |  (11, 100000000000), (12, 1000000000000), (13, 10000000000000),
      |  (14, 100000000000000), (15, 1000000000000000),
      |  (16, 10000000000000000)),
      |src AS (SELECT source AS g, n_chars AS v FROM documents),
      |b0 AS (SELECT g, v, CASE WHEN v < 1000 THEN 0
      |         ELSE length(CAST(v AS VARCHAR)) - 3 END AS k FROM src),
      |bu AS (SELECT g, 'doc' AS mode, b0.k, CAST(v // pw.p AS BIGINT) AS m,
      |         CAST(count(*) AS BIGINT) AS c
      |       FROM b0 JOIN pw ON pw.k = b0.k GROUP BY 1, 2, 3, 4
      |       UNION ALL
      |       SELECT g, 'mass', b0.k, CAST(v // pw.p AS BIGINT),
      |         CAST(sum(v) AS BIGINT)
      |       FROM b0 JOIN pw ON pw.k = b0.k GROUP BY 1, 2, 3, 4),
      |cu AS (SELECT g, mode, bu.k, m, c, m * pw.p AS lo,
      |         sum(c) OVER (PARTITION BY g, mode ORDER BY m * pw.p
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(c) OVER (PARTITION BY g, mode) AS n
      |       FROM bu JOIN pw ON pw.k = bu.k)
      |SELECT g, mode, CAST(max(n) AS BIGINT) AS n,
      |  CAST(min(CASE WHEN 100 * cum >= 50 * n THEN lo END) AS BIGINT) AS p50,
      |  CAST(min(CASE WHEN 100 * cum >= 90 * n THEN lo END) AS BIGINT) AS p90,
      |  CAST(min(CASE WHEN 100 * cum >= 99 * n THEN lo END) AS BIGINT) AS p99
      |FROM cu GROUP BY g, mode ORDER BY g, mode""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(s)
    val d = Tables(s, dir, "documents")
      .select(col("source").as("g"), col("n_chars").as("v"))
    val sk = d.groupBy("g").agg(
      expr("qsketch_buckets(v)").as("skc"),
      expr("qsketch_buckets(v, v)").as("skw"))
    val b = sk.select(col("g"), lit("doc").as("mode"),
        explode(col("skc")).as("bk"))
      .unionByName(sk.select(col("g"), lit("mass").as("mode"),
        explode(col("skw")).as("bk")))
      .select(col("g"), col("mode"), col("bk.k").as("k"),
        col("bk.m").as("m"), col("bk.c").as("c"))
    val pows = graft.functions.QuantileSketch.Pows
      .map(p => s"${p}L").mkString("array(", ", ", ")")
    val wCum = Window.partitionBy("g", "mode").orderBy("lo")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cu = b.withColumn("lo", expr(s"m * element_at($pows, k + 1)"))
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy("g", "mode")))
    cu.groupBy("g", "mode").agg(
        max("n").as("n"),
        min(when(col("cum") * 100 >= col("n") * 50, col("lo"))).as("p50"),
        min(when(col("cum") * 100 >= col("n") * 90, col("lo"))).as("p90"),
        min(when(col("cum") * 100 >= col("n") * 99, col("lo"))).as("p99"))
      .orderBy("g", "mode")
  }

  // ---------------------------------------------------------------- q272
  // Hybrid retrieval fusion — reciprocal-rank fusion of BM25 and
  // embedding-cosine rankings (Cormack, Clarke & Buettcher, SIGIR
  // 2009: RRF(d) = Σ_r 1/(k₀+rank_r(d)), k₀ = 60 — the hybrid-search
  // staple because it needs NO score calibration between rankers,
  // only ranks). Lexical side = q142's BM25 machinery verbatim
  // (quantized integer term scores); semantic side = q26's rounded-
  // cosine top-k (which excludes the query itself, while BM25 ranks
  // it #1 — the asymmetric-membership case every real fusion handles,
  // exercised rather than hidden). The reciprocal is QUANTIZED to an
  // integer (10⁹ div (60+rank), the q142 q4 move): RRF sums become
  // exact BIGINTs both engines replay — no float reciprocals to
  // diverge on — and 10⁹ div 61..70 are distinct, so single-list
  // ranks never collide; sum ties break by doc_id. Docs absent from
  // one list contribute 0 from it (full-outer membership). At sf0.1
  // the embeddings table covers only the first 2000 of 5000 docs, so
  // high-qid queries fuse from BM25 alone — the partial-coverage path
  // rides in the hash too. Output: top-5 fused per query with both
  // source ranks (NULL where absent).
  val q272 = Q(
    "q272_rrf_hybrid",
    s"""WITH t AS (SELECT doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS term
      |           FROM documents),
      |tt AS (SELECT doc_id, term FROM t WHERE term <> ''),
      |tfq AS (SELECT doc_id, term, count(*) AS tf FROM tt GROUP BY 1, 2),
      |dlq AS (SELECT doc_id, count(*) AS dl FROM tt GROUP BY 1),
      |dfq AS (SELECT term, count(*) AS df
      |        FROM (SELECT DISTINCT doc_id, term FROM tt) GROUP BY term),
      |meta AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
      |                (SELECT CAST(sum(dl) AS DOUBLE) FROM dlq) /
      |                  (SELECT count(*) FROM documents) AS avgdl),
      |qraw AS (SELECT doc_id AS qid,
      |                unnest((string_split_regex(trim(text), '\\s+'))[1:3]) AS term
      |         FROM documents WHERE doc_id % 50 = 0),
      |qt AS (SELECT DISTINCT qid, term FROM qraw WHERE term <> ''),
      |flat AS (SELECT qt.qid, f.doc_id, f.tf, d.dl, g.df, m.n_docs, m.avgdl
      |         FROM qt
      |         JOIN tfq f ON qt.term = f.term
      |         JOIN dlq d ON f.doc_id = d.doc_id
      |         JOIN dfq g ON f.term = g.term
      |         CROSS JOIN meta m),
      |sc AS (SELECT qid, doc_id,
      |              CAST(floor((${TextAnalysis.Bm25TermExpr}) * 10000.0 + 0.5) AS BIGINT) AS q4
      |       FROM flat),
      |bm AS (SELECT qid, doc_id, rk AS r_bm FROM (
      |         SELECT qid, doc_id,
      |                row_number() OVER (PARTITION BY qid
      |                  ORDER BY s DESC, doc_id) AS rk
      |         FROM (SELECT qid, doc_id, sum(q4) AS s FROM sc GROUP BY 1, 2))
      |       WHERE rk <= 10),
      |e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n
      |      FROM embeddings),
      |qe AS (SELECT e.vec_id AS qid, e.v AS qv, e.n AS qn FROM e
      |       WHERE e.vec_id % 50 = 0),
      |cosr AS (SELECT qid, vec_id AS doc_id, rk AS r_cos FROM (
      |           SELECT qe.qid, e.vec_id,
      |                  row_number() OVER (PARTITION BY qe.qid
      |                    ORDER BY round(list_dot_product(qe.qv, e.v)
      |                            / sqrt(qe.qn * e.n), 4) DESC, e.vec_id) AS rk
      |           FROM qe JOIN e ON e.vec_id <> qe.qid)
      |         WHERE rk <= 10),
      |fused AS (SELECT coalesce(bm.qid, cosr.qid) AS qid,
      |            coalesce(bm.doc_id, cosr.doc_id) AS doc_id,
      |            bm.r_bm, cosr.r_cos,
      |            coalesce(1000000000 // (60 + bm.r_bm), 0)
      |              + coalesce(1000000000 // (60 + cosr.r_cos), 0) AS s
      |          FROM bm FULL OUTER JOIN cosr
      |            ON bm.qid = cosr.qid AND bm.doc_id = cosr.doc_id)
      |SELECT qid, CAST(rk AS INT) AS rk, doc_id,
      |  CAST(r_bm AS INT) AS r_bm, CAST(r_cos AS INT) AS r_cos,
      |  CAST(s AS BIGINT) AS rrf_q9
      |FROM (SELECT *, row_number() OVER (PARTITION BY qid
      |        ORDER BY s DESC, doc_id) AS rk FROM fused)
      |WHERE rk <= 5 ORDER BY qid, rk""".stripMargin) { (s, dir) =>
    import org.apache.spark.sql.expressions.Window
    val docs = Tables(s, dir, "documents")
    val queries = docs.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("qid"),
        explode(slice(split(trim(col("text")), "\\s+"), 1, 3)).as("term"))
      .filter(col("term") =!= "").distinct()
    val bm = TextAnalysis.bm25TopDocs(docs, queries, k = 10)
      .select(col("qid"), col("doc_id"), col("rk").as("r_bm"))
    val emb = Tables(s, dir, "embeddings")
    val cosr = Similarity.cosineTopK(emb,
        emb.filter(col("vec_id") % 50 === 0), k = 10)
      .select(col("q_id").as("qid"), col("vec_id").as("doc_id"),
        col("rk").as("r_cos"))
    val fused = bm.join(cosr, Seq("qid", "doc_id"), "full_outer")
      .withColumn("s",
        coalesce(expr("1000000000L div (60 + r_bm)"), lit(0L)) +
          coalesce(expr("1000000000L div (60 + r_cos)"), lit(0L)))
    fused.withColumn("rk", row_number().over(
        Window.partitionBy("qid").orderBy(col("s").desc, col("doc_id"))))
      .filter(col("rk") <= 5)
      .select(col("qid"), col("rk"), col("doc_id"),
        col("r_bm").cast("int").as("r_bm"),
        col("r_cos").cast("int").as("r_cos"),
        col("s").as("rrf_q9"))
      .orderBy("qid", "rk")
  }

  // ---------------------------------------------------------------- q273
  // Persisted-index beam search (KnnGraph.saveIndex/searchIndexed —
  // the Pq.saveIndex treatment for the graph family, closing the r16
  // verdict's flagged serving seam: q265's search packs the whole
  // corpus with its edges per call, right for one-shot analytics, wrong
  // for a serving path answering queries all day). At rest the index is
  // the DiskANN record shape: one row per node — (vec_id, embedding,
  // neighbor list) — bucketed AND sorted on vec_id, so each beam round's
  // probe (frontier ids → candidate vectors and neighbor lists) reaches
  // the scan as `vec_id IN (…)` file-level bucket
  // pruning (SelectedBucketsCount in the plan, asserted in
  // KnnGraphSpec and measured in the --knnidx ScaleStress curve);
  // per-round index IO is proportional to the buckets the bounded
  // beam touches, never the corpus. The ORACLE IS q265's VERBATIM —
  // one hash certifies save → bucket-pruned serve ≡ the in-memory
  // search bit for bit (same arithmetic, same tie rules, vectors
  // round-tripped through parquet floats exactly).
  val q273 = Q(
    "q273_knn_search_indexed",
    q265.oracle.get) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    // per-sf catalog names (overwritten per run — bounded warehouse
    // growth; the ScaleStress fixed-name concurrency stance)
    val name = "knnidx_" + java.lang.Integer.toHexString(dir.hashCode)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    KnnGraph.saveIndex(edges, emb, cs, name, buckets = 8)
    KnnGraph.searchIndexed(s, name, emb.filter(col("vec_id") < 5),
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q274
  // Graph-ANN delete (KnnGraph.delete — the other half of the
  // FreshDiskANN maintenance story q269's upsert started, Singh et al.
  // 2021): deleted nodes tombstone out (their lists drop, two
  // anti-joins on the skinny edge table), survivors whose lists
  // referenced a deleted node RE-FILL from their probe-cell candidates
  // — a splice can't work for deletes, the replacements live BELOW the
  // old top-degree cut, exactly the rows the old list never kept — and
  // untouched survivors pass through windowless (removing candidates
  // never promotes into a top-k that already excluded them: the upsert
  // top-k-maintenance argument in reverse, so the law is EXACT, no
  // approximation tier). The ORACLE IS q264's rebuild oracle with the
  // survivor filter spliced into the e CTE — one hash certifies
  // delete(build(B), D) ≡ build(B ∖ D) including the touched/untouched
  // split. Fixture: D = vec_id ≥ 12 with vec_id % 9 = 4 (~11% of
  // nodes, disjoint from the pinned centroids; ~76% of survivor lists
  // reference some deleted node, so both repair tiers are exercised —
  // non-vacuity of each is additionally spec-pinned in KnnGraphSpec).
  val q274 = Q(
    "q274_knn_graph_delete",
    s"""${knnOraclePrefix.replace("FROM embeddings)",
        "FROM embeddings WHERE vec_id < 12 OR vec_id % 9 <> 4)")}
      |SELECT src, CAST(rk AS INT) AS rk, dst FROM (
      |  SELECT src, dst, row_number() OVER (PARTITION BY src
      |           ORDER BY sim DESC, dst) AS rk FROM sc)
      |WHERE rk <= 12 ORDER BY src, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val deleted = emb.filter(col("vec_id") >= 12 &&
      pmod(col("vec_id"), lit(9L)) === 4)
    val g0 = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
      .localCheckpoint(true) // the PERSISTED index the delete starts from
    KnnGraph.delete(g0, emb, deleted, cs, degree = 12, nProbe = 3)
      .select("src", "rk", "dst").orderBy("src", "rk")
  }

  // ---------------------------------------------------------------- q275
  // Filtered ANN search (KnnGraph.searchFiltered — predicate-aware
  // beam, the Filtered-DiskANN question, Gollapudi et al. WWW 2023):
  // the predicate gates every admission, so entries and frontier
  // candidates that fail it never enter the beam and the whole budget
  // ranks ADMISSIBLE nodes. Post-filtering an unfiltered top-k is the
  // classic recall bug — at selectivity s it keeps ~s·k usable rows —
  // and KnnGraphSpec pins the A/B at these exact parameters (measured
  // 0.700 in-filter vs 0.367 post-filter against brute filtered
  // top-3, with the connectivity-tax contract documented: effective
  // degree ≈ degree·s, size the graph accordingly). The ORACLE IS
  // q265's unrolled CTE ladder with the predicate applied ONCE, on the
  // sims plane — entries and every expansion layer join through sims,
  // so one filter placement gates all five beam states exactly as the
  // engine's semi-join admission does; the sequential FILTERED
  // traversal is hash-certified end to end.
  val q275 = Q(
    "q275_knn_filtered_search",
    q265.oracle.get.replace(
      "FROM q JOIN e ON e.vec_id <> q.q_id),",
      "FROM q JOIN e ON e.vec_id <> q.q_id AND e.vec_id % 3 = 0),")) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val edges = KnnGraph.build(emb, cs, degree = 12, nProbe = 3)
    val entries = KnnGraph.entryPoints(emb, cs)
    KnnGraph.searchFiltered(edges, emb, emb.filter(col("vec_id") < 5),
        entries, pmod(col("vec_id"), lit(3L)) === 0,
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q278
  // Filtered search over the PERSISTED index
  // (KnnGraph.searchIndexedFiltered — q275's predicate-aware admission
  // composed with q273's bucket-pruned serving): the predicate
  // evaluates on the probed node records, so scoring's inner join
  // drops inadmissible candidates before the beam keep and every read
  // stays bucket-pruned (a global allowed-id semi-join would full-scan
  // the index per round — the design note on the operator). The ORACLE
  // IS q275's VERBATIM: one hash certifies that the persisted filtered
  // path equals the in-memory filtered path bit for bit, completing
  // the serving matrix (plain/filtered × in-memory/persisted).
  val q278 = Q(
    "q278_knn_filtered_indexed",
    q275.oracle.get) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val name = "knnidxf_" + java.lang.Integer.toHexString(dir.hashCode)
    KnnGraph.saveIndex(KnnGraph.build(emb, cs, degree = 12, nProbe = 3),
      emb, cs, name, buckets = 8)
    KnnGraph.searchIndexedFiltered(s, name, emb.filter(col("vec_id") < 5),
        pmod(col("vec_id"), lit(3L)) === 0, topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q279
  // PQ-scored beam search over the persisted graph — DiskANN's ACTUAL
  // serving loop (Subramanya et al. 2019 store per node: adjacency +
  // full vector + an M-byte PQ code; the beam ranks on code distances,
  // full vectors are touched only to RERANK the final candidates):
  // saveIndexPq writes the three-part record (q273's node shape + a
  // codes column from q183's pinned-grid-row sub-codebooks, rows 12-19
  // — disjoint from the graph's centroid rows 0-11, the q189
  // discipline), the beam ranks on INTEGER SDC distances (per-query
  // M×K tables over the persisted codebook, the per-candidate M-lookup
  // sum emitted as a relational join the oracle replays verbatim), and
  // only the last probe reads the embedding column — parquet column
  // pruning makes the hop probes (vec_id, codes, nbrs)-only, the PQ
  // memory story realized at the storage layer (ReadSchema asserted in
  // KnnGraphSpec). Every plane is deterministic (grid/encode/tables
  // integer-exact with lowest-index ties, beam ties by node, rerank
  // exact-double with node ties), so the oracle certifies the whole
  // loop INCLUDING the approximate ranking's mistakes and the rerank
  // correcting them: graph ladder from q264/q265, PQ planes from q183,
  // b0→b4 ranked on pqd ASC, top-8 rerank by exact cosine, top-3 out.
  val q279 = Q(
    "q279_knn_pq_beam",
    """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v,
      |             list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]) AS n,
      |             list_transform(embedding::DOUBLE[],
      |               x -> CAST(least(127, greatest(-127, round(x * 64)))
      |                    AS BIGINT)) AS g
      |           FROM embeddings),
      |cent AS (SELECT vec_id AS cell, v AS c, list_dot_product(v, v) AS cn
      |         FROM e WHERE vec_id < 12),
      |pr AS (SELECT vec_id, cell FROM (
      |         SELECT e.vec_id, cent.cell,
      |                row_number() OVER (PARTITION BY e.vec_id
      |                  ORDER BY cent.cn - 2 * list_dot_product(e.v, cent.c),
      |                           cent.cell) AS rn
      |         FROM e CROSS JOIN cent) WHERE rn <= 3),
      |cand AS (SELECT DISTINCT a.vec_id AS src, b.vec_id AS dst
      |         FROM pr a JOIN pr b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
      |sc AS (SELECT cand.src, cand.dst,
      |              list_dot_product(ea.v, eb.v) / sqrt(ea.n * eb.n) AS sim
      |       FROM cand JOIN e ea ON ea.vec_id = cand.src
      |                 JOIN e eb ON eb.vec_id = cand.dst),
      |edges AS (SELECT src, dst FROM (
      |            SELECT src, dst, row_number() OVER (PARTITION BY src
      |                     ORDER BY sim DESC, dst) AS rk FROM sc)
      |          WHERE rk <= 12),
      |asg AS (SELECT vec_id, cell, d FROM (
      |          SELECT e.vec_id, cent.cell,
      |                 cent.cn - 2 * list_dot_product(e.v, cent.c) AS d,
      |                 row_number() OVER (PARTITION BY e.vec_id
      |                   ORDER BY cent.cn - 2 * list_dot_product(e.v, cent.c),
      |                            cent.cell) AS rn
      |          FROM e CROSS JOIN cent) WHERE rn = 1),
      |entry AS (SELECT vec_id AS node FROM (
      |            SELECT vec_id, cell, row_number() OVER (PARTITION BY cell
      |                     ORDER BY d, vec_id) AS er FROM asg) WHERE er = 1),
      |cb AS (SELECT vec_id - 12 AS j, g FROM e
      |       WHERE vec_id >= 12 AND vec_id < 20),
      |ms AS (SELECT unnest(range(8)) AS m),
      |sub AS (SELECT e.vec_id, ms.m, cb.j,
      |          list_sum(list_transform(range(1, 9),
      |            i -> (e.g[8*ms.m + i] - cb.g[8*ms.m + i])
      |               * (e.g[8*ms.m + i] - cb.g[8*ms.m + i]))) AS d2
      |        FROM e CROSS JOIN ms CROSS JOIN cb),
      |codes AS (SELECT vec_id, m, j AS code FROM (
      |            SELECT vec_id, m, j,
      |                   row_number() OVER (PARTITION BY vec_id, m
      |                                      ORDER BY d2, j) AS rn
      |            FROM sub) WHERE rn = 1),
      |qc AS (SELECT vec_id AS q_id, m, code FROM codes WHERE vec_id < 5),
      |qt AS (SELECT qc.q_id, qc.m, cj.j,
      |         list_sum(list_transform(range(1, 9),
      |           i -> (cq.g[8*qc.m + i] - cj.g[8*qc.m + i])
      |              * (cq.g[8*qc.m + i] - cj.g[8*qc.m + i]))) AS td
      |       FROM qc JOIN cb cq ON cq.j = qc.code CROSS JOIN cb cj),
      |pqd AS (SELECT qt.q_id, codes.vec_id AS node,
      |          CAST(sum(qt.td) AS BIGINT) AS dist
      |        FROM codes JOIN qt ON qt.m = codes.m AND qt.j = codes.code
      |        WHERE codes.vec_id <> qt.q_id
      |        GROUP BY 1, 2),
      |b0 AS (SELECT q_id, node, dist FROM (
      |         SELECT p.q_id, p.node, p.dist,
      |                row_number() OVER (PARTITION BY p.q_id
      |                  ORDER BY p.dist, p.node) AS rn
      |         FROM pqd p JOIN entry ON entry.node = p.node) WHERE rn <= 16),
      |x1 AS (SELECT b0.q_id, edges.dst AS node
      |       FROM b0 JOIN edges ON edges.src = b0.node
      |       UNION SELECT q_id, node FROM b0),
      |b1 AS (SELECT q_id, node, dist FROM (
      |         SELECT p.q_id, p.node, p.dist,
      |                row_number() OVER (PARTITION BY p.q_id
      |                  ORDER BY p.dist, p.node) AS rn
      |         FROM pqd p JOIN x1 ON x1.q_id = p.q_id AND x1.node = p.node)
      |       WHERE rn <= 16),
      |x2 AS (SELECT b1.q_id, edges.dst AS node
      |       FROM b1 JOIN edges ON edges.src = b1.node
      |       UNION SELECT q_id, node FROM b1),
      |b2 AS (SELECT q_id, node, dist FROM (
      |         SELECT p.q_id, p.node, p.dist,
      |                row_number() OVER (PARTITION BY p.q_id
      |                  ORDER BY p.dist, p.node) AS rn
      |         FROM pqd p JOIN x2 ON x2.q_id = p.q_id AND x2.node = p.node)
      |       WHERE rn <= 16),
      |x3 AS (SELECT b2.q_id, edges.dst AS node
      |       FROM b2 JOIN edges ON edges.src = b2.node
      |       UNION SELECT q_id, node FROM b2),
      |b3 AS (SELECT q_id, node, dist FROM (
      |         SELECT p.q_id, p.node, p.dist,
      |                row_number() OVER (PARTITION BY p.q_id
      |                  ORDER BY p.dist, p.node) AS rn
      |         FROM pqd p JOIN x3 ON x3.q_id = p.q_id AND x3.node = p.node)
      |       WHERE rn <= 16),
      |x4 AS (SELECT b3.q_id, edges.dst AS node
      |       FROM b3 JOIN edges ON edges.src = b3.node
      |       UNION SELECT q_id, node FROM b3),
      |b4 AS (SELECT q_id, node, dist FROM (
      |         SELECT p.q_id, p.node, p.dist,
      |                row_number() OVER (PARTITION BY p.q_id
      |                  ORDER BY p.dist, p.node) AS rn
      |         FROM pqd p JOIN x4 ON x4.q_id = p.q_id AND x4.node = p.node)
      |       WHERE rn <= 16),
      |rr AS (SELECT q_id, node FROM (
      |         SELECT q_id, node, row_number() OVER (PARTITION BY q_id
      |                  ORDER BY dist, node) AS rn FROM b4) WHERE rn <= 8),
      |re AS (SELECT rr.q_id, rr.node,
      |         list_dot_product(q.v, e2.v) / sqrt(q.n * e2.n) AS sim
      |       FROM rr JOIN e q ON q.vec_id = rr.q_id
      |                JOIN e e2 ON e2.vec_id = rr.node)
      |SELECT q_id, CAST(rk AS INT) AS rk, node FROM (
      |  SELECT q_id, node, row_number() OVER (PARTITION BY q_id
      |           ORDER BY sim DESC, node) AS rk FROM re)
      |WHERE rk <= 3 ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val name = "knnpq_" + java.lang.Integer.toHexString(dir.hashCode)
    KnnGraph.saveIndexPq(KnnGraph.build(emb, cs, degree = 12, nProbe = 3),
      emb, cs, m = 8, dimsPer = 8, nCodebook = 8, cbStart = 12, name,
      buckets = 8)
    KnnGraph.searchIndexedPq(s, name, emb.filter(col("vec_id") < 5),
        topK = 3, beam = 16, rounds = 4, rerank = 8)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q281
  // Filtered PQ serving (KnnGraph.searchIndexedPqFiltered — q275's
  // predicate-aware admission composed with q279's code-distance beam:
  // the production serving combination, "top-k WHERE lang='en'" over
  // the PQ-coded index, Filtered-DiskANN, Gollapudi et al. WWW 2023).
  // The predicate evaluates on the probed node records, so scoring's
  // inner join drops inadmissible candidates before the beam keep —
  // the integer budget ranks ADMISSIBLE nodes only, hop reads stay
  // (vec_id, codes, nbrs)-pruned and bucket-pruned, and the rerank
  // tier (admissible by construction) re-scores with exact cosine.
  // The ORACLE IS q279's CTE ladder with the predicate applied ONCE,
  // on the code-distance plane (pqd) — every beam state b0..b4 joins
  // through pqd, so one filter placement gates entries and all four
  // expansions exactly as the engine's record gate does, and the
  // rerank inherits admissibility from b4 (the q275/q278 splice, on
  // the PQ path). One hash certifies the whole filtered serving loop.
  val q281 = Q(
    "q281_knn_pq_filtered",
    q279.oracle.get.replace(
      "WHERE codes.vec_id <> qt.q_id",
      "WHERE codes.vec_id <> qt.q_id AND codes.vec_id % 3 = 0")) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val name = "knnpqf_" + java.lang.Integer.toHexString(dir.hashCode)
    KnnGraph.saveIndexPq(KnnGraph.build(emb, cs, degree = 12, nProbe = 3),
      emb, cs, m = 8, dimsPer = 8, nCodebook = 8, cbStart = 12, name,
      buckets = 8)
    KnnGraph.searchIndexedPqFiltered(s, name, emb.filter(col("vec_id") < 5),
        pmod(col("vec_id"), lit(3L)) === 0,
        topK = 3, beam = 16, rounds = 4, rerank = 8)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q284
  // Index re-bucketing (KnnGraph.rebucket — the CAPACITY half of the
  // index lifecycle; q282's refresh is the quality half): bucket count
  // is pinned at build time, so a corpus that keeps growing through
  // streaming ingest fattens every bucket and the probes' per-file IO
  // with it. Rebucket re-saves under a new count; graph, vectors, and
  // entries pass through unchanged, so serving is BIT-IDENTICAL before
  // and after — which is exactly what the oracle certifies: the chain
  // under test is build+save at 4 buckets → ingest a batch through the
  // delta-write maintainer (exercising maintenance at the old count) →
  // rebucket to 16 → bucket-pruned serve, and the ORACLE IS q265's
  // in-memory search oracle VERBATIM (the q273 equivalence, surviving
  // an ingest and a re-layout). Only the id→file mapping changes.
  val q284 = Q(
    "q284_knn_rebucket",
    q265.oracle.get) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cs: Array[Array[Float]] = emb.filter(col("vec_id") < 12)
      .orderBy("vec_id").select("embedding").collect()
      .map(_.getSeq[Float](0).toArray)
    val name = "knnrb_" + java.lang.Integer.toHexString(dir.hashCode)
    val base = emb.filter(col("vec_id") >= 30).select("vec_id", "embedding")
    KnnGraph.saveIndex(KnnGraph.build(base, cs, degree = 12, nProbe = 3),
      base, cs, name, buckets = 4)
    graft.streaming.StreamingKnnIndex.ingestBatch(
      emb.filter(col("vec_id") < 30).select("vec_id", "embedding"),
      name, cs, degree = 12, nProbe = 3, buckets = 4)
    KnnGraph.rebucket(s, name, cs, buckets = 16)
    KnnGraph.searchIndexed(s, name, emb.filter(col("vec_id") < 5),
        topK = 3, beam = 16, rounds = 4)
      .select("q_id", "rk", "node").orderBy("q_id", "rk")
  }

  // ---------------------------------------------------------------- q283
  // PQ quantization-distortion profile (KnnGraph.pqDistortionWith —
  // the codebook DRIFT SIGNAL): per vector, Σ_m min_j d2 of its grid
  // sub-vectors against the codebook — the error the encode loses by
  // construction — beside the vector's own grid energy ‖g‖², because
  // the actionable signal is the RELATIVE error distortion/energy
  // (absolute distortion is scale-confounded: a corpus drifting toward
  // smaller norms LOWERS it even as codes turn to noise — measured in
  // the --pqdrift curve, which fires q282's refresh on the ratio).
  // Integer-exact end to end (grid, d2, min — distortion needs no tie
  // rule at all: it keeps the MIN, not the argmin), so the whole
  // kernel hash-certifies. One distributed pass, M·K d2 evaluations
  // per row, no shuffle at all before the dump.
  val q283 = Q(
    "q283_pq_drift",
    """WITH e AS (SELECT vec_id,
      |             list_transform(embedding::DOUBLE[],
      |               x -> CAST(least(127, greatest(-127, round(x * 64)))
      |                    AS BIGINT)) AS g
      |           FROM embeddings),
      |cb AS (SELECT vec_id - 12 AS j, g FROM e
      |       WHERE vec_id >= 12 AND vec_id < 20),
      |ms AS (SELECT unnest(range(8)) AS m),
      |sub AS (SELECT e.vec_id, ms.m, cb.j,
      |          list_sum(list_transform(range(1, 9),
      |            i -> (e.g[8*ms.m + i] - cb.g[8*ms.m + i])
      |               * (e.g[8*ms.m + i] - cb.g[8*ms.m + i]))) AS d2
      |        FROM e CROSS JOIN ms CROSS JOIN cb),
      |d AS (SELECT vec_id, CAST(sum(md) AS BIGINT) AS distortion FROM (
      |        SELECT vec_id, m, min(d2) AS md FROM sub GROUP BY 1, 2)
      |      GROUP BY 1)
      |SELECT d.vec_id, d.distortion,
      |       CAST(list_sum(list_transform(e.g, x -> x * x)) AS BIGINT)
      |         AS energy
      |FROM d JOIN e ON e.vec_id = d.vec_id ORDER BY d.vec_id""".stripMargin) { (s, dir) =>
    val emb = Tables(s, dir, "embeddings")
    val cb = Pq.pinnedCodebook(emb, m = 8, dimsPer = 8,
      nCodebook = 8, cbStart = 12)
    KnnGraph.pqDistortionWith(emb, cb, m = 8, dimsPer = 8)
      .orderBy("vec_id")
  }

  def all: Seq[Q] =
    Seq(q26, q27, q28, q29, q30, q31, q32, q33, q34, q35, q35a, q42, q42a, q43, q43a, q44,
      q47, q47a, q52, q54, q60, q61, q62, q63, q64, q65, q66, q69, q70, q71, q72,
      q73, q73a, q74, q76, q76a, q77, q78, q79, q80, q82, q83, q84, q85, q86, q87, q89,
      q93, q95, q97, q98, q99, q104, q104a, q107, q108, q113, q119, q120, q122, q123,
      q124, q125, q126, q127, q128, q129, q130, q131, q132, q133, q134, q135, q136,
      q137, q138, q139, q140, q141, q142, q143, q144, q145, q146, q147, q148, q149,
      q150, q151, q152, q153, q154, q155, q156, q157, q158, q159, q160, q161,
      q162, q163, q164, q165, q166, q167, q168, q169, q170, q171, q172, q173,
      q174, q175, q176, q177, q178, q179, q180, q181, q182, q183, q184, q185,
      q186, q187, q188, q189, q190, q191, q192, q193, q194, q195, q196, q197, q198, q199, q200,
      q201, q202, q203, q204, q205, q206, q207, q208, q209, q210, q211,
      q212, q213, q214, q215, q216, q217, q218, q219, q220, q221, q222,
      q223, q224, q225, q226, q227, q228, q229, q230, q231, q232, q233,
      q234, q235, q236, q237, q238, q239, q240, q241, q242, q243, q244,
      q245, q246, q247, q248, q249, q250, q251, q252, q253, q254, q255,
      q256, q257, q258, q259, q260, q261, q262, q263, q264, q265, q266,
      q267, q268, q269, q270, q271, q272, q273, q274, q275, q278, q279,
      q281, q283, q284)
}
