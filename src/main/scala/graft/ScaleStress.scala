package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}

import graft.Timing.{Point, consume, isolate, point, rmTree, time, vsPrev, withWindow}
import graft.llm.{MinHash, Rp}

/** Scale-stress harness for the LSH dedup/similarity family — the evidence
  * behind BASELINE.md's "would this hold at 100×?" section.
  *
  * The fixture embeddings are isotropic random vectors, where near-neighbor
  * search is information-theoretically O(n²) (nothing is near anything; at a
  * loose threshold LSH must admit most pairs). Real corpora are the
  * opposite: near-duplicates are CLUSTERED. This harness plants that
  * structure — each base vector/document is replicated R× with small seeded
  * perturbations (cos ≈ 0.99 / jaccard ≈ 0.7 within a cluster, ~0 across) —
  * then measures how candidate volume and wall time grow with R while brute
  * force grows (R·n)².
  *
  * Run: `sbt "runMain graft.ScaleStress [sfDir] [--mode]"` (sfDir defaults
  * to sf0.1). No flag runs the Rp/MinHash R-sweep ([[rSweep]]); each flag
  * in [[modes]] runs one mode; an unknown flag prints the mode list.
  */
object ScaleStress {

  /** R seeded near-duplicate variants per embedding: add hash-derived noise
    * (±eps/2 per dim), then re-normalize. Replica 0 is the unperturbed
    * base. All pure Column — the replication explode and perturbation fuse
    * into the scan. */
  def replicateEmbeddings(emb: DataFrame, r: Int, eps: Double): DataFrame = {
    val perturbed = emb
      .select(col("vec_id"), explode(sequence(lit(0), lit(r - 1))).as("rep"),
        col("embedding"))
      .select(
        (col("vec_id") * r + col("rep")).as("vec_id"),
        col("vec_id").as("base_id"),
        when(col("rep") === 0, col("embedding")).otherwise(
          transform(col("embedding"), (x, i) =>
            (x.cast("double") + lit(eps) *
              ((pmod(xxhash64(col("vec_id"), col("rep"), i), lit(1000L))
                .cast("double") / 1000.0) - 0.5)).cast("float")))
          .as("e"))
    val n = aggregate(col("e"), lit(0.0),
      (acc, x) => acc + x.cast("double") * x.cast("double"))
    perturbed.select(col("vec_id"), col("base_id"),
      transform(col("e"), x => (x.cast("double") / sqrt(n)).cast("float"))
        .as("embedding"))
  }

  /** R seeded variants per document: ~5% of tokens mutated per replica. A
    * mutated token breaks k=3 shingles, so two replicas (independent 5%
    * mutations) sit at shingle Jaccard ≈ 0.75 — safely inside the 0.6
    * distance bound, so planted-pair recall measures the OPERATOR, not the
    * threshold cut (at 10% mutation many planted pairs legitimately fall
    * outside the bound and the recall number conflates the two). */
  def replicateDocs(docs: DataFrame, r: Int): DataFrame =
    docs
      .select(col("doc_id"), explode(sequence(lit(0), lit(r - 1))).as("rep"),
        col("text"))
      .select(
        (col("doc_id") * r + col("rep")).as("doc_id"),
        col("doc_id").as("base_id"),
        when(col("rep") === 0, col("text")).otherwise(
          concat_ws(" ", transform(split(col("text"), "\\s+"), (t, i) =>
            when(pmod(xxhash64(col("doc_id"), col("rep"), i), lit(20L)) === 0,
              concat(t, lit("zz"))).otherwise(t))))
          .as("text"))

  /** `r`× replication of a fact table with shifted keys — the round-1
    * relational stress (BASELINE.md "Scale-stress" section), kept here so
    * its numbers are reproducible: `keyCol` values are offset per replica
    * so the join keyspace grows with the data (no artificial key skew). */
  def replicateFacts(df: DataFrame, keyCol: String, r: Int): DataFrame = {
    val maxKey = df.agg(max(col(keyCol))).head().getLong(0) + 1
    df.select(col("*"), explode(sequence(lit(0), lit(r - 1))).as("__rep"))
      .withColumn(keyCol, col(keyCol) + col("__rep") * maxKey)
      .drop("__rep")
  }

  /** One planted-vector point, kept in `p`: `emb` replicated `r`×
    * (eps 0.12), its size n, the cell count that scales with it (n/64,
    * at least 16), and those cells' centroids ([[centroids]]). */
  def planted(p: Point, emb: DataFrame,
      r: Int): (DataFrame, Long, Int, Array[Array[Float]]) = {
    val rep = p.keep(replicateEmbeddings(emb, r, eps = 0.12)
      .select("vec_id", "embedding"))
    val n = rep.count()
    val nCells = math.max(16, (n / 64).toInt)
    (rep, n, nCells, centroids(rep, r, nCells))
  }

  /** The first `k` rep-0 rows of a replicated corpus as centroids: the
    * unperturbed originals stay well-spread, where the first k replicated
    * ids would be near-duplicates of ~k/r directions. */
  def centroids(rep: DataFrame, r: Int, k: Int): Array[Array[Float]] =
    rep.filter(pmod(col("vec_id"), lit(r.toLong)) === 0)
      .orderBy("vec_id").limit(k)
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)

  /** Planted-pair recall of the pair columns `a`, `b` over `n` replicated
    * ids: every base has `r` replicas numbered base·r + replica, so the
    * planted pairs are C(r, 2) per base, n·(r − 1)/2 in all, and a found
    * pair is planted iff its ids share id / r. */
  def recall(pairs: DataFrame, a: String, b: String, n: Long, r: Int): String = {
    val expected = n * (r - 1) / 2
    val hit = pairs.filter((col(a) / r).cast("long") === (col(b) / r).cast("long"))
      .count()
    f"found=${pairs.count()}%8d planted=$hit%8d/$expected%d " +
      f"(recall=${hit.toDouble / expected}%.3f)"
  }

  /** Per R: `replicate(r)` and its `pairs` kept in one point, the pairs'
    * wall, and their [[recall]]. */
  def recallSweep(replicate: Int => DataFrame, pairs: DataFrame => DataFrame,
      a: String, b: String): Unit =
    for (r <- Seq(4, 8, 16)) point { p =>
      val rep = p.keep(replicate(r))
      val n = rep.count()
      val (found, secs) = time(p.keep(pairs(rep)))
      println(f"R=$r%2d n=$n%6d wall=$secs%6.1f s ${recall(found, a, b, n, r)}")
    }

  /** The exact law between two results: the same rows, duplicates
    * counted, checked in both directions. */
  def sameRows(got: DataFrame, want: DataFrame): Boolean =
    got.exceptAll(want).count() == 0 && want.exceptAll(got).count() == 0

  /** One throughput curve. Per size n, `gen(n)` is written to a temporary
    * parquet (untimed), and `chain` over it is timed through the shared
    * window: one warm run, then the fastest of two. Each point prints the
    * input bytes, the wall, MB/s and executor cpu per row, and the wall
    * against the previous point's: a row-local chain must stay flat per
    * row across doublings. Input bytes are the lengths of the string and
    * binary columns, the bytes the chain walks (task input metrics
    * undercount columnar scans). */
  def throughput(spark: SparkSession, label: String, sizes: Seq[Int])(
      gen: Int => DataFrame)(chain: DataFrame => DataFrame): Unit =
    withWindow(spark) { window =>
      var prev = -1.0
      for (n <- sizes) {
        val dir = Files.createTempDirectory("graft_tp")
        try {
          gen(n).write.parquet(dir.resolve("in").toString)
          val in = spark.read.parquet(dir.resolve("in").toString)
          val bytes = in.agg(sum(in.schema.collect {
            case f if f.dataType == StringType || f.dataType == BinaryType =>
              length(col(f.name))
          }.reduce(_ + _))).head().getLong(0)
          val t = window.best(2)(consume(chain(in)))
          println(f"$label%-8s n=$n%7d in=$bytes%11d B wall=${t.wall}%5.2f s " +
            f"(${bytes / t.wall / 1e6}%7.1f MB/s, " +
            f"${t.metrics.cpuSec * 1e6 / n}%5.1f cpu-us/row, vs prev ${vsPrev(t.wall, prev)})")
          prev = t.wall
        } finally rmTree(dir)
      }
    }

  /** The `SelectedBucketsCount` of a bucketed scan's plan; a plan that
    * pruned no bucket is an error. */
  def selectedBuckets(plan: String): String =
    "SelectedBucketsCount: [0-9]+ out of [0-9]+".r.findFirstIn(plan)
      .getOrElse(sys.error("no bucket pruning in the plan:\n" + plan))

  /** (q_id, rank, vec_id) of top-k rows, the key two searches must share. */
  def ranked(rows: Array[Row]): Set[(Long, Int, Long)] =
    rows.map(x => (x.getLong(0), x.getInt(1), x.getLong(2))).toSet

  /** Relational stress: hash aggregation and the fact⋈fact join strategies
    * at `r`× sf0.1 — reproduces BASELINE's broadcast-estimate-trap and
    * bucketed-join numbers. */
  def relational(spark: SparkSession, sfDir: String, r: Int): Unit = point { p =>
    val li = p.keep(replicateFacts(
      Tables(spark, sfDir, "lineitem")
        .select("l_orderkey", "l_quantity", "l_extendedprice"),
      "l_orderkey", r))
    val os = p.keep(replicateFacts(
      Tables(spark, sfDir, "orders").select("o_orderkey", "o_totalprice"),
      "o_orderkey", r)
      .withColumnRenamed("o_orderkey", "l_orderkey"))
    println(s"relational stress R=$r: lineitem=${li.count()} orders=${os.count()}")

    val (_, aggS) = time {
      li.groupBy(col("l_orderkey") % 97)
        .agg(sum("l_quantity"), avg("l_extendedprice")).count()
    }
    println(f"  hash agg: $aggS%.2f s")

    // fact⋈fact under the three strategies BASELINE documents; conf
    // restore and table drops are exception-safe so an OOM mid-stress
    // can't leak -1 broadcast threshold or 16× warehouse tables into a
    // shared session
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      val (_, autoS) = time(li.join(os, "l_orderkey").count())
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val (_, smjS) = time(li.join(os, "l_orderkey").count())
      println(f"  fact join: planner-choice $autoS%.2f s, forced no-broadcast $smjS%.2f s")

      graft.sources.Bucketing.writeBucketed(li, "stress_li", "l_orderkey")
      graft.sources.Bucketing.writeBucketed(os, "stress_os", "l_orderkey")
      val (_, bkS) = time(
        graft.sources.Bucketing
          .coLocatedJoin(spark, "stress_li", "stress_os", "l_orderkey").count())
      println(f"  bucketed co-located join: $bkS%.2f s (no exchange)")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS stress_li")
      spark.sql("DROP TABLE IF EXISTS stress_os")
    }
  }

  /** Range-join A/B (q68's engine vs the planner's default): point-in-
    * interval with NO equi key, naive theta join (BroadcastNestedLoop —
    * every point row tests every interval) vs [[graft.operators.RangeJoin]]'s
    * bin-bucketed equi-join, as the interval table grows R×. The naive wall
    * must grow ~linearly in R (O(points × intervals) predicate evaluations)
    * while the binned wall stays near-flat (each point meets only its bin's
    * intervals) — the measured justification for routing large interval
    * tables through binning instead of relying on the planner. Both shapes
    * asserted row-identical. */
  def rangeJoinAB(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.operators.RangeJoin
    val points = p.keep(Tables(spark, sfDir, "events").select("event_id", "value"))
    val nPoints = points.count()
    val base = Tables(spark, sfDir, "part").select(
      col("p_partkey"),
      (col("p_partkey") * 2.0).as("lo"),
      (col("p_partkey") * 2.0 + 1 + pmod(col("p_partkey"), lit(7L))).as("hi"))
    println(s"== range join: naive BNL vs binned equi-join, $nPoints points ==")
    for (r <- Seq(1, 4, 16)) point { q =>
      // replicas shift lo/hi by a sub-integer offset: interval COUNT grows
      // R× while the covered value range stays fixed (denser bands, the
      // hard direction for a nested loop)
      val intervals = q.keep(base
        .withColumn("rep", explode(sequence(lit(0), lit(r - 1))))
        .select(
          (col("p_partkey") + col("rep") * lit(100000L)).as("band_id"),
          (col("lo") + col("rep") * 0.37).as("lo"),
          (col("hi") + col("rep") * 0.37).as("hi")))
      val nI = intervals.count()
      val (nNaive, naiveS) = time {
        points.join(intervals, col("value") >= col("lo") && col("value") < col("hi"))
          .count()
      }
      val (nBinned, binnedS) = time {
        RangeJoin.pointInInterval(points, "value", intervals, "lo", "hi", 8.0,
            maxSpan = 8.0)
          .count()
      }
      assert(nNaive == nBinned, s"range-join shapes diverge: $nNaive vs $nBinned")
      println(f"R=$r%2d intervals=$nI%6d rows=$nNaive%9d " +
        f"naive=$naiveS%6.1f s  binned=$binnedS%6.1f s")
    }
  }

  /** Quantized-index A/B for [[Similarity.quantize]] (q73's 100 TB claim,
    * measured): float32 vs int8 index bytes ON DISK (the artifact an ANN
    * service actually loads), top-k wall over each, and the quantized
    * path's recall vs the float path at equal k. */
  def quantization(spark: SparkSession, sfDir: String): Unit = point { p =>
    import java.nio.file.Paths
    import graft.llm.Similarity
    def dirBytes(p: String): Long = {
      val d = Paths.get(p)
      if (!Files.exists(d)) 0L
      else {
        val walk = Files.walk(d)
        try walk.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
        finally walk.close()
      }
    }
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== int8 quantization: index size, top-k wall, recall vs float ==")
    for (r <- Seq(8, 16)) point { q =>
      val rep = q.keep(replicateEmbeddings(emb, r, eps = 0.12)
        .select("vec_id", "embedding"))
      val n = rep.count()
      val base = Files.createTempDirectory("graft-quant-")
      rep.write.mode("overwrite").parquet(s"$base/f32")
      Similarity.quantize(rep).write.mode("overwrite").parquet(s"$base/i8")
      val (f32B, i8B) = (dirBytes(s"$base/f32"), dirBytes(s"$base/i8"))
      val queries = rep.filter(col("vec_id") < 20)
      val (exact, floatS) = time {
        Similarity.cosineTopK(rep, queries, k = 10).collect()
      }
      val (quant, quantS) = time {
        Similarity.cosineTopKQuantized(rep, queries, k = 10).collect()
      }
      val exactSet = exact.map(x => (x.getLong(0), x.getLong(2))).toSet
      val quantSet = quant.map(x => (x.getLong(0), x.getLong(2))).toSet
      val recall = exactSet.intersect(quantSet).size.toDouble / exactSet.size
      println(f"R=$r%2d n=$n%6d f32=${f32B / 1024}%6d KiB i8=${i8B / 1024}%6d KiB " +
        f"(${f32B.toDouble / i8B}%.1f x) float=$floatS%5.1f s quant=$quantS%5.1f s " +
        f"recall=$recall%.3f")
      rmTree(base) // repeated --quant runs must not accumulate /tmp parquet
    }
  }

  /** IVF persisted-index A/B (the r3 ask: bucketed persistence landed with a
    * plan spec, but no recorded measurement): full-scan search over the
    * in-memory index vs [[Ivf.searchIndexed]] over the bucketed catalog
    * table, where the probe set becomes a literal `cell IN (...)` filter
    * and bucket pruning (`SelectedBucketsCount` in the scan node) cuts the
    * candidate IO to ~nProbe/k of the index BEFORE any row is read. Both
    * paths probe the same cells, so the result sets must be identical —
    * asserted — and the delta is pure scan-side IO, which is the entire
    * point of the layout. */
  def ivf(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.Ivf
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== IVF: in-memory full index vs bucketed persisted index (pruned) ==")
    val k = 16
    for (r <- Seq(8, 16, 64)) point { q =>
      val rep = q.keep(replicateEmbeddings(emb, r, eps = 0.12)
        .select("vec_id", "embedding"))
      val n = rep.count()
      val model = Ivf.fitColumnar(rep, k = k, seed = 42L)
      // derived from the kept rep — recompute is a cheap filter
      val queries = rep.filter(col("vec_id") < 20)
      try {
        val (full, fullS) = time {
          Ivf.search(model, queries, topK = 10, nProbe = 4).collect()
        }
        Ivf.saveIndex(model, "stress_ivf", buckets = k)
        val ((got, planStr), idxS) = time {
          val df = Ivf.searchIndexed(spark, "stress_ivf", queries, topK = 10, nProbe = 4)
          (df.collect(), df.queryExecution.executedPlan.toString)
        }
        val sel = selectedBuckets(planStr)
        assert(ranked(full) == ranked(got),
          s"pruned search diverged from the full index at R=$r")
        println(f"R=$r%2d n=$n%6d full-index=$fullS%5.1f s " +
          f"bucket-pruned=$idxS%5.1f s [$sel]")
      } finally graft.llm.IndexCommit.dropIndex(spark, "stress_ivf")
    }
  }

  /** PQ / IVFPQ curve (q183/q189's engines): full-corpus SDC table scan
    * vs the IVF-pruned composition as the corpus grows. The full scan
    * scores nQueries·(n−1) candidates; IVFPQ scores only the probed
    * cells' members — the rows-scored column IS the pruning ratio, and
    * the wall gap tracks it. Pins (coarse cells, codebooks, queries)
    * stay fixed-size across R, so per-candidate work is constant and
    * the curve isolates the candidate count. */
  def pqCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.Pq
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== PQ: full SDC table scan vs IVFPQ probed-cell scoring ==")
    val (nCells, nProbe, m, dimsPer, nCodebook, nQ, k) = (16, 2, 8, 8, 8, 8, 10)
    val nBase = emb.count()
    for (r <- Seq(8, 16, 64)) point { q =>
      // replicateEmbeddings numbers replicas vec_id = base·r + rep, which
      // would put eps-perturbed REPLICAS of base vectors 0-2 into the
      // pinned id range [0, nCells+nCodebook) — and a different set at
      // every R, so the quantizer geometry (and thus the pruning ratio)
      // would conflate corpus growth with pin drift. Remap to
      // rep·nBase + base: ids [0, nBase) are the rep-0 originals at
      // EVERY R, so centroids, codebooks, and queries are the identical
      // vectors across the whole curve and only the corpus size varies.
      val rep = q.keep(replicateEmbeddings(emb, r, eps = 0.12)
        .select(
          (pmod(col("vec_id"), lit(r.toLong)) * nBase +
            expr(s"vec_id div $r")).cast("long").as("vec_id"),
          col("embedding")))
      val n = rep.count()
      try {
        val fullCand = nQ.toLong * (n - 1)
        val (_, fullS) = time {
          Pq.sdcTopK(rep, m, dimsPer, nCodebook, nQ, k).collect()
        }
        // candidate count first (untimed), then the timed end-to-end search
        val ivfCand = Pq.ivfpqScored(rep, nCells, nProbe, m, dimsPer,
          nCodebook, nQ).count()
        val (hits, ivfS) = time {
          Pq.ivfpqTopK(rep, nCells, nProbe, m, dimsPer, nCodebook, nQ, k)
            .collect()
        }
        assert(hits.length == nQ * k,
          s"ivfpq under-filled at R=$r: ${hits.length} of ${nQ * k}")
        // the at-rest path: M-byte codes bucketed by cell, probe set
        // pruning buckets at the file level (the Ivf.saveIndex A/B shape)
        Pq.saveIndex(rep, nCells, m, dimsPer, nCodebook, "stress_pq",
          buckets = nCells)
        val queries = rep.filter(col("vec_id") < nQ)
        val ((got, planStr), idxS) = time {
          val df = Pq.searchIndexed(spark, "stress_pq", queries, nProbe, k)
          (df.collect(), df.queryExecution.executedPlan.toString)
        }
        val sel = selectedBuckets(planStr)
        assert(ranked(hits) == ranked(got),
          s"persisted IVFPQ diverged from in-memory at R=$r")
        val pct = 100.0 * ivfCand / fullCand
        println(f"R=$r%2d n=$n%7d full-pq cand=$fullCand%9d $fullS%5.1f s | " +
          f"ivfpq($nProbe/$nCells cells) cand=$ivfCand%8d ($pct%4.1f%%) $ivfS%5.1f s | " +
          f"persisted $idxS%5.1f s [$sel]")
      } finally graft.llm.IndexCommit.dropIndex(spark, "stress_pq")
    }
  }

  /** Incremental-dedup A/B (q78's engine): Bloom screen + streamed confirm
    * vs the naive exact confirm (batch anti-join history.distinct()) as the
    * history grows. The naive shape shuffles EVERY history hash per batch;
    * the screened shape scans the history twice (filter build + confirm
    * semi join past the batch-bounded sliver) and shuffles only
    * sliver-sized sets — the difference that compounds at the 1e9-row
    * histories the operator targets. Outputs asserted identical. */
  def bloomDedup(spark: SparkSession): Unit = {
    import graft.llm.{Dedup, DedupIndex}
    println("== incremental dedup: Bloom screen + streamed confirm vs naive anti-join ==")
    for (n <- Seq(2000000L, 8000000L)) point { p =>
      val history = p.keep(spark.range(n).select(col("id").as("doc_id"),
        concat(lit("history document body number "), col("id")).as("text")))
      // 100k-doc batch: every 10th is a re-ingest of some history doc
      val batch = p.keep(spark.range(100000L).select(
        (col("id") + 1000000000L).as("doc_id"),
        when(pmod(col("id"), lit(10L)) === 0,
          concat(lit("history document body number "),
            pmod(col("id") * 97L, lit(n))))
          .otherwise(concat(lit("brand new batch doc "), col("id")))
          .as("text")))
      val (nBloom, bloomS) = time {
        Dedup.incrementalNewDocs(batch, history, expectedHistoryRows = n)
          .count()
      }
      val (nNaive, naiveS) = time {
        import org.apache.spark.sql.functions.sha2
        batch.join(
            history.select(sha2(col("text"), 256).as("__hh")).distinct(),
            sha2(col("text"), 256) === col("__hh"), "left_anti")
          .count()
      }
      assert(nBloom == nNaive, s"dedup shapes diverge: $nBloom vs $nNaive")
      // the production regime: screen against the persisted 32 B/doc digest
      // index instead of rescanning (and re-sha256ing) the corpus. Build is
      // the one-time cost paid at ingest; per-batch cost is the number to
      // compare against the two rescan shapes above. The local fixture
      // UNDERSTATES the win: bodies here are ~30 B so index bytes ≈ corpus
      // bytes — at real KB-to-MB documents the history pass shrinks by the
      // body/32 ratio on top of skipping the sha256 recompute.
      val idxDir = Files.createTempDirectory("graft_stress_idx")
      val idxPath = idxDir.resolve("idx").toString
      val (_, buildS) = time { DedupIndex.build(history, idxPath) }
      val (nIdx, idxS) = time {
        DedupIndex.incrementalNewDocs(batch, idxPath, expectedHistoryRows = n)
          .count()
      }
      rmTree(idxDir)
      assert(nIdx == nNaive, s"index path diverges: $nIdx vs $nNaive")
      println(f"history=$n%8d batch=100000 new=$nBloom%6d " +
        f"bloom+stream=$bloomS%6.1f s naive-shuffle=$naiveS%6.1f s " +
        f"indexed=$idxS%6.1f s (one-time build=$buildS%6.1f s)")
    }
  }

  /** Winnow-pair scaling (q86's engine): replicated documents share most of
    * their token runs, so [[graft.llm.Dedup.winnowPairs]] must surface the
    * planted intra-cluster pairs while its wall tracks the SELECTED-hash
    * stream (~2/(w+1) of the grams), not the O(n²) pair space — the
    * substring-level sibling of the minhash sweep above. Reports wall,
    * found pairs, and planted recall at growing replication. */
  def winnowStress(spark: SparkSession, sfDir: String): Unit = point { p =>
    val docs = p.keep(Tables(spark, sfDir, "documents").filter(col("doc_id") < 2500))
    println("== winnow pairs (q86 engine): planted replica clusters ==")
    recallSweep(r => replicateDocs(docs, r).select("doc_id", "text"),
      graft.llm.Dedup.winnowPairs(_, minShared = 1), "doc_a", "doc_b")
  }

  /** BPE-learning scaling (q79's claim, measured): the corpus is touched
    * once, after which merge iterations run on the VOCABULARY-sized
    * word-frequency table — so per-iteration wall should grow far slower
    * than vocabulary size. Synthetic corpora with controlled vocabularies
    * (base-26 words, skewed counts) at 8×/64× vocab growth. */
  def bpe(spark: SparkSession): Unit = {
    import graft.llm.Bpe
    import spark.implicits._
    def corpus(vocab: Int): org.apache.spark.sql.DataFrame =
      spark.range(vocab.toLong)
        .select(
          // base-26 word of length 4-8 derived from the id (deterministic)
          concat_ws("",
            transform(sequence(lit(0), pmod(col("id"), lit(5L)).cast("int") + 3),
              i => chr(lit(97) + pmod(col("id") * (i + 7), lit(26L))))).as("word"),
          // zipf-ish: hot head, long tail
          (lit(1000L) / (pmod(col("id"), lit(997L)) + 1) + 1).cast("int").as("n"))
        .select(explode(sequence(lit(1), col("n"))).as("k"), col("word"))
        .groupBy("k").agg(concat_ws(" ", collect_list("word")).as("text"))
        .withColumnRenamed("k", "doc_id")
    println("== BPE learning: per-iteration wall vs vocabulary size ==")
    for (vocab <- Seq(2000, 16000, 128000)) point { p =>
      val docs = p.keep(corpus(vocab))
      val (merges, wall) = time(Bpe.learnMerges(docs, numMerges = 10))
      println(f"vocab=$vocab%7d merges=${merges.size}%2d total=$wall%6.1f s " +
        f"(${wall / math.max(merges.size, 1)}%5.2f s/iteration)")
    }
  }

  /** Recall/wall FRONTIER for the ANN family — the operating-point table
    * users pick configs from, measured rather than prosed:
    *
    *  - [[graft.llm.Rp.cosineNearPairs]]: bands × bitsPerBand sweep on
    *    planted clusters at a real 0.9 threshold. Few wide bands under-
    *    recall (the pigeonhole gives each pair too few chances); many
    *    narrow bands admit candidate floods that buy nothing once recall
    *    saturates — the table shows both cliffs and the efficient middle.
    *  - [[graft.llm.Ivf]]: nProbe sweep at fixed k — recall climbs with
    *    probed cells while wall tracks the probed fraction; nProbe = k is
    *    the exhaustive sanity row (recall 1.0 by construction).
    *
    * Ground truth: Rp recall is planted-pair recall (intra-cluster cos
    * ≈ 0.99, safely above the threshold, so misses are the OPERATOR's —
    * salting or band luck — not the threshold cut); IVF recall is overlap
    * with the exact brute-force top-k on the same queries. */
  def annFrontier(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.{Ivf, Rp, Similarity}
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))

    val r = 8
    point { q =>
      val rep = q.keep(replicateEmbeddings(emb, r, eps = 0.12)
        .select("vec_id", "embedding"))
      val n = rep.count()
      println(s"== ANN frontier: Rp bands x bits at n=$n, cos>=0.9, " +
        s"planted=${n * (r - 1) / 2} ==")
      for ((bands, bits) <- Seq((2, 16), (4, 16), (10, 8), (20, 12), (32, 12))) point { b =>
        val (pairs, secs) = time {
          b.keep(Rp.cosineNearPairs(rep, minCosine = 0.9, bands = bands, bitsPerBand = bits))
        }
        println(f"  bands=$bands%3d bits=$bits%2d wall=$secs%6.1f s " +
          recall(pairs, "id_a", "id_b", n, r))
      }
    }

    val k = 16
    val topK = 10
    val queries = p.keep(emb.filter(col("vec_id") < 50))
    val truth = p.keep(Similarity.cosineTopK(emb, queries, topK))
    val truthN = truth.count()
    val model = Ivf.fit(emb, k = k)
    println(s"== ANN frontier: IVF nProbe at k=$k cells, top-$topK, ${queries.count()} queries ==")
    for (nProbe <- Seq(1, 2, 4, 8, 16)) point { q =>
      val (got, secs) = time(q.keep(Ivf.search(model, queries, topK, nProbe)))
      val hit = got.join(truth, Seq("q_id", "vec_id"), "left_semi").count()
      println(f"  nProbe=$nProbe%2d wall=$secs%6.2f s recall@$topK=${hit.toDouble / truthN}%.3f")
    }
    model.unpersist()
  }

  /** Storage-layout pruning A/B: the same table written (a) as-is and
    * (b) range-partitioned + sorted on the filter column, then scanned
    * with a selective time-range predicate. Sorting clusters each file's
    * and row group's min/max statistics, so the pushed filter skips whole
    * row groups/files at the reader — the mechanism a 100 TB table lives
    * on (partition pruning's finer-grained sibling). Local parquet
    * exhibits it faithfully: we count ROWS MATERIALIZED by the scan via
    * task input metrics — pruning shows up as a collapse in records read,
    * not just wall (wall at this size is dominated by fixed costs).
    * Small row groups (256 KiB) stand in for production's 128 MiB ones so
    * the 600k-row fixture has enough groups to skip. */
  def layout(spark: SparkSession, sfDir: String): Unit = {
    println("== storage layout: sorted-write row-group pruning A/B ==")
    // Production trap documented by construction: legacy INT96 timestamps
    // carry no reader-usable min/max statistics — a table written that way
    // can NEVER row-group-prune on time, sorted or not. Micros-encoded
    // INT64 timestamps get full stats.
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_layout")
    val unsortedPath = s"$base/unsorted"
    val sortedPath = s"$base/sorted"
    // the fixture arrives naturally time-ordered; hash-scatter it first so
    // the A side reflects the real "ingestion order ≠ query order" layout
    // (events landing partitioned by entity, not time)
    events.repartition(8, col("event_id"))
      .write.option("parquet.block.size", 256 * 1024)
      .parquet(unsortedPath)
    events.repartitionByRange(8, col("ts")).sortWithinPartitions("ts")
      .write.option("parquet.block.size", 256 * 1024)
      .parquet(sortedPath)
    spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)

    try withWindow(spark) { window =>
      val bounds = events.agg(min("ts").as("lo"), max("ts").as("hi")).head()
      val (lo, hi) = (bounds.getTimestamp(0), bounds.getTimestamp(1))
      val span = hi.getTime - lo.getTime
      // a ~2% slice in the middle of the time range
      val fLo = new java.sql.Timestamp(lo.getTime + (span * 0.49).toLong)
      val fHi = new java.sql.Timestamp(lo.getTime + (span * 0.51).toLong)
      for ((name, path) <- Seq("unsorted" -> unsortedPath, "sorted" -> sortedPath)) {
        // warm the page cache so the A/B isolates pruning, not disk state
        spark.read.parquet(path).count()
        val t = window {
          spark.read.parquet(path)
            .filter(col("ts") >= lit(fLo) && col("ts") < lit(fHi)).count()
        }
        println(f"$name%9s: matched=${t.value}%7d " +
          f"records_read=${t.metrics.inputRecords}%8d wall=${t.wall}%5.2f s")
      }
    } finally rmTree(base)
  }

  /** Multi-column layout A/B — the question [[layout]]'s single-column
    * result leaves open for a 100 TB fact table with TWO dominant filter
    * columns (ts, user_id): a time-sorted layout prunes time slices but
    * reads everything for a user probe, and vice versa. A Z-ORDER
    * interleave (bucket each column to 16 bits, interleave the bits, sort
    * by the resulting key) clusters BOTH columns' min/max statistics at
    * once: each row group spans a small square of the (ts, user) plane
    * instead of a thin stripe, so either single-column predicate skips
    * most groups. The interleave is four shift/mask rounds per column —
    * plain codegen'd bitwise Columns, no UDF. Same records-materialized
    * metric as [[layout]]; expectation is single-column sort ≈ full scan
    * on the other column's probe, Z-order a middle ground on both. */
  def zorder(spark: SparkSession, sfDir: String): Unit = {
    println("== z-order layout: two-column pruning A/B ==")
    val prevTsType = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "value")
    val b = events.agg(
      min(unix_micros(col("ts"))).as("tlo"), max(unix_micros(col("ts"))).as("thi"),
      min(col("user_id")).as("ulo"), max(col("user_id")).as("uhi")).head()
    val (tlo, thi) = (b.getLong(0), b.getLong(1))
    val (ulo, uhi) = (b.getLong(2), b.getLong(3))
    // scale a column to a 16-bit bucket, then spread its bits to the even
    // positions of a 32-bit word (classic magic-bits dilation)
    def bucket(c: org.apache.spark.sql.Column, lo: Long,
        hi: Long): org.apache.spark.sql.Column =
      ((c - lit(lo)).cast("double") * 65535.0 / math.max(hi - lo, 1L).toDouble)
        .cast("long")
    // ONE dilation implementation: the layout-side key and the query-side
    // predicates (boxFilter below) must come from the same bit interleave
    // or the A/B compares different curves
    val zKey = graft.operators.ZCurve.zColumn(spark,
      bucket(unix_micros(col("ts")), tlo, thi),
      bucket(col("user_id"), ulo, uhi))

    val base = java.nio.file.Files.createTempDirectory("graft_zorder")
    // finer grain than [[layout]]: the 2D win needs MANY pruning units
    // (files x row groups form the z-curve's cells) — 64 files of 64 KiB
    // groups stand in for production's thousands of 128 MiB groups
    val layouts = Seq(
      "scattered" -> events.repartition(64, col("event_id")),
      "ts-sorted" -> events.repartitionByRange(64, col("ts"))
        .sortWithinPartitions("ts"),
      "uid-sorted" -> events.repartitionByRange(64, col("user_id"))
        .sortWithinPartitions("user_id"),
      "z-order" -> events.withColumn("__z", zKey)
        .repartitionByRange(64, col("__z")).sortWithinPartitions("__z")
        .drop("__z"))
    for ((name, df) <- layouts)
      df.write.option("parquet.block.size", 64 * 1024).parquet(s"$base/$name")
    spark.conf.set("spark.sql.parquet.outputTimestampType", prevTsType)

    try withWindow(spark) { window =>
      // ~2% slice at 30% of each column's range — NOT the median: a
      // median-centered slice straddles the z-curve's top-bit boundary
      // (every cell's ts-half flips there), the one placement whose
      // worst-case touches half the cells
      val fTLo = new java.sql.Timestamp((tlo + (thi - tlo) * 0.30).toLong / 1000)
      val fTHi = new java.sql.Timestamp((tlo + (thi - tlo) * 0.32).toLong / 1000)
      val fULo = ulo + ((uhi - ulo) * 0.30).toLong
      val fUHi = ulo + ((uhi - ulo) * 0.32).toLong
      val probes = Seq(
        "ts-slice " -> (col("ts") >= lit(fTLo) && col("ts") < lit(fTHi)),
        "uid-slice" -> (col("user_id") >= lit(fULo) && col("user_id") < lit(fUHi)))
      for ((lname, _) <- layouts; (pname, pred) <- probes) {
        spark.read.parquet(s"$base/$lname").count() // warm cache + listing
        val t = window(spark.read.parquet(s"$base/$lname").filter(pred).count())
        println(f"$lname%10s $pname: matched=${t.value}%7d " +
          f"records_read=${t.metrics.inputRecords}%8d wall=${t.wall}%5.2f s")
      }

      // -- the QUERY side (operators/ZCurve, q203): a 2D box through
      // z-RANGE predicates vs the plain conjunction, on a z-sorted layout
      // with the z key MATERIALIZED. The plain 2D box can only prune via
      // per-column xb/yb stats (each row group spans a small square, so
      // this already prunes well); the z-range form prunes via the SORT
      // column's stats — tight consecutive runs — and is the shape that
      // also survives when the reader indexes only the sort key.
      import graft.operators.ZCurve
      val zIdxPath = s"$base/z-indexed"
      events
        .withColumn("xb", bucket(unix_micros(col("ts")), tlo, thi))
        .withColumn("yb", bucket(col("user_id"), ulo, uhi))
        .withColumn("__z", ZCurve.zColumn(spark, col("xb"), col("yb")))
        .repartitionByRange(64, col("__z")).sortWithinPartitions("__z")
        .write.option("parquet.block.size", 64 * 1024).parquet(zIdxPath)
      // an 8%-per-axis box at 30% of each range (~0.6% of the plane)
      def frac(p: Double): Long = (65535 * p).toLong
      val (bx0, bx1, by0, by1) = (frac(0.30), frac(0.38), frac(0.30), frac(0.38))
      val zdf = spark.read.parquet(zIdxPath)
      val boxProbes = Seq(
        "2d-box plain   " -> zdf.filter(
          col("xb").between(lit(bx0), lit(bx1)) &&
            col("yb").between(lit(by0), lit(by1))),
        "2d-box z-ranges" -> ZCurve.boxFilter(zdf, col("xb"), col("yb"),
          col("__z"), bx0, bx1, by0, by1, bits = 16, budget = 64))
      zdf.count() // warm
      for ((pname, probe) <- boxProbes) {
        val t = window(probe.count())
        println(f" z-indexed $pname: matched=${t.value}%7d " +
          f"records_read=${t.metrics.inputRecords}%8d wall=${t.wall}%5.2f s")
      }
    } finally rmTree(base)
  }

  /** Triangle-counting orientation A/B — the evidence behind q214's
    * scale claim: on a hub-heavy graph, the NAIVE wedge join (every node
    * centers wedges over its full undirected adjacency) materializes
    * Σ deg² candidate rows — quadratic in the hub degree — while the
    * DEGREE-ORIENTED join bounds out-degrees at O(√m), so the hub
    * contributes zero wedges as a center. Both compute the same
    * triangle counts (asserted); the measured quantity is WEDGE ROWS,
    * the shuffle the cluster pays for. Hub degree doubles per point
    * over a fixed random background. */
  def trianglesCurve(spark: SparkSession): Unit = {
    import spark.implicits._
    println("== triangle counting: naive vs degree-oriented wedge rows ==")
    for (hub <- Seq(500, 1000, 2000, 4000)) point { p =>
      // background: pseudo-random sparse graph over 2000 nodes. The
      // endpoints come from HIGH BITS of multiplicative hashes — two
      // plain congruences share modular structure (fixed difference
      // parity → bipartite → triangle-free), the trap that makes
      // "random-looking" fixtures vacuous
      val bg = (0 until 6000).map { i =>
        val x = ((i.toLong * 2654435761L) >>> 7) % 2000 + 10
        val y = ((i.toLong * 0x9E3779B97F4AL) >>> 11) % 2000 + 10
        (x, y)
      }
      // hub node 0 connected to `hub` distinct leaves
      val star = (1L to hub.toLong).map(l => (0L, l + 5000L))
      val edges = p.keep(graft.operators.Triangles.canonical(
        (bg ++ star).toDF("s", "d"), "s", "d"))
      // naive wedge volume: every node joins its undirected adjacency
      // with itself — Σ deg·(deg−1)/2 candidate pairs
      val adj = edges.select(col("a").as("n"), col("b").as("m"))
        .unionAll(edges.select(col("b").as("n"), col("a").as("m")))
      val (naiveWedges, tNaive) = time {
        adj.as("x").join(adj.as("y"), col("x.n") === col("y.n"))
          .filter(col("x.m") < col("y.m")).count()
      }
      val directed = { // same orientation as Triangles.perNode
        val deg = adj.groupBy("n").agg(count(lit(1)).as("deg"))
        edges
          .join(deg.withColumnRenamed("n", "a").withColumnRenamed("deg", "da"), "a")
          .join(deg.withColumnRenamed("n", "b").withColumnRenamed("deg", "db"), "b")
          .select(
            when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")), col("a"))
              .otherwise(col("b")).as("u"),
            when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")), col("b"))
              .otherwise(col("a")).as("v"))
      }
      val (orientedWedges, tOr) = time {
        directed.as("x").join(directed.as("y"), col("x.u") === col("y.u"))
          .filter(col("x.v") < col("y.v")).count()
      }
      val tri = graft.operators.Triangles.perNode(edges)
        .agg(coalesce(sum("triangles"), lit(0L))).head().getLong(0) / 3
      println(f"hub=$hub%5d: naive_wedges=$naiveWedges%9d (${tNaive}%5.2f s)  " +
        f"oriented_wedges=$orientedWedges%7d (${tOr}%5.2f s)  triangles=$tri%6d")
    }
  }

  /** Grid radius join A/B (q225 engine) — brute pair scan vs the
    * 9-cell candidate join at growing corpus size with DENSITY HELD
    * CONSTANT (the plane side scales with √n), so matches-per-probe
    * stays flat and any wall growth is the join's own. The
    * load-bearing numbers: grid candidates grow ~linearly in n (9
    * cells × per-cell occupancy) while brute candidates are n·|probe|
    * — and the two MATCH counts must agree exactly (candidate
    * completeness asserted, not assumed). */
  def gridCurve(spark: SparkSession): Unit = {
    println("== grid radius join (q225 engine): brute vs 9-cell candidates, r=500 ==")
    val r = 500L
    for (n <- Seq(20000L, 40000L, 80000L, 160000L)) point { p =>
      val side = math.round(10000.0 * math.sqrt(n.toDouble / 20000.0))
      def pts(m: Long, a1: Long, b1: Long, a2: Long, b2: Long) =
        spark.range(m).select(col("id"),
          pmod(col("id") * a1 + b1, lit(side)).as("x"),
          pmod(col("id") * a2 + b2, lit(side)).as("y"))
      val build = p.keep(pts(n, 7919L, 13L, 104729L, 37L))
      val probe = p.keep(pts(2000L, 4793L, 7L, 9973L, 91L))
      val dx = col("b.x") - col("p.x")
      val dy = col("b.y") - col("p.y")
      val (bruteMatches, tBrute) = time {
        build.as("b").crossJoin(probe.as("p"))
          .filter(dx * dx + dy * dy <= r * r).count()
      }
      val (gridMatches, tGrid) = time {
        graft.operators.GridJoin.radiusJoin(build, probe, r).count()
      }
      require(gridMatches == bruteMatches,
        s"grid join lost pairs: $gridMatches vs brute $bruteMatches")
      // candidate volume = 9-cell hood pairs BEFORE the exact test
      def cells(df: org.apache.spark.sql.DataFrame) =
        df.select(expr(s"x div $r").as("cx"), expr(s"y div $r").as("cy"))
      val hood = probe.select(col("x"), col("y"),
          explode(array((-1 to 1).flatMap(i => (-1 to 1).map(j =>
            struct(lit(i.toLong).as("dx"), lit(j.toLong).as("dy")))): _*)).as("d"))
        .select((expr(s"x div $r") + col("d.dx")).as("cx"),
          (expr(s"y div $r") + col("d.dy")).as("cy"))
        .groupBy("cx", "cy").agg(count(lit(1)).as("np"))
      val cand = cells(build).groupBy("cx", "cy").agg(count(lit(1)).as("nb"))
        .join(hood, Seq("cx", "cy"))
        .agg(coalesce(sum(col("nb") * col("np")), lit(0L))).head().getLong(0)
      println(f"n=$n%7d side=$side%6d: brute_cand=${n * 2000L}%12d " +
        f"(${tBrute}%5.2f s)  grid_cand=$cand%10d  matches=$gridMatches%6d " +
        f"(${tGrid}%5.2f s)")
    }
  }

  /** Exact-Jaccard prefix-filter join (q230 engine) — candidate and
    * wall growth across corpus doublings: the AllPairs claim is that
    * prefix+length filtering keeps candidates near the TRUE pair
    * count, so candidates should track the planted-duplicate count
    * (linear in corpus), not the n² pair space. Verified pairs are
    * cross-checked against the brute intersection join at the
    * smallest point (completeness, asserted). */
  def setsimCurve(spark: SparkSession, sfDir: String): Unit = {
    println("== exact-Jaccard join (q230 engine): candidates vs corpus size, t=4/5 ==")
    val all = Tables(spark, sfDir, "documents")
    var checkedBrute = false
    for (n <- Seq(1250L, 2500L, 5000L)) point { p =>
      val docs = p.keep(all.filter(col("doc_id") < n))
      val m = docs.count()
      val sets = p.keep(graft.llm.SetSimJoin.shingles(docs, "doc_id", "text", 12))
      val (pairs, secs) = time {
        graft.llm.SetSimJoin.jaccardJoin(sets, 4, 5).count()
      }
      if (!checkedBrute) { // completeness vs the brute intersection join
        val sz = sets.groupBy("doc_id").agg(count(lit(1)).as("bn"))
        val brute = sets.as("x").join(sets.as("y"),
            col("y.s") === col("x.s") && col("x.doc_id") < col("y.doc_id"))
          .groupBy(col("x.doc_id").as("ia"), col("y.doc_id").as("ib"))
          .agg(count(lit(1)).as("inter"))
          .join(sz.select(col("doc_id").as("ia"), col("bn").as("na")), Seq("ia"))
          .join(sz.select(col("doc_id").as("ib"), col("bn").as("nb")), Seq("ib"))
          .filter(lit(9L) * col("inter") >= lit(4L) * (col("na") + col("nb")))
          .count()
        require(pairs == brute, s"prefix filter lost pairs: $pairs vs $brute")
        checkedBrute = true
      }
      // candidate volume: replicate the prefix explode + key join
      val cnt = sets.groupBy("s").agg(count(lit(1)).as("c"))
      val keyed = sets.join(cnt, Seq("s")).select(col("doc_id"),
        concat(lpad(col("c").cast("string"), 12, "0"), lit("|"), col("s"))
          .as("key"))
      val arrs = keyed.groupBy("doc_id")
        .agg(sort_array(collect_list("key")).as("ks"), count(lit(1)).as("n"))
        .withColumn("p", col("n") - expr("(4L * n + 4L) div 5L") + 1L)
      val pref = arrs.select(col("doc_id"), col("n"),
        explode(slice(col("ks"), lit(1), col("p"))).as("key"))
      val cand = pref.as("a").join(pref.as("b"),
          col("b.key") === col("a.key") && col("a.doc_id") < col("b.doc_id") &&
            lit(5L) * col("a.n") >= lit(4L) * col("b.n") &&
            lit(5L) * col("b.n") >= lit(4L) * col("a.n"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
      println(f"docs=$m%5d: candidates=$cand%8d  pairs=$pairs%5d  (${secs}%5.2f s)")
    }
  }

  /** Parquet BLOOM-FILTER pruning A/B — the point-lookup sibling of
    * [[layout]]: a needle probe (`event_id = k`) on a HASH-SCATTERED
    * layout where min/max statistics are useless (every file spans the
    * full id range) and the column is too high-cardinality for
    * dictionary encoding to survive (plain-encoded pages carry no
    * dictionary to filter on). A written bloom filter is the only
    * row-group-level structure that can prune such a probe — the
    * mechanism behind needle-in-haystack lookups on 100 TB fact tables
    * without re-sorting them. Same records-materialized metric; the A
    * side writes no bloom, the B side writes one on event_id. */
  def parquetBloom(spark: SparkSession, sfDir: String): Unit = {
    println("== parquet bloom filter: point-probe pruning A/B ==")
    val events = Tables(spark, sfDir, "events")
      .select("event_id", "user_id", "value")
    val base = java.nio.file.Files.createTempDirectory("graft_pbloom")
    // hash-scatter on user_id so event_id min/max spans the full range in
    // every file — the layout where ONLY a bloom filter can prune
    val scattered = events.repartition(16, col("user_id"))
    scattered.write.option("parquet.block.size", 64 * 1024)
      .parquet(s"$base/plain")
    scattered.write.option("parquet.block.size", 64 * 1024)
      .option("parquet.bloom.filter.enabled#event_id", "true")
      .option("parquet.bloom.filter.expected.ndv#event_id", "100000")
      .parquet(s"$base/bloom")
    try withWindow(spark) { window =>
      val probeIds = Seq(17L, 4242L, 99991L)
      for (variant <- Seq("plain", "bloom"); id <- probeIds) {
        spark.read.parquet(s"$base/$variant").count() // warm cache
        val t = window {
          spark.read.parquet(s"$base/$variant")
            .filter(col("event_id") === lit(id)).count()
        }
        println(f"$variant%6s probe id=$id%6d: matched=${t.value}%2d " +
          f"records_read=${t.metrics.inputRecords}%8d wall=${t.wall}%5.2f s")
      }
    } finally rmTree(base)
  }

  /** Dynamic partition pruning A/B — the partition-level sibling of
    * [[layout]]: a fact table written partitioned on a join key, probed
    * through a FILTERED dimension. With DPP the dimension's surviving keys
    * become a runtime subquery filter on the fact scan, so only matching
    * partitions are listed/read — the mechanism that turns a 100 TB
    * star-join into a handful-of-partitions scan. Same records-materialized
    * metric as [[layout]]; the A side disables DPP to show the full-scan
    * cost the optimization removes. */
  def dpp(spark: SparkSession, sfDir: String): Unit = {
    println("== dynamic partition pruning: filtered-dim star join A/B ==")
    val base = java.nio.file.Files.createTempDirectory("graft_dpp")
    val factPath = s"$base/lineitem_by_month"
    // fact partitioned by order month (12 partitions), dim = orders with a
    // one-month filter — DPP should confine the fact scan to that month
    val li = Tables(spark, sfDir, "lineitem")
      .select("l_orderkey", "l_quantity", "l_shipdate")
      .withColumn("ship_month", date_format(col("l_shipdate"), "yyyy-MM"))
    li.write.partitionBy("ship_month").parquet(factPath)
    // the dim filter is on a DIFFERENT attribute (quarter) than the join
    // key, so static constraint propagation cannot pre-prune the fact —
    // only the runtime DPP subquery can discover the surviving months
    val dim = Tables(spark, sfDir, "orders")
      .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"),
        quarter(col("o_orderdate")).as("qtr"))
      .distinct()
      .filter(col("qtr") === 3)
      .select("ship_month")

    try withWindow(spark) { window =>
      for (enabled <- Seq(false, true)) {
        spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled",
          enabled)
        spark.read.parquet(factPath).count() // warm file listing + cache
        val t = window {
          spark.read.parquet(factPath)
            .join(dim, Seq("ship_month"))
            .agg(sum("l_quantity")).head()
        }
        println(f"dpp=${if (enabled) " on" else "off"}%3s: " +
          f"records_read=${t.metrics.inputRecords}%8d wall=${t.wall}%5.2f s")
      }
    } finally {
      spark.conf.set("spark.sql.optimizer.dynamicPartitionPruning.enabled", true)
      rmTree(base)
    }
  }

  /** Skewed-join A/B: a fact table where ONE key owns half the rows,
    * sort-merge-joined to a dimension, under three regimes — AQE skew
    * handling disabled (the straggler-task shape a naive plan ships),
    * AQE skew-join enabled (runtime split of the oversized partition),
    * and the explicit [[graft.operators.SkewJoin.saltedInnerJoin]]
    * rewrite (the key-salting pattern for engines/joins AQE can't fix,
    * e.g. the LSH candidate joins). Row counts asserted identical. At
    * 100 TB the disabled shape is a job that never finishes: one task
    * sorts half the table while 999 executors idle. */
  def skew(spark: SparkSession): Unit = point { p =>
    import graft.operators.SkewJoin
    println("== skewed join: AQE skew-split vs salting vs naive ==")
    val n = 16000000L
    // half the rows share key 0; the rest spread over 100k keys. The
    // payload makes the hot partition heavy in BYTES, which is what AQE's
    // size-based skew detection (and a real cluster's straggler) sees.
    val fact = p.keep(spark.range(n).select(
      when(col("id") % 2 === 0, lit(0L))
        .otherwise(pmod(col("id") * 2654435761L, lit(100000L))).as("k"),
      concat(lit("payload-padding-for-realistic-row-width-"), col("id"))
        .as("v")))
    val dim = p.keep(spark.range(100000L).select(col("id").as("k"),
      concat(lit("dim"), col("id")).as("label")))
    val prevSkew = spark.conf.get("spark.sql.adaptive.skewJoin.enabled")
    val prevThresh = spark.conf
      .get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
    val prevFactor = spark.conf
      .get("spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    try {
      // local shuffle volumes are MBs; drop AQE's 256MB default threshold
      // so the skew split triggers at fixture scale like it would at
      // production partition sizes
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "4MB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      var expect = -1L
      for ((name, aqeSkew, salted) <- Seq(
          ("aqe-off ", false, false), ("aqe-skew", true, false),
          ("salted  ", false, true))) {
        spark.conf.set("spark.sql.adaptive.skewJoin.enabled", aqeSkew)
        val joined =
          if (salted) SkewJoin.saltedInnerJoin(fact, dim, "k", factor = 32)
          else fact.hint("merge").join(dim, "k")
        val (cnt, s) = time { joined.count() }
        if (expect < 0) expect = cnt
        assert(cnt == expect, s"row counts diverge: $cnt vs $expect")
        println(f"$name: rows=$cnt%9d wall=$s%6.2f s")
      }
    } finally {
      spark.conf.set("spark.sql.adaptive.skewJoin.enabled", prevSkew)
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", prevThresh)
      spark.conf.set(
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor", prevFactor)
    }
  }

  /** q130's scale evidence: wall + shuffle bytes of the cross-document
    * repeated-n-gram pass across corpus doublings, for BOTH key choices.
    * What the numbers must show for 100 TB: wall ~linear in corpus size
    * (the fan-out is row-local; the shuffle is one count-distinct over
    * gram keys), and the 128-bit hash keys cutting exchange bytes vs
    * shuffling the ~50-byte gram strings themselves — the reason
    * hashKeys=true is the default and the string-keyed configuration
    * exists only for the DuckDB oracle. Corpus: 200-token docs, every
    * 4th doc opening with one of 5 shared 40-token boilerplate
    * prefixes (the repeated-substring structure the operator hunts),
    * remaining tokens doc-unique. */
  def substringDedup(spark: SparkSession): Unit = {
    println("== substring dedup (q130 engine): corpus growth x key choice ==")
    def mkDocs(nDocs: Int) = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      concat_ws(" ",
        concat_ws(" ", transform(sequence(lit(1), lit(40)), i =>
          when(pmod(col("id"), lit(4)) === 0,
            concat(lit("b"), pmod(col("id"), lit(20)), lit("_"), i))
            .otherwise(concat(lit("u"), xxhash64(col("id"), i))))),
        concat_ws(" ", transform(sequence(lit(1), lit(160)), i =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(7L), i), lit(50000L))))))
        .as("text"))
    val prevWall = scala.collection.mutable.Map[Boolean, Double]()
    withWindow(spark) { window =>
      for (n <- Seq(20000, 40000, 80000)) point { p =>
        val docs = p.keep(mkDocs(n)) // pay synthesis once per point
        for ((label, hk) <- Seq("hash128" -> true, "string " -> false)) {
          val q = llm.SubstringDedup.repeatedSpans(docs, n = 8, minDocs = 2,
            hashKeys = hk)
          val t = window.best(1)(consume(q))
          val m = t.metrics
          println(f"docs=$n%6d  key=$label  wall=${t.wall}%6.2f s " +
            f"(vs prev ${vsPrev(t.wall, prevWall.getOrElse(hk, -1.0))})  " +
            f"shuffle_w=${m.shuffleWrite / 1e6}%7.1f MB  cpu=${m.cpuSec}%6.1f s")
          prevWall(hk) = t.wall
        }
      }
    }
  }

  /** Edit-distance join (q139 engine): passJoin wall growth with ~5%
    * planted one-edit twins, vs the brute all-pairs banded-levenshtein
    * twin at the smallest corpus only (quadratic by construction — its
    * pair count, not its DP, is the scale killer). The claim that
    * transfers: passJoin's wall tracks the planted-pair count (≈ n/20)
    * and its shuffle is the fixed-width segment/probe rows (O(k³·n)),
    * while brute's pair space squares per doubling. ~60-char strings,
    * k=2. */
  def editDistance(spark: SparkSession): Unit = {
    println("== edit-distance join (q139 engine): passJoin growth vs brute twin ==")
    def mkCorpus(n: Int): DataFrame = {
      val base = spark.range(n.toLong).select(
        (col("id") * 2).as("id"),
        concat_ws(" ", transform(sequence(lit(1), lit(8)), i =>
          concat(lit("w"), pmod(xxhash64(col("id"), i), lit(50000L))))).as("text"))
      val twins = base.filter(pmod(col("id"), lit(40)) === 0)
        .select((col("id") + 1).as("id"),
          expr("concat(substr(text, 1, 5), '#', substr(text, 7))").as("text"))
      base.unionAll(twins)
    }
    var prevWall = -1.0
    withWindow(spark) { window =>
      for (n <- Seq(8000, 16000, 32000, 64000)) point { p =>
        val corpus = p.keep(mkCorpus(n))
        val q = llm.EditDistance.passJoin(corpus, k = 2)
        val t = window.best(1)(q.count())
        val (pairs, wall, m) = (t.value, t.wall, t.metrics)
        println(f"docs=$n%6d  passJoin wall=$wall%6.2f s (vs prev ${vsPrev(wall, prevWall)})  " +
          f"pairs=$pairs%7d  shuffle_w=${m.shuffleWrite / 1e6}%7.1f MB  " +
          f"cpu=${m.cpuSec}%6.1f s")
        prevWall = wall
        if (n == 8000) {
          // brute twin: every length-window pair through banded levenshtein
          val d = corpus.select(col("id"), col("text"), length(col("text")).as("len"))
          val (bPairs, bWall) = time {
            // single threshold-2 predicate: -1 iff dist > 2, so the banded
            // DP runs once per pair (a second conjunct would re-run it)
            d.as("a").join(d.as("b"),
                col("a.id") < col("b.id") &&
                  abs(col("a.len") - col("b.len")) <= 2 &&
                  expr("levenshtein(a.text, b.text, 2)") =!= -1)
              .count()
          }
          println(f"docs=$n%6d  BRUTE    wall=$bWall%6.2f s              " +
            f"pairs=$bPairs%7d  (pair space squares per doubling — " +
            "the curve brute cannot follow)")
          assert(bPairs == pairs, s"brute $bPairs != passJoin $pairs")
        }
      }
    }
  }

  /** Co-occurrence pair-space measurement — q98's design claim made
    * visible: the WINDOWED pairing emits ≤ T·window pair instances per
    * document, linear in corpus size and window, where per-document
    * ALL-PAIRS is T² — a 25× volume blowup already at T=200, and the gap
    * widens with document length. Synthetic fixed-length docs; the brute
    * twin runs once, contained, as the denominator. */
  def cooc(spark: SparkSession): Unit = {
    println("== co-occurrence: windowed pair volume vs per-doc all-pairs ==")
    def mkDocs(nDocs: Int) = spark.range(nDocs.toLong).select(
      col("id").as("doc_id"),
      concat_ws(" ", transform(sequence(lit(1), lit(200)), i =>
        concat(lit("w"), pmod(xxhash64(col("id"), i), lit(5000L)))))
        .as("text"))
    def pos(docs: DataFrame) = docs
      .select(col("doc_id"),
        posexplode(split(trim(col("text")), "\\s+")).as(Seq("p", "t")))
      .filter(col("t") =!= "")
    for (r <- Seq(1, 4); w <- Seq(2, 8)) {
      val p = pos(mkDocs(4000 * r))
      val (nPairs, s) = time {
        p.select(col("doc_id"), col("p"), col("t").as("ta"))
          .withColumn("pb", explode(sequence(col("p") + 1, col("p") + w)))
          .join(p.select(col("doc_id"), col("p").as("pb"), col("t").as("tb")),
            Seq("doc_id", "pb"))
          .count()
      }
      println(f"docs=${4000 * r}%6d window=$w%2d pairs=$nPairs%12d wall=$s%6.2f s")
    }
    // brute all-pairs twin at the smallest corpus only (quadratic in T)
    val p = pos(mkDocs(4000))
    val (nBrute, sb) = time {
      p.select(col("doc_id"), col("p").as("pa"), col("t").as("ta"))
        .join(p.select(col("doc_id"), col("p").as("pb"), col("t").as("tb")),
          Seq("doc_id"))
        .filter(col("pb") > col("pa"))
        .count()
    }
    println(f"docs=  4000 ALL-PAIRS   pairs=$nBrute%12d wall=$sb%6.2f s")
  }

  /** Resample scaling A/B — the r8 q121 fix's asymptotics made visible:
    * both fills now run every window over ACCUMULATING frames, so wall
    * should scale ~linearly in rows-per-key. The pre-r8 interpolate ran
    * its next-anchor pass over `currentRow → unboundedFollowing` frames —
    * a per-row rescan to partition end, O(n²) per key, which at these row
    * counts would be hours, not seconds (the r7 driver bench paid 81 s at
    * ~420k grid rows). Per-doubling wall ratios ≈2× are the pass
    * criterion; a quadratic plan reads ≈4×. Synthetic jittered ~30 s
    * spacing on few fat keys deliberately concentrates rows into LONG
    * per-key sequences — the shape that kills a quadratic frame first. */
  def resample(spark: SparkSession): Unit = {
    import graft.operators.Resample
    println("== resample: per-key scaling of forwardFill / interpolate ==")
    def mkEvents(keys: Int, perKey: Int) =
      spark.range(keys.toLong * perKey).select(
        pmod(col("id"), lit(keys.toLong)).as("k"),
        timestamp_micros(
          (col("id") / keys).cast("long") * 30000000L +
            pmod(xxhash64(col("id")), lit(29000000L))).as("ts"),
        (pmod(xxhash64(col("id"), lit(7)), lit(1000L)) / 10.0).as("v"),
        col("id"))
    var prevFf, prevLi = -1.0
    withWindow(spark) { window =>
      for (perKey <- Seq(250000, 500000, 1000000)) point { p =>
        val ev = p.keep(mkEvents(8, perKey))
        // GC only between trials: isolate would drop the kept ev
        val ff = window.best(2)(
          consume(Resample.forwardFill(ev, "k", "ts", "v", "id", 60L))).wall
        val li = window.best(2)(
          consume(Resample.interpolate(ev, "k", "ts", "v", "id", 60L))).wall
        println(f"rows/key=$perKey%8d  ffill=$ff%6.2f s (vs prev ${vsPrev(ff, prevFf)})  " +
          f"interp=$li%6.2f s (vs prev ${vsPrev(li, prevLi)})")
        prevFf = ff; prevLi = li
      }
    }
  }

  /** Wall-separation curve for the planted near-dup A/B (the r9 q60/q61
    * re-basing's scale exhibit): brute-force O(n²) pair scoring vs the
    * bucketed LSH path, at growing corpus size n with FIXED planted
    * structure (4 near-dup replicas per base vector — the corpus is grown
    * by adding more base vectors, NOT denser clusters, so bucketed
    * candidate work stays ∝n and the curve isolates the asymptotics).
    * At fixture n both walls are stage-floor-bound and read near parity
    * on 32 cores; here brute walls grow ~4× per doubling (quadratic work,
    * honestly parallelized — the pre-r9 serial-denominator artifact is
    * exactly what this mode exists to not repeat) while bucketed walls
    * grow ~1.2–1.5×, and the executor-CPU ratio grows linearly in n. */
  def plantedCurve(spark: SparkSession, sfDir: String): Unit = {
    println("== planted near-dup A/B: brute vs bucketed across corpus size ==")
    val base = Tables(spark, sfDir, "embeddings")
    var prevBrute, prevBucketed = -1.0
    withWindow(spark) { window =>
      for (corpusScale <- Seq(1, 2, 4)) {
        // grow the corpus: far-replicas (large eps ⇒ ~isotropic after
        // normalization, no planted structure) × near-replicas (the planted
        // clusters). n = 2000 × scale × 4 at sf0.1.
        val grown =
          if (corpusScale == 1) base
          else replicateEmbeddings(base, corpusScale, eps = 8.0)
            .select("vec_id", "embedding")
        val tmpRoot = java.nio.file.Files.createTempDirectory("planted_curve")
        val p = tmpRoot.resolve("e").toString
        replicateEmbeddings(grown, 4, eps = 0.12)
          .select("vec_id", "embedding").write.parquet(p)
        val fx = spark.read.parquet(p)
        val n = fx.count()
        def measure(f: => Unit): (Double, Double) = {
          val t = window.best(2, isolate(spark))(f)
          (t.wall, t.metrics.cpuSec)
        }
        val (bw, bc) = measure(consume(
          llm.Rp.cosineNearPairs(fx, 0.85, bands = 20, bitsPerBand = 12)))
        val (rw, rc) = measure(consume(
          llm.Similarity.cosineNearDupPairs(fx, 0.85)))
        println(f"n=$n%6d  bucketed=$bw%6.2f s/${bc}%7.1f cpu-s (vs prev ${vsPrev(bw, prevBucketed)})  " +
          f"brute=$rw%6.2f s/${rc}%7.1f cpu-s (vs prev ${vsPrev(rw, prevBrute)})  " +
          f"wall-ratio=${rw / bw}%4.2fx  work-ratio=${rc / bc}%4.2fx")
        prevBrute = rw; prevBucketed = bw
        isolate(spark)
        rmTree(tmpRoot)
      }
    }
  }

  /** Decode-throughput curves for the real media codecs (B35), one
    * [[throughput]] curve per codec: WAV PCM-16, 24-bit BMP and PNG blobs
    * decoded through [[llm.Multimodal.decodeWav]]/`decodeBmp`/`decodePng`,
    * then the ADPCM and RLE8 sample codecs. What the curves must show for
    * the 100 TB story: per-doubling wall ratios ≤ ~2× (linear work —
    * decode is row-local, zero shuffle) and stable MB/s. Payloads ~4 KB
    * (WAV) / ~3 KB (BMP) per row. */
  def codecThroughput(spark: SparkSession): Unit = {
    import spark.implicits._
    import llm.Multimodal.Blob
    println("== codec throughput: WAV / BMP / PNG decode across corpus size ==")
    def blobs(f: Long => Array[Byte])(n: Int): DataFrame =
      spark.range(n.toLong).as[Long].map(id => Blob(id, f(id))).toDF()
    // one w×h RGB plane per id (~3 KB as BMP): the BMP and PNG columns
    // decode the same pixels, so PNG's extra cost is the ImageIO path's
    // per-row stream setup + inflate + raster copy
    def plane(id: Long): (Int, Int, Array[Int]) = {
      val w = (32 + id % 8).toInt
      val h = (28 + id % 4).toInt
      (w, h, Array.tabulate(w * h) { i =>
        val x = i % w; val y = i / w
        ((((x * 7 + y * 3 + id) % 256).toInt) << 16) |
          ((((x * 5 + y * 11 + 2 * id) % 256).toInt) << 8) |
          (((x * 13 + y + 3 * id) % 256).toInt)
      })
    }
    def curve(label: String, sizes: Seq[Int], gen: Long => Array[Byte],
        decode: org.apache.spark.sql.Dataset[Blob] => DataFrame): Unit =
      throughput(spark, label, sizes)(blobs(gen))(in => decode(in.as[Blob]))
    val sizes = Seq(100000, 200000, 400000)
    curve("wav", sizes, { id =>
      val n = (2000 + id % 128).toInt // ~4 KB payloads
      llm.Wav.encodePcm16(8000, Array.tabulate[Short](n)(i =>
        (((i.toLong * (3 + id % 5)) % 4096 - 2048) * 8).toShort))
    }, llm.Multimodal.decodeWav(_).toDF())
    curve("bmp", sizes, id => { val (w, h, px) = plane(id); llm.Bmp.encode24(w, h, px) },
      llm.Multimodal.decodeBmp(_).toDF())
    curve("png", sizes, id => { val (w, h, px) = plane(id); llm.Png.encodeRgb(w, h, px) },
      llm.Multimodal.decodePng(_).toDF())
    // r13 compressed-sample codecs: IMA ADPCM (4 bits/sample) and BI_RLE8
    // (runs expand ~10×) — decode summed per blob (row-local, no
    // per-sample explode) so the number is codec throughput, not row fanout
    println("== compressed-sample codecs: ADPCM / RLE8 decode throughput ==")
    curve("adpcm", Seq(100000, 400000), { id =>
      val nn = 4000 // → 4001 samples from 2004 bytes
      val bytes = new Array[Byte](4 + nn / 2)
      bytes(0) = (id % 251).toByte; bytes(2) = (id % 89).toByte
      for (i <- 0 until nn / 2)
        bytes(4 + i) = (((id + i) % 16) | ((((id + i) * 7) % 16) << 4)).toByte
      bytes
    }, _.map(x => llm.Adpcm.decode(x.payload)
      .map(s => s.foldLeft(0L)((a, v) => a + v)).getOrElse(-1L)).toDF("s"))
    curve("rle8", Seq(100000, 400000), { id =>
      val (w, h) = (64, 32)
      val out = scala.collection.mutable.ArrayBuffer.empty[Byte]
      for (yb <- 0 until h) {
        out += (w / 2).toByte += ((id + yb) % 256).toByte
        out += (w / 2).toByte += ((id * 3 + yb) % 256).toByte
        if (yb < h - 1) { out += 0.toByte += 0.toByte }
      }
      out += 0.toByte += 1.toByte
      out.toArray
    }, _.map(x => llm.Rle8.decode(x.payload, 64, 32)
      .map(p => p.foldLeft(0L)(_ + _)).getOrElse(-1L)).toDF("s"))
  }

  /** PageRank scaling (q155's engine): wall vs edge count at fixed
    * iterations, and wall vs iteration count at fixed edges. The scale
    * claims under test: (1) per-iteration cost is ONE Spark job with
    * one shuffle of the contribs — wall grows ~linearly with edges;
    * (2) each round reads only the persisted adjacency and the previous
    * persisted iterate, so per-round cost is CONSTANT across rounds and
    * wall is ~linear in iters too. A super-linear iters curve would mean
    * earlier rounds are being recomputed. */
  def pageRankCurve(spark: SparkSession): Unit = {
    println("== pagerank: wall vs edges (3 iters) and vs iters (1M edges), damping 0.5 ==")
    def graph(n: Long): (DataFrame, DataFrame) = {
      val nodes = spark.range(n).select(col("id").as("v"))
      val edges = spark.range(n).select(col("id").as("src"),
          ((col("id") * 2 + 1) % n).as("dst"))
        .union(spark.range(n).select(col("id").as("src"),
          ((col("id") * 3 + 7) % n).as("dst")))
      (nodes, edges)
    }
    /** Total rank mass (the wall is the window's). */
    def run(n: Long, iters: Int): Double = {
      val (nodes, edges) = graph(n)
      llm.LinkGraph.pageRank(nodes, edges, iters, 0.5)
        .agg(sum(col("pr"))).head().getDouble(0)
    }
    withWindow(spark) { window =>
      var prev = -1.0
      for (n <- Seq(250000L, 500000L, 1000000L)) {
        val t = window.best(2)(run(n, 3))
        println(f"edges=${2 * n}%9d iters=3 wall=${t.wall}%6.2f s " +
          f"(vs prev ${vsPrev(t.wall, prev)}, mass=${t.value}%14.2f)")
        prev = t.wall
      }
      prev = -1.0
      for (iters <- Seq(2, 4, 8)) {
        val t = window.best(2)(run(1000000L, iters))
        println(f"edges=  2000000 iters=$iters%2d wall=${t.wall}%6.2f s " +
          f"(vs prev ${vsPrev(t.wall, prev)})")
        prev = t.wall
      }
    }
  }

  /** Crawl-ingest throughput (the q149 front half): .warc.gz blobs →
    * gzip member walk → WARC record walk → HTTP split → HTML-to-text,
    * at growing corpus size. The per-row cost must stay flat across
    * doublings (row-local chain, no shuffle) — that flatness IS the
    * 100 TB claim; MB/s divides by the COMPRESSED archive bytes, the
    * unit a crawl's storage bill is written in. */
  def crawlThroughput(spark: SparkSession): Unit = {
    import spark.implicits._
    println("== crawl-ingest throughput: .warc.gz -> text across corpus size ==")
    throughput(spark, "warc.gz", Seq(50000, 100000, 200000)) { n =>
      spark.range(n.toLong).as[Long].map { id =>
        // ~2 KB html body; one gzip member per WARC record, 2 records
        val body = (0 until 40).map(i =>
          s"<p>tok${(id * 37 + i * 11) % 50000} and filler text $i</p>")
          .mkString("<html><head><title>Doc " + id + "</title></head><body>",
            " ", "</body></html>")
        val rec = new String(llm.Warc.encodeResponse(
          s"https://host${id % 997}.com/p$id", "2026-01-01T00:00:00Z",
          200, "text/html", body), "UTF-8")
        val info = new String(llm.Warc.encodeInfo("warcinfo", s"crawl $id"), "UTF-8")
        llm.Multimodal.Blob(id, llm.Gzip.encodeMembers(Seq(info, rec)))
      }.toDF()
    } { in =>
      val recs = llm.Warc.ingest(in.as[llm.Multimodal.Blob].map(b =>
        llm.Multimodal.Blob(b.doc_id, llm.Gzip.text(b.payload).map(_.getBytes("UTF-8"))
          .getOrElse(Array.emptyByteArray))))
        .filter(col("warc_type") === "response")
      llm.Html.extractAll(recs.select(col("doc_id"), col("body"))
        .as[(Long, String)]).toDF()
    }
  }

  /** Document-format decode throughput: PDF (flate content streams) and
    * DOCX (zip + WordprocessingML) parse chains across corpus size. The
    * claim under test is the same as --codec/--crawl: decode is
    * row-local and embarrassingly parallel, so walls scale ~linearly in
    * corpus size (ratio ≈ 2.0x per doubling) and per-doc cpu cost is
    * flat — the property that holds at any executor count. */
  def docFormatsThroughput(spark: SparkSession): Unit = {
    import spark.implicits._
    println("== doc-format decode throughput: PDF + DOCX -> text across corpus size ==")
    throughput(spark, "pdf+docx", Seq(100000, 200000, 400000)) { n =>
      spark.range(n.toLong).as[Long].map { id =>
        if (id % 2 == 0) {
          // ~2 KB PDF: 20 text-showing paragraphs in one flate stream
          val ops = (0 until 20).map(i =>
            s"BT 72 ${700 - i * 14} Td (Paragraph $i of doc $id with tok" +
              s"${(id * 31 + i * 7) % 50000} filler words) Tj ET").mkString(" ")
          llm.Multimodal.Blob(id, llm.Pdf.build(Seq(ops), flate = true))
        } else {
          val paras = (0 until 20).map(i =>
            s"<w:p><w:r><w:t>Paragraph $i of doc $id with tok" +
              s"${(id * 31 + i * 7) % 50000} filler words</w:t></w:r></w:p>").mkString
          llm.Multimodal.Blob(id, llm.Zip.build(Seq(
            ("[Content_Types].xml", "<Types/>".getBytes("UTF-8"), false),
            ("word/document.xml",
              s"<w:document><w:body>$paras</w:body></w:document>".getBytes("UTF-8"),
              false))))
        }
      }.toDF()
    } { in =>
      in.as[llm.Multimodal.Blob].mapPartitions(_.map { b =>
        if (b.doc_id % 2 == 0) {
          val e = llm.Pdf.decode(b.payload).getOrElse(llm.Pdf.Extracted(-1, -1, ""))
          (b.doc_id, "pdf", e.nPages, e.text.length)
        } else {
          val d = llm.Zip.docxText(b.payload).getOrElse(llm.Zip.Doc(-1, ""))
          (b.doc_id, "docx", d.nParas, d.text.length)
        }
      }).toDF("doc_id", "kind", "n_units", "n_chars")
    }
  }

  /** Curation-filter throughput (the q177 chain): raw text → C4 line
    * cleaning → trigram language ID → Gopher rule panel → exact-dedup
    * digest, across corpus size. The chain is row-local until the one
    * dedup shuffle, so per-doc cpu cost must stay flat across doublings
    * and walls ~linear — the property that holds at any executor count.
    * Class mix (1/8 lorem-poisoned, 1/8 German, 1/16 duplicates) keeps
    * every branch of the chain hot. */
  def filtersThroughput(spark: SparkSession): Unit = {
    import spark.implicits._
    println("== curation-filter throughput: C4 + langid + gopher + dedup across corpus size ==")
    val profiles = Seq(
      "de" -> Seq("der" -> 5, "sch" -> 4, "und" -> 3, "ein" -> 2),
      "en" -> Seq("the" -> 5, "he " -> 3, "ick" -> 2, "ing" -> 2),
      "fr" -> Seq("le " -> 4, "eux" -> 4, "ard" -> 3, "ais" -> 2))
    throughput(spark, "docs", Seq(200000, 400000, 800000)) { n =>
      spark.range(n.toLong).as[Long].map { id =>
        val base = id - (id % 16) // 1/16 of docs duplicate their block head
        val eff = if (id % 16 == 15) base else id
        val line = (i: Int) =>
          s"The solid value of doc $eff line $i carries tok${(eff * 31 + i * 7) % 50000} here."
        val body = (0 until 20).map(line).mkString("\n")
        val text = (id % 8) match {
          case 2 => body + "\nThe lorem ipsum generator made this sentence too."
          case 5 => (0 until 20).map(i =>
            s"Der schnelle Hund und der scheue Fuchs tragen tok${(eff * 31 + i * 7) % 50000} hier.")
            .mkString("\n")
          case _ => body
        }
        (id, text)
      }.toDF("doc_id", "text")
    } { in =>
      val kept = llm.C4Clean.cleanAll(in.as[(Long, String)]).filter(_.keep)
      val scored = kept.mapPartitions(_.flatMap { c =>
        val (lang, _) = llm.LangId.classify(llm.LangId.normalize(c.text), profiles)
        val rep = llm.Gopher.report(c.doc_id, c.text)
        if (lang != "en" || rep.pass) Some((c.doc_id, lang, rep.n_words, c.text))
        else None
      })
      scored.toDF("doc_id", "lang", "n_words", "text")
        .groupBy(sha2(col("text"), 256).as("digest"))
        .agg(min(struct(col("doc_id"), col("lang"), col("n_words"))).as("r"))
        .select(col("r.doc_id"), col("r.lang"), col("r.n_words"))
    }
  }

  /** Multimodal sample-assembly throughput (q191's engine, through
    * [[llm.LlmQueries.multimodalSamples]]): AVI decode → SRT parse →
    * as-of alignment → chat render → packChunks across corpus size; the
    * AVI and SRT payloads are synthesized untimed. The chain is row-local
    * until the as-of's doc_id exchange plus the packing's shard window,
    * so cpu-µs/doc should stay FLAT as n grows (the q177 `--filters`
    * story for the multimodal plane) — superlinear drift here means a
    * stage stopped being row-local. */
  def samplesThroughput(spark: SparkSession): Unit = {
    import spark.implicits._
    println("== multimodal sample assembly: decode + align + render + pack across corpus size ==")
    throughput(spark, "samples", Seq(20000, 40000, 80000)) { n =>
      spark.range(n.toLong).as[Long].map { id =>
        val w = (8 + id % 8).toInt
        val h = (4 + id % 4).toInt
        val frames = Seq.tabulate((2 + id % 3).toInt) { f =>
          Array.tabulate(w * h) { i =>
            val x = i % w; val y = i / w
            val r = ((x * 7 + y * 3 + id + 11 * f) % 256).toInt
            val g = ((x * 5 + y * 11 + 2 * id + 7 * f) % 256).toInt
            val b = ((x * 13 + y + 3 * id + 5 * f) % 256).toInt
            (r << 16) | (g << 8) | b
          }
        }
        val stepMs = 45 + 5 * (id % 5)
        (id, llm.Avi.encode(width = w, height = h, usPerFrame = 33000 + (id % 5) * 1000,
            frames = frames, junkBytes = ((id % 4) * 5).toInt),
          llm.Srt.encode(Seq.tabulate(4) { i =>
            (i * stepMs, i * stepMs + 30, s"sub${id}_$i")
          }))
      }.toDF("doc_id", "payload", "srt")
    } { in =>
      llm.LlmQueries.multimodalSamples(in.select("doc_id", "payload").as[llm.Multimodal.Blob],
        in.select("doc_id", "srt").as[(Long, String)])
    }
  }

  /** Incremental SCD2 merge vs full rebuild (q252 engine) — the curve
    * that justifies ScdMerge's existence: the rebuild consumes the
    * whole G-generation snapshot stack (G·n rows), the merge consumes
    * the HISTORY (versions-sized) plus ONE snapshot (n rows), so
    * rebuild cost grows with G while merge cost is flat in G. Equality
    * of the two results is ASSERTED at every point (the law, not a
    * sample), so the speedup is never bought with a wrong answer. */
  def scdMergeCurve(spark: SparkSession): Unit = {
    import graft.operators.{Scd, ScdMerge}
    val n = 200000L
    println(s"== SCD2: incremental merge vs full rebuild ($n keys) ==")
    def snap(g: Int): DataFrame = spark.range(n).select(
      col("id").as("k"), lit(g.toLong).as("g"),
      // each key mutates at generations ≡ its residue (sparse changes,
      // the realistic dimension shape: most keys unchanged per load)
      when(pmod(col("id"), lit(7L)) === g % 7, lit(s"s$g"))
        .otherwise(lit("base")).as("st"),
      (col("id") % 1000 + 10 * (g / 4)).as("v"))
    for (gens <- Seq(4, 8, 16, 32)) point { p =>
      val stack = (0 until gens).map(snap).reduce(_ unionByName _)
      val (rebuilt, tRebuild) =
        time(p.keep(Scd.type2History(stack, "k", "g", Seq("st", "v"))))
      // materialized OUTSIDE the timed merge window
      val history = p.keep(Scd.type2History(
        (0 until gens - 1).map(snap).reduce(_ unionByName _),
        "k", "g", Seq("st", "v")))
      val (merged, tMerge) = time(p.keep(ScdMerge.merge(history,
        snap(gens - 1).drop("g"), "k", Seq("st", "v"), (gens - 1).toLong)))
      // the law, asserted at every point
      require(sameRows(merged, rebuilt), s"merge != rebuild at gens=$gens")
      println(f"gens=$gens%3d: stack=${gens * n}%9d rows  " +
        f"rebuild=${tRebuild}%6.2f s (${rebuilt.count()}%8d versions)  " +
        f"merge=${tMerge}%6.2f s  ratio=${tRebuild / tMerge}%5.2f x")
    }
  }

  /** Sorted-neighborhood candidate growth (q254 engine) — the blocking
    * argument in numbers: SNM candidates are ≤ n·(w−1) BY CONSTRUCTION
    * (each rank pairs with at most w−1 successors) while the in-block
    * pair space grows quadratically; planted twins are TAIL typos
    * (last character dropped), the case sorted-neighborhood is designed
    * for — they share the long sort prefix, so recall stays high and
    * FLAT as the corpus grows. A typo early in the key sorts the twin
    * away (the method's documented blind spot) — that case is pinned in
    * q254/SortedNeighborhoodSpec, not measured here: its recall is ~0
    * by design and production answers it with a second pass on a
    * different key. */
  def snmCurve(spark: SparkSession): Unit = {
    import spark.implicits._
    import graft.operators.SortedNeighborhood
    println("== sorted neighborhood: candidates vs in-block pair space ==")
    val adj = Vector("red", "blue", "hot", "cold", "big", "small", "fast",
      "slow", "dark", "light", "old", "new", "high", "low", "wide", "thin")
    val noun = Vector("widget", "gizmo", "bolt", "gear", "ring", "valve",
      "lever", "panel", "probe", "crank", "shaft", "brace", "clamp", "dial",
      "fuse", "hinge")
    for (n <- Seq(50000L, 100000L, 200000L, 400000L)) point { p =>
      // the numeric tail is the UNIQUE zero-padded id: a truncated twin
      // then shares its 6-digit prefix with (almost) only its source —
      // a modular suffix made every 1-digit twin collapse to the same
      // key and cluster AWAY from its source (measured: recall fell
      // with n for fixture reasons, not method reasons)
      val base = spark.range(n).select(col("id"),
        concat_ws(" ",
          element_at(typedLit(adj), (pmod(col("id") * 2654435761L, lit(16L)) + 1).cast("int")),
          element_at(typedLit(noun), (pmod(col("id") * 40503L, lit(16L)) + 1).cast("int")),
          lpad(col("id").cast("string"), 7, "0")).as("key"))
      val dirty = base.filter(col("id") % 4 === 0).select(
        (col("id") + 1000000000L).as("id"),
        expr("substr(key, 1, length(key) - 1)").as("key"))
      val recs = p.keep(base.unionByName(dirty))
      val ((candidates, matched), t) = time(point { q =>
        val pairs = q.keep(SortedNeighborhood.pairs(recs, "id", "key",
          substring(col("key"), 1, 1), w = 4))
        // planted recall: twin pair (id, id+1e9) recovered by the window
        (pairs.count(), pairs.filter(col("id2") === col("id1") + 1000000000L ||
          col("id1") === col("id2") + 1000000000L).count())
      })
      val planted = n / 4
      // in-block pair space (what a block-local all-pairs join would scan)
      val pairSpace = recs.groupBy(substring(col("key"), 1, 1))
        .agg(count(lit(1)).as("c"))
        .agg(sum(expr("c * (c - 1) div 2"))).head().getLong(0)
      println(f"n=$n%7d: candidates=$candidates%9d  " +
        f"block_pair_space=$pairSpace%12d (${pairSpace / math.max(candidates, 1)}%5d x)  " +
        f"planted_recall=${100.0 * matched / planted}%5.1f %%  wall=${t}%5.2f s")
    }
  }

  /** k-NN-graph curve (q264/q265's engines, r16): candidate volume vs
    * the all-pairs space as n grows WITH the centroid count scaled
    * ∝ n (the at-scale contract: cells are something you fit to the
    * corpus, so per-cell membership — and with it the bucketed pair
    * join — stays bounded while brute force grows n²), and beam-search
    * wall vs brute top-k wall. Planted near-dup structure via
    * replicateEmbeddings (the --setsim treatment); centroids/queries
    * are ORIGINAL base rows (rep 0) so they stay well-spread — first-k
    * replicated ids would be near-duplicates of ~k/r directions and
    * the cells would degenerate. Degree is 24 here, ABOVE the largest
    * planted cluster (16 replicas): on clustered data a node's top-k
    * neighbors are its own cluster, and degree ≤ cluster size makes
    * the graph a union of disconnected cliques no beam can navigate —
    * measured recall 0% at R=16/degree=12 before this was raised; the
    * HNSW/Vamana literature's neighbor-diversification rules exist for
    * exactly this, and the degree>cluster guidance is the documented
    * operating contract here. */
  def knnGraphCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.{KnnGraph, Similarity}
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== knn graph: bucketed build + beam search vs brute top-k ==")
    for (r <- Seq(4, 8, 16)) point { q =>
      val (rep, n, nCells, cs) = planted(q, emb, r)
      val queries = q.keep(rep.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 20L * r))
      val candidates = point { c =>
        val pr = c.keep(KnnGraph.probeAssign(rep, cs, nProbe = 3).select("vec_id", "cell"))
        pr.select(col("cell"), col("vec_id").as("src"))
          .join(pr.select(col("cell"), col("vec_id").as("dst")), Seq("cell"))
          .filter(col("src") =!= col("dst"))
          .select("src", "dst").distinct().count()
      }
      // candidates counts ORDERED (src, dst) pairs, so compare
      // against the ordered-pair total n(n-1) — same convention on
      // both sides of the compression ratio
      val allPairs = n * (n - 1)
      val (edges, buildS) = time(q.keep(KnnGraph.build(rep, cs, degree = 24, nProbe = 3)))
      val entries = KnnGraph.entryPoints(rep, cs)
      val (approx, searchS) = time {
        KnnGraph.search(edges, rep, queries, entries,
          topK = 3, beam = 16, rounds = 4).select("q_id", "node").collect()
      }
      val (brute, bruteS) = time {
        Similarity.cosineTopK(rep, queries, k = 3)
          .select("q_id", "vec_id").collect()
      }
      val gotSet = approx.map(x => (x.getLong(0), x.getLong(1))).toSet
      val recall = brute.map(x => (x.getLong(0), x.getLong(1)))
        .count(gotSet.contains).toDouble / brute.length
      println(f"R=$r%2d n=$n%6d cells=$nCells%4d " +
        f"candidates=$candidates%10d all_pairs=$allPairs%12d " +
        f"(${allPairs / math.max(candidates, 1)}%4d x) build=$buildS%5.1f s " +
        f"beam=$searchS%5.1f s brute=$bruteS%5.1f s recall=${recall * 100}%5.1f %%")
    }
  }

  /** Persisted-index serving curve (q273's path, r17): beam search over
    * the [[graft.llm.KnnGraph.saveIndex]] bucketed node-record table vs
    * the in-memory [[graft.llm.KnnGraph.search]], same parameters, with
    * a BUCKETS-READ counter derived from each probe's id set through
    * the exact arithmetic Spark's bucket pruning applies
    * (pmod(murmur3(vec_id), buckets) — cross-checked once per point
    * against the probe plan's SelectedBucketsCount). The quantity that
    * matters at 100 TB: per-round index IO is the touched-bucket
    * fraction of an n·degree edge table, not the corpus — the beam is
    * queries·beam ids whatever n is, so the fraction FALLS as the
    * corpus grows while the in-memory path first packs the whole corpus
    * with its edges into a persisted node frame, per search. Results
    * are asserted identical to the in-memory search at every point.
    *
    * Local-wall caveat (the aggMaintainCurve discipline): in one JVM
    * over warm page cache the idx wall is DOMINATED by per-round
    * planning + driver collects (~1 s/round), so it reads higher than
    * the in-memory search here — the at-scale separation is the
    * records/buckets counters (measured flat in n while n×probes
    * grows), not this machine's wall. */
  def knnIdxCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.KnnGraph
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== knn persisted index: bucket-pruned serving vs in-memory search ==")
    for (r <- Seq(4, 8, 16)) point { q =>
      val (rep, n, nCells, cs) = planted(q, emb, r)
      // deployment shape: bucket count scales with the corpus so rows
      // per bucket stay bounded (~31 node records each) — the quantity
      // that then falls with n is the beam's TOUCHED-bucket fraction,
      // because the beam footprint is queries·beam·degree ids whatever
      // n is (the serving regime: a small query batch per request)
      val buckets = math.max(64, (n / 31).toInt)
      def bucketOf(id: Long): Int = {
        val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
        ((h % buckets) + buckets) % buckets
      }
      val queries = q.keep(rep.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 4L * r))
      val edges = q.keep(KnnGraph.build(rep, cs, degree = 24, nProbe = 3))
      val (_, saveS) = time {
        KnnGraph.saveIndex(edges, rep, cs, "stress_knnidx", buckets)
      }
      val entries = KnnGraph.entryPoints(rep, cs)
      val (mem, memS) = time(ranked(KnnGraph.search(edges, rep, queries, entries,
        topK = 3, beam = 16, rounds = 4).select("q_id", "rk", "node").collect()))
      var probes = 0
      var read = 0L
      var idsRead = 0L
      var firstProbe: Seq[Long] = null
      val (idx, idxS) = time(ranked(KnnGraph.searchIndexed(spark, "stress_knnidx",
          queries, topK = 3, beam = 16, rounds = 4,
          onProbe = ids => {
            probes += 1
            read += ids.map(bucketOf).distinct.size
            idsRead += ids.size
            if (firstProbe == null) firstProbe = ids
          })
        .select("q_id", "rk", "node").collect()))
      assert(idx == mem, s"persisted serve diverged from in-memory at R=$r")
      // cross-check the counter's arithmetic against the planner's
      // own pruning metric for a representative probe
      val autoKey = "spark.sql.sources.bucketing.autoBucketedScan.enabled"
      val prevAuto = spark.conf.get(autoKey)
      spark.conf.set(autoKey, "false")
      try {
        val probe = spark.table("stress_knnidx_nodes")
          .filter(col("vec_id").isin(firstProbe.map(x => x: Any): _*))
        probe.count()
        val sel = selectedBuckets(probe.queryExecution.executedPlan.toString)
        val want = s"SelectedBucketsCount: ${firstProbe.map(bucketOf).distinct.size} " +
          s"out of $buckets"
        assert(sel == want, s"counter arithmetic vs planner: $sel vs $want")
      } finally spark.conf.set(autoKey, prevAuto)
      val total = probes.toLong * buckets
      println(f"R=$r%2d n=$n%6d cells=$nCells%4d buckets=$buckets%4d " +
        f"save=$saveS%5.1f s mem_search=$memS%5.1f s idx_search=$idxS%5.1f s " +
        f"probes=$probes%2d records_read=$idsRead%5d (n x probes = ${n * probes}%7d) " +
        f"buckets_read=$read%5d/$total%5d (${100.0 * read / total}%5.1f %% of files)")
    }
  }

  /** Index-maintenance WRITE-amplification curve (r18, the r17 verdict's
    * top item): the maintainers compute only a batch's delta, and with
    * the bucket-partitioned node layout
    * ([[graft.llm.KnnGraph.saveIndex]] +
    * [[graft.llm.KnnGraph.saveIndexDelta]]) the WRITE is bounded the
    * same way — per batch, only the bkt partitions the touched/new/
    * deleted ids hash to are staged and swapped in. This curve
    * measures it directly from the write receipts: with the batch
    * FIXED (~60 vectors) while the corpus grows, bytes written per
    * batch track the touched-bucket footprint, so the REWRITTEN
    * FRACTION of the index falls with n — the old full-table re-save
    * held it pinned at 100%. Insert batches are bounded by the batch's
    * probe-CELL footprint (cells grow ∝ n, a fixed batch covers a
    * falling share); delete changelogs by D's in-degree footprint
    * (≤ |D|·degree, independent of n — the tighter bound, same as the
    * --knncdc repair tier; it crosses below the bucket count in-sample,
    * so the delete fraction visibly FALLS here, while the insert bound
    * ≈ 576·|batch| ids still exceeds local bucket counts — its fall
    * needs n ≳ 100k·|batch|/31, printed honestly rather than staged).
    * Every point asserts the maintained index still equals the full
    * rebuild, so the cheap write is never traded against the exact
    * law. */
  def knnWriteCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.KnnGraph
    import graft.streaming.StreamingKnnIndex
    import graft.sources.Bucketing
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== knn index maintenance: bytes written per batch vs index size (fixed 8-vector batch) ==")
    for (r <- Seq(4, 8, 16, 32)) point { q =>
      val (rep, n, nCells, cs) = planted(q, emb, r)
      val buckets = math.max(64, (n / 31).toInt)
      val stride = math.max(1L, n / 8L)
      val batch = q.keep(rep.filter(pmod(col("vec_id"), lit(stride)) === 1))
      val nB = batch.count()
      def edges(d: DataFrame) = KnnGraph.build(d, cs, degree = 12, nProbe = 3)
      def graph() = StreamingKnnIndex.load(spark, "stress_knnwrite")._2
        .select("src", "rk", "dst")
      // ---- insert side: base = rep ∖ batch, then ingest the batch
      val base = q.keep(rep.join(batch.select("vec_id"), Seq("vec_id"), "left_anti"))
      KnnGraph.saveIndex(edges(base), base, cs, "stress_knnwrite", buckets)
      val totalI = Bucketing.partitionBytes(spark, "stress_knnwrite_nodes")
      val ((bkI, byI), insS) = time {
        StreamingKnnIndex.ingestBatch(batch, "stress_knnwrite", cs,
          degree = 12, nProbe = 3, buckets = buckets)
      }
      val wantI = q.keep(edges(rep))
      assert(sameRows(graph(), wantI.select("src", "rk", "dst")), s"ingest law broken at R=$r")
      // ---- delete side: full index, then a delete-only changelog
      KnnGraph.saveIndex(wantI, rep, cs, "stress_knnwrite", buckets)
      val totalD = Bucketing.partitionBytes(spark, "stress_knnwrite_nodes")
      val ((bkD, byD), delS) = time {
        StreamingKnnIndex.applyChangelog(
          batch.withColumn("op", lit("D")), "stress_knnwrite", cs,
          degree = 12, nProbe = 3, buckets = buckets)
      }
      assert(sameRows(graph(), q.keep(edges(base).select("src", "rk", "dst"))),
        s"delete law broken at R=$r")
      println(f"R=$r%2d n=$n%6d cells=$nCells%4d buckets=$buckets%4d |batch|=$nB%3d " +
        f"ins: wrote ${bkI.size}%4d bkts ${byI / 1024}%7d KiB of ${totalI / 1024}%7d " +
        f"(${100.0 * byI / totalI}%5.1f %%) in $insS%5.1f s | " +
        f"del: wrote ${bkD.size}%4d bkts ${byD / 1024}%7d KiB of ${totalD / 1024}%7d " +
        f"(${100.0 * byD / totalD}%5.1f %%) in $delS%5.1f s (laws: ≡ rebuild)")
    }
  }

  /** Codebook-drift A/B (q282/q283's operators, r18): WHEN to fire the
    * O(index) [[graft.llm.KnnGraph.refreshCodebook]] — the
    * [[graft.llm.KnnGraph.pqDistortion]] signal made measurable. Three
    * stages on the planted-cluster fixture (where code distances carry
    * signal — the K=64 resolution contract): (1) BASE: index built and
    * encoded on the same corpus; (2) FROZEN: the corpus drifts (every
    * vector rescaled ×0.25 — a stand-in for any distribution shift;
    * cosine is scale-invariant so the TRUE neighbor structure is
    * unchanged, isolating code quality) while maintenance keeps the
    * build codebook, exactly what [[graft.llm.KnnGraph.saveIndexDelta]]
    * correctly does per batch — mean distortion jumps and PQ-guided
    * recall collapses toward noise; (3) REFRESHED: retrain + re-encode
    * + swap from the current corpus — distortion returns to the base
    * scale and recall recovers. The drift RULE this curve calibrates:
    * refresh when fresh-vector mean distortion pulls several× away
    * from the build-time mean (here the jump is unambiguous; the
    * directional asserts pin it). */
  def pqDriftCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.KnnGraph
    val r = 8
    val emb0 = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== pq codebook drift: frozen codebook on drifted corpus vs refresh ==")
    val (corpus0, _, nCells, cs0) = planted(p, emb0, r)
    val drifted = p.keep(corpus0.select(col("vec_id"),
      expr("transform(embedding, x -> CAST(x / 4 AS FLOAT))").as("embedding")))
    def stats(corpus: DataFrame): (Double, Double) = {
      // the RELATIVE error — absolute distortion is scale-confounded
      // (the ×0.25 drift LOWERS it while the codes turn to noise);
      // distortion/energy is the signal that actually moves with code
      // quality, which is why pqDistortion emits both (q283)
      val dist = KnnGraph.pqDistortion(spark, "stress_pqdrift", corpus)
        .agg(avg(col("distortion") / col("energy"))).head().getDouble(0)
      val queries = corpus.filter(pmod(col("vec_id"), lit(r.toLong)) === 0 &&
        col("vec_id") < 20L * r)
      val qids = queries.select("vec_id").collect().map(_.getLong(0)).toSeq
      val all = corpus.collect()
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
      val got = KnnGraph.searchIndexedPq(spark, "stress_pqdrift", queries,
          topK = 3, beam = 16, rounds = 4, rerank = 16)
        .select("q_id", "node").collect()
        .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(1)).toSet).toMap
      val recall = qids.map(q =>
        (truth(q) intersect got.getOrElse(q, Set())).size)
        .sum / (3.0 * qids.size)
      (dist, recall)
    }
    try {
      // (1) BASE
      KnnGraph.saveIndexPq(
        KnnGraph.build(corpus0, cs0, degree = 24, nProbe = 3),
        corpus0, cs0, m = 8, dimsPer = 8, nCodebook = 64, cbStart = 0,
        "stress_pqdrift", buckets = 8)
      val (d0, r0) = stats(corpus0)
      // (2) FROZEN codebook, drifted corpus (what per-batch maintenance
      // correctly preserves — shown here at full-drift steady state)
      val cs1 = centroids(drifted, r, nCells)
      val (cbOld, m, dimsPer) = graft.llm.Pq.loadCodebook(spark, "stress_pqdrift")
      KnnGraph.saveIndexPqWith(
        KnnGraph.build(drifted, cs1, degree = 24, nProbe = 3),
        drifted, cs1, cbOld, m, dimsPer, "stress_pqdrift", buckets = 8)
      val (d1, r1) = stats(drifted)
      // (3) REFRESH: retrain from the CURRENT corpus, re-encode, swap
      KnnGraph.refreshCodebook(spark, "stress_pqdrift", cs1,
        m = 8, dimsPer = 8, nCodebook = 64, cbStart = 0, buckets = 8)
      val (d2, r2) = stats(drifted)
      println(f"base:      rel_distortion=$d0%8.4f recall=$r0%5.3f")
      println(f"frozen:    rel_distortion=$d1%8.4f recall=$r1%5.3f " +
        f"(x${d1 / d0}%6.1f vs base - the refresh trigger)")
      println(f"refreshed: rel_distortion=$d2%8.4f recall=$r2%5.3f")
      assert(d1 > 3 * d0, s"drift did not raise relative distortion: $d0 -> $d1")
      assert(d2 < d1 / 2, s"refresh did not cut relative distortion: $d1 -> $d2")
      assert(r2 > r1, s"refresh did not recover recall: $r1 -> $r2")
    } finally graft.llm.IndexCommit.dropIndex(spark, "stress_pqdrift")
  }

  /** Graph-ANN maintenance curve (q274/q277's operators, r17): as the
    * corpus grows with the DELETE batch FIXED, the repair tier's size —
    * touched sources = survivors whose top-degree list referenced a
    * deleted node, i.e. D's in-degree footprint — stays bounded by
    * |D|·degree while the corpus grows, so the TOUCHED FRACTION falls.
    * That fraction is the at-scale argument (the aggMaintain
    * dirty-slice discipline): a partitioned catalog re-scores only the
    * touched sources' candidate cells, the rebuild re-scores
    * everything. The law delete(g, D) ≡ build(B∖D) is asserted at
    * every point (row-count + per-source parity would re-pay the
    * rebuild; the exceptAll check IS the rebuild comparison, done once
    * per point and untimed). */
  def knnCdcCurve(spark: SparkSession, sfDir: String): Unit = point { p =>
    import graft.llm.KnnGraph
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    println("== knn delete: touched-source fraction vs corpus (fixed ~60-node delete batch) ==")
    for (r <- Seq(4, 8, 16)) point { q =>
      val (rep, n, nCells, cs) = planted(q, emb, r)
      val edges = q.keep(KnnGraph.build(rep, cs, degree = 24, nProbe = 3))
      // fixed-size delete batch: ~60 nodes whatever n is (takedowns
      // don't grow with history), spread across the id space
      val stride = math.max(1L, n / 60L)
      val dels = q.keep(rep.filter(pmod(col("vec_id"), lit(stride)) === 1))
      val nD = dels.count()
      val touched = edges
        .join(dels.select(col("vec_id").as("src")), Seq("src"), "left_anti")
        .join(dels.select(col("vec_id").as("dst")), Seq("dst"), "left_semi")
        .select("src").distinct().count()
      val (del, delS) = time {
        q.keep(KnnGraph.delete(edges, rep, dels, cs, degree = 24, nProbe = 3))
      }
      val (rebuilt, rebuildS) = time {
        val survivors = rep.join(dels.select("vec_id"), Seq("vec_id"), "left_anti")
        q.keep(KnnGraph.build(survivors, cs, degree = 24, nProbe = 3))
      }
      // the law, untimed: the at-scale separation is the touched
      // fraction, not this local wall
      assert(sameRows(del.select("src", "rk", "dst"), rebuilt.select("src", "rk", "dst")),
        s"delete law broken at R=$r")
      println(f"R=$r%2d n=$n%6d cells=$nCells%4d |D|=$nD%3d " +
        f"touched=$touched%5d (${100.0 * touched / n}%5.2f %% of corpus) " +
        f"delete=$delS%5.1f s rebuild=$rebuildS%5.1f s")
    }
  }

  /** Incremental-aggregate-maintenance curve (q263's operator, r16):
    * delta refresh vs full rebuild as the base grows, CHANGELOG FIXED
    * at ~60k rows — the nightly-refresh regime the operator exists
    * for (churn does not grow with history size). The law (identical
    * summary checksums) is asserted at every point. Inputs (persisted
    * aggregate, changelog, post-change base) are cached UNTIMED — a
    * refresh receives them, it does not derive them. The wall numbers
    * carry a local-mode caveat printed with the row metrics: in one
    * JVM over cached frames the dirty-group extremum re-check SCANS
    * base1 (a semi join cannot storage-prune memory), so the local
    * refresh wall pays one base pass just like the rebuild — the
    * at-scale separation is the DIRTY-SLICE fraction (the only base
    * rows a partitioned/bucketed catalog read must fetch) vs the
    * rebuild's unconditional full scan, and cnt/sum need NO base rows
    * at all. */
  def aggMaintainCurve(spark: SparkSession): Unit = {
    import graft.operators.AggMaintain
    println("== agg maintain: delta refresh vs full rebuild (fixed ~60k-row churn) ==")
    for (n <- Seq(2000000L, 8000000L, 32000000L)) point { p =>
      val groups = math.max(1000L, n / 1000L)
      val stride = n / 30000L // ~30k deletes + ~30k inserts at every n
      def derive(ids: DataFrame): DataFrame = ids.select(
        pmod(xxhash64(col("id")), lit(groups)).as("k"),
        pmod(xxhash64(col("id"), lit(1)), lit(1000000L)).as("v"),
        col("id"))
      val base0 = p.keep(derive(spark.range(n).toDF("id")))
      // the PERSISTED aggregate a nightly refresh starts from
      val agg0 = p.keep(base0.groupBy("k").agg(count(lit(1)).as("cnt"),
        sum("v").as("sum_v"), min("v").as("mn"), max("v").as("mx")))
      val ins = derive(spark.range(n, n + 30000L).toDF("id"))
        .select(col("k"), col("v"), lit("I").as("op"))
      val changelog = p.keep(base0.filter(col("id") % stride === 0)
        .select(col("k"), col("v"), lit("D").as("op"))
        .unionByName(ins))
      val base1 = p.keep(base0.filter(col("id") % stride =!= 0).select("k", "v")
        .unionByName(ins.select("k", "v")))
      def summary(df: DataFrame): org.apache.spark.sql.Row =
        df.agg(count(lit(1)), sum("cnt"), sum("sum_v"), sum("mn"), sum("mx"))
          .head()
      val ((dirty, refreshed), refreshS) = time {
        val r = p.keep(AggMaintain.refresh(agg0, changelog, base1, "k"))
        (r.filter(col("dirty") === 1).select("k"), summary(r))
      }
      val nDirty = dirty.count()
      val (rebuilt, rebuildS) = time {
        summary(base1.groupBy("k").agg(count(lit(1)).as("cnt"),
          sum("v").as("sum_v"), min("v").as("mn"), max("v").as("mx")))
      }
      assert(refreshed == rebuilt,
        s"refresh diverged from rebuild at n=$n: $refreshed vs $rebuilt")
      // the at-scale metric: base rows a pruned rescan must actually
      // read (the dirty groups' slice) vs the rebuild's full n
      val dirtyRows = base1.join(broadcast(dirty), Seq("k"), "left_semi").count()
      println(f"n=$n%9d groups=$groups%7d dirty_groups=$nDirty%6d " +
        f"dirty_rows=$dirtyRows%9d (${100.0 * dirtyRows / n}%5.2f %% of base) " +
        f"refresh=$refreshS%6.2f s rebuild=$rebuildS%6.2f s (law: checksums equal)")
    }
  }

  /** Quantile-sketch curve (q262's aggregate, r16): the defining
    * property of a sketch — summary size BOUNDED while the data grows
    * — made measurable: bucket rows per group stay ~flat from 1M to
    * 64M values (the value domain, not n, bounds them), the aggregate
    * wall grows ~linearly (one pass, map-side combine), and the
    * estimate stays inside the ≤1% bucket-width bar against the exact
    * quantile at every point. */
  def qsketchCurve(spark: SparkSession): Unit = {
    import graft.functions.GraftFunctions
    GraftFunctions.register(spark)
    println("== quantile sketch: bounded size, linear pass, stable error ==")
    // the p50 per group g of value column v weighted by count c: the
    // least v whose cumulative count reaches half the group's (the
    // ceil-rank rule, shared by the sketch and the exact check)
    def p50(df: DataFrame, v: String): Map[Long, Long] =
      df.withColumn("cum", sum("c").over(Window.partitionBy("g").orderBy(v)
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nn", sum("c").over(Window.partitionBy("g")))
        .groupBy("g")
        .agg(min(when(col("cum") * 100 >= col("nn") * 50, col(v))))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    for (n <- Seq(1000000L, 8000000L, 64000000L)) point { p =>
      val df = p.keep(spark.range(n).select(
        pmod(col("id"), lit(8L)).as("g"),
        pmod(xxhash64(col("id")), lit(10000000L)).as("v")))
      val ((rows, p50s), t) = time {
        val sk = p.keep(df.groupBy("g").agg(expr("qsketch_buckets(v)").as("sk"))
          .select(col("g"), explode(col("sk")).as("bk"))
          .select(col("g"), col("bk.k").as("k"), col("bk.m").as("m"),
            col("bk.c").as("c")))
        // p50 per group from the buckets (the all-integer rule)
        val pows = graft.functions.QuantileSketch.Pows
          .map(x => s"${x}L").mkString("array(", ", ", ")")
        (sk.count(), p50(sk.withColumn("lo", expr(s"m * element_at($pows, k + 1)")), "lo"))
      }
      // exact p50 per group for the error check — the COUNTING form
      // (per-value counts + cumulative), not percentile(): Spark's
      // exact percentile buffers every group's values in one agg
      // buffer and OOMs at 64M rows, while value counts shuffle-scale
      // (the value domain, 10⁷, bounds the counted rows)
      val exact = p50(df.groupBy("g", "v").agg(count(lit(1)).as("c")), "v")
      val worst = exact.keys.map { g =>
        math.abs(p50s(g) - exact(g)).toDouble / exact(g)
      }.max
      assert(worst <= 0.011, s"sketch p50 off by $worst at n=$n")
      println(f"n=$n%9d bucket_rows=$rows%6d (8 groups) " +
        f"agg+extract=$t%6.2f s worst_p50_rel_err=${worst * 100}%5.2f %%")
    }
  }

  /** One measured mode: the flag that selects it and what it runs, given
    * the session and the fixture directory. */
  private[graft] final case class Mode(flag: String,
      run: (SparkSession, String) => Unit)

  /** Every mode, by flag. With several flags the first in this order
    * runs; with none, [[rSweep]]. */
  private[graft] val modes: Seq[Mode] = Seq(
    Mode("--qsketch", (s, _) => qsketchCurve(s)),
    Mode("--knngraph", knnGraphCurve),
    Mode("--knnidx", knnIdxCurve),
    Mode("--knncdc", knnCdcCurve),
    Mode("--knnwrite", knnWriteCurve),
    Mode("--pqdrift", pqDriftCurve),
    Mode("--aggmaintain", (s, _) => aggMaintainCurve(s)),
    Mode("--scdmerge", (s, _) => scdMergeCurve(s)),
    Mode("--snm", (s, _) => snmCurve(s)),
    Mode("--docformats", (s, _) => docFormatsThroughput(s)),
    Mode("--filters", (s, _) => filtersThroughput(s)),
    Mode("--crawl", (s, _) => crawlThroughput(s)),
    Mode("--pagerank", (s, _) => pageRankCurve(s)),
    Mode("--relational", relational(_, _, r = 16)),
    Mode("--rangejoin", rangeJoinAB),
    Mode("--resample", (s, _) => resample(s)),
    Mode("--quant", quantization),
    Mode("--bpe", (s, _) => bpe(s)),
    Mode("--ivf", ivf),
    Mode("--pq", pqCurve),
    Mode("--samples", (s, _) => samplesThroughput(s)),
    Mode("--winnow", winnowStress),
    Mode("--bloom", (s, _) => bloomDedup(s)),
    Mode("--planted", plantedCurve),
    Mode("--codec", (s, _) => codecThroughput(s)),
    Mode("--frontier", annFrontier),
    Mode("--layout", layout),
    Mode("--zorder", zorder),
    Mode("--dpp", dpp),
    Mode("--pbloom", parquetBloom),
    Mode("--triangles", (s, _) => trianglesCurve(s)),
    Mode("--grid", (s, _) => gridCurve(s)),
    Mode("--setsim", setsimCurve),
    Mode("--skew", (s, _) => skew(s)),
    Mode("--cooc", (s, _) => cooc(s)),
    Mode("--substring", (s, _) => substringDedup(s)),
    Mode("--editdist", (s, _) => editDistance(s)))

  /** The mode `args` select, or the usage text listing every mode when a
    * flag is not one of them (a misspelled flag must not fall through to
    * the multi-minute default sweep). */
  private[graft] def resolve(args: Seq[String]): Either[String, Mode] = {
    val flags = args.filter(_.startsWith("--"))
    flags.filterNot(f => modes.exists(_.flag == f)) match {
      case Seq() =>
        Right(modes.find(m => flags.contains(m.flag)).getOrElse(Mode("", rSweep)))
      case unknown =>
        Left(s"unknown flag ${unknown.mkString(" ")}\n" +
          "usage: ScaleStress [sfDir] [--mode]  (no mode: the Rp/MinHash R-sweep)\n" +
          "modes: " + modes.map(_.flag).mkString(" "))
    }
  }

  def main(args: Array[String]): Unit = {
    val mode = resolve(args.toSeq) match {
      case Right(m) => m
      case Left(usage) =>
        System.err.println(usage)
        sys.exit(2)
    }
    val sfDir = args.filterNot(_.startsWith("--")).headOption
      .getOrElse("/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try mode.run(spark, sfDir) finally spark.stop()
  }

  /** The default mode: Rp cosine and MinHash near-dup pairs over planted
    * clusters at growing replication R — wall, pairs found, planted
    * recall. */
  def rSweep(spark: SparkSession, sfDir: String): Unit = point { p =>
    val emb = p.keep(Tables(spark, sfDir, "embeddings"))
    // 2500 bases keep the R=16 minhash point under a minute while the
    // R-sweep still spans a 16× corpus growth
    val docs = p.keep(Tables(spark, sfDir, "documents").filter(col("doc_id") < 2500))

    println("== cosine near-dup (Rp, q47 engine): planted clusters, threshold 0.9 ==")
    // selective bands for a REAL near-dup threshold: p(bit|c=0.9)=0.856,
    // band of 12 bits ⇒ 0.155, 20 bands ⇒ recall ≈ 0.966 at the boundary
    // (intra-cluster pairs sit at ≈0.99 where recall ≈ 1); random pairs
    // collide at 0.5^12 per band ⇒ ~0.5% of the pair space
    recallSweep(replicateEmbeddings(emb, _, eps = 0.12).select("vec_id", "embedding"),
      Rp.cosineNearPairs(_, minCosine = 0.9, bands = 20, bitsPerBand = 12), "id_a", "id_b")

    println("== minhash near-dup (q31 engine): planted clusters, maxDist 0.6 ==")
    recallSweep(replicateDocs(docs, _).select("doc_id", "text"),
      MinHash.pairs(_, maxJaccardDist = 0.6), "id_a", "id_b")
  }
}
