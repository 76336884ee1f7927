package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** End-to-end training-data preparation over a document corpus — the
  * composite an LLM-data engineer actually runs, wired from the operator
  * family: quality filter → exact dedup → near-dup dedup → enrichment
  * (lang-ID, token stats, fingerprint) → partitioned layout.
  *
  * Shuffle budget at 100 TB (the whole point of the composition order):
  *  1. quality filter: scan-side, zero shuffle, drops rows *before*
  *     anything pays for them;
  *  2. exact dedup: one shuffle on the 32-byte content digest (bodies
  *     travel once, only winners survive);
  *  3. near-dup dedup: MinHash-LSH on the (already much smaller) survivor
  *     set — candidates meet in buckets, never O(n²);
  *  4. enrichment: pure column expressions, fused into the scan;
  *  5. layout: partitionBy(lang) so downstream per-language training jobs
  *     prune at the directory level.
  */
object CorpusPrep {

  final case class Config(
      minChars: Long = 100,
      allowedLangs: Seq[String] = Seq("en", "es", "fr", "de", "zh"),
      nearDupMaxJaccardDist: Double = 0.2,
      stop: Seq[String] = TextAnalysis.DefaultStopwords,
      /** When set, [[prepareTraining]] runs [[segmentDedup]] at this segment
        * size between exact and near dedup — the C4-style boilerplate pass.
        * Off by default: segment rewriting changes document text, which not
        * every corpus contract wants. */
      segmentDedupTokens: Option[Int] = None)

  /** Quality gate (B36): scan-side predicates only. */
  def qualityFilter(docs: DataFrame, cfg: Config): DataFrame =
    docs.filter(
      col("n_chars") >= cfg.minChars &&
        col("lang").isin(cfg.allowedLangs.map(x => x: Any): _*) &&
        TextAnalysis.tokenCount(col("text")) > 0)

  /** Exact dedup keeping the lowest doc_id per content hash (B31). */
  def exactDedup(docs: DataFrame): DataFrame = {
    val survivors = Dedup.exactSurvivors(docs).select(col("keep_id").as("doc_id"))
    docs.join(survivors, "doc_id")
  }

  /** Near-dup dedup (B32): connected-duplicates clustering. The seeded
    * MinHash pair set becomes an edge list, [[Components.connected]]
    * collapses transitive families (A~B, B~C → one cluster even when A≁C
    * directly), and the minimum doc_id of each cluster survives. Per-pair
    * loser-dropping — the previous formulation — keeps BOTH endpoints of an
    * unseen transitive link when neither lost a direct comparison (e.g.
    * edges (1,5),(3,5) kept 1 AND 3); component collapse keeps exactly one
    * survivor per family, which is what a training-data pipeline means by
    * dedup. The pair set is a lazy plan handed straight to the superstep:
    * its first round evaluates it once into the adjacency it persists
    * ([[graft.operators.VertexRounds]]), with no checkpoint between, so a
    * lost block is recomputed from lineage. */
  def nearDedup(docs: DataFrame, cfg: Config): DataFrame = {
    val losers = Components.connected(MinHash.pairs(docs, cfg.nearDupMaxJaccardDist))
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Enrichment columns (B34): all pure Column expressions. */
  def enrich(docs: DataFrame, cfg: Config): DataFrame =
    docs
      .withColumn("pred_lang", TextAnalysis.langId(col("text")))
      .withColumn("n_tokens", TextAnalysis.tokenCount(col("text")))
      .withColumn("stop_ratio", round(TextAnalysis.stopwordRatio(col("text"), cfg.stop), 4))
      .withColumn("fingerprint", TextAnalysis.fingerprint(col("text")))

  /** The full pipeline; returns the prepared frame (call `.write
    * .partitionBy("lang")` for the layout step). */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame =
    enrich(nearDedup(exactDedup(qualityFilter(docs, cfg)), cfg), cfg)

  /** [[prepare]] extended with the full hygiene chain a training corpus
    * actually ships through — ordered by shuffle budget, same as prepare:
    *  1. quality gate (scan-side, drops rows before anything pays);
    *  2. PII scrub (pure Column, fused into the same scan — BEFORE dedup so
    *     documents differing only in scrubbed PII collapse as exact dups);
    *  3. exact dedup → optional segment-level (C4) dedup → connected-
    *     component near-dedup. The segment pass sits exactly here because
    *     it NEEDS exact dedup first (identical documents would otherwise
    *     race for segment first-occurrence) and near-dedup after (stripping
    *     shared boilerplate is what exposes the remaining bodies as near
    *     duplicates). When it runs, document text is rewritten, n_chars is
    *     refreshed, and the quality gate re-applies — a page reduced to
    *     below-threshold content by boilerplate removal is low quality, and
    *     the re-gate is what keeps the composite idempotent (second run:
    *     nothing to strip, nothing newly under threshold);
    *  4. benchmark decontamination (broadcast bench-shingle set; anti-join
    *     drops flagged docs — certainty wanted, so exact not LSH);
    *  5. domain mixing (broadcast rates dim, deterministic hash gate);
    *  6. enrichment columns last, computed only for survivors. */
  def prepareTraining(
      docs: DataFrame,
      benchDocs: DataFrame,
      ratesPct: Map[String, Int],
      cfg: Config = Config()): DataFrame = {
    // n_chars refreshed post-scrub so the shipped row is self-consistent
    // (the quality gate deliberately reads the PRE-scrub length — a doc
    // isn't lower-quality for having had its PII masked)
    val scrubbed = qualityFilter(docs, cfg)
      .withColumn("text", TextAnalysis.redactPii(col("text")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val segged = cfg.segmentDedupTokens match {
      case Some(k) =>
        // the exact-dedup survivors feed both the segment pass and the
        // metadata rejoin — materialize once (same convention as `deduped`)
        val base = exactDedup(scrubbed).localCheckpoint(true)
        // reattach the metadata columns to the rewritten text (inner join:
        // documents whose every segment was boilerplate vanish), refresh
        // n_chars, re-gate — see the pipeline scaladoc
        qualityFilter(
          base.drop("text", "n_chars")
            .join(segmentDedup(base.select("doc_id", "text"), k), "doc_id")
            .withColumn("n_chars", length(col("text")).cast("long")),
          cfg)
      case None => exactDedup(scrubbed)
    }
    // eager lineage-free materialization (repo lifecycle convention): the
    // dedup survivors feed BOTH the contamination probe and the anti-join
    // left side — uncached, the scan + scrub + dedup chain would execute
    // end-to-end twice
    val deduped = nearDedup(segged, cfg).localCheckpoint(true)
    // scrub the benchmark side too: contamination is shingle equality, and
    // comparing scrubbed train text against RAW bench text would let a
    // bench copy whose shingles span redacted tokens slip through
    val bench = benchDocs.withColumn("text", TextAnalysis.redactPii(col("text")))
    val flagged = contaminated(deduped, bench).select("doc_id")
    val decontaminated = deduped.join(flagged, Seq("doc_id"), "left_anti")
    enrich(domainMix(decontaminated, ratesPct), cfg)
  }

  /** Benchmark decontamination — the train/eval overlap gate a training-data
    * pipeline runs before anything ships: flag training documents sharing at
    * least `minShared` distinct `k`-token shingles with an eval/benchmark
    * set, so they can be dropped (or audited) before the model memorizes its
    * own test set.
    *
    * Scale shape: the benchmark side is tiny by nature (thousands of eval
    * documents against a 100 TB corpus), so its DISTINCT shingle set is
    * broadcast — the corpus scan streams past an in-memory set and never
    * shuffles document bodies; only (doc_id, hit) pairs of contaminated
    * docs reach the aggregation. Exact by design, no LSH: decontamination
    * wants certainty, and the small benchmark side makes exact affordable.
    * Output: (doc_id, n_shared) for flagged training docs only. */
  def contaminated(
      train: DataFrame,
      bench: DataFrame,
      minShared: Long = 1,
      k: Int = 3): DataFrame = {
    val benchShingles = bench
      .select(explode(TextAnalysis.shingles(col("text"), k)).as("shingle"))
      .distinct()
    train
      .select(col("doc_id"), explode(TextAnalysis.shingles(col("text"), k)).as("shingle"))
      .join(broadcast(benchShingles), "shingle")
      // shingles() is per-doc distinct, so count(*) = distinct shared shingles
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** SPAN-level benchmark decontamination — the GPT-3 appendix-C shape
    * one step past [[contaminated]]'s doc flag: production pipelines
    * don't drop a whole contaminated document, they EXCISE the
    * contaminated span (and split the document around it), so the
    * operator must report WHERE the overlap sits. Emits one row per
    * maximal contaminated token range: matched k-gram start positions
    * merge into a span while each match starts within k tokens of the
    * previous (gaps-and-islands over the match positions), span_end
    * covering the last match's full k-gram.
    *
    * Scale shape: bench shingles broadcast (benchmark-sized); positional
    * shingles are row-local fan-out; ONE doc-keyed window shuffle merges
    * matches into spans (match rows only — tiny relative to the
    * corpus). */
  def contaminatedSpans(
      train: DataFrame,
      bench: DataFrame,
      k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val benchShingles = bench
      .select(explode(TextAnalysis.shingles(col("text"), k)).as("shingle"))
      .distinct()
    val hits = train
      .select(col("doc_id"),
        posexplode(TextAnalysis.positionalShingles(col("text"), k))
          .as(Seq("pos", "shingle")))
      .join(broadcast(benchShingles), "shingle")
      .select("doc_id", "pos")
    val w = Window.partitionBy("doc_id").orderBy("pos")
    hits
      .withColumn("ns",
        when(col("pos") >
          coalesce(lag("pos", 1).over(w), lit(-1000000)) + k, lit(1))
          .otherwise(lit(0)))
      .withColumn("span_id", sum("ns").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("doc_id", "span_id")
      .agg(
        min("pos").as("span_start"),
        (max("pos") + lit(k - 1)).as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_id").cast("int").as("span_id"),
        col("span_start"), col("span_end").cast("int").as("span_end"),
        col("n_grams"))
  }

  /** Temperature-scaled multilingual sampling rates (the mT5 / XLM-R
    * α-sampling rule, Xue et al. 2021 §3.1: p_l ∝ n_l^α with α < 1) —
    * the knob that keeps high-resource languages from drowning the
    * mixture: α = 1 is proportional sampling, α → 0 uniform. Emits per
    * language the corpus share, the α-scaled sampling probability, and
    * the resulting boost factor (p_l / share — > 1 means the language
    * is UP-sampled relative to its size).
    *
    * Determinism: p and boost are ROUNDED 4dp doubles (pow differs by
    * ulps across libm implementations) — boundary-guard probes cover
    * both columns; the aggregate inputs are exact integer sums.
    *
    * Scale shape: one language-keyed aggregate (languages-sized result),
    * one broadcast-scalar normalizer join. */
  def temperatureRates(docs: DataFrame, alpha: Double = 0.3): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"bad alpha: $alpha")
    val l = docs.groupBy("lang").agg(sum("n_chars").as("n_chars"))
    val z = broadcast(l.agg(
      sum(pow(col("n_chars").cast("double"), lit(alpha))).as("z"),
      sum(col("n_chars")).as("total")))
    l.crossJoin(z)
      .select(col("lang"), col("n_chars"),
        round(pow(col("n_chars").cast("double"), lit(alpha)) / col("z"), 4)
          .as("p"),
        round((pow(col("n_chars").cast("double"), lit(alpha)) / col("z"))
          / (col("n_chars").cast("double") / col("total")), 4).as("boost"))
  }

  /** Domain mixing: keep each document with a per-source probability —
    * the weighted up/down-sampling step that turns a raw crawl into a
    * training mixture (sources are reweighted, not truncated, so the kept
    * set stays an unbiased sample within each domain). Selection is a
    * DETERMINISTIC multiplicative hash of doc_id (Knuth 2654435761), not a
    * seeded `rand()`: reruns, retries and downstream audits see the same
    * kept set, and the decision is reproducible in any engine — exactly
    * what a 100 TB pipeline wants from a sampling gate (a seeded rand is
    * partition-order-dependent under retries).
    *
    * Scale shape: the rates table is domains-sized (tiny) → broadcast;
    * the filter is scan-side, so dropped documents never reach a shuffle.
    * Sources absent from `ratesPct` are dropped (explicit mixture
    * contract). */
  def domainMix(docs: DataFrame, ratesPct: Map[String, Int]): DataFrame = {
    require(ratesPct.values.forall(r => r >= 0 && r <= 100), s"bad rates: $ratesPct")
    val spark = docs.sparkSession
    import spark.implicits._
    val rates = ratesPct.toSeq.toDF("source", "rate_pct")
    docs
      .join(broadcast(rates), "source")
      .filter(mixedHash(100L) < col("rate_pct"))
      .drop("rate_pct")
  }

  /** The shared deterministic doc_id mixing hash behind [[domainMix]],
    * [[stratifiedSample]] and [[trainingOrder]] (ONE definition — the
    * q74/q85/q89 oracles replicate this arithmetic verbatim, so the gates
    * must stay provably identical). Pre-modulus before the Knuth multiply:
    * doc_id * 2654435761 overflows int64 (ANSI-mode ArithmeticException)
    * past doc_id ≈ 3.47e9 — i.e. at exactly the corpus sizes this is for.
    * (id mod 1000003) * K tops out at 2.7e15 and stays engine-portable
    * (DuckDB has no xxhash64). The reduction to `mod` goes THROUGH the
    * large prime 999999937: reducing (x·K) mod 100 directly collapses to a
    * permutation of x mod 100 (gcd structure — K mod 100 = 61), which
    * re-correlates the gate with any id-striped source assignment; the
    * intermediate prime modulus decorrelates the residue first. The
    * selection pattern repeats every ~1M ids, irrelevant for sampling. */
  private def mixedHash(mod: Long): Column = pmod(
    pmod(pmod(col("doc_id"), lit(1000003L)) * lit(2654435761L), lit(999999937L)),
    lit(mod))

  /** Stratified EXACT-size sample: exactly `n` documents per group (fewer
    * only when the group is smaller), chosen by deterministic hash order —
    * the "give me 10k docs from every domain for the eval set" gate, where
    * [[domainMix]]'s rate-based thinning can't promise exact counts.
    * Selection order is the prime-mixed doc_id hash (same construction as
    * domainMix, engine-portable and retry-stable) with doc_id as the final
    * tie-break, so the sample is reproducible anywhere.
    *
    * Scale shape: one shuffle on the group key; the rank-limit filter plans
    * as WindowGroupLimit (Spark 3.5+) — per-partition top-n heaps BEFORE
    * the shuffle, so a billion-row group moves only ~n rows per map
    * partition, not the whole group, and no full sort happens anywhere. */
  def stratifiedSample(
      docs: DataFrame, n: Int, groupCol: String = "source"): DataFrame = {
    require(n > 0, s"bad sample size: $n")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(groupCol)
      .orderBy(mixedHash(1000000L).asc, col("doc_id").asc)
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** Deterministic training-order shuffle: assign every document a (shard,
    * position) in a pseudo-random global order — the "shuffle the corpus
    * before training" step, made reproducible. A seeded `rand()` sort is
    * partition-order-dependent under retries; ordering by the prime-mixed
    * doc_id hash gives the same permutation on any cluster, any engine,
    * any rerun, and the shard assignment lets the writer emit one file per
    * shard (training loaders read shards concurrently and interleave).
    *
    * Scale shape: one shuffle on the shard key; each shard sorts
    * corpus/`shards` rows independently (that per-shard sort IS the
    * shuffle's cost — there is no global sort anywhere). Set `shards` to
    * the target training-file count. */
  def trainingOrder(docs: DataFrame, shards: Int = 8): DataFrame = {
    require(shards > 0, s"bad shards: $shards")
    import org.apache.spark.sql.expressions.Window
    val h = mixedHash(1000000L)
    val w = Window.partitionBy(pmod(h, lit(shards.toLong)))
      .orderBy(h.asc, col("doc_id").asc)
    docs.select(
      col("doc_id"),
      pmod(h, lit(shards.toLong)).cast("int").as("shard"),
      row_number().over(w).as("pos"))
  }

  /** Deterministic negative sampling — K pseudo-random OTHER documents per
    * document, the contrastive-training counterpart of [[trainingOrder]]:
    * rerun/engine/retry-stable where a seeded `rand()` join is partition-
    * order-dependent.
    *
    * Construction: a dense 0..N−1 index via two-phase ranking —
    * [[trainingOrder]]'s per-shard positions plus a shards-sized offset
    * cumsum (the standard distributed dense-rank: no global window, no
    * single-partition sort of the corpus) — then the j-th negative of row
    * i is index (i + step(i,j)) mod N with step = mix(i,j) mod (N−1) + 1,
    * so a row NEVER draws itself (step ∈ [1, N−1]) and every other row is
    * reachable. One corpus-sized equi-join maps sampled indexes back to
    * ids. The same prime-mixing chain as [[domainMix]] keeps the
    * arithmetic engine-portable and overflow-safe. Distinct negatives per
    * row are NOT guaranteed for k > 1 (independent draws; collisions are
    * ~k²/2N — callers needing exactly-distinct sets dedup and redraw).
    * Fewer than 2 documents ⇒ empty output (no negatives exist). */
  def negativeSamples(docs: DataFrame, k: Int, shards: Int = 8): DataFrame = {
    require(k >= 1, s"bad k: $k")
    import org.apache.spark.sql.expressions.Window
    val ord = trainingOrder(docs, shards)
    // exclusive prefix-sum over the ≤`shards`-row counts via a tiny
    // broadcast theta-join, NOT an unpartitioned window — same result, but
    // WindowExec's "No Partition Defined" warning would otherwise spray
    // ~30 lines per bench run and bury real warnings
    val counts = ord.groupBy("shard").agg(count(lit(1)).as("__cnt"))
    val offsets = counts
      .join(broadcast(counts.select(col("shard").as("__s2"), col("__cnt").as("__c2"))),
        col("__s2") < col("shard"), "left")
      .groupBy("shard")
      .agg(coalesce(sum("__c2"), lit(0L)).as("__off"))
      .select(col("shard"), col("__off"))
    val idx = ord.join(offsets, "shard")
      .select(col("doc_id"), (col("__off") + col("pos") - 1).as("__idx"))
    val total = broadcast(idx.agg(count(lit(1)).as("__n")))
    val mix = pmod(
      pmod(col("__idx"), lit(1000003L)) * lit(2654435761L)
        + col("neg_rank") * lit(97003L),
      lit(999999937L))
    val cands = idx.crossJoin(total)
      .filter(col("__n") > 1)
      .select(col("doc_id"), col("__idx"), col("__n"),
        explode(sequence(lit(1), lit(k))).as("neg_rank"))
      .withColumn("__cidx",
        pmod(col("__idx") + pmod(mix, col("__n") - 1) + 1, col("__n")))
    cands
      .join(idx.select(col("doc_id").as("neg_doc_id"), col("__idx").as("__cidx")),
        "__cidx")
      .select(col("doc_id"), col("neg_rank").cast("int").as("neg_rank"),
        col("neg_doc_id"))
  }

  /** Sliding-window document chunking: split each document into fixed-size
    * token windows of `chunkTokens` advancing by `stride` (< chunkTokens ⇒
    * overlapping context, the standard pretraining window shape). Row-local
    * fan-out — `sequence` of window starts, `explode`, `slice` — so it
    * parallelizes embarrassingly and fuses into the scan: no shuffle, no
    * state, output partitioning inherits the input's. Chunk id is the
    * window ordinal (`start / stride`, exact — starts are stride
    * multiples). The final window is allowed to be short (`n - start`
    * tokens) rather than dropped: truncation is a model-side choice, the
    * pipeline's job is lossless coverage. */
  def chunkDocuments(
      docs: DataFrame,
      chunkTokens: Int = 64,
      stride: Int = 48): DataFrame = {
    require(stride > 0 && chunkTokens > 0, s"bad chunking: $chunkTokens/$stride")
    val ts = TextAnalysis.tokens(col("text"))
    docs
      .withColumn("__start",
        explode(sequence(lit(0), size(ts) - 1, lit(stride))))
      .select(
        col("doc_id"),
        (col("__start") / stride).cast("long").as("chunk_idx"),
        least(lit(chunkTokens), size(ts) - col("__start")).cast("long")
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(ts, col("__start") + 1, lit(chunkTokens)))
          .as("chunk"))
  }

  /** Sub-document (segment-level) dedup — the C4/boilerplate pass: split
    * each document into consecutive `segTokens`-token segments, keep only
    * the globally FIRST occurrence of each distinct segment (ordered by
    * (doc_id, position)), and reassemble the survivors in document order.
    * Whole-document dedup misses the repeated header/footer/nav boilerplate
    * that appears inside otherwise-distinct pages; this removes it at the
    * segment granularity.
    *
    * Shape at 100 TB: segmentation is [[chunkDocuments]] with stride =
    * size (row-local, no shuffle); first-occurrence is `min(struct(doc_id,
    * idx))` per segment — an AGGREGATE, not a window, deliberately: a
    * hyper-repeated segment (empty docs, real boilerplate — the very thing
    * this op exists for) sends every copy to one partition, where a window
    * must buffer-and-rank them all in one task while a hash aggregate
    * collapses them map-side before the shuffle. Reassembly is one more
    * shuffle back on doc_id. Only (doc_id, idx, segment) rows travel,
    * never whole documents. Output: (doc_id, text) with text rebuilt from
    * surviving segments; documents whose every segment was seen earlier
    * vanish entirely. */
  def segmentDedup(docs: DataFrame, segTokens: Int = 10): DataFrame = {
    val segs = chunkDocuments(docs, chunkTokens = segTokens, stride = segTokens)
    segs
      .groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("w"))
      .select(col("w.doc_id").as("doc_id"), col("w.chunk_idx").as("chunk_idx"),
        col("chunk"))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("chunk_idx"), col("chunk")))).as("ss"))
      .select(
        col("doc_id"),
        concat_ws(" ", transform(col("ss"), s => s.getField("chunk"))).as("text"))
  }

  /** Sharded sequence packing ("concat-and-chunk"): assign each document to
    * a fixed-token-budget training chunk. Global greedy packing is
    * inherently sequential — a single running sum over the whole corpus is
    * one task no matter the cluster — so the corpus is sharded
    * deterministically (doc_id mod `shards`) and each shard packs
    * independently: parallelism = shards, a chunk never crosses a shard,
    * and the per-shard window state is one long. Chunk id = the document's
    * STARTING token offset over the budget (boundary-spanning documents
    * belong to the chunk they start in; splitting the overflow tokens is a
    * row-local concern downstream — the distributed part is the
    * assignment). `shards <= 0` (the default) resolves to the session's
    * `defaultParallelism`, so the operator scales its parallelism with the
    * cluster instead of silently capping at a constant; pin an explicit
    * value when the assignment itself must be reproducible across cluster
    * sizes (shard membership is doc_id mod shards). The shuffle moves
    * (doc_id, n_tokens) only, never text. */
  def packChunks(
      docs: DataFrame,
      budgetTokens: Long = 2048,
      shards: Int = 0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nShards =
      if (shards > 0) shards
      else docs.sparkSession.sparkContext.defaultParallelism
    val d = docs.select(
      col("doc_id"),
      pmod(col("doc_id"), lit(nShards.toLong)).cast("int").as("shard"),
      TextAnalysis.tokenCount(col("text")).as("n_tokens"))
    val prev = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    d.withColumn("chunk",
      floor(coalesce(sum(col("n_tokens")).over(prev), lit(0L)) / budgetTokens))
  }

  /** Leakage-safe train/val/test assignment: the split is a deterministic
    * hash of the GROUP key (site/domain/source), never the row — so all
    * documents of a group land in one split by construction, and the
    * near-duplicates that cluster within a group (same site boilerplate,
    * same crawl mirror) can never straddle the train/eval boundary (the
    * contamination the leakage literature warns about — splitting i.i.d.
    * by row leaks every near-dup pair across the fence).
    *
    * The hash is the first 4 hex digits of md5(group) mod 100 — chosen
    * because BOTH engines (and any future one) compute the identical md5
    * hex string, so assignment is portable and re-runnable: adding
    * documents to a group, or re-running at a different scale, never moves
    * an existing group between splits (stable split = reusable eval set).
    * Row-local: one md5 per row, no shuffle — at 100 TB the assignment is
    * a free column on the scan.
    *
    * `trainPct`/`valPct` carve [0,100): bucket < trainPct → train,
    * < trainPct+valPct → val, else test.
    *
    * Two documented edge contracts (ADVICE r7):
    *  - NULL group keys route to 'test', explicitly: md5(NULL) is NULL in
    *    every engine, so an unknown-provenance document must never land in
    *    train (the conservative side of the leakage fence). Callers who
    *    consider a null group a data bug should assert upstream.
    *  - the bucket is `first-4-md5-hex-digits mod 100`: 65536 % 100 = 36,
    *    so buckets 0–35 carry ⌈65536/100⌉ preimages and 36–99 carry
    *    ⌊65536/100⌋ — a ≤1/655 relative skew in split sizes, accepted for
    *    cross-engine md5 portability (both engines compute the identical
    *    assignment; a wider substring would shrink the bias but DuckDB's
    *    integer conv overflows past 15 hex digits). */
  def leakageSafeSplit(
      docs: DataFrame,
      groupCol: String = "source",
      trainPct: Int = 80,
      valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100,
      s"bad split percents: train=$trainPct val=$valPct")
    val bucket = pmod(
      conv(substring(md5(col(groupCol)), 1, 4), 16, 10).cast("long"),
      lit(100L))
    docs.withColumn("split",
      when(col(groupCol).isNull, lit("test"))
        .when(bucket < trainPct, lit("train"))
        .when(bucket < trainPct + valPct, lit("val"))
        .otherwise(lit("test")))
  }
}
