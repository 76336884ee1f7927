package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication family for LLM training-data pipelines (B31/B32).
  *
  *  - exact: content-hash groupBy — one shuffle on the 64-hex digest; at
  *    100 TB this is the cheapest possible dedup (hash is computed scan-side,
  *    only (digest, id) pairs shuffle, never the document bodies).
  *  - MinHash+LSH ([[MinHash]]): seeded per-table min-hashes band-join —
  *    near-dup candidates meet in buckets, avoiding the O(n²) pair space.
  *  - SimHash: 64-bit sign-of-weighted-bits fingerprint; near-dups differ in
  *    few bits, so banding on fingerprint prefixes scales.
  *  - n-gram Jaccard: exact similarity on the shingle sets for candidate
  *    pairs that share ≥1 shingle (the verification step after LSH).
  */
object Dedup {

  /** Exact dedup: one survivor (min id) per distinct content hash. */
  def exactSurvivors(docs: DataFrame): DataFrame =
    docs
      .groupBy(sha2(col("text"), 256).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select("keep_id", "n_copies")

  /** Incremental exact dedup — screen a NEW ingest batch against a
    * historical corpus WITHOUT joining the corpus: the append-heavy shape
    * every production pipeline hits (100 TB of history, a daily batch of
    * new documents).
    *
    * Two stages, Bloom-filter screen then exact confirm — and the history
    * is only ever SCANNED, never shuffled (not even its hashes):
    *  1. [[graft.functions.GraftBloomAgg]] folds the history's content
    *     hashes into one bits-sized filter (an aggregate — partial buffers
    *     merge map-side). `might_contain` then screens the new batch
    *     scan-side: documents whose hash misses the filter are DEFINITELY
    *     new (Bloom has no false negatives) and skip stage 2 entirely.
    *  2. Exact confirm, with the join FLIPPED so the big side streams: the
    *     screened hash sliver (dups + fpp·batch — batch-bounded by
    *     construction, hence broadcastable) broadcasts; the history scan
    *     streams past it in a semi join, emitting the confirmed-duplicate
    *     hashes; the batch anti-joins that (again batch-bounded) set. A
    *     confirm written the naive way — batch anti-join
    *     history.distinct() — would shuffle EVERY history hash
    *     (~32 GB/1e9 rows) on every daily batch, which at the operator's
    *     target scale dwarfs the batch-side work the screen saves.
    *
    * Delivery shape: the filter reaches the probe as an UNCORRELATED SCALAR
    * SUBQUERY — the same shape Spark's own runtime row-level filters inject
    * — never as a `lit(bytes)` plan literal. At the 1e9-row histories this
    * is built for (fpp 0.01 ⇒ ~1.2 GB of bits) a literal would ride every
    * plan copy, explain dump, and canonicalization; the subquery's bytes
    * live once, outside the expression tree (DedupSpec asserts no multi-MB
    * literal survives in the plan). The whole function is LAZY — no job
    * runs at construction. The custom aggregate also takes its size
    * arguments literally instead of silently capping them at the
    * runtime-filter session confs, which removes the non-thread-safe
    * conf raise/restore round-trip earlier versions needed.
    *
    * Returns the genuinely-new rows of `newDocs`. The filter bits are
    * engine-specific (no DuckDB oracle); the no-false-negative /
    * FP-bounded / exact-confirm properties live in DedupSpec.
    *
    * Memory: every partial-aggregation task holds a numBits/8-byte buffer
    * (≈1.2 GB at the 1e9-row/fpp-0.01 ceiling), so a 32-core executor can
    * transiently hold cores × buffer during the build — size
    * `expectedHistoryRows` from reality, not from a safety margin; the
    * aggregate itself refuses filters beyond
    * [[graft.functions.GraftBloomAgg.MaxBits]].
    *
    * This one-shot path re-reads and re-hashes the ENTIRE history corpus
    * per batch. A daily-ingest pipeline should maintain a [[DedupIndex]]
    * instead: the same screen+confirm engine fed by a persisted 32 B/doc
    * digest index — the history pass drops from corpus bytes to index
    * bytes. */
  def incrementalNewDocs(
      newDocs: DataFrame,
      history: DataFrame,
      expectedHistoryRows: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    val h = sha2(col("text"), 256)
    incrementalNewDocsByHash(
      newDocs, history.select(h.as("__hh")), expectedHistoryRows, fpp)
  }

  /** The hash-relation core of [[incrementalNewDocs]]: the history side is
    * any relation of content-hash hex strings in column `__hh` — the full
    * corpus re-hashed scan-side (the one-shot path above) or a persisted
    * 32 B/doc digest index ([[DedupIndex]] — the production shape, where
    * the per-batch history pass reads the index bytes instead of re-reading
    * and re-hashing the document bodies). Both Bloom build and exact
    * confirm stream THIS relation, so the cost of the history pass is
    * proportional to what the caller hands in. */
  private[llm] def incrementalNewDocsByHash(
      newDocs: DataFrame,
      historyHashes: DataFrame,
      expectedHistoryRows: Long,
      fpp: Double): DataFrame = {
    graft.functions.GraftFunctions.register(newDocs.sparkSession)
    val h = sha2(col("text"), 256)
    // bits sized from the target false-positive rate: m = n·ln(1/p)/ln²2
    val numBits = math.max(64L,
      math.ceil(expectedHistoryRows * math.log(1.0 / fpp)
        / (math.log(2) * math.log(2))).toLong)
    // empty history ⇒ an all-zero filter (GraftBloomAgg never returns
    // null), so the screen correctly passes everything through as new
    val bf = historyHashes
      .agg(call_function(graft.functions.GraftFunctions.BloomAggName,
        xxhash64(col("__hh")), lit(expectedHistoryRows), lit(numBits)).as("bf"))
      .scalar()
    val maybeDup = call_function(
      graft.functions.GraftFunctions.MightContainName, bf, xxhash64(h))
    val screenedHashes = newDocs.filter(maybeDup)    // tiny: dups + fpp·new
      .select(h.as("__hh")).distinct()
    // history streams past the broadcast sliver (scan-side semi join, no
    // history exchange); the per-partition hash aggregate collapses
    // repeated history copies before the tiny distinct shuffle. No forced
    // broadcast hints (the round's policy for data-dependent sides): both
    // small sides are post-aggregate and accurately sized, so AQE
    // broadcasts them in the designed batch≪history regime and degrades
    // to a shuffled join — instead of a driver OOM — if a caller feeds a
    // corpus-sized "batch".
    val confirmedDups = historyHashes
      .join(screenedHashes, Seq("__hh"), "left_semi")
      .distinct()
    // a batch doc is new iff its hash is not a CONFIRMED duplicate; the
    // unscreened docs can't be in confirmedDups (no false negatives), so
    // one anti-join covers both branches
    newDocs.join(confirmedDups, h === col("__hh"), "left_anti")
  }

  /** 64-bit SimHash over whitespace tokens (xxhash64 token hashes; bit i of
    * the fingerprint = sign of Σ_tokens (2·bit_i(h(t)) − 1)).
    *
    * Runs on the one-pass codegen expression
    * [[graft.functions.SimHash64]] — the nested-HOF form
    * ([[simhash64HOF]]) re-folds the token array once per bit, 64
    * traversals re-hashing every token through boxed lambdas (measured
    * 7.5 s vs sub-second for the sf0.1 corpus); equality between the two
    * forms is spec-asserted (DedupSpec). */
  def simhash64(text: Column): Column = {
    // best-effort registration: getActiveSession is THREAD-LOCAL, so a
    // Column-only API can miss (e.g. called from a pool thread that never
    // created the session). DataFrame-taking callers (simhashPairs, q32)
    // register on df.sparkSession explicitly; do the same in new call sites.
    org.apache.spark.sql.SparkSession.getActiveSession
      .foreach(graft.functions.GraftFunctions.register)
    call_function(graft.functions.GraftFunctions.SimHash64Name,
      array_distinct(TextAnalysis.tokens(text)))
  }

  /** The declarative reference form of [[simhash64]]: pure-Column nested
    * higher-order functions; `call_function` reaches the shift builtins
    * whose Scala wrappers only take Int literals. The bit-OR fold (not a
    * sum) packs bit 63 without ANSI overflow. Semantics-identical to the
    * codegen expression (spec-asserted); kept as the executable spec of
    * what SimHash64 computes. */
  def simhash64HOF(text: Column): Column = {
    val ts = array_distinct(TextAnalysis.tokens(text))
    val bitBalance = (i: Column) =>
      aggregate(ts, lit(0L), (acc, t) =>
        acc + when(call_function("shiftright", xxhash64(t), i).bitwiseAND(lit(1L)) === 1L, 1L)
          .otherwise(-1L))
    aggregate(
      transform(sequence(lit(0), lit(63)),
        i => when(bitBalance(i) > 0, call_function("shiftleft", lit(1L), i)).otherwise(lit(0L))),
      lit(0L), (acc, b) => acc.bitwiseOR(b))
  }

  /** Hamming distance between two 64-bit fingerprints. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b)).cast("int")

  /** Banded SimHash near-dup pairs: the scale path for [[simhash64]] (turns
    * "banding-ready fingerprint" into an actual candidate join). The 64-bit
    * fingerprint is cut into `bands` contiguous bit-slices, the keys of
    * [[Lsh.bucketPairs]]; pairs meet when any slice matches exactly, then
    * the exact Hamming distance reranks candidates.
    *
    * Unlike MinHash/Rp this is pigeonhole-EXACT, not probabilistic: a pair
    * at Hamming distance d touches at most d bands, so for
    * `maxHamming <= bands - 1` every qualifying pair shares at least one
    * unchanged band and is guaranteed to surface (recall 1.0; DedupSpec
    * asserts set-equality against the brute-force O(n²) twin). Choose
    * `bands = maxHamming + 1`: that is the TIGHTEST exact configuration,
    * and wider slices admit far fewer false candidates (on the sf0.1
    * corpus, whose simhash bits are biased by shared vocabulary, 4×16-bit
    * bands emit ~50× fewer candidates than 8×8-bit for the same exact
    * hamming ≤ 3 result). More bands only buy higher hamming budgets. The one
    * carve-out is the [[Lsh.Split]] bound: a pair whose only unchanged bands
    * all sit in salt-split hot buckets can split apart — bounded compute on
    * pathological skew traded for completeness on it, same contract as
    * Rp/MinHash (the fixtures stay under the cap: NearDupLimitsSpec).
    *
    * Shuffle profile at scale: fingerprints are computed scan-side (one
    * pass over text), the join moves only (band, slice, 8-byte fp, id)
    * rows — no document bodies — and the rerank is a bit_count on two
    * longs. xxhash64-based ⇒ not DuckDB-replicable: q64 is rows-only with
    * the exactness property in DedupSpec standing in for the oracle. */
  def simhashPairs(
      docs: DataFrame,
      maxHamming: Int = 3,
      bands: Int = 4,
      maxBucketSize: Int = Lsh.DefaultMaxBucketSize): DataFrame = {
    require(64 % bands == 0, s"bands must divide 64, got $bands")
    require(maxHamming < bands,
      s"pigeonhole guarantee needs maxHamming < bands ($maxHamming >= $bands)")
    graft.functions.GraftFunctions.register(docs.sparkSession)
    Lsh.bucketPairs(simhashRows(docs, bands), Seq("t", "k"),
        Lsh.Split(maxBucketSize), Seq("fp"))
      .select(col("id_a"), col("id_b"),
        hamming64(col("fp_a"), col("fp_b")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  /** [[simhashPairs]]' keyed rows: (id, fp, t, k), k = the t-th bit-slice. */
  private[llm] def simhashRows(docs: DataFrame, bands: Int): DataFrame = {
    val bits = 64 / bands
    val mask = (1L << bits) - 1
    docs.select(col("doc_id").as("id"), simhash64(col("text")).as("fp"))
      .select(col("id"), col("fp"),
        explode(array((0 until bands).map { t =>
          struct(lit(t).as("t"),
            call_function("shiftright", col("fp"), lit(t * bits))
              .bitwiseAND(lit(mask)).as("k"))
        }: _*)).as("tb"))
      .select(col("id"), col("fp"), col("tb.t").as("t"), col("tb.k").as("k"))
  }

  /** Substring-level near-dup candidate pairs via shared WINNOWING
    * fingerprints ([[TextAnalysis.winnow]]): two documents sharing any
    * token run of length ≥ w+k-1 are guaranteed ≥1 shared selected hash
    * (the winnowing guarantee), so this surfaces partial-overlap pairs —
    * quote reuse, template text, cross-posted passages — that whole-document
    * jaccard/minhash miss when the rest of the documents differ. Unlike the
    * xxhash64-based MinHash/SimHash joins, the winnow hash is a sha256
    * prefix, so the WHOLE operator is DuckDB-replicable and oracle-checked
    * (q86), not rows-only.
    *
    * Shape is [[ngramJaccardPairs]]'s: the selected hashes are the keys of
    * [[Lsh.bucketPairs]] — ~2/(w+1) of the grams, so this stream is much
    * smaller than the shingle stream — with the same [[Lsh.Drop]] stop-hash
    * cap defusing the boilerplate skew bomb (capped hashes drop from the
    * join, so `n_shared` undercounts by at most their contribution — same
    * conservative contract as the shingle cap). */
  def winnowPairs(
      docs: DataFrame,
      minShared: Long = 2,
      maxDocFreq: Int = 100): DataFrame =
    Lsh.bucketPairs(winnowRows(docs), Seq("h"), Lsh.Drop(maxDocFreq))
      .filter(col("n_shared") >= minShared)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), col("n_shared"))

  /** [[winnowPairs]]' keyed rows: (id, h), one per selected hash. */
  private[llm] def winnowRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), explode(TextAnalysis.winnow(col("text"))).as("h"))

  /** Exact n-gram Jaccard similarity for every pair sharing ≥1 shingle.
    * Shuffle profile at scale: the shingles are the keys of
    * [[Lsh.bucketPairs]] — one shuffle on shingle, then an aggregation
    * keyed on the pair — and each row carries its document's shingle-set
    * size `n`, so the denominators need no join.
    *
    * `maxDocFreq` is the stop-shingle cap ([[Lsh.Drop]]): a shingle
    * appearing in more than that many documents is excluded from the
    * self-join (the standard defense against the skew bomb — one shingle in
    * 1% of a 100 TB corpus would otherwise put a quadratic candidate
    * partition on one key). The set sizes are taken BEFORE the cap, so
    * surviving pairs score true Jaccard minus at most the capped shingles'
    * intersection contribution — a conservative undercount. The fixtures
    * stay under the default cap (NearDupLimitsSpec), so oracle results are
    * those of the uncapped join. */
  def ngramJaccardPairs(
      docs: DataFrame,
      minJaccard: Double,
      maxDocFreq: Int = 100): DataFrame = {
    val j = col("n_shared").cast("double") /
      (col("n_a") + col("n_b") - col("n_shared"))
    Lsh.bucketPairs(ngramRows(docs), Seq("shingle"), Lsh.Drop(maxDocFreq), Seq("n"))
      .filter(j >= minJaccard)
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"), round(j, 4).as("jaccard"))
  }

  /** [[ngramJaccardPairs]]' keyed rows: (id, n, shingle), n = the
    * document's distinct shingle count. */
  private[llm] def ngramRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id").as("id"), TextAnalysis.shingles(col("text")).as("sh"))
      .select(col("id"), size(col("sh")).cast("long").as("n"), col("sh"))
      .select(col("id"), col("n"), explode(col("sh")).as("shingle"))

  /** Corpus diff — the "what changed between crawls" report: classify
    * CONTENT (by hash) as added / removed / retained between two corpus
    * versions, with distinct-content and per-side document counts. The
    * first question an incremental-ingest owner asks before re-running
    * anything expensive downstream: a crawl whose `added` mass is tiny can
    * skip re-dedup entirely; a huge `removed` signals an upstream filter
    * change.
    *
    * Scale shape: each side collapses to (32-byte digest, count) first —
    * map-side combine, bodies never travel (the exact-dedup invariant) —
    * then one digest-keyed full outer join and a 3-row aggregate. A status
    * with no content yields no row (an empty diff is an empty table, not
    * fabricated zeros). */
  def corpusDiff(
      oldDocs: DataFrame,
      newDocs: DataFrame,
      textCol: String = "text"): DataFrame = {
    def byHash(d: DataFrame, h: String, cnt: String) = d
      .groupBy(sha2(col(textCol), 256).as(h))
      .agg(count(lit(1)).as(cnt))
    // null-safe join key: sha2(NULL) is NULL, and a null-rejecting join
    // would report NULL-text content as simultaneously added AND removed
    // when nothing changed — the one lie a diff report must never tell
    byHash(oldDocs, "__ho", "__no")
      .join(byHash(newDocs, "__hn", "__nn"),
        col("__ho") <=> col("__hn"), "full_outer")
      .select(
        when(col("__no").isNull, lit("added"))
          .when(col("__nn").isNull, lit("removed"))
          .otherwise(lit("retained")).as("status"),
        col("__no"), col("__nn"))
      .groupBy("status")
      .agg(
        count(lit(1)).as("n_contents"),
        coalesce(sum("__no"), lit(0L)).as("n_docs_old"),
        coalesce(sum("__nn"), lit(0L)).as("n_docs_new"))
  }
}
