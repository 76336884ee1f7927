package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed BPE merge learning (the vocab-training step behind
  * [[TextAnalysis.bpeTokenCount]]'s pre-tokenizer: that counts tokens a
  * byte-pair encoder would start from; this LEARNS the merge table).
  *
  * The scale shape is the whole point: the corpus is touched EXACTLY ONCE —
  * one explode + hash aggregate down to the word-frequency table (Zipf makes
  * the map-side combine collapse almost everything). The greedy merge loop
  * then iterates over that table, which is VOCABULARY-sized: at 100 TB of
  * text the word-freq table is still a few million rows, so each of the K
  * iterations is a small job, and the only driver traffic is one (pair,
  * count) row per iteration. This mirrors how production BPE trainers work
  * (count words once, learn merges from the counts) — nothing re-reads the
  * corpus.
  *
  * Determinism: the best pair per iteration breaks count ties on the pair
  * itself (lexicographic), and words split on whitespace — same corpus in,
  * same merge table out, any partitioning.
  *
  * The per-iteration state (`word reps`) is re-checkpointed each round,
  * so the loop's plan stays flat.
  */
object Bpe {

  final case class Merge(left: String, right: String, count: Long)

  /** One merged symbol from `l`+`r`, standard greedy left-to-right fold
    * (so "aaa" under (a,a) becomes [aa, a]). Pure Column: an `aggregate`
    * over the symbol array with an (out, prev) accumulator. */
  private[llm] def mergeAdjacent(syms: Column, l: String, r: String): Column = {
    val empty = array().cast("array<string>")
    val init = struct(empty.as("out"), lit("").as("prev"), lit(false).as("has"))
    aggregate(
      syms, init,
      (acc, x) => {
        val out = acc.getField("out")
        val prev = acc.getField("prev")
        val has = acc.getField("has")
        when(!has, struct(out.as("out"), x.as("prev"), lit(true).as("has")))
          .when(prev === lit(l) && x === lit(r),
            struct(concat(out, array(lit(l + r))).as("out"),
              lit("").as("prev"), lit(false).as("has")))
          .otherwise(
            struct(concat(out, array(prev)).as("out"),
              x.as("prev"), lit(true).as("has")))
      },
      acc =>
        when(acc.getField("has"),
          concat(acc.getField("out"), array(acc.getField("prev"))))
          .otherwise(acc.getField("out")))
  }

  /** Corpus → word-frequency table (the ONE corpus-sized job). */
  def wordCounts(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** Initial per-word representation: (cnt, syms = characters). Lazy —
    * exposed (with [[pairCounts]]) so the plan audit can dump the loop's
    * real stages without running the training. */
  def initialSymbols(docs: DataFrame, textCol: String = "text"): DataFrame =
    wordCounts(docs, textCol)
      .select(col("cnt"),
        filter(split(col("word"), ""), s => s =!= "").as("syms"))

  /** One iteration's pair-count stage: adjacent symbol pairs weighted by
    * word frequency, vocabulary-sized input. */
  def pairCounts(rep: DataFrame): DataFrame = {
    val pairCol = transform(sequence(lit(0), size(col("syms")) - 2),
      j => struct(
        element_at(col("syms"), j + 1).as("l"),
        element_at(col("syms"), j + 2).as("r")))
    rep
      .filter(size(col("syms")) >= 2)
      .select(col("cnt"), explode(pairCol).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum(col("cnt")).as("n"))
  }

  /** Learn up to `numMerges` merges from the corpus. Stops early when the
    * best remaining pair occurs fewer than `minCount` times. */
  def learnMerges(
      docs: DataFrame,
      numMerges: Int,
      minCount: Long = 2L,
      textCol: String = "text"): Seq[Merge] = {
    require(numMerges >= 0 && minCount >= 1, s"bad config: $numMerges/$minCount")
    // vocabulary-sized from here on; eager checkpoints keep the loop's
    // lineage flat. Superseded iterations' checkpoint blocks are released
    // by the ContextCleaner once the old Dataset is unreferenced (the repo
    // convention for checkpointed state — Dataset.unpersist is a CACHE
    // operation and does nothing for checkpoint RDD blocks).
    var rep = initialSymbols(docs, textCol).localCheckpoint(true)
    val merges = Seq.newBuilder[Merge]
    var i = 0
    var done = false
    while (i < numMerges && !done) {
      val best = pairCounts(rep)
        .orderBy(col("n").desc, col("l"), col("r"))
        .limit(1)
        .collect()
      best.headOption match {
        case Some(row) if row.getLong(2) >= minCount =>
          val (l, r, n) = (row.getString(0), row.getString(1), row.getLong(2))
          merges += Merge(l, r, n)
          rep = rep
            .withColumn("syms", mergeAdjacent(col("syms"), l, r))
            .localCheckpoint(true)
          i += 1
        case _ => done = true
      }
    }
    merges.result()
  }

  /** Apply a learned merge table to a word (greedy, in merge-priority
    * order — the standard BPE encode). Column-pure, but the expression
    * nests one `aggregate` HOF per rule, so tree depth — and per-row cost —
    * grows with the merge-table size: right for demo/analysis tables,
    * capped well below where Catalyst analysis goes superlinear. The
    * production 30k-merge shape is [[encodeCorpus]]. */
  def encodeWord(word: Column, merges: Seq[Merge]): Column = {
    require(merges.size <= 256,
      s"${merges.size} merges: the nested-expression encoder is for small " +
        "tables; at vocab scale use encodeCorpus (dictionary-join shape)")
    merges.foldLeft(filter(split(word, ""), s => s =!= "")) { (syms, m) =>
      mergeAdjacent(syms, m.left, m.right)
    }
  }

  /** Corpus-scale BPE encoding — the dictionary-join shape: each DISTINCT
    * word is encoded ONCE, then the word→symbols dictionary joins back
    * against the corpus. Words repeat enormously (Zipf), so the expensive
    * part — applying the merge table — runs on the VOCABULARY-sized distinct
    * set, not the corpus; the corpus-side work is one explode + one hash
    * join on the word + one reassembly shuffle of (id, pos, symbols) rows.
    * The dictionary side carries no broadcast HINT: it is a materialized
    * checkpoint (a post-shuffle aggregate when the merge table is empty),
    * so AQE sees its true size and broadcasts it when it fits an executor
    * (the common case — dictionaries are vocab-sized) while a
    * 1e8-distinct-word web crawl falls back to a shuffled join instead of
    * a forced driver OOM. This is the operator
    * [[encodeWord]]'s scaladoc promises for 30k-merge tables, and its
    * semantics are EXACTLY encodeWord's (spec-asserted): the merge table
    * folds greedily in priority order, one left-to-right pass per rule.
    *
    * How the 30k-rule fold stays tractable: rules apply to the word table in
    * `rulesPerStage`-sized groups — each group is one select (bounded
    * expression depth, whole-group codegen), each stage ends in an eager
    * lineage cut, so K rules cost K/rulesPerStage vocabulary-sized jobs —
    * the same posture as [[learnMerges]]'s K vocabulary-sized iterations,
    * and independent of corpus size. The result is stage-size-invariant
    * (spec-asserted) because rule applications compose sequentially either
    * way.
    *
    * Output: (`idCol`, tokens array<string>). Documents with no tokens
    * survive with an empty array (scan-side union, no extra shuffle).
    * Downstream symbol→integer-id assignment is a second broadcast join
    * against a vocab table — same shape, deliberately not fused here. */
  def encodeCorpus(
      docs: DataFrame,
      merges: Seq[Merge],
      textCol: String = "text",
      idCol: String = "doc_id",
      rulesPerStage: Int = 32): DataFrame =
    // r19 A/B, reverted: spreading the corpus scan raised par 1.3 → 5
    // but walls rose ~15% (q193 1.97 → 2.30 s, three passes) — the
    // dict-join/reassembly exchanges dominate, not the scan stage
    assemble(docs, wordDict(docs, merges, textCol, rulesPerStage)
        .withColumnRenamed("syms", "value"),
      "string", "tokens", textCol, idCol)

  /** NULL text behaves as empty (tokens(NULL) is NULL, which would slip
    * past BOTH the explode branch and the empties filter — silent row
    * loss). */
  private def toks(textCol: String): Column =
    TextAnalysis.tokens(coalesce(col(textCol), lit("")))

  /** The vocabulary-sized heart of [[encodeCorpus]]: DISTINCT word →
    * encoded symbol array, the merge table applied in `rulesPerStage`-sized
    * stages (see encodeCorpus's scaladoc for why). */
  /** The corpus's distinct words — the input grain both the merge-stage
    * dictionary and the vocabulary alphabet work at (one row per unique
    * word, never per occurrence). */
  private[llm] def distinctWords(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(toks(textCol)).as("word"))
      .filter(col("word") =!= "")
      .distinct()

  private[llm] def wordDict(
      docs: DataFrame,
      merges: Seq[Merge],
      textCol: String,
      rulesPerStage: Int): DataFrame = {
    require(rulesPerStage > 0, s"bad rulesPerStage: $rulesPerStage")
    val words = distinctWords(docs, textCol)
    var dict = words
      .select(col("word"), filter(split(col("word"), ""), s => s =!= "").as("syms"))
    merges.grouped(rulesPerStage).foreach { group =>
      val folded = group.foldLeft(col("syms")) { (c, m) =>
        mergeAdjacent(c, m.left, m.right)
      }
      dict = dict.select(col("word"), folded.as("syms")).localCheckpoint(true)
    }
    dict
  }

  /** Join a (word, value) dictionary back onto the corpus and reassemble
    * per-document arrays in word order; tokenless documents never reach the
    * explode, so they are reinstated with an empty encoding via a scan-side
    * filter + union (no join, no shuffle). */
  private def assemble(
      docs: DataFrame,
      dict: DataFrame,
      elemType: String,
      outCol: String,
      textCol: String,
      idCol: String): DataFrame = {
    val exploded = docs
      .select(col(idCol), posexplode(toks(textCol)).as(Seq("pos", "word")))
      .filter(col("word") =!= "")
    val encoded = exploded
      .join(dict, "word")
      .groupBy(idCol)
      .agg(array_sort(collect_list(struct(col("pos"), col("value")))).as("ps"))
      .select(col(idCol),
        flatten(transform(col("ps"), p => p.getField("value"))).as(outCol))
    val empties = docs
      .filter(size(filter(toks(textCol), w => w =!= "")) === 0)
      .select(col(idCol), array().cast(s"array<$elemType>").as(outCol))
    encoded.unionByName(empties)
  }

  /** Deterministic symbol → integer-id vocabulary for a merge table: the
    * corpus' character alphabet (sorted lexicographically) takes ids
    * 0..A−1, then each merge's output symbol takes the next id in merge-
    * priority order (first occurrence wins if two merges concatenate to the
    * same symbol, e.g. (a,bc) and (ab,c)). Engine-independent by
    * construction — both halves order on plain string/index sort keys — so
    * id assignment is reproducible across engines and reruns, the property
    * a tokenizer's vocab file must have.
    *
    * The ranking window is deliberately global (single partition): the
    * input is alphabet + merge-table sized — thousands of rows for real
    * tokenizers — bounded by construction like the k-centroid collects in
    * Ivf. Returns (symbol, token_id: int). */
  def vocab(
      docs: DataFrame,
      merges: Seq[Merge],
      textCol: String = "text"): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // char fan-out over DISTINCT words (vocabulary-sized), never one row
    // per character of the corpus
    val alpha = distinctWords(docs, textCol)
      .select(explode(filter(split(col("word"), ""), s => s =!= "")).as("symbol"))
      .distinct()
    // dense binary-lexicographic rank via a vocabulary-sized broadcast
    // theta-join (count of strictly-smaller symbols) rather than an
    // unpartitioned Window: same ids, but no all-rows-to-one-partition
    // Window plan (and no WindowExec warning per run). The BNL join is
    // bounded by the alphabet size — the q20/q26 deliberate-broadcast class.
    val ranked = alpha
      .join(broadcast(alpha.select(col("symbol").as("__s2"))),
        col("__s2") < col("symbol"), "left")
      .groupBy("symbol")
      .agg(count(col("__s2")).cast("int").as("token_id"))
    val nAlpha = broadcast(alpha.agg(count(lit(1)).cast("int").as("__a")))
    val mergeSyms = merges.map(m => m.left + m.right).distinct // keep first
    val mdf = mergeSyms.zipWithIndex
      .toDF("symbol", "__i")
      .crossJoin(nAlpha)
      .select(col("symbol"), (col("__a") + col("__i")).cast("int").as("token_id"))
    ranked.unionByName(mdf)
  }

  /** End-to-end text → integer token ids: [[encodeCorpus]]'s dictionary
    * mapped through a (symbol, token_id) vocab — the numeric encode
    * contract a training pipeline consumes (the reference's encode step
    * likewise emits numeric features, not strings:
    * `/root/reference/conceptnetwork/concept.py:34-39`).
    *
    * The id mapping runs at the VOCABULARY level — the distinct-word
    * dictionary's symbols explode, join the vocab, and reassemble per word
    * — so the corpus pays exactly [[encodeCorpus]]'s passes and shuffles;
    * mapping strings to ids adds only vocab-sized work (the "second
    * broadcast join, deliberately not fused" the encodeCorpus scaladoc
    * promised, fused at the dictionary where it is free). Symbols missing
    * from the vocab (encode-time characters the vocab never saw) map to
    * `oovId` rather than dropping silently. Output (`idCol`, token_ids:
    * array<int>); NULL/tokenless docs keep an empty array. */
  def encodeCorpusIds(
      docs: DataFrame,
      merges: Seq[Merge],
      vocab: DataFrame,
      textCol: String = "text",
      idCol: String = "doc_id",
      rulesPerStage: Int = 32,
      oovId: Int = -1): DataFrame = {
    val dict = wordDict(docs, merges, textCol, rulesPerStage)
    val mapped = dict
      .select(col("word"), posexplode(col("syms")).as(Seq("p", "symbol")))
      .join(vocab, Seq("symbol"), "left")
      .groupBy("word")
      .agg(array_sort(collect_list(struct(col("p"),
        coalesce(col("token_id"), lit(oovId)).as("tid")))).as("pi"))
      .select(col("word"),
        transform(col("pi"), x => x.getField("tid")).as("value"))
    assemble(docs, mapped, "int", "token_ids", textCol, idCol)
  }

  /** The INVERSE of [[encodeCorpusIds]]: token ids → symbols → per-doc
    * string, closing the tokenizer round-trip (the detokenize step an
    * inference/inspection pipeline runs; a vocab/merge mismatch between
    * encode and decode silently corrupts text, which is why the identity
    * `decode(encode(t)) == whitespace-stripped t` deserves its own hash
    * gate — this BPE carries no word-boundary marker, so exactly the
    * inter-word whitespace is non-recoverable BY DESIGN and the identity
    * is stated against the stripped text).
    *
    * Scale shape: the vocab is alphabet+merge-sized — a bounded collect
    * riding the plan as a map literal; decode is one codegen
    * transform + array_join per row, no shuffle, no join. Ids missing
    * from the vocab (an [[encodeCorpusIds]] `oovId`, or corruption)
    * surface as U+FFFD rather than vanishing. */
  def decodeIds(
      enc: DataFrame,
      vocab: DataFrame,
      idsCol: String = "token_ids"): DataFrame = {
    val idToSym: Map[Int, String] = vocab.select("token_id", "symbol")
      .collect().map(r => r.getInt(0) -> r.getString(1)).toMap
    val m = typedlit(idToSym)
    enc.withColumn("decoded",
      array_join(
        transform(col(idsCol), i =>
          coalesce(element_at(m, i), lit("�"))), ""))
  }
}
