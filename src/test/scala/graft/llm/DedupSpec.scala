package graft.llm

import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}

/** Property tests for the approximate dedup family (SURVEY §5.2.3/§5.2.4):
  * seeded-model ops aren't oracle-hashable, so they're bounded by recall and
  * algebraic properties instead. */
class DedupSpec extends SparkSpec {

  test("incremental dedup: bloom screen has no false negatives, exact confirm removes FPs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val history = (0 until 400).map(i => (i.toLong, s"hist doc number $i body"))
      .toDF("doc_id", "text")
    // new batch: 30 exact re-ingests + 70 genuinely new docs
    val dups = (0 until 30).map(i => (1000L + i, s"hist doc number $i body"))
    val fresh = (0 until 70).map(i => (2000L + i, s"brand new doc $i payload"))
    val batch = (dups ++ fresh).toDF("doc_id", "text")
    val out = Dedup.incrementalNewDocs(batch, history,
      expectedHistoryRows = 1000L).cache()
    // every true duplicate dropped (bloom has no false negatives -> the
    // confirm join sees ALL of them), every genuinely-new doc kept (the
    // exact confirm removes any bloom false positives)
    assert(out.count() == 70)
    assert(out.select("doc_id").as[Long].collect().toSet ==
      fresh.map(_._1).toSet)
    out.unpersist()
  }

  test("incremental dedup ships no filter literal in the plan at large numBits") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val history = (0 until 200).map(i => (i.toLong, s"hist doc number $i body"))
      .toDF("doc_id", "text")
    val batch = ((0 until 20).map(i => (1000L + i, s"hist doc number $i body")) ++
      (0 until 30).map(i => (2000L + i, s"brand new doc $i payload")))
      .toDF("doc_id", "text")
    // 40M requested items ⇒ ~383 Mbits ≈ 48 MB of filter: the old lit(bytes)
    // delivery would plant that as a binary literal in every plan copy (and
    // Spark's builtin aggregate would silently cap it at the 64 Mbit conf,
    // degrading fpp). The subquery shape must keep the expression tree free
    // of any near-MB literal...
    val out = Dedup.incrementalNewDocs(batch, history,
      expectedHistoryRows = 40000000L)
    val bigLiterals = out.queryExecution.optimizedPlan.collect { case node =>
      node.expressions.flatMap(_.collect {
        case l: org.apache.spark.sql.catalyst.expressions.Literal
            if l.dataType == org.apache.spark.sql.types.BinaryType &&
              l.value != null &&
              l.value.asInstanceOf[Array[Byte]].length > (1 << 20) => l
      })
    }.flatten
    assert(bigLiterals.isEmpty,
      s"filter bytes leaked into the plan as ${bigLiterals.size} literal(s)")
    // ...while the uncapped aggregate still makes the result exact
    assert(out.select("doc_id").as[Long].collect().toSet ==
      (0 until 30).map(i => 2000L + i).toSet)
    // and construction runs no job / mutates no session conf (lazy contract)
    val caps = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.maxNumItems",
      "spark.sql.optimizer.runtime.bloomFilter.maxNumBits")
    caps.foreach { k =>
      assert(spark.conf.get(k) == spark.conf.getOption(k).get) // readable
      assert(spark.conf.get(k).toLong <= 67108864L,
        s"$k was left raised — the conf round-trip is supposed to be gone")
    }
  }

  test("incremental dedup against an EMPTY history keeps the whole batch") {
    import spark.implicits._
    val batch = (0 until 25).map(i => (i.toLong, s"doc $i")).toDF("doc_id", "text")
    val empty = batch.filter(col("doc_id") < 0)
    val out = Dedup.incrementalNewDocs(batch, empty, expectedHistoryRows = 100L)
    assert(out.count() == 25)
  }

  private lazy val docs = Tables(spark, sf0001, "documents")

  test("winnow pairs surface shared substrings and honor the guarantee") {
    import spark.implicits._
    // the winnowing guarantee: a shared token run of length >= w+k-1 = 6
    // contributes >= 1 shared selected hash; the quote here is 12 tokens,
    // long enough to clear minShared = 2 through the density bound
    val quote = "to be or not to be that is the question for today"
    val df = Seq(
      (1L, s"intro words first $quote closing remarks here"),
      (2L, s"$quote entirely different surroundings this time around yes"),
      (3L, "completely unrelated text with no overlap at all present")
    ).toDF("doc_id", "text")
    val pairs = Dedup.winnowPairs(df, minShared = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)), "quote-sharing docs must pair")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L),
      "disjoint doc must not pair")
    // boilerplate cap: a hash present in MORE than maxDocFreq docs drops
    // from the join instead of creating a quadratic hot key
    val boiler = (0 until 30).map(i => (100L + i, s"same exact boilerplate line here $i"))
      .toDF("doc_id", "text")
    val capped = Dedup.winnowPairs(boiler, minShared = 1, maxDocFreq = 5)
    val uncapped = Dedup.winnowPairs(boiler, minShared = 1, maxDocFreq = 1000)
    assert(capped.count() < uncapped.count(),
      "the doc-frequency cap must drop ubiquitous hashes")
  }

  test("exact dedup: survivors + duplicate count are consistent") {
    val survivors = Dedup.exactSurvivors(docs)
    val total = docs.count()
    val agg = survivors.agg(sum("n_copies"), count(lit(1))).collect().head
    assert(agg.getLong(0) == total)       // every doc accounted for
    assert(agg.getLong(1) <= total)       // at most one survivor per doc
  }

  test("codegen minhash recalls >= 90% and scores exact jaccard distances") {
    val truth = Dedup.ngramJaccardPairs(docs, minJaccard = 0.5)
      .select(col("doc_a").as("id_a"), col("doc_b").as("id_b"),
        round(lit(1.0) - col("jaccard"), 4).as("jaccard_dist"))
    val nTruth = truth.count()
    assert(nTruth > 0)
    val cand = MinHash.pairs(docs, maxJaccardDist = 0.6)
    val found = truth.select("id_a", "id_b")
      .intersect(cand.select("id_a", "id_b")).count()
    assert(found.toDouble / nTruth >= 0.9,
      s"recall ${found.toDouble / nTruth} ($found/$nTruth)")
    // the rerank is exact: every emitted pair's distance must match the
    // brute-force jaccard. Tolerance 2e-4, not equality: cand rounds
    // 1-j while truth rounds j first (round(1-j,4) vs 1-round(j,4) differ
    // by 1e-4 on exact 5th-decimal ties like j = 27/32); a hashed-space
    // approximation — what this guards against — diverges by ~1e-2
    val joined = cand.join(truth, Seq("id_a", "id_b"))
    assert(joined.filter(
      abs(cand("jaccard_dist") - truth("jaccard_dist")) > 2e-4).count() == 0)
  }

  test("codegen minhash is deterministic per seed and moves with it") {
    val a = MinHash.pairs(docs, seed = 7L)
    val b = MinHash.pairs(docs, seed = 7L)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    assert(MinHash.pairs(docs, seed = 8L).count() > 0)
  }

  test("simhash: identical texts get identical fingerprints") {
    val fps = docs.select(col("text"), Dedup.simhash64(col("text")).as("fp"))
      .groupBy("text").agg(countDistinct("fp").as("n"))
    assert(fps.filter(col("n") =!= 1).count() == 0)
  }

  test("simhash: near-identical docs are close in hamming distance") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again for testing"
    val nearDup = base + " extra"
    val far = "completely different words about spark catalyst optimizer internals here"
    val df = Seq((1L, base), (2L, nearDup), (3L, far)).toDF("id", "text")
      .select(col("id"), Dedup.simhash64(col("text")).as("fp"))
    val fps = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(fps(1L), fps(2L)) < ham(fps(1L), fps(3L)),
      "near-dup must be closer than unrelated text")
    assert(ham(fps(1L), fps(2L)) <= 12)
  }

  test("banded simhash equals the brute-force hamming join (pigeonhole exactness)") {
    // hamming <= 3 with >= 4 bands: every qualifying pair must share a band,
    // so the banded join is EXACT — assert set-equality, not recall, against
    // the O(n²) twin, for both the tight (4×16) and loose (8×8) band layouts
    val fp = docs.select(col("doc_id"), Dedup.simhash64(col("text")).as("fp"))
    val brute = fp.as("a").join(fp.as("b"), col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        Dedup.hamming64(col("a.fp"), col("b.fp")).as("hamming"))
      .filter(col("hamming") <= 3)
    assert(brute.count() > 0, "fixture should contain simhash near-dups")
    for (bands <- Seq(4, 8)) {
      val banded = Dedup.simhashPairs(docs, maxHamming = 3, bands = bands)
      assert(banded.exceptAll(brute).count() == 0 &&
        brute.exceptAll(banded).count() == 0, s"bands=$bands diverges from brute")
    }
  }

  test("codegen simhash64 equals the nested-HOF reference form") {
    val both = docs.select(
      Dedup.simhash64(col("text")).as("fast"),
      Dedup.simhash64HOF(col("text")).as("ref"))
    assert(both.filter(col("fast") =!= col("ref")).count() == 0)
  }

  test("banded simhash rejects parameters that void the pigeonhole guarantee") {
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 8, bands = 8)
    }
    intercept[IllegalArgumentException] {
      Dedup.simhashPairs(docs, maxHamming = 1, bands = 7)
    }
  }

  test("ngram jaccard: exact duplicates score 1.0") {
    val dupPairs = Dedup.ngramJaccardPairs(docs, minJaccard = 0.999)
    val hashes = docs.groupBy(sha2(col("text"), 256)).agg(count(lit(1)).as("n"))
    val nDupDocs = hashes.filter(col("n") > 1).count()
    if (nDupDocs > 0) assert(dupPairs.count() > 0)
    assert(dupPairs.filter(col("jaccard") < 1.0).count() == 0)
  }

  test("ngram jaccard: stop-shingle cap defuses a synthetic hot shingle") {
    import spark.implicits._
    // 30 docs share one hot phrase; each otherwise disjoint. Uncapped, the
    // hot shingle alone creates C(30,2)=435 candidate pairs on ONE key —
    // the skew shape that detonates at corpus scale.
    val hot = "alpha beta gamma"
    val synth = (1L to 30L)
      .map(i => (i, s"$hot unique${i}a unique${i}b unique${i}c unique${i}d"))
      .toDF("doc_id", "text")
    val uncapped = Dedup.ngramJaccardPairs(synth, minJaccard = 0.01,
      maxDocFreq = 1000)
    assert(uncapped.count() == 435, "every doc pair meets through the hot shingle")
    val capped = Dedup.ngramJaccardPairs(synth, minJaccard = 0.01, maxDocFreq = 10)
    assert(capped.count() == 0,
      "with the hot shingle capped, disjoint docs generate zero candidates")
  }

  test("ngram jaccard: cap above all document frequencies is a no-op") {
    val a = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2, maxDocFreq = 100)
    val b = Dedup.ngramJaccardPairs(docs, minJaccard = 0.2, maxDocFreq = 1000000)
    assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
  }

  test("corpus diff classifies content by hash with per-side doc counts") {
    import spark.implicits._
    val old = Seq((1L, "kept"), (2L, "kept"), (3L, "dropped")).toDF("doc_id", "text")
    val nw = Seq((10L, "kept"), (11L, "fresh"), (12L, "fresh")).toDF("doc_id", "text")
    val out = Dedup.corpusDiff(old, nw).orderBy("status").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("added", 1L, 0L, 2L),      // "fresh": 1 content, 2 new docs
      ("removed", 1L, 1L, 0L),    // "dropped"
      ("retained", 1L, 2L, 1L)))  // "kept": 2 old copies, 1 new
    // identical corpora: pure retained (no fabricated zero rows)
    val same = Dedup.corpusDiff(old, old).collect()
    assert(same.length == 1 && same(0).getString(0) == "retained")
    // NULL-text content present on both sides is RETAINED (null-safe hash
    // join) — never reported as churned
    val oldN = Seq((1L, Option.empty[String]), (2L, Some("x"))).toDF("doc_id", "text")
    val newN = Seq((9L, Option.empty[String]), (8L, Some("x"))).toDF("doc_id", "text")
    val dn = Dedup.corpusDiff(oldN, newN).collect()
    assert(dn.length == 1 && dn(0).getString(0) == "retained" &&
      dn(0).getLong(1) == 2L)
  }
}
