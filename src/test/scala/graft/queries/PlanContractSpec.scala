package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Scale-contract pins on PHYSICAL PLANS (the FixtureSchemaSpec idea
  * applied to plan shape): the properties that make the headline operators
  * survive a 100× scale-up — filters reaching the scan, columns pruned,
  * dimension joins broadcast, theta/range joins planned as equi+range
  * rather than nested loops, row-local signals staying shuffle-free,
  * bounded window frames — are asserted here against the statically
  * planned query, so a regression fails a spec instead of shipping and
  * waiting for a bench round to notice (q121's quadratic frame survived
  * two rounds exactly because nothing pinned its plan). Planning only —
  * nothing executes; AQE renders its initial plan, which is where these
  * static properties live.
  */
class PlanContractSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf0001).queryExecution.executedPlan.toString

  test("q01: filter is pushed to the parquet scan and columns are pruned") {
    val p = plan("q01_filter_project")
    // per-predicate substrings, not the full bracketed list: the exact
    // literal rendering / ordering of PushedFilters is a Spark formatting
    // detail that can change across versions without any pushdown
    // regression (ADVICE r8) — what matters is that BOTH predicates name
    // l_quantity inside the pushed set
    val pushed = p.linesIterator.find(_.contains("PushedFilters")).getOrElse("")
    assert(pushed.contains("GreaterThan(l_quantity") &&
        pushed.contains("IsNotNull(l_quantity"),
      s"the quantity predicate no longer reaches the scan: $pushed")
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_quantity:") && !readSchema.contains("l_returnflag"),
      s"column pruning regressed: $readSchema")
  }

  test("q03: dimension joins broadcast; no sort-merge, loop, or cartesian join") {
    val p = plan("q03_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), "dimension joins stopped broadcasting")
    for (bad <- Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(bad), s"$bad appeared in the star-join plan")
  }

  test("q06: theta join plans as equi-join + range condition, not a nested loop") {
    val p = plan("q06_theta_join")
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p.contains(bad), s"$bad appeared — the theta join degenerated")
  }

  test("q68/q75: binned range joins never plan a loop or cartesian join") {
    for (name <- Seq("q68_range_join", "q75_interval_overlap")) {
      val p = plan(name)
      for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(bad), s"$bad appeared in $name")
    }
  }

  test("q119: char entropy stays row-local — no hash exchange anywhere") {
    // the quality signal's whole point is zero shuffle at corpus scale;
    // only the output-ordering range exchange is allowed
    val p = plan("q119_char_entropy")
    assert(!p.contains("Exchange hashpartitioning"),
      "a hash shuffle appeared in the row-local entropy query")
  }

  test("LSH candidate joins stay bucketed equi-joins, never loops or all-pairs") {
    // the near-dup/ANN scale story rests on candidates flowing through
    // band-bucket equi-joins (q61's brute twin is the DELIBERATE all-pairs
    // denominator and is not pinned here)
    import spark.implicits._
    val emb = graft.Tables(spark, sf0001, "embeddings")
    val docs = graft.Tables(spark, sf0001, "documents")
    val dhash = Seq((1L, true, 9, 8, 5L, 7L), (2L, true, 9, 8, 5L, 6L))
      .toDF("doc_id", "valid", "width", "height", "dhash_hi", "dhash_lo")
    val ahash = Seq((1L, true, 64, 5L), (2L, true, 64, 4L))
      .toDF("doc_id", "valid", "n_samples", "ahash")
    // every caller of the one kernel, graft.llm.Lsh.bucketPairs
    val engines = Seq(
      "rp_cosine (q47)" -> graft.llm.Rp.cosineNearPairs(emb, 0.3),
      "rp_l2 (q35)" -> graft.llm.Rp.l2NearPairs(emb, 1.0),
      "minhash (q31)" -> graft.llm.MinHash.pairs(docs),
      "ngram_jaccard (q33)" -> graft.llm.Dedup.ngramJaccardPairs(docs, 0.2),
      "winnow (q86)" -> graft.llm.Dedup.winnowPairs(docs),
      "simhash (q64)" -> graft.llm.Dedup.simhashPairs(docs),
      "image (q133)" -> graft.llm.ImageHash.nearDupPairs(dhash),
      "audio (q136)" -> graft.llm.AudioHash.nearDupPairs(ahash))
    for ((name, df) <- engines) {
      val p = df.queryExecution.executedPlan.toString
      for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(bad), s"$bad appeared in the $name candidate join")
    }
  }

  test("compute-starved scans are spread: brute pair scan and profiler fan out") {
    // the r9 finding: a small parquet input is ONE split, and operators
    // whose cost is per-row compute (the O(n²) pair scorer, the profiler's
    // distinct Expand) inherit that parallelism — q61 measured 5 tasks
    // with cpu ≈ wall ≈ 50 s on 32 cores. Parallelism.spread plans a
    // round-robin exchange below the compute; pin it so a refactor can't
    // quietly reintroduce the serial plan.
    for (name <- Seq("q61_neardup_planted_brute", "q90_profile")) {
      assert(plan(name).contains("RoundRobinPartitioning"),
        s"$name lost its spread exchange — the compute stage runs at scan parallelism")
    }
  }

  test("q130/q133: the r10 dedup joins stay equi-joins, never loops or all-pairs") {
    // q130's repeated-gram semi-join and q133's band-key join carry the
    // same scale contract as the text LSH family: candidates flow through
    // key equi-joins (broadcast or shuffled), and a planner regression to
    // a nested loop would turn the corpus-scale pair space into the join
    // input
    for (name <- Seq("q130_substring_dedup", "q133_image_neardup",
        "q136_audio_neardup")) {
      val p = plan(name)
      for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(bad), s"$bad appeared in $name")
    }
    // q130's gram fan-out must not run at scan parallelism (the r10 A/B)
    assert(plan("q130_substring_dedup").contains("RoundRobinPartitioning"),
      "q130 lost its spread exchange below the window fan-out")
  }

  test("q139/q141: the r11 dedup joins stay equi-joins, never loops or all-pairs") {
    // q139's segment-pigeonhole candidate join (EditDistanceSpec pins the
    // operator on a synthetic corpus; this pins the REGISTERED fixture
    // plan) and q141's canonical-URL group-dedup carry the same contract:
    // a planner regression to a nested loop would square the corpus
    for (name <- Seq("q139_edit_distance_join", "q141_url_dedup",
        "q147_video_dedup")) {
      val p = plan(name)
      for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
        assert(!p.contains(bad), s"$bad appeared in $name")
    }
  }

  test("q105/q36: window frames stay bounded-range or accumulating") {
    // q105's 10-minute trailing window must plan as a RangeFrame (two-
    // pointer sliding evaluation); no registry window may reintroduce the
    // O(n²)-per-key UnboundedFollowing rescan q121 shipped with in r6/r7
    val p105 = plan("q105_time_range_frame").toLowerCase
    assert(p105.contains("rangeframe"), "q105 lost its RANGE frame")
    for (name <- Seq("q105_time_range_frame", "q36_asof_join",
        "q88_resample_ffill", "q121_resample_interpolate", "q10_window_running")) {
      assert(!plan(name).toLowerCase.contains("unboundedfollowing"),
        s"an UnboundedFollowing frame appeared in $name")
    }
  }

  test("r13 ANN/composite queries: no loops, no cartesians, bounded exchanges") {
    // q189 IVFPQ: row-local scoring + ONE top-k window — exactly one hash
    // exchange (the window's), no join of any kind in the plan
    val p189 = plan("q189_ivfpq_search")
    assert("Exchange hashpartitioning".r.findAllIn(p189).size == 1,
      "q189 grew beyond its single top-k window exchange")
    for (bad <- Seq("SortMergeJoin", "BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p189.contains(bad), s"$bad appeared in q189")
    // q190 quality gate: row-local single pass — zero exchanges before
    // the presentation sort
    val p190 = plan("q190_quality_classifier")
    assert(!p190.contains("Exchange hashpartitioning"),
      "q190's row-local scan gained a hash exchange")
    // q192 ASR assembly: the as-of union must plan as the single-window
    // shape, never a loop/cartesian between segments and cues
    val p192 = plan("q192_asr_segments")
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p192.contains(bad), s"$bad appeared in q192")
    assert(!p192.toLowerCase.contains("unboundedfollowing"),
      "an UnboundedFollowing frame appeared in q192")
  }

  test("r14 continuation: grid/trigram joins stay equi-joins; OLS is one aggregate") {
    // q225 grid radius join: candidate generation must remain the
    // cell-keyed equi-join — a loop or cartesian means the 9-cell
    // neighborhood degenerated to the all-pairs scan it exists to avoid
    val p225 = plan("q225_grid_radius_join")
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p225.contains(bad), s"$bad appeared in q225")
    // q226 trigram search: postings joins are equi on tri/pattern/doc_id
    val p226 = plan("q226_trigram_search")
    for (bad <- Seq("BroadcastNestedLoopJoin", "CartesianProduct"))
      assert(!p226.contains(bad), s"$bad appeared in q226")
    // q221 OLS: the five statistics fold in ONE hash aggregate — the
    // plan may hold exactly one pair of partial/final agg exchanges and
    // no join (a second scan or join means the sufficient-statistics
    // fold regressed to multiple passes)
    val p221 = plan("q221_ols_trend")
    assert(!p221.contains("Join"), "a join appeared in q221's single fold")
    assert("Exchange hashpartitioning".r.findAllIn(p221).size == 1,
      "q221 grew beyond its single aggregate exchange")
  }
}
