package graft
import org.apache.spark.sql.SparkSession

import graft.Timing.{consume, isolate}

/** Benchmark main: times every registered query on SPARK_GRAFT_SF_DIR.
  * The LAST stdout line is a compact JSON summary
  * {"metric","value","unit","n_queries","failed","calib","retried",
  *  "healed_total","queries","full","sf"}
  * — deliberately small because the consumer keeps only the tail of stdout;
  * the full per-query wall-time / storage-byte / executor-metric maps are
  * written to SPARK_GRAFT_BENCH_OUT (default ./bench_full_c<cpus>.json —
  * per-core-count since r19, so a low-core scaling pass can't overwrite
  * the main pass's artifact).
  *
  * Env knobs: SPARK_GRAFT_CPUS (default 32), SPARK_GRAFT_ONLY (csv of query
  * names, for iteration), SPARK_GRAFT_WARMUP (default 1 — run a small
  * representative set untimed first so steady-state numbers aren't dominated
  * by JIT/codegen warmup of the first query), SPARK_GRAFT_BENCH_OUT,
  * SPARK_GRAFT_BASELINE (per-query quiet-machine record map, default
  * ./BASELINE_QUERIES.json — drives the contended-outlier retry pass),
  * SPARK_GRAFT_RETRY (default 1; 0 disables the retry pass),
  * SPARK_GRAFT_QUIET_BUDGET (default 600 — global seconds the contention
  * GATES may spend sleeping; 0 disables gating: the run start, every
  * interleaved segment probe, and every retry wait for a nominal probe
  * pair before letting timed work proceed, so queries are measured INTO a
  * quiet host instead of diagnosed after a contended one; per-gate waits,
  * per-query contended flags, and per-retry pre-probe pairs all ship in
  * bench_full.json).
  *
  * Contention self-diagnosis (VERDICT r2 "What's wrong" #1: a machine-
  * contended driver run recorded 5–7× uniform inflation and burned a round
  * on phantom regressions; r6/r7 item: endpoint-only probing missed MID-RUN
  * contention on the shuffle-heavy planted family): TWO fixed-cost probes —
  * a pure-CPU codegen job and a shuffle-sized repartition job — are timed
  * before the query loop, after it, and INTERLEAVED every 15 queries
  * (outside every query's timed window), reported as
  * `calib.{before,after,segments}` in the JSON. Compare against the
  * quiet-machine nominals recorded in BASELINE.md; a segment whose probes
  * read ≥2× nominal marks exactly the queries of that segment as
  * machine-state artifacts, not regressions.
  *
  * Per-query executor metrics (VERDICT r8 "Next round" #1): a
  * [[QueryMetricsListener]] accumulates shuffle read/write bytes, spill,
  * input bytes, executor CPU/run time and peak per-task memory for exactly
  * the tasks inside each query's timed window (listener bus flushed at both
  * edges), written as `"metrics"` in bench_full.json. This turns
  * "driver wall ≫ local wall, probes nominal" from a three-round dispute
  * into arithmetic: same bytes + bigger wall → machine; more bytes → plan
  * regression.
  *
  * Outlier retry pass (VERDICT r8 "Next round" #2; un-gated per r9 "What's
  * wrong" #1): after the main loop, any query whose wall exceeded 3× its
  * quiet-machine record (BASELINE_QUERIES.json) is rerun ONCE, still
  * isolated, with a probe pair bracketing the whole retry block; both
  * walls ship (`"retries"`), so the artifact self-heals from tail
  * contention (r8 published 37 s for q121 whose true wall was 2.5 s)
  * instead of burning a round on it. The gate is wall-only BY DESIGN: r9
  * published 3.88×/3.74×/2.09× walls for q60/q121/q88 with `retried: 0`
  * because the gate then ALSO required a contended bracketing probe — but
  * the pathology being targeted was precisely "driver wall ≫ local under
  * NOMINAL probes", which a conjunctive gate can never heal. Whether a
  * bracketing probe read contended is still recorded per retry
  * (`"contended"`), as evidence rather than a gate. `healed_total` =
  * suite total with each retried query at min(wall, retry_wall).
  */
object Bench {

  /** Fixed-cost CPU probe: 2^28 xxhash64 folds across all cores. Quiet-
    * machine nominal is recorded in BASELINE.md; scale-independent. */
  def calibrate(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    // pmod keeps the ANSI-mode sum far from long overflow (2^28 * 997 << 2^63)
    spark.range(1L << 28).select(sum(pmod(xxhash64(col("id")), lit(997L)))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Fixed-cost SHUFFLE probe: 16M hashed longs through a full
    * repartition-by-key exchange (~128 MB shuffle write+read, no map-side
    * combine to hide it) then a global sum. The endpoint-only CPU probe
    * read NOMINAL across two rounds whose planted/LSH family walls sat
    * 8–12× local records (VERDICT r6 item 5 / r7 item 3): pure-CPU codegen
    * can't see shuffle-spill or memory-bandwidth contention, which is what
    * a shuffle-heavy family actually competes for. This probe runs
    * interleaved between query segments so mid-run contention lands in the
    * artifact next to the queries it affected. */
  def calibrateShuffle(spark: SparkSession): Double = {
    import org.apache.spark.sql.functions._
    val t0 = System.nanoTime()
    spark.range(1L << 24)
      .select(xxhash64(col("id")).as("k"))
      .repartition(col("k"))
      .select(sum(pmod(col("k"), lit(997L)))).head()
    (System.nanoTime() - t0) / 1e9
  }

  /** Quiet-machine probe nominals (BASELINE.md r8 record: CPU 0.44–0.54,
    * shuffle 0.71–1.02 across all seven interleaved segments) and the
    * contended threshold. A probe reading ≥1.5× nominal marks its
    * bracketing segment contended for the retry pass. The nominals were
    * measured on the 32-thread reference host and hold only where they
    * were measured: on a host with fewer cores the same fixed-cost
    * probes read slower at rest (1.20–1.45 s CPU on a quiet 4-core VM),
    * so there no probe counts as contended and no gate sleeps. */
  private val NominalCpu = 0.50
  private val NominalShuffle = 0.90
  private val NominalCores = 32
  private val ContendedFactor = 1.5
  /** Retry a query when its wall exceeds this multiple of its
    * quiet-machine record (wall-only gate — see the scaladoc). 2× rather
    * than the r9 3×: q88's 2.09× driver outlier sat BELOW the old factor,
    * so even the un-gated pass could never have adjudicated it (r10
    * self-review) — and with MaxRetries bounding the pass and retries
    * costing only their own walls, the looser gate is cheap. */
  private val RetryWallFactor = 2.0
  /** Bound on the retry pass (worst case it re-pays the slowest walls; 12
    * retried outliers is already a run the calib story must explain). */
  private val MaxRetries = 12

  private[graft] def isContended(cpu: Double, shuffle: Double,
      cores: Int = Runtime.getRuntime.availableProcessors): Boolean =
    cores >= NominalCores &&
      (cpu >= NominalCpu * ContendedFactor || shuffle >= NominalShuffle * ContendedFactor)

  /** Contention GATING (r17 verdict #2: two consecutive rounds ran
    * host-contended end to end, and a 2.19×-raw artifact cannot carry
    * the perf claim no matter how good the calib forensics are —
    * diagnosis after the fact is strictly worse than not measuring
    * under contention in the first place). Probe; if contended, sleep
    * and re-probe until quiet or the GLOBAL wait budget
    * (SPARK_GRAFT_QUIET_BUDGET seconds, default 600, 0 disables)
    * drains. Every gate's outcome ships in the artifact: a segment that
    * opens quiet makes its queries' walls defensible; a gate that
    * exhausted the budget marks them contended IN the same file. Sleeps
    * happen outside every timed window. */
  private val QuietSleepSec = 15
  private var quietBudgetSec: Double =
    sys.env.getOrElse("SPARK_GRAFT_QUIET_BUDGET", "600").toDouble
  private var quietWaitedSec: Double = 0.0

  /** (cpu, shuffle, waitedSec, quiet): the last probe pair, how long
    * this gate slept, and whether it opened quiet. */
  private def gatedProbe(spark: SparkSession): (Double, Double, Double, Boolean) = {
    var waited = 0.0
    var c = calibrate(spark)
    var s = calibrateShuffle(spark)
    while (isContended(c, s) && quietBudgetSec > 0) {
      val nap = math.min(QuietSleepSec.toDouble, quietBudgetSec)
      Thread.sleep((nap * 1000).toLong)
      waited += nap
      quietBudgetSec -= nap
      quietWaitedSec += nap
      c = calibrate(spark)
      s = calibrateShuffle(spark)
    }
    (c, s, waited, !isContended(c, s))
  }

  /** Storage bytes (memory + disk) currently pinned by cached / local-
    * checkpointed RDDs — recorded per query so a block-pressure regression
    * is visible in the artifact instead of showing up as mystery wall-time
    * on whatever query runs late in the suite. */
  private def storageBytes(spark: SparkSession): Long =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum

  /** Quiet-machine per-query records, written by
    * scripts/update_baseline_queries.py from quiet local bench_full.json
    * runs. Two schemas are accepted: the legacy flat `{"name": wall}` and
    * the current `{"name": {"wall": w, "cpu_sec": …, …}}` (the metrics
    * fields are for scripts/compare_bench.py; the retry gate needs only
    * walls). Real JSON parse (json4s ships with Spark) — the old regex
    * harvest would silently read nested numerics like `"tasks"` as walls
    * if pointed at the wrong file (ADVICE r9). Keys are restricted to
    * `known` (the registered query set) for the same reason. Absent or
    * unparseable file → empty map → retry pass disabled (first run on a
    * new machine has nothing to compare against, which is correct). */
  private[graft] def loadBaselines(path: String, known: Set[String]): Map[String, Double] =
    try {
      import org.json4s._
      val txt = new String(
        java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)),
        java.nio.charset.StandardCharsets.UTF_8)
      def num(v: JValue): Option[Double] = v match {
        case JDouble(d) => Some(d)
        case JDecimal(d) => Some(d.toDouble)
        case JInt(i) => Some(i.toDouble)
        case JLong(l) => Some(l.toDouble)
        case _ => None
      }
      org.json4s.jackson.JsonMethods.parse(txt) match {
        case JObject(fields) =>
          fields.iterator.flatMap {
            case (name, JObject(rec)) =>
              rec.collectFirst { case ("wall", v) => v }.flatMap(num).map(name -> _)
            case (name, v) => num(v).map(name -> _)
          }.filter { case (k, _) => known(k) }.toMap
        case _ => Map.empty
      }
    } catch { case _: Throwable => Map.empty }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // AFTER session init: Spark's logging bootstrap replaces the log4j
    // Configuration, detaching any appender installed earlier
    CodegenGuard.install()

    // every timed run, main loop and retry pass alike, goes through one
    // Timing.Window; a crashed query reads ok = false
    val window = new Timing.Window(spark)
    def timed(q: graft.queries.Q): Timing.Timed[Boolean] =
      window(try { consume(q.fn(spark, sfDir)); true } catch { case _: Throwable => false })

    // non-headline queries (composites of individually-timed operators) stay
    // in the correctness contract but out of the default timing set
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val queries = SparkEntry.allQueries
      .filter(q => only.forall(_.contains(q.name)))
      .filter(q => only.nonEmpty || q.headline)

    if (sys.env.getOrElse("SPARK_GRAFT_WARMUP", "1") == "1") {
      // warm codegen/parquet-reader/shuffle paths and the pure-Column
      // LSH/IVF family (q35 → Rp, q31 → MinHash, q42 → columnar k-means;
      // no timed query touches MLlib anymore) once, untimed — the
      // model-fit family shows ±40% first-run JIT jitter otherwise.
      // q60 is warmed so the planted-fixture parquet memo (interpreted
      // perturb+normalize synthesis, ~3.5 s of TEST SCAFFOLDING shared by
      // q60/q61/q104) builds outside every timed window: previously q60 as
      // first-toucher paid it, deflating the recorded q60/q61 ratio
      val warm = Set(
        "q01_filter_project", "q03_revenue_by_nation", "q23_tumbling_window",
        "q35_ann_lsh", "q31_minhash_neardup", "q42_ivf_topk",
        "q60_neardup_planted")
      SparkEntry.allQueries.filter(q => warm(q.name))
        .foreach(q => try consume(q.fn(spark, sfDir)) catch { case _: Throwable => () })
      isolate(spark) // the warm set leaves checkpoint blocks too
    }

    calibrate(spark) // once untimed: JIT the probe itself
    calibrateShuffle(spark)
    // gated start: don't begin timing into a contended host (r17 #2)
    val (calibBefore, shuffleBefore, waitedStart, _) = gatedProbe(spark)
    // interleaved calibration (VERDICT r7 item 3): every SegEvery queries,
    // time both probes OUTSIDE any query's window and tag the segment with
    // the index of the query that preceded it — per-segment inflation vs
    // the BASELINE.md nominals adjudicates "contention vs regression" for
    // exactly the queries in that segment instead of for the run as a
    // whole. Since r18 each probe point is a GATE: a contended probe
    // sleeps (bounded by the global quiet budget) before the next
    // segment's queries run, and the per-segment waited seconds ship.
    val SegEvery = 15
    val segments = scala.collection.mutable.ArrayBuffer[(Int, Double, Double, Double)]()
    val results = queries.zipWithIndex.map { case (q, i) =>
      val t = timed(q)
      val leftover = storageBytes(spark) // what the query would have leaked
      isolate(spark)
      if ((i + 1) % SegEvery == 0 && i + 1 < queries.size) {
        val (c, s, w, _) = gatedProbe(spark)
        segments += ((i + 1, c, s, w))
      }
      (q.name, t.wall, t.value, leftover, t.metrics)
    }
    val calibAfter = calibrate(spark)
    val shuffleAfter = calibrateShuffle(spark)

    // ---- outlier retry pass (wall-only gate) -------------------------
    // bracketing probes for query index i: the last probe at position <= i
    // (position = #queries completed when the probe ran; "before" is
    // position 0) and the first probe at position > i ("after" = end).
    // Since r10 this is EVIDENCE recorded beside each retry, not a gate —
    // r9's driver run published 3.88×/3.74×/2.09× outliers with retried:0
    // because every probe read nominal, the exact case the pass exists for.
    def contendedAt(i: Int): Boolean = {
      val left = segments.filter(_._1 <= i).lastOption
        .map(s => (s._2, s._3)).getOrElse((calibBefore, shuffleBefore))
      val right = segments.find(_._1 > i)
        .map(s => (s._2, s._3)).getOrElse((calibAfter, shuffleAfter))
      isContended(left._1, left._2) || isContended(right._1, right._2)
    }
    val baselinePath = sys.env.getOrElse("SPARK_GRAFT_BASELINE", "BASELINE_QUERIES.json")
    val baselines = loadBaselines(baselinePath, SparkEntry.allQueries.map(_.name).toSet)
    val retryCandidates =
      if (sys.env.getOrElse("SPARK_GRAFT_RETRY", "1") != "1") Seq.empty
      else results.zipWithIndex.collect {
        case ((name, wall, true, _, _), i)
            if baselines.get(name).exists(b => wall > RetryWallFactor * b) =>
          (name, wall / baselines(name), contendedAt(i))
      }.sortBy(-_._2).take(MaxRetries).map(c => (c._1, c._3))
    val retryCalib =
      if (retryCandidates.isEmpty) None
      else Some((calibrate(spark), calibrateShuffle(spark)))
    // each retry opens with its OWN gate (r18): the healed wall is only
    // defensible if it was minted at nominal calib, so the pre-probe
    // pair and any wait ship beside each retry in the artifact
    val retries: Seq[(String, Double, Boolean, QueryMetrics, Boolean, (Double, Double, Double, Boolean))] =
      retryCandidates.flatMap { case (name, wasContended) =>
        queries.find(_.name == name).map { q =>
          val gate = gatedProbe(spark)
          val t = timed(q)
          isolate(spark)
          (name, t.wall, t.value, t.metrics, wasContended, gate)
        }
      }
    val retryCalibAfter =
      if (retryCandidates.isEmpty) None
      else Some((calibrate(spark), calibrateShuffle(spark)))
    val retryWall: Map[String, Double] =
      retries.collect { case (n, w, true, _, _, _) => n -> w }.toMap

    // a crashed query reports -1 and is excluded from the headline total
    // instead of silently folding its wall time in
    val qs = results.map { case (k, v, ok, _, _) => "\"" + k + "\":" + (if (ok) v else -1.0) }
      .mkString("{", ",", "}")
    val sb = results.map { case (k, _, _, b, _) => "\"" + k + "\":" + b }
      .mkString("{", ",", "}")
    val mx = results.map { case (k, _, _, _, m) => "\"" + k + "\":" + m.json }
      .mkString("{", ",", "}")
    // the zero-`ERROR CodeGenerator` invariant is part of the FAILED
    // accounting, not advisory (r15 advice): an interpreted-fallback
    // wall is not a measurement, and a consumer that only reads
    // `failed` must see it — a violation adds a synthetic entry beside
    // any crashed queries (the JSON line still prints; rc stays 0 so
    // the tail-parsing driver keeps the artifact)
    val failedNames = results.filter(!_._3).map(_._1) ++
      (if (CodegenGuard.count > 0)
         Seq(s"__codegen_invariant__${CodegenGuard.count}") else Nil)
    val failed = failedNames.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = results.filter(_._3).map(_._2).sum
    // healed total: each retried query at min(first wall, retry wall) —
    // what the suite reads with tail contention factored out
    val healedTotal = results.filter(_._3)
      .map { case (k, v, _, _, _) => math.min(v, retryWall.getOrElse(k, v)) }.sum

    // The consumer captures only the TAIL of stdout (BENCH_r3/r4 both came
    // back parsed:null — the full per-query + storage maps pushed the whole
    // record past the captured window). So: the full maps go to a FILE, and
    // the LAST stdout line is a compact summary that always fits.
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val segJson = segments
      .map { case (at, c, s, w) =>
        s"""{"after_query":$at,"cpu":${r3(c)},"shuffle":${r3(s)},"waited":${r3(w)}}""" }
      .mkString("[", ",", "]")
    val retryCalibJson = (retryCalib, retryCalibAfter) match {
      case (Some((c1, s1)), Some((c2, s2))) =>
        s""","retry_before":{"cpu":${r3(c1)},"shuffle":${r3(s1)}},""" +
          s""""retry_after":{"cpu":${r3(c2)},"shuffle":${r3(s2)}}"""
      case _ => ""
    }
    val calibJson =
      s"""{"before":{"cpu":${r3(calibBefore)},"shuffle":${r3(shuffleBefore)}},""" +
      s""""after":{"cpu":${r3(calibAfter)},"shuffle":${r3(shuffleAfter)}},""" +
      s""""segments":$segJson$retryCalibJson}"""
    val retriesJson = retries
      .map { case (n, w, ok, m, contended, (pc, ps, pw, quiet)) =>
        val first = results.find(_._1 == n).map(_._2).getOrElse(-1.0)
        s""""$n":{"wall":${r3(first)},"retry_wall":${if (ok) r3(w) else -1.0},""" +
          s""""contended":$contended,"pre_cpu":${r3(pc)},"pre_shuffle":${r3(ps)},""" +
          s""""pre_waited":${r3(pw)},"pre_quiet":$quiet,""" +
          s""""retry_metrics":${m.json}}"""
      }
      .mkString("{", ",", "}")
    // per-query contended flags (r17 verdict #2's "every >1.5x query
    // carrying an in-artifact contended flag"): derived from the
    // bracketing gated probes, one bool per query in the same file
    val contendedJson = results.zipWithIndex
      .map { case ((k, _, _, _, _), i) => "\"" + k + "\":" + contendedAt(i) }
      .mkString("{", ",", "}")
    val fullJson =
      s"""{"metric":"total","value":$total,"healed_total":${r3(healedTotal)},""" +
      s""""unit":"sec","queries":$qs,"failed":$failed,""" +
      s""""quiet_wait_sec":${r3(quietWaitedSec)},"quiet_wait_start":${r3(waitedStart)},""" +
      s""""contended":$contendedJson,""" +
      s""""storage_bytes":$sb,"metrics":$mx,"retries":$retriesJson,""" +
      s""""baseline_file":"$baselinePath","baseline_known":${baselines.size},""" +
      s""""codegen_errors":${CodegenGuard.count},""" +
      s""""calib":$calibJson,"sf":"$sfDir"}"""
    // default artifact name carries the core count (r18 verdict #8: the
    // driver's low-core scaling pass OVERWROTE the 32-core bench_full.json
    // — the full per-query artifact behind the headline totals was lost);
    // SPARK_GRAFT_BENCH_OUT still overrides for callers that pin a path
    val outPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT",
      s"bench_full_c$cpus.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      fullJson.getBytes(java.nio.charset.StandardCharsets.UTF_8))

    def t(name: String): Option[Double] =
      results.find(r => r._1 == name && r._3).map(_._2)
    def healed(name: String): Option[Double] =
      t(name).map(w => math.min(w, retryWall.getOrElse(name, w)))
    // headline A/B: bucketed near-dup vs its brute-force twin at equal n.
    // As of r9 the WALL ratio at fixture n is near 1 BY DESIGN — the brute
    // twin now parallelizes honestly (pre-r9 it ran ~serial on a 1-split
    // scan, which is what inflated every earlier ≥5× wall figure) and both
    // walls at n=6000 are stage-floor-bound. The scale-transferable number
    // is the WORK ratio (executor CPU), which grows ∝n: brute is O(n²)
    // work, bucketed ~O(n). Both ship in the tail; the wall-separation
    // curve lives in ScaleStress --planted and BASELINE.md.
    val speedup = for (b <- t("q61_neardup_planted_brute"); f <- t("q60_neardup_planted"))
      yield b / f
    val speedupHealed = for (b <- healed("q61_neardup_planted_brute");
        f <- healed("q60_neardup_planted")) yield b / f
    def cpuOf(name: String): Option[Double] =
      results.find(r => r._1 == name && r._3).map(_._5.cpuSec).filter(_ > 0)
    val workRatio = for (b <- cpuOf("q61_neardup_planted_brute");
        f <- cpuOf("q60_neardup_planted")) yield b / f
    def r2(v: Double): Double = math.round(v * 100) / 100.0
    val hl = (t("q60_neardup_planted").map(v => s""""q60_neardup_planted":$v""") ++
      t("q61_neardup_planted_brute").map(v => s""""q61_neardup_planted_brute":$v""") ++
      speedup.map(r => s""""q60_q61_speedup":${r2(r)}""") ++
      workRatio.map(r => s""""q60_q61_work_ratio":${r2(r)}""") ++
      speedupHealed.filter(h => !speedup.contains(h))
        .map(r => s""""q60_q61_speedup_healed":${r2(r)}"""))
      .mkString(",")
    // stop() BEFORE the final println: its (stderr) shutdown chatter must
    // not interleave after the JSON line the consumer tail-parses
    // the stdout tail line must stay small (the consumer keeps only the
    // tail of stdout — BENCH_r3/r4 were lost to oversized records): segments
    // compact to [after_query, cpu, shuffle] triples; the labeled form
    // lives in bench_full.json. (The r8 consumer parsed this nested calib
    // shape — BENCH_r08.json "parsed" carries it — so the shape is kept.)
    val segCompact = segments
      .map { case (at, c, s, _) => s"[$at,${r3(c)},${r3(s)}]" }
      .mkString("[", ",", "]")
    val calibCompact =
      s"""{"before":[${r3(calibBefore)},${r3(shuffleBefore)}],""" +
      s""""after":[${r3(calibAfter)},${r3(shuffleAfter)}],""" +
      s""""segs_cpu_shuffle":$segCompact}"""
    spark.stop()
    println(s"full per-query metrics -> $outPath")
    // zero-`ERROR CodeGenerator` invariant, asserted (r14 maintenance):
    // an interpreted-fallback bench wall is not a measurement — surface
    // the count in the artifact AND fail loudly on stderr (the JSON line
    // must still print: the consumer tail-parses stdout)
    if (CodegenGuard.count > 0)
      System.err.println(s"[bench] CODEGEN INVARIANT VIOLATED: " +
        CodegenGuard.report)
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.count(_._3)},""" +
      s""""failed":$failed,"retried":${retries.size},"healed_total":${r3(healedTotal)},""" +
      s""""codegen_errors":${CodegenGuard.count},""" +
      s""""calib":$calibCompact,""" +
      s""""quiet_wait_sec":${r3(quietWaitedSec)},""" +
      s""""queries":{$hl},"full":"$outPath","sf":"$sfDir"}""")
  }
}
