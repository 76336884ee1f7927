package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode

/** Writes PLANS.md: a condensed physical-plan audit of every registered
  * query — the reviewable evidence that filters/projections reach the scans
  * (PushedFilters/ReadSchema), dimension joins broadcast, and operators stay
  * inside whole-stage codegen. Regenerate after plan-affecting changes:
  * `sbt "runMain graft.PlanDump"`.
  */
object PlanDump {
  private val Keep = Seq(
    "Scan parquet", "PushedFilters", "ReadSchema", "PartitionFilters",
    "Join", "Exchange", "WholeStageCodegen", "HashAggregate", "Window",
    "Sort ", "Generate", "Expand", "Bucketed", "SelectedBucketsCount",
    // the PQ serving round's row-local SDC fold (the r18 LUT-fold
    // evidence the r18 verdict found missing from this file)
    "zip_with")

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.builder("8").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val sb = new StringBuilder
    sb.append("# PLANS — condensed physical plans of the declared queries\n\n")
    sb.append(s"Generated by `graft.PlanDump` on `$sfDir`. Lines are filtered to\n")
    sb.append("scan/join/exchange/codegen/aggregate nodes; full plans via\n")
    sb.append("`.explain(\"formatted\")` on any registry entry.\n")

    // whole-stage-codegen membership lives in the detail lines the node
    // filter drops — summarize it so "how wide are the codegen spans" is
    // auditable per query (a hot path falling out of codegen shows up as a
    // span-count regression here)
    val CodegenId = "codegen id : (\\d+)".r
    def codegenSummary(plan: String): String = {
      val ids = CodegenId.findAllMatchIn(plan).map(_.group(1)).toList
      // none is legitimate for AQE empty-relation collapses (e.g. q04's
      // empty anti-join) as well as execution failures
      if (ids.isEmpty) "codegen: none"
      else s"codegen: ${ids.size} nodes in ${ids.distinct.size} spans"
    }

    /** Shared dump recipe: finalize AQE by running THIS QueryExecution's
      * plan (`toRdd`; a `df.count()` would spawn a fresh execution) so the
      * formatted string carries [codegen id : N], then filter + summarize.
      * A runtime failure degrades to the statically-planned string rather
      * than losing the section. */
    def dumpSection(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      try df.queryExecution.toRdd.count()
      catch { case _: Throwable => () }
      val plan = df.queryExecution
        .explainString(ExplainMode.fromString("formatted"))
      val kept = plan.linesIterator
        .filter(l => Keep.exists(l.contains)).take(40).mkString("\n")
      sb.append(s"\n## $name\n\n```\n$kept\n${codegenSummary(plan)}\n```\n")
    }

    for (q <- SparkEntry.allQueries) {
      // q79's fn IS the training run (driver-side iterative loop; its
      // result plan is a LocalTableScan that says nothing) — constructing
      // it here would execute ~21 jobs for an empty section; q80 embeds the
      // same learning loop before its encode. Their real stages are dumped
      // lazily in the internals below.
      if (q.name == "q79_bpe_merges" || q.name == "q80_bpe_encode") ()
      else try {
        val df = q.run(spark, sfDir)
        if (q.headline) dumpSection(q.name, df)
        else {
          // non-headline queries are off the timing set for a reason (q49's
          // CSV staging write must stay Verify-only — executing it here
          // would overwrite another SF's staging between that SF's Verify
          // and its DuckDB compare); dump their static plan only
          val plan = df.queryExecution
            .explainString(ExplainMode.fromString("formatted"))
          val kept = plan.linesIterator
            .filter(l => Keep.exists(l.contains)).take(40).mkString("\n")
          sb.append(s"\n## ${q.name}\n\n```\n$kept\ncodegen: not executed (non-headline)\n```\n")
        }
      } catch {
        case e: Throwable =>
          sb.append(s"\n## ${q.name}\n\n(plan unavailable: ${e.getMessage})\n")
      }
    }
    // stages the registry plans above do not show: the BPE fold runs at
    // construction, so its per-stage shapes are dumped lazily here
    import org.apache.spark.sql.functions.col
    val emb = Tables(spark, sfDir, "embeddings")
    val docs = Tables(spark, sfDir, "documents")
    val internals = Seq(
      "bpe_wordcount_stage (q79 engine, corpus-sized)" ->
        graft.llm.Bpe.wordCounts(docs),
      "bpe_paircount_stage (q79 engine, vocab-sized per iteration)" ->
        graft.llm.Bpe.pairCounts(graft.llm.Bpe.initialSymbols(docs)),
      // the dictionary-join encode (q80 engine) with a fixed 2-rule table:
      // the vocab fold runs at construction (checkpointed stages), so the
      // dumped plan is the corpus-side shape — explode, broadcast dict
      // join, positional reassembly, empty-doc union — which is the part
      // whose scale posture needs auditing
      "bpe_encode_dictionary_join (q80 engine)" ->
        graft.llm.Bpe.encodeCorpus(docs,
          Seq(graft.llm.Bpe.Merge("t", "h", 2L), graft.llm.Bpe.Merge("a", "n", 2L))))
    for ((name, df) <- internals) dumpSection(name, df)

    // q273's serving hops are not in its registry plan above (the search
    // returns a driver-held local relation), so dump the node-record
    // probe shape directly: a small persisted index, a 3-id probe, and
    // the scan lines proving FILE-LEVEL bucket pruning
    // (SelectedBucketsCount < total) with no Exchange — autoBucketedScan
    // pinned off exactly as searchIndexed itself pins it (the planner
    // rule otherwise drops the bucketed read for scan-only plans and
    // reads every bucket file)
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val knnCs = emb.filter(col("vec_id") < 12).orderBy("vec_id")
      .select("embedding").collect().map(_.getSeq[Float](0).toArray)
    graft.llm.KnnGraph.saveIndex(
      graft.llm.KnnGraph.build(emb, knnCs, degree = 12, nProbe = 3),
      emb, knnCs, "plandump_knnidx", buckets = 8)
    // the REAL probe shape carries the bkt partition filter beside the
    // vec_id pushdown (probeRecords since r18): partition pruning lists
    // only the probed buckets' directories AND bucket pruning selects
    // their files — both visible in the scan line
    def bktOf(id: Long): Int = {
      val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
      ((h % 8) + 8) % 8
    }
    val probeIds = Seq(1L, 2L, 3L)
    dumpSection("knnidx_record_probe (q273 serving hop, partition+bucket-pruned)",
      spark.table("plandump_knnidx_nodes")
        .filter(col("bkt").isin(probeIds.map(bktOf).distinct.map(x => x: Any): _*) &&
          col("vec_id").isin(probeIds.map(x => x: Any): _*)))
    // the PQ serving ROUND plan (q279/q281 engine): one scored-frontier
    // frame exactly as the beam loop builds it — the scan must read
    // (vec_id, codes, nbrs) with NO embedding column, carry the bkt
    // partition filter + SelectedBucketsCount, and the SDC distance must
    // be the row-local zip_with/aggregate LUT fold with no Exchange
    // between the probe scan and the output (the r18 fold removed the
    // per-round groupBy exchange; the r19 single-probe round carries the
    // neighbor ids out of the same scan)
    graft.llm.KnnGraph.saveIndexPq(
      graft.llm.KnnGraph.build(emb, knnCs, degree = 12, nProbe = 3),
      emb, knnCs, m = 8, dimsPer = 8, nCodebook = 8, cbStart = 12,
      "plandump_knnpq", buckets = 8)
    dumpSection("knnpq_serving_round (q279/q281 engine: probe + LUT fold)",
      graft.llm.KnnGraph.pqRoundPlanForAudit(spark, "plandump_knnpq",
        emb.filter(col("vec_id") < 2), probeIds))

    Files.writeString(Paths.get("PLANS.md"), sb.toString)
    println(s"PLANS.md written (${SparkEntry.allQueries.size} queries + ${internals.size} operator internals)")
    spark.stop()
  }
}
