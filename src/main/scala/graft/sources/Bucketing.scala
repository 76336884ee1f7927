package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Bucketed-table layout (B3's scale-critical variant): pre-shuffle fact
  * tables into `buckets` hash buckets on their join key AT INGEST, so every
  * later co-bucketed equi-join runs with ZERO exchanges — both sides are
  * already partitioned identically and Spark's bucketing metadata proves it
  * to the planner.
  *
  * This is the single largest measured win in the repo's scale-stress
  * (BASELINE.md): at 16× sf0.1, fact⋈fact took 49.8 s as a mis-chosen
  * broadcast join, 25.5 s as sort-merge with exchanges, 0.84 s co-bucketed
  * — 30× over SMJ, because the shuffle of both fact tables disappears and
  * only the per-bucket merge remains. The spec asserts the plan shape (no
  * shuffle Exchange under the join), not just the numbers.
  *
  * Bucketing requires the table catalog (`saveAsTable`) — bucket metadata
  * lives in the metastore, not in the files.
  */
object Bucketing {

  /** Write `df` as a managed parquet table bucketed AND sorted on `key`
    * (sorting within buckets lets the join skip its per-bucket sort too). */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int = 32): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Equi-join two co-bucketed tables on their shared bucket key. With both
    * sides bucketed identically this plans with no Exchange under the join
    * (asserted in BucketingSpec). */
  def coLocatedJoin(
      spark: SparkSession, left: String, right: String, key: String): DataFrame =
    spark.table(left).join(spark.table(right), key)

  /** The bucket id Spark's own bucketing assigns `c` in a `buckets`-bucket
    * table: pmod(murmur3(c, seed 42), buckets) — `functions.hash` IS that
    * murmur3, so this column is exactly `HashPartitioning
    * .partitionIdExpression`. Used both as the partition column of the
    * k-NN index's node records ([[graft.llm.IndexCommit]]) and by counters
    * that account bucket-pruned IO. */
  def bucketId(c: Column, buckets: Int): Column = pmod(hash(c), lit(buckets))

  /** On-disk bytes of the given `bkt` partitions (all partitions when
    * `bkts` is None) — the write-amplification counter the maintenance
    * curves report: bytes rewritten per batch vs total index bytes. */
  def partitionBytes(spark: SparkSession, table: String,
      bkts: Option[Seq[Int]] = None): Long = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sql(s"DESCRIBE TABLE EXTENDED $table")
        .filter(col("col_name") === "Location")
        .head().getString(1))
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    def du(p: org.apache.hadoop.fs.Path): Long =
      if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    bkts match {
      case Some(ks) => ks.map(k => du(new org.apache.hadoop.fs.Path(loc, s"bkt=$k"))).sum
      case None => du(loc)
    }
  }
}
