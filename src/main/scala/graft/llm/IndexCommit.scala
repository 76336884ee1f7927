package graft.llm

import java.io.IOException

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.sources.Bucketing

/** The one write path of every persisted vector index: the k-NN graph
  * ([[KnnGraph.saveIndex]]: `<name>_nodes`, `<name>_entries`, `<name>_cb`),
  * the IVF index ([[Ivf.saveIndex]]: `<name>_cells`, `<name>_centroids`)
  * and the IVFPQ index ([[Pq.saveIndex]]: `<name>_codes`, `<name>_coarse`,
  * `<name>_cb`). Every op that writes one — those saves,
  * [[KnnGraph.saveIndexPqWith]], [[KnnGraph.saveIndexDelta]] (behind
  * [[graft.streaming.StreamingKnnIndex]]), [[KnnGraph.refreshCodebook]] and
  * [[KnnGraph.rebucket]] — hands its new tables to [[write]] as lazy
  * frames, which may read the live tables they replace.
  *
  * Stage, then commit. Every frame is first written in full to
  * `<table>__stage`; the live tables are only read. A failure while staging
  * (a task, the filesystem, a bad input) therefore leaves the previous index
  * serving, byte-identical, and a rerun succeeds: it clears the stale stage
  * first. Only then does the commit run, and it runs no Spark job — just
  * catalog calls and directory renames:
  *  - a whole table: drop the live table, rename the stage table into its
  *    place, and for a bucketed layout re-register the partitions (a rename
  *    leaves every partition location at the stage path, where the renamed
  *    table would silently read 0 rows);
  *  - a bucket-targeted node write (`parts`): swap exactly those `bkt=k`
  *    directories; a listed bucket the stage lacks, because every row left
  *    it, is dropped in the same step.
  * A directory rename that fails raises, in both cases: it is never taken
  * for an emptied bucket.
  *
  * Tables commit in the order given, and every caller gives its bucketed
  * table — `<name>_nodes`, `<name>_cells` or `<name>_codes` — last, after
  * the small tables a search reads beside it. The replay gate of
  * [[graft.streaming.StreamingKnnIndex.ingestBatch]] anti-joins a batch on
  * the node ids, so a batch whose commit was cut before the node swap
  * reruns in full against the unchanged node table, and its entry merge, a
  * per-cell minimum, gives the same medoids over its own committed result.
  * Cut the other way round, the gate would find the new ids and skip the
  * entry write for good. An IVF or IVFPQ save cut mid-commit leaves a
  * centroid or codebook table that no longer matches the cell table; its
  * rerun rewrites all of them. The commit is short but not atomic across
  * tables or partitions, so every index name keeps a single-writer
  * contract: one op at a time writes it, and no search reads it during a
  * commit.
  *
  * A fresh JVM's in-memory catalog forgets a prior run's tables while the
  * warehouse keeps their directories, which would fail the next create:
  * this path deletes both before it writes a stage or renames into a live
  * name. */
private[graft] object IndexCommit {

  /** The bucketed layout of an index's serving table: `n` buckets on
    * `key` — `vec_id` for graph nodes, `cell` for IVF and IVFPQ cells. */
  final case class Buckets(key: String, n: Int)

  /** A table's new contents. A `layout` writes it partitioned on the bucket
    * id `bkt` of its key (so `bkt=k` holds exactly bucket k's rows, one
    * file each), bucketed and sorted on the key. `parts` = Some(ks)
    * replaces only the partitions `bkt=k`; `df` then holds the rows of
    * those buckets. */
  final case class Table(name: String, df: DataFrame,
      layout: Option[Buckets] = None, parts: Option[Seq[Int]] = None)

  /** Stage every table, then commit them in order. */
  def write(tables: Table*): Unit = {
    tables.foreach(stage)
    tables.foreach(commit)
  }

  /** Drop an index's tables, and the stage tables a failed op left, with
    * their directories. */
  def dropIndex(spark: SparkSession, name: String): Unit =
    for (t <- Seq("nodes", "entries", "cb", "cells", "centroids", "codes", "coarse");
         table <- Seq(s"${name}_$t", stageOf(s"${name}_$t")))
      drop(spark, table)

  private def stageOf(table: String): String = s"${table}__stage"

  private def stage(t: Table): Unit = {
    drop(t.df.sparkSession, stageOf(t.name))
    val w = t.layout.fold(t.df.write) { case Buckets(key, n) =>
      t.df.withColumn("bkt", Bucketing.bucketId(col(key), n))
        .repartition(col("bkt"))
        .write.partitionBy("bkt").bucketBy(n, key).sortBy(key)
    }
    w.format("parquet").saveAsTable(stageOf(t.name))
  }

  private def commit(t: Table): Unit = {
    val spark = t.df.sparkSession
    val (live, staged) = (t.name, stageOf(t.name))
    t.parts match {
      case None =>
        drop(spark, live)
        spark.sql(s"ALTER TABLE $staged RENAME TO $live")
        // the catalog ignores a directory rename that returns false
        if (!fsOf(spark).exists(dir(spark, live)))
          throw new IOException(s"IndexCommit: ${dir(spark, live)} missing after rename")
        if (t.layout.nonEmpty) spark.sql(s"ALTER TABLE $live RECOVER PARTITIONS")
      case Some(ks) =>
        val fs = fsOf(spark)
        def at(table: String, k: Int) = new Path(dir(spark, table), s"bkt=$k")
        def spec(k: Seq[Int]) = k.map(b => s"PARTITION (bkt=$b)")
        // a listed bucket the stage lacks is one every row left
        val (moved, emptied) = ks.partition(k => fs.exists(at(staged, k)))
        moved.foreach { k =>
          fs.delete(at(live, k), true)
          // Hadoop reports most rename failures as false, not by raising
          if (!fs.rename(at(staged, k), at(live, k)))
            throw new IOException(s"IndexCommit: cannot rename ${at(staged, k)}")
        }
        if (emptied.nonEmpty)
          spark.sql(s"ALTER TABLE $live DROP IF EXISTS ${spec(emptied).mkString(", ")}")
        if (moved.nonEmpty)
          spark.sql(s"ALTER TABLE $live ADD IF NOT EXISTS ${spec(moved).mkString(" ")}")
        drop(spark, staged)
    }
  }

  private def drop(spark: SparkSession, table: String): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $table")
    fsOf(spark).delete(dir(spark, table), true)
  }

  private def dir(spark: SparkSession, table: String): Path =
    new Path(spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)

  private def fsOf(spark: SparkSession): FileSystem =
    new Path(spark.conf.get("spark.sql.warehouse.dir"))
      .getFileSystem(spark.sessionState.newHadoopConf())
}
