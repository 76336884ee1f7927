package graft.llm

import org.apache.hadoop.fs.{FSDataOutputStream, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.TableIdentifier
import org.apache.spark.sql.functions._

import graft.{SparkSpec, Tables}
import graft.streaming.StreamingKnnIndex

/** The local filesystem, except that creating a file under a path that
  * contains [[FailingLocalFs.failUnder]] throws, a disk that refuses one
  * table's writes, and that renaming a path that contains
  * [[FailingLocalFs.renameFailsUnder]] returns false, as Hadoop reports
  * most rename failures. Installed as `fs.file.impl` for the duration of
  * one op. */
class FailingLocalFs extends LocalFileSystem {
  override def rename(src: Path, dst: Path): Boolean =
    !FailingLocalFs.renameFailsUnder.exists(src.toString.contains) &&
      super.rename(src, dst)

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    FailingLocalFs.failUnder.filter(f.toString.contains).foreach { s =>
      throw new java.io.IOException(s"injected write fault under $s: $f")
    }
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
}

object FailingLocalFs {
  @volatile var failUnder: Option[String] = None
  @volatile var renameFailsUnder: Option[String] = None

  /** Runs `op` with this filesystem installed: file creation under a path
    * containing `under` throws or, with `rename`, renames of such a path
    * return false. */
  def during[T](spark: SparkSession, under: String, rename: Boolean = false)(op: => T): T = {
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.file.impl", classOf[FailingLocalFs].getName)
    conf.setBoolean("fs.file.impl.disable.cache", true)
    if (rename) renameFailsUnder = Some(under)
    else failUnder = Some(under)
    try op
    finally {
      failUnder = None
      renameFailsUnder = None
      conf.unset("fs.file.impl")
      conf.unset("fs.file.impl.disable.cache")
    }
  }

  /** True if `ex` or one of its causes is an injected write fault. */
  def injected(ex: Throwable): Boolean =
    Iterator.iterate(ex)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("injected write fault"))

  /** Leaves a directory with a stray file in the warehouse for each of
    * `tables`, which the catalog does not know: what a crashed JVM leaves. */
  def strayDirs(spark: SparkSession, tables: String*): Unit = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    val fs = wh.getFileSystem(spark.sessionState.newHadoopConf())
    tables.foreach(t => fs.create(new Path(new Path(wh, t), "stray")).close())
  }

  /** The warehouse directories whose names start with `prefix`. */
  def warehouseDirs(spark: SparkSession, prefix: String): Seq[String] = {
    val wh = new Path(spark.conf.get("spark.sql.warehouse.dir"))
    wh.getFileSystem(spark.sessionState.newHadoopConf()).listStatus(wh).toSeq
      .map(_.getPath.getName).filter(_.startsWith(prefix))
  }
}

/** Failure semantics of the k-NN index write path ([[IndexCommit]]): each
  * of the five maintenance ops stages every byte before it changes a live
  * table. A write fault injected through the filesystem, after the op has
  * read the live index, must leave the previous index serving
  * byte-identical results, and rerunning the op must succeed. Also pins
  * that a renamed-into-place table counts all its rows, and that no op
  * leaves an RDD persisted. */
class KnnIndexCommitSpec extends SparkSpec {

  private lazy val emb = Tables(spark, sf0001, "embeddings")
    .select("vec_id", "embedding").filter(col("vec_id") < 240)
  private lazy val cs = emb.filter(col("vec_id") < 12).orderBy("vec_id")
    .select("embedding").collect().map(_.getSeq[Float](0).toArray)
  private def build(e: DataFrame, degree: Int = 12) =
    KnnGraph.build(e, cs, degree, nProbe = 3)
  private def base = emb.filter(col("vec_id") >= 40)
  private def batch = emb.filter(col("vec_id") < 40)
  private def cbOf(e: DataFrame, cbStart: Int) =
    Pq.pinnedCodebook(e, m = 8, dimsPer = 8, nCodebook = 8, cbStart)
  private lazy val queries = emb.filter(col("vec_id") < 6)

  private def savePq(name: String, e: DataFrame, degree: Int = 12): Unit =
    KnnGraph.saveIndexPqWith(build(e, degree), e, cs, cbOf(e, 12), 8, 8,
      name, buckets = 8)

  private def edgeSet(d: DataFrame): Set[(Long, Int, Long)] =
    d.select("src", "rk", "dst").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
  private def loaded(name: String) = edgeSet(KnnGraph.loadIndex(spark, name)._2)

  private def serve(name: String, pq: Boolean): Seq[Seq[Any]] =
    (if (pq) KnnGraph.searchIndexedPq(spark, name, queries, topK = 3,
        beam = 16, rounds = 4, rerank = 8)
      else KnnGraph.searchIndexed(spark, name, queries, topK = 3, beam = 16,
        rounds = 4))
      .select("q_id", "rk", "node", "sim").collect()
      .map(_.toSeq).toSeq.sortBy(r => (r(0).asInstanceOf[Long], r(1).asInstanceOf[Int]))

  private def withFault[T](under: String, rename: Boolean = false)(op: => T): T =
    FailingLocalFs.during(spark, under, rename)(op)

  private def dropIndex(name: String): Unit = IndexCommit.dropIndex(spark, name)

  /** (op, PQ index?, table the fault hits, set-up of the previous index,
    * the op, a check of the rerun's result) */
  private case class Fault(op: String, pq: Boolean, table: String,
      setup: String => Unit, run: String => Unit, after: String => Unit)

  private val faults = Seq(
    Fault("saveIndex", false, "entries",
      n => KnnGraph.saveIndex(build(emb), emb, cs, n, buckets = 8),
      n => KnnGraph.saveIndex(build(emb, 8), emb, cs, n, buckets = 8),
      n => assert(loaded(n) == edgeSet(build(emb, 8)))),
    Fault("saveIndexPqWith", true, "cb",
      n => savePq(n, emb),
      n => savePq(n, emb, 8),
      n => assert(loaded(n) == edgeSet(build(emb, 8)))),
    Fault("ingestBatch", false, "entries",
      n => KnnGraph.saveIndex(build(base), base, cs, n, buckets = 8),
      n => StreamingKnnIndex.ingestBatch(batch, n, cs, 12, 3, 8),
      n => assert(loaded(n) == edgeSet(build(emb)))),
    Fault("ingestBatch", false, "nodes",
      n => KnnGraph.saveIndex(build(base), base, cs, n, buckets = 8),
      n => StreamingKnnIndex.ingestBatch(batch, n, cs, 12, 3, 8),
      n => assert(loaded(n) == edgeSet(build(emb)))),
    Fault("applyChangelog", false, "entries",
      n => KnnGraph.saveIndex(build(emb), emb, cs, n, buckets = 8),
      n => StreamingKnnIndex.applyChangelog(
        batch.withColumn("op", lit("D")), n, cs, 12, 3, 8),
      n => assert(loaded(n) == edgeSet(build(base)))),
    Fault("applyChangelog", false, "nodes",
      n => KnnGraph.saveIndex(build(emb), emb, cs, n, buckets = 8),
      n => StreamingKnnIndex.applyChangelog(
        batch.withColumn("op", lit("D")), n, cs, 12, 3, 8),
      n => assert(loaded(n) == edgeSet(build(base)))),
    Fault("refreshCodebook", true, "cb",
      n => savePq(n, emb),
      n => KnnGraph.refreshCodebook(spark, n, cs, m = 8, dimsPer = 8,
        nCodebook = 8, cbStart = 40, buckets = 8),
      n => {
        assert(loaded(n) == edgeSet(build(emb)))
        assert(Pq.loadCodebook(spark, n)._1.map(_.map(_.toSeq).toSeq).toSeq ==
          cbOf(emb, 40).map(_.map(_.toSeq).toSeq).toSeq)
      }),
    Fault("rebucket", false, "nodes",
      n => KnnGraph.saveIndex(build(emb), emb, cs, n, buckets = 8),
      n => KnnGraph.rebucket(spark, n, cs, buckets = 4),
      n => {
        assert(loaded(n) == edgeSet(build(emb)))
        assert(spark.sessionState.catalog.getTableMetadata(
          TableIdentifier(s"${n}_nodes")).bucketSpec.exists(_.numBuckets == 4))
      }))

  for ((f, i) <- faults.zipWithIndex)
    test(s"${f.op}: a write fault on ${f.table} leaves the previous index serving; a rerun succeeds") {
      val name = s"knn_commit_spec$i"
      try {
        f.setup(name)
        val before = serve(name, f.pq)
        assert(before.nonEmpty)
        val ex = intercept[Exception](withFault(s"/${name}_${f.table}")(f.run(name)))
        assert(FailingLocalFs.injected(ex), ex.toString)
        assert(serve(name, f.pq) == before, "the failed op changed what the index serves")
        f.run(name)
        f.after(name)
      } finally dropIndex(name)
    }

  test("a bucket rename that returns false raises, not drops the bucket") {
    val name = "knn_commit_rename_false"
    try {
      KnnGraph.saveIndex(build(base), base, cs, name, buckets = 8)
      val ex = intercept[java.io.IOException](
        withFault(s"/${name}_nodes__stage/bkt=", rename = true)(
          StreamingKnnIndex.ingestBatch(batch, name, cs, 12, 3, 8)))
      assert(ex.getMessage.contains("cannot rename"), ex.toString)
    } finally dropIndex(name)
    // the failed commit's stage tables go with the index
    val left = FailingLocalFs.warehouseDirs(spark, name).filter(_.contains("__stage"))
    assert(left.isEmpty, s"stage directories left: $left")
  }

  test("a node table renamed into place counts all its rows, per bucket") {
    val name = "knn_commit_rename"
    def perBucket(): Map[Int, Long] = spark.table(s"${name}_nodes")
      .groupBy("bkt").count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    def want(e: DataFrame, b: Int): Map[Int, Long] =
      e.groupBy(graft.sources.Bucketing.bucketId(col("vec_id"), b).as("bkt"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    try {
      KnnGraph.saveIndex(build(base), base, cs, name, buckets = 8)
      assert(perBucket() == want(base, 8))
      StreamingKnnIndex.ingestBatch(batch, name, cs, 12, 3, 8)
      assert(perBucket() == want(emb, 8))
      KnnGraph.rebucket(spark, name, cs, buckets = 4)
      assert(perBucket() == want(emb, 4))
      assert(spark.table(s"${name}_nodes").count() == emb.count())
    } finally dropIndex(name)
  }

  test("no maintenance op leaves an RDD persisted") {
    val sc = spark.sparkContext
    val name = "knn_commit_lineage"
    def same(op: String)(body: => Unit): Unit = {
      val before = sc.getPersistentRDDs.keySet
      body
      val left = sc.getPersistentRDDs.keySet -- before
      assert(left.isEmpty, s"$op left ${left.size} RDDs persisted")
    }
    try {
      same("saveIndexPqWith")(savePq(name, emb))
      same("applyChangelog")(StreamingKnnIndex.applyChangelog(
        batch.withColumn("op", lit("D")), name, cs, 12, 3, 8))
      same("ingestBatch")(StreamingKnnIndex.ingestBatch(batch, name, cs, 12, 3, 8))
      same("refreshCodebook")(KnnGraph.refreshCodebook(spark, name, cs,
        m = 8, dimsPer = 8, nCodebook = 8, cbStart = 40, buckets = 8))
      same("rebucket")(KnnGraph.rebucket(spark, name, cs, buckets = 4))
      same("saveIndex")(KnnGraph.saveIndex(build(emb), emb, cs, name, buckets = 8))
    } finally dropIndex(name)
  }
}
