package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.llm.{KnnGraph, Similarity}
import graft.streaming.StreamingKnnIndex

/** `knn-serve`: one closed-loop client against a persisted k-NN graph
  * index. Every `WriteEvery`-th request is a write (alternately an
  * 8-vector `ingestBatch` and an 8-id delete `applyChangelog`); the rest
  * are `searchIndexed` requests of 4 queries, results collected. Set-up
  * rebuilds the index from the generated corpus, so every run starts from
  * the same state. */
final class KnnServe(spark: SparkSession, inputs: Path, warehouse: Path, seed: Long)
    extends Workload {
  import KnnServe._
  private val S = Workloads.KnnSizesDefault
  private val nCells = math.max(16, S.n / 64)
  private var base: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var pool: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var inserts: IndexedSeq[(Long, Array[Float])] = IndexedSeq.empty
  private var deletes: IndexedSeq[Long] = IndexedSeq.empty
  private var cs: Array[Array[Float]] = Array.empty
  private var searches = 0
  private var writes = 0
  private val recalls = ArrayBuffer[Double]()

  private val schema = StructType(Seq(
    StructField("vec_id", LongType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false)))

  private def frame(rows: Seq[(Long, Array[Float])]): DataFrame =
    spark.createDataFrame(rows.map { case (id, v) => Row(id, v.toSeq) }.asJava, schema)

  private def readVecs(name: String): IndexedSeq[(Long, Array[Float])] =
    Files.readAllLines(inputs.resolve(name)).asScala.toIndexedSeq.map { l =>
      val Array(id, v) = l.split(",", 2)
      (id.toLong, v.split(" ").map(_.toFloat))
    }

  private def bucketOf(id: Long): Int = {
    val h = org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(id, 42)
    ((h % Buckets) + Buckets) % Buckets
  }

  /** Request k's 4 query vectors; the last slots of the pool are the
    * warm-up requests. */
  private def request(k: Int): Seq[(Long, Array[Float])] = {
    val slots = pool.size / QueriesPerRequest - WarmRequests
    pool.slice((k % slots) * QueriesPerRequest, (k % slots + 1) * QueriesPerRequest)
  }

  private def search(q: DataFrame, onProbe: Seq[Long] => Unit): Set[(Long, Int, Long)] =
    KnnGraph.searchIndexed(spark, Index, q, TopK, Beam, Rounds, onProbe)
      .select("q_id", "rk", "node").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet

  def generate(): Unit = {
    Gen.writeKnn(inputs, S, seed)
    base = readVecs("knn_base.txt")
    pool = readVecs("knn_queries.txt")
    inserts = readVecs("knn_inserts.txt")
    deletes = Files.readAllLines(inputs.resolve("knn_deletes.txt")).asScala.toIndexedSeq.map(_.toLong)
    cs = base.take(nCells).map(_._2).toArray
  }

  /** Build and persist the index, then serve a few untimed requests. */
  def warm(): Unit = {
    val emb = frame(base)
    val edges = KnnGraph.build(emb, cs, Degree, NProbe).localCheckpoint(true)
    KnnGraph.saveIndex(edges, emb, cs, Index, Buckets)
    edges.unpersist(blocking = true)
    val slots = pool.size / QueriesPerRequest
    for (w <- 0 until WarmRequests) {
      val k = slots - 1 - w
      search(frame(pool.slice(k * QueriesPerRequest, (k + 1) * QueriesPerRequest)), null)
    }
    searches = 0; writes = 0
    recalls.clear()
  }

  private var lastSearch: (DataFrame, Set[(Long, Int, Long)]) = _

  def runOp(i: Int, h: Harness): Unit =
    if (i % WriteEvery == WriteEvery - 1) {
      val k = writes / 2
      val ingest = writes % 2 == 0
      writes += 1
      val batch =
        if (ingest) frame(inserts.slice(k * S.batchSize, (k + 1) * S.batchSize))
        else {
          val ids = deletes.slice(k * S.batchSize, (k + 1) * S.batchSize)
          frame(ids.map(id => (id, Array.fill(S.dim)(0f)))).withColumn("op", lit("D"))
        }
      h.op("write", if (ingest) s"ingest-$k" else s"delete-$k", "streaming") {
        val receipt =
          if (ingest) h.layer("streaming.ingestBatch")(
            StreamingKnnIndex.ingestBatch(batch, Index, cs, Degree, NProbe, Buckets))
          else h.layer("streaming.applyChangelog")(
            StreamingKnnIndex.applyChangelog(batch, Index, cs, Degree, NProbe, Buckets))
        h.count("write_b", receipt._2.toDouble)
        h.count("buckets_rewritten", receipt._1.size.toDouble)
        h.count("buckets", Buckets.toDouble)
      }
      lastSearch = null
    } else {
      val k = searches
      searches += 1
      val q = frame(request(k))
      val onProbe: Seq[Long] => Unit =
        if (!h.traced) null
        else ids => {
          h.count("probes", 1)
          h.count("probe_ids", ids.size.toDouble)
          h.count("buckets_read", ids.map(bucketOf).distinct.size.toDouble)
          h.count("buckets", Buckets.toDouble)
        }
      var got: Set[(Long, Int, Long)] = Set.empty
      h.op("search", s"search-$k", "llm") {
        got = h.layer("llm.searchIndexed")(search(q, onProbe))
      }
      lastSearch = if (k % CheckEvery == 0) (q, got) else null
    }

  /** Sampled search check, outside the timed window and against the index
    * state that served the request: the served result must equal
    * `KnnGraph.search` over `KnnGraph.loadIndex`, and its recall@10
    * against exact `Similarity.cosineTopK` is recorded. */
  override def afterOp(i: Int, h: Harness): Unit = if (lastSearch != null) {
    val (q, got) = lastSearch
    lastSearch = null
    val (emb, edges) = KnnGraph.loadIndex(spark, Index)
    val want = KnnGraph.search(edges, emb, q, KnnGraph.entryPoints(emb, cs), TopK, Beam, Rounds)
      .select("q_id", "rk", "node").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    h.check(s"search-equals-loadIndex:op$i", got == want,
      s"served ${got.size} rows, in-memory ${want.size}")
    val exact = Similarity.cosineTopK(emb, q, TopK).select("q_id", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val served = got.map(x => (x._1, x._3))
    recalls += (if (exact.isEmpty) 0.0 else exact.count(served.contains).toDouble / exact.size)
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  /** After the loop: the maintained edges must equal a fresh build over
    * the final corpus (the rebuild law), and recall must meet its bound. */
  def finish(h: Harness): Unit = {
    val (emb, edges) = KnnGraph.loadIndex(spark, Index)
    val got = edges.select("src", "rk", "dst").localCheckpoint(true)
    val want = KnnGraph.build(emb, cs, Degree, NProbe).select("src", "rk", "dst").localCheckpoint(true)
    val extra = got.exceptAll(want).count()
    val missing = want.exceptAll(got).count()
    h.check("rebuild-law", extra == 0 && missing == 0, s"extra=$extra missing=$missing")
    val meanRecall = if (recalls.isEmpty) Double.NaN else recalls.sum / recalls.size
    h.check("recall-at-10", recalls.nonEmpty && meanRecall >= RecallBound,
      f"mean $meanRecall%.4f over ${recalls.size} sampled searches, bound $RecallBound")
  }

  def facts: Seq[(String, String)] = Seq(
    "n" -> S.n.toString, "buckets" -> Buckets.toString, "cells" -> nCells.toString,
    "recall_at_10" -> recalls.map(Json.num).mkString("[", ",", "]"),
    "stored_b" -> dirBytes(warehouse).toString)
}

object KnnServe {
  val Index = "perfbench_knn"
  val Degree = 12
  val NProbe = 3
  val Buckets = 16
  val TopK = 10
  val Beam = 16
  val Rounds = 4
  val QueriesPerRequest = 4
  val WarmRequests = 3
  /** One request in five is a write. */
  val WriteEvery = 5
  /** Every fourth search is checked. */
  val CheckEvery = 4
  /** Mean recall@10 of the sampled searches; 0.875 measured on seed 3. */
  val RecallBound = 0.8

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
}
