package graft.operators

import scala.reflect.ClassTag

import org.apache.spark.{HashPartitioner, SparkContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK

/** The superstep of the iterative graph operators (Components, Bfs, KCore,
  * LinkGraph.pageRank). The adjacency of `edges` (two long columns; pairs
  * with a null endpoint dropped; symmetrized with distinct neighbours when
  * `undirected`, multi-edges kept otherwise) is built once, hash-partitioned
  * by vertex id into the session's shuffle partition count and persisted.
  * Vertex state `(id, (value, flagged))` shares that partitioner, so a round
  * is one narrow adjacency ⋈ flagged state, one `reduceByKey` of the
  * messages and one narrow merge, materialized by ONE action that counts
  * the flagged vertices: one Spark job per round, labelled `<op> round <r>`,
  * with no SQL planning or codegen. Rounds are persisted, not checkpointed,
  * so a lost block is recomputed from lineage; the superseded round is
  * unpersisted once the next one is materialized. */
private[graft] final class VertexRounds(op: String, edges: DataFrame, undirected: Boolean) {
  private val spark = edges.sparkSession
  private val part = new HashPartitioner(spark.conf.get("spark.sql.shuffle.partitions").toInt)

  lazy val adj: RDD[(Long, Array[Long])] = {
    val both = undirected // a local: closures must not capture `this`
    edges.queryExecution.toRdd.flatMap { r =>
      if (r.isNullAt(0) || r.isNullAt(1)) Nil
      else if (both) Seq(r.getLong(0) -> r.getLong(1), r.getLong(1) -> r.getLong(0))
      else Seq(r.getLong(0) -> r.getLong(1))
    }.groupByKey(part).mapValues(ns => if (both) ns.toArray.distinct else ns.toArray)
      .persist(MEMORY_AND_DISK)
  }

  /** `vertices`' first column (long, nulls dropped) as flagged state. */
  def keyed[S: ClassTag](vertices: DataFrame, init: S): RDD[(Long, (S, Boolean))] =
    vertices.queryExecution.toRdd
      .flatMap(r => if (r.isNullAt(0)) None else Some(r.getLong(0) -> (init, true)))
      .partitionBy(part)

  /** Runs rounds 1, 2, … until one flags no vertex or `maxRounds` have run.
    * In round r each flagged vertex sends `msg(value, outDegree)` to its
    * neighbours, a vertex's messages combine with `reduce`, and
    * `merge(r, value, combined)` gives its next value and flag (None drops
    * it). Returns the last state and its flagged count (-1 if no round ran);
    * the adjacency, built by the first round if no caller read it, is
    * unpersisted on the way out. */
  def run[S: ClassTag, M: ClassTag](init: RDD[(Long, (S, Boolean))], maxRounds: Int)(
      msg: (S, Int) => M, reduce: (M, M) => M)(
      merge: (Int, Option[S], Option[M]) => Option[(S, Boolean)]): (RDD[(Long, (S, Boolean))], Long) = {
    val sc = spark.sparkContext
    var state = init
    var flagged = -1L
    var r = 0
    try {
      while (r < maxRounds && flagged != 0) {
        r += 1
        val round = r
        val msgs = adj.join(state.filter(_._2._2), part)
          .flatMap { case (_, (ns, (s, _))) => val m = msg(s, ns.length); ns.iterator.map(_ -> m) }
          .reduceByKey(part, reduce)
        val next = state.fullOuterJoin(msgs, part)
          .flatMapValues { case (s, m) => merge(round, s.map(_._1), m) }.persist(MEMORY_AND_DISK)
        flagged = VertexRounds.labelled(sc, s"$op round $round")(next.filter(_._2._2).count())
        state.unpersist(blocking = false)
        state = next
      }
      (state, flagged)
    } finally if (r > 0) adj.unpersist(blocking = false)
  }

  /** The state as rows `(idName: long, valueName: valueType)`. */
  def frame[S](state: RDD[(Long, (S, Boolean))], idName: String, valueName: String,
      valueType: DataType)(value: S => Any): DataFrame =
    spark.createDataFrame(state.map { case (id, (s, _)) => Row(id, value(s)) },
      StructType(Seq(StructField(idName, LongType), StructField(valueName, valueType))))
}

private[graft] object VertexRounds {
  /** Runs `body` with every job it launches labelled `label`, then
    * restores the caller's job description. */
  def labelled[T](sc: SparkContext, label: String)(body: => T): T = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(label)
    try body finally sc.setLocalProperty("spark.job.description", caller)
  }

  /** `df(c)`'s type, which must be integral: ids ride the rounds as longs. */
  def idType(df: DataFrame, c: String): DataType = df.schema(c).dataType match {
    case t @ (ByteType | ShortType | IntegerType | LongType) => t
    case t => throw new IllegalArgumentException(s"vertex ids must be integral: $c is $t")
  }
}
