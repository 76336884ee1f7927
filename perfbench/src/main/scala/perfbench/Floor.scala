package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** `floor`: the frozen list of sub-second registry queries plus the
  * iterative graph operators, on the sf0.1 tables, in a seeded stratified
  * order; the iterative operators run in every round. Each query is
  * consumed through the noop sink; cache and RDD isolation runs between
  * queries, outside the timed windows. The result of every query the run
  * executed is dumped after the loop (Verify's layout) and hashed by the
  * Python side against the oracle-derived expected file. */
final class Floor(spark: SparkSession, bench: Path, data: Path, inputs: Path, seed: Long)
    extends Workload {
  private val list = Workloads.floorList(bench)
  private val module = list.map(x => x._1 -> x._2).toMap
  private val registry = graft.SparkEntry.allQueries.map(q => q.name -> q).toMap
  private val dir = data.toString
  private var order: IndexedSeq[String] = IndexedSeq.empty
  private val executed = ArrayBuffer[String]()

  /** Untimed warm-up: timed registry queries from outside the floor list
    * (joins, aggregates, profiles, and the n-gram dedup
    * pairs and component loop that q62 and q82 share), so the engine's own
    * code is JIT-compiled before the first timed query while no listed
    * query has its generated code cached yet. Without q194 the first of
    * q62/q82 in a round ran 1-2 s slower than the second, which moved the
    * round wall with the seeded order. */
  private val Warm = Seq("q03_revenue_by_nation", "q06_theta_join", "q92_profile_numeric",
    "q194_dedup_survivors")

  private def consume(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def unpin(): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def isolate(): Unit = { unpin(); System.gc() }

  def generate(): Unit = {
    val p = Gen.writeFloor(inputs, list.map(x => (x._1, x._3)), Floor.Iterative, seed)
    order = Files.readAllLines(p).asScala.toIndexedSeq
    val missing = (order ++ Warm).filterNot(registry.contains)
    require(missing.isEmpty, s"queries not in the registry: ${missing.mkString(", ")}")
    val unlisted = Floor.Iterative.filterNot(module.contains)
    require(unlisted.isEmpty, s"iterative queries not in the list: ${unlisted.mkString(", ")}")
  }

  def warm(): Unit = {
    val walls = Warm.map { n =>
      val t0 = System.nanoTime(); consume(registry(n).fn(spark, dir)); (System.nanoTime() - t0) / 1e9
    }
    System.err.println(walls.map(w => f"$w%.2f").mkString("[perfbench] warm-up walls ", " ", " s"))
    isolate()
  }

  /** One round of the stratified order: the iterative operators and one
    * query of every wall block. */
  override def round: Int =
    Floor.Iterative.size + Gen.floorStrata(list.size, Floor.Iterative.size)

  def runOp(i: Int, h: Harness): Unit = {
    val name = order(i % order.size)
    val q = registry(name)
    h.op("query", name, module(name)) {
      h.layer(s"${module(name)}.$name")(consume(q.fn(spark, dir)))
    }
    executed += name
  }

  override def afterOp(i: Int, h: Harness): Unit = isolate()

  /** Dump each named query's result as Verify does (one parquet file,
    * micros timestamps) into `results/`; returns the names that threw. */
  def dump(names: Seq[String]): Seq[(String, String)] = {
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    val out = inputs.getParent.resolve("results")
    names.flatMap { n =>
      val err =
        try { registry(n).fn(spark, dir).coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString); None }
        catch { case e: Throwable => Some(n -> String.valueOf(e.getMessage).take(200)) }
      unpin()
      err
    }
  }

  def finish(h: Harness): Unit = {
    val t0 = System.nanoTime()
    val names = executed.distinct.toSeq
    dump(names).foreach { case (n, e) =>
      h.check(s"query:$n", ok = false, s"result dump failed: $e")
    }
    System.err.println(f"[perfbench] dumped ${names.size} results in ${(System.nanoTime() - t0) / 1e9}%.1f s")
  }

  /** The oracle SQL of every listed query that has one. */
  def oracleSql: Seq[(String, String)] =
    list.flatMap(x => registry(x._1).oracle.map(x._1 -> _))

  def facts: Seq[(String, String)] = Seq(
    "queries_listed" -> list.size.toString,
    "results_dir" -> Json.str("results"))
}

object Floor {
  /** The iterative graph operators: connected components, PageRank, BFS
    * and k-core, one Spark job or more per iteration. */
  val Iterative = Set("q62_connected_dups", "q82_component_stats", "q155_pagerank",
    "q231_bfs_distances", "q232_kcore_peel")
}
