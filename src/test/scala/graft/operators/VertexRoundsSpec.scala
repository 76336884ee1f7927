package graft.operators

import scala.collection.mutable

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame

import graft.SparkSpec
import graft.llm.{Components, LinkGraph}

/** The superstep contract of the iterative graph operators
  * ([[VertexRounds]]): exactly one labelled Spark job per round, the
  * caller's job description left as it was, and a returned frame that
  * survives the loss of every block the operator persisted. */
class VertexRoundsSpec extends SparkSpec {

  import spark.implicits._

  private def path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))

  /** (operator label, rounds it runs on the path graph, the call) */
  private def operators: Seq[(String, Int, () => DataFrame)] = Seq(
    // labels 1 reach vertex 5 in 4 rounds, a 5th confirms the fixpoint
    ("Components.connected", 5, () => Components.connected(path.toDF("id_a", "id_b"))),
    ("Bfs.boundedDistances", 3,
      () => Bfs.boundedDistances(path.toDF("u", "v"), "u", "v", Seq(1L).toDF("id"), 3)),
    // k=2 peels the ends, then the new ends, then the isolated centre
    ("KCore.peelRounds", 3, () => KCore.peelRounds(path.toDF("u", "v"), "u", "v", 2, 3)),
    ("LinkGraph.pageRank", 4, () => LinkGraph.pageRank((1L to 5L).toDF("v"),
      path.toDF("src", "dst"), 4, 0.5)))

  test("each round is exactly one job, labelled with the operator and round") {
    val sc = spark.sparkContext
    val descriptions = mutable.Buffer.empty[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = descriptions.synchronized {
        descriptions += Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")
      }
    }
    sc.addSparkListener(listener)
    try {
      for ((op, rounds, run) <- operators) {
        GraftListenerBus.flush(sc)
        descriptions.synchronized(descriptions.clear())
        sc.setJobDescription("caller")
        try {
          run()
          assert(sc.getLocalProperty("spark.job.description") == "caller",
            s"$op did not restore the caller's job description")
        } finally sc.setJobDescription(null)
        GraftListenerBus.flush(sc)
        assert(descriptions.synchronized(descriptions.toList) ==
          (1 to rounds).map(r => s"$op round $r"))
      }
    } finally sc.removeSparkListener(listener)
  }

  test("the result is recomputed after every block the operator persisted is lost") {
    val sc = spark.sparkContext
    for ((op, _, run) <- operators) {
      val expected = run().collect().toSet
      val before = sc.getPersistentRDDs.keySet
      val out = run()
      (sc.getPersistentRDDs -- before).values.foreach(_.unpersist(blocking = true))
      assert(out.collect().toSet == expected, op)
    }
  }
}
