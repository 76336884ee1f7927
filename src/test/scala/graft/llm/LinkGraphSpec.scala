package graft.llm

import graft.SparkSpec

class LinkGraphSpec extends SparkSpec {

  private def run(nodes: Seq[Long], edges: Seq[(Long, Long)], iters: Int)
      : Map[Long, Double] = {
    import spark.implicits._
    LinkGraph.pageRank(
      nodes.toDF("v"), edges.toDF("src", "dst"), iters, damping = 0.5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("hand-computed 3-node graph, exact dyadic values per iteration") {
    val nodes = Seq(0L, 1L, 2L)
    val edges = Seq(0L -> 1L, 0L -> 2L, 1L -> 2L) // 2 is dangling (no out)
    assert(run(nodes, edges, 0) == Map(0L -> 1.0, 1L -> 1.0, 2L -> 1.0))
    // r1: no-inlink node settles at 1-d; dangling mass is dropped
    assert(run(nodes, edges, 1) == Map(0L -> 0.5, 1L -> 0.75, 2L -> 1.25))
    assert(run(nodes, edges, 2) == Map(0L -> 0.5, 1L -> 0.625, 2L -> 1.0))
  }

  test("multi-edges contribute per occurrence (UNION ALL semantics)") {
    val got = run(Seq(0L, 1L), Seq(0L -> 1L, 0L -> 1L), 1)
    // outdeg(0)=2, both edges land on 1: c = 2 * (1.0/2) = 1.0
    assert(got == Map(0L -> 0.5, 1L -> 1.0))
  }

  test("edges to vertices outside the node set drop their mass") {
    val got = run(Seq(0L, 1L), Seq(0L -> 1L, 0L -> 99L), 1)
    assert(got == Map(0L -> 0.5, 1L -> 0.75))
  }

  test("superseded iterates unpersist: storage stays O(1) across rounds") {
    // each round persists the new iterate; without the explicit unpersist
    // of the previous one, 8 rounds leave 8 persisted RDD handles for the
    // ContextCleaner to maybe reclaim
    import spark.implicits._
    val chain = Seq.tabulate(8)(i => (i.toLong, i + 1L))
    val runs = Seq[(String, () => Unit)](
      "LinkGraph.pageRank" -> (() => run(Seq(0L, 1L, 2L), Seq(0L -> 1L, 0L -> 2L, 1L -> 2L), 8)),
      "Components.connected" -> (() => Components.connected(chain.toDF("id_a", "id_b")).collect()),
      "Bfs.boundedDistances" -> (() => graft.operators.Bfs.boundedDistances(
        chain.toDF("u", "v"), "u", "v", Seq(0L).toDF("id"), 8).collect()),
      "KCore.peelRounds" -> (() => graft.operators.KCore.peelRounds(
        chain.toDF("u", "v"), "u", "v", 2, 8).collect()))
    for ((op, call) <- runs) {
      val before = spark.sparkContext.getPersistentRDDs.keySet
      call()
      val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
      // at most the FINAL iterate may remain persisted (the adjacency is
      // unpersisted in the finally; all superseded iterates dropped)
      assert(leaked.size <= 1, s"$op leaked persisted RDDs: $leaked")
    }
  }
}
