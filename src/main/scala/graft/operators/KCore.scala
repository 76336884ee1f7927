package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bounded-round k-core peeling — iteratively remove vertices whose
  * REMAINING degree is below k: the density-tier decomposition behind
  * "which part of this link graph is a genuinely dense community and
  * which is fringe" (spam-farm cores vs long-tail pages in web-graph
  * curation, the densest-subgraph screen in social graphs). The graph
  * trio asks connected/central/clustered (q62/q155/q214), BFS asks
  * how far (q231); this asks HOW DEEP each vertex sits.
  *
  * Exactly `rounds` peel rounds define the result — the bound is the
  * CONTRACT: each vertex is labeled with the round that removed it
  * (1-based) or 0 for surviving every round, a truncated coreness ladder
  * (the oracle replays it as chained aggregating CTEs). A round that peels
  * nobody leaves every later round unchanged, so the loop stops there.
  *
  * Per round, on [[VertexRounds]] (one Spark job): the vertices peeled in
  * the previous round send 1 to each neighbor, a live vertex's degree
  * drops by the sum, and a live vertex below k is peeled — including
  * isolated-by-peeling ones at degree 0, which must not linger as phantom
  * survivors. Self-loops and pairs with a null endpoint are dropped. */
object KCore {

  /** (id, removed_round): 1-based round that peeled the vertex, 0 =
    * survived all `rounds` at degree ≥ k. */
  def peelRounds(edges: DataFrame, idA: String, idB: String, k: Int,
      rounds: Int): DataFrame = {
    require(k >= 1, s"k must be positive: $k")
    require(rounds >= 1 && rounds <= 64, s"rounds out of range: $rounds")
    val g = new VertexRounds("KCore.peelRounds",
      edges.select(col(idA).cast("long").as("u"), col(idB).cast("long").as("v"))
        .filter(col("u") =!= col("v")), undirected = true)
    // (live degree, removed round); flagged = peeled in the last round
    val degrees = g.adj.mapValues(ns => ((ns.length, 0), false))
    val (state, _) = g.run(degrees, rounds)((_: (Int, Int), _) => 1, (a: Int, b: Int) => a + b) {
      case (r, Some((d0, 0)), m) =>
        val d = d0 - m.getOrElse(0)
        Some(if (d < k) ((d, r), true) else ((d, 0), false))
      case (_, s, _) => s.map((_, false))
    }
    g.frame(state, "id", "removed_round", IntegerType)(_._2)
  }
}
