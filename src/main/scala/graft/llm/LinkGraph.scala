package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.VertexRounds

/** Link-graph analytics over a crawled corpus — the page-quality side of
  * crawl curation: harvested `<a href>` edges ([[Html.links]]) feed
  * centrality signals (PageRank here) that corpus filters weight
  * documents by, the same role the reference corpus-curation literature
  * assigns link-based quality scores next to text-level ones.
  *
  * Scale design: the edge list is the 100 TB-class input. It becomes a
  * persisted, vertex-partitioned adjacency once; each iteration is then one
  * Spark job on [[graft.operators.VertexRounds]] — one shuffle of the
  * contributions by destination — and the superseded iterate is
  * unpersisted, so storage stays O(1) iterates across rounds.
  */
object LinkGraph {

  /** Damped PageRank with constant restart, UNNORMALIZED form:
    *
    *   r₀(v) = 1;  rₜ₊₁(v) = (1−d) + d·Σ_{(u,v)∈E} rₜ(u)/outdeg(u)
    *
    * (the classic formulation without the 1/N scaling — identical
    * ranking, and with d a NEGATIVE POWER OF TWO and power-of-two
    * out-degrees every value is an exactly-representable dyadic
    * rational, so results are bit-identical regardless of partition
    * count or summation order — what lets q155 hash-check an ITERATIVE
    * distributed computation against a SQL oracle with no rounding).
    * Otherwise the contributions to a vertex are summed in shuffle
    * order, which is not fixed, so the last bits of a rank may differ
    * between runs. Vertices with no out-links contribute nothing
    * (dangling mass is dropped, not redistributed); vertices with no
    * in-links settle at 1−d. Edges with a null endpoint and null vertex
    * ids are dropped.
    *
    * @param nodes single-column `v` vertex set (integral ids, type kept)
    * @param edges `src`/`dst` directed edge list (multi-edges count
    *              per-occurrence, as a SQL UNION ALL oracle does)
    */
  def pageRank(nodes: DataFrame, edges: DataFrame, iters: Int,
      damping: Double): DataFrame = {
    require(iters >= 0, s"iters must be >= 0: $iters")
    val idType = VertexRounds.idType(nodes, "v")
    val g = new VertexRounds("LinkGraph.pageRank",
      edges.select(col("src").cast("long"), col("dst").cast("long")), undirected = false)
    val (ranks, _) = g.run(g.keyed(nodes.select(col("v").cast("long")), 1.0), iters)(
        (r: Double, outdeg) => r * (1.0 / outdeg), (a: Double, b: Double) => a + b) {
      case (_, Some(_), c) => Some(((1.0 - damping) + damping * c.getOrElse(0.0), true))
      case (_, None, _) => None // an edge into a vertex outside `nodes`
    }
    g.frame(ranks, "v", "pr", DoubleType)(identity)
      .select(col("v").cast(idType), col("pr"))
  }
}
