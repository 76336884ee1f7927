package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Bounded-hop BFS distances — min hop count from a SOURCE SET to
  * every vertex within `maxHops`, the multi-source shortest-path
  * question behind "how far is every page from a seed/spam set"
  * (link-distance features in crawl curation, TrustRank's first step)
  * and "which records are ≤ k joins from a flagged entity". Completes
  * the graph tier's traversal corner: components (q62) ask WHETHER
  * connected, PageRank (q155) asks HOW CENTRAL, triangles (q214) ask
  * HOW CLUSTERED — this asks HOW FAR.
  *
  * Algorithm: frontier expansion on [[VertexRounds]], one Spark job per
  * hop: in hop h the vertices first reached in hop h − 1 send h to their
  * neighbors, and an unreached vertex takes the minimum. Bounded-hop
  * semantics are the CONTRACT (vertices farther than maxHops are absent
  * from the output), not a convergence accident; the loop stops early only
  * once the frontier is empty. A web-scale k of 3–6 is the typical
  * feature depth. */
object Bfs {

  /** (id, dist) for every vertex within maxHops of `sources` —
    * sources themselves at dist 0. `edges` is an undirected pair set
    * (symmetrized internally); `sources` is a one-column frame of
    * vertex ids. Pairs with a null endpoint and null sources are dropped. */
  def boundedDistances(edges: DataFrame, idA: String, idB: String,
      sources: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0 && maxHops <= 64,
      s"maxHops out of range: $maxHops (a fixed-round traversal past " +
        "64 hops is a diameter problem, not a feature extraction)")
    val g = new VertexRounds("Bfs.boundedDistances",
      edges.select(col(idA).cast("long"), col(idB).cast("long")), undirected = true)
    val sourceIds = g.keyed(sources.select(col(sources.columns.head).cast("long")), 0L)
      .reduceByKey((a, _) => a)
    val (dist, _) = g.run(sourceIds, maxHops)((d: Long, _) => d + 1,
        (a: Long, b: Long) => math.min(a, b)) {
      case (_, Some(d), _) => Some((d, false))
      case (_, None, m) => m.map((_, true))
    }
    g.frame(dist, "id", "dist", LongType)(identity)
  }
}
