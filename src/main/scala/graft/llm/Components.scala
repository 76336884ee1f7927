package graft.llm

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.VertexRounds

/** Connected components over a near-duplicate pair set (B32's "connected
  * duplicates"): collapse A~B, B~C into one cluster so dedup keeps exactly
  * one survivor per transitive family and cluster stats (size distribution,
  * per-cluster spread) can drive threshold tuning.
  *
  * Algorithm: min-label propagation on [[VertexRounds]], one Spark job per
  * round. Every vertex starts labeled with its own id; in each round the
  * vertices relabeled in the previous one send their label to their
  * neighbors (who already hold every older label) and each vertex keeps the
  * minimum. At fixpoint the label is the component's minimum id — a
  * deterministic, content-independent cluster id. Rounds needed = component
  * diameter; duplicate clusters are near-cliques, so 2–4 rounds is typical,
  * and the `maxIters` guard turns a pathological chain into a loud failure
  * instead of a silent wrong answer. For graphs whose diameter genuinely
  * scales (web graphs), swap the propagation body for the large-star/
  * small-star contraction — same loop skeleton, O(log n) rounds.
  */
object Components {

  /** (vertex, component) for every vertex appearing in `pairs`, where
    * component = min vertex id reachable through the pair edges. Ids are
    * integral and keep their type; a pair with a null endpoint is dropped.
    *
    * @param maxIters hard bound on propagation rounds; exceeded ⇒
    *                 IllegalStateException (a diameter this large means the
    *                 input is not a dedup pair set — see scaladoc)
    */
  def connected(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIters: Int = 30): DataFrame = {
    val idType = VertexRounds.idType(pairs, idA)
    val g = new VertexRounds("Components.connected",
      pairs.select(col(idA).cast("long"), col(idB).cast("long")), undirected = true)
    val init = g.adj.mapPartitions(_.map { case (v, _) => (v, (v, true)) },
      preservesPartitioning = true)
    val (labels, changed) = g.run(init, maxIters)((l: Long, _) => l,
        (a: Long, b: Long) => math.min(a, b)) {
      case (_, Some(l), Some(m)) if m < l => Some((m, true))
      case (_, l, _) => l.map((_, false))
    }
    if (changed != 0)
      throw new IllegalStateException(
        s"component propagation did not converge in $maxIters rounds — " +
          "input is not a bounded-diameter dedup pair set")
    g.frame(labels, "id", "component", LongType)(identity)
      .select(col("id").cast(idType), col("component").cast(idType))
  }

  /** Per-component stats over a pair set — size and id-span of each
    * duplicate family (the distribution an engineer reads before moving the
    * near-dup threshold). */
  def componentStats(pairs: DataFrame, idA: String = "id_a", idB: String = "id_b"): DataFrame =
    connected(pairs, idA, idB)
      .groupBy("component")
      .agg(count(lit(1)).as("n_members"), max(col("id")).as("max_id"))
}
