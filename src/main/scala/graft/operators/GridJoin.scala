package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Grid-bucketed radius join on integer planar coordinates — "which
  * build points lie within r of each probe point?" without the
  * cartesian pair scan: bucket the build side by grid cell of width r,
  * explode each probe to its 3×3 cell neighborhood (a fixed 9× fan-out
  * on the PROBE side only), and equi-join on the cell key; the exact
  * d² ≤ r² test is then row-local on the candidates. Cell width = r
  * makes the neighborhood sound: |Δx| ≤ r forces a cell delta of at
  * most 1 per axis, so no within-radius pair can escape the 9 cells.
  *
  * This is the planar sibling of the 1-D binned range join
  * (RangeJoin.binned) and the spatial analogue of the LSH band join:
  * candidate generation by bucketing, exact verification row-local.
  * Geographic deployments feed microdegree-scaled integers (lat/lon ×
  * 10⁶) per cell-local equirectangular flattening; the join shape is
  * unchanged.
  *
  * COORDINATE CONTRACT: x and y must be NON-NEGATIVE integers —
  * truncating division equals floor only there, and a negative
  * coordinate's cell would shift by one, silently dropping candidates
  * at the axis. Enforced per row (violations raise, never degrade:
  * the maxSpan precedent).
  *
  * Scale shape: one equi-join shuffle keyed by cell; the build side
  * shuffles once at 1× its size, the probe side at 9×. Skewed cells
  * (urban hot spots) are one `Lsh.Split`-style salt away —
  * the key is already synthetic. */
object GridJoin {

  /** Candidate-verified pairs (probe_id, build_id, d2), d2 = squared
    * euclidean distance ≤ r². Inputs are both (id, x, y). */
  def radiusJoin(build: DataFrame, probe: DataFrame, r: Long): DataFrame = {
    require(r > 0, s"radius must be positive: $r")
    // integer `div`, not Column `/` (double division): exact cell ids
    // owe nothing to float rounding
    def cell(c: Column) = expr(s"${c.toString} div $r")
    val b = assertNonNegative(build).select(col("id").as("build_id"),
      col("x").as("bx"), col("y").as("by"),
      cell(col("x")).as("cx"), cell(col("y")).as("cy"))
    val deltas = array((-1 to 1).flatMap(dx => (-1 to 1).map(dy =>
      struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy")))): _*)
    val p = assertNonNegative(probe).select(col("id").as("probe_id"),
        col("x").as("px"), col("y").as("py"), explode(deltas).as("d"))
      .select(col("probe_id"), col("px"), col("py"),
        (cell(col("px")) + col("d.dx")).as("cx"),
        (cell(col("py")) + col("d.dy")).as("cy"))
    val dx = col("bx") - col("px")
    val dy = col("by") - col("py")
    p.join(b, Seq("cx", "cy"))
      .select(col("probe_id"), col("build_id"),
        (dx * dx + dy * dy).as("d2"))
      .filter(col("d2") <= lit(r * r))
  }

  private def assertNonNegative(df: DataFrame): DataFrame = {
    val ok = col("x") >= 0 && col("y") >= 0
    df.select(col("id"),
      when(ok, col("x").cast("long")).otherwise(raise_error(concat(
        lit("GridJoin coordinate contract: negative coordinate for id "),
        col("id").cast("string")))).as("x"),
      col("y").cast("long").as("y"))
  }
}
