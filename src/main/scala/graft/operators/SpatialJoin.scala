package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.expressions.Kernels.floorGrid

/** Grid-bucketed spatial nearest-neighbor join — "which stop is this
  * event closest to": the planar companion of the temporal as-of
  * family. Catalyst has no spatial join; the classic scale shape is
  * to hash both sides into `radius`-sized grid cells and probe only
  * the 3×3 cell neighborhood around each point — any site within
  * `radius` of a point is guaranteed to live in one of those nine
  * cells, so the join is an EQUI-join on cell keys (shuffle ∝ data,
  * never points × sites) with a bounded 9× fan-out on the probe side.
  *
  * Engine parity: cell ids are `floor(coord / radius)` longs; the
  * squared distance is three IEEE ops in fixed order and the
  * per-point argmin orders by (dist², site id) — exact integer/double
  * determinism, no library math; the reported distance sqrt is
  * floor-quantized to the 1e-6 grid (§5) at the edge. Points with no
  * site within `radius` keep a NULL site (left spine), so coverage
  * is auditable.
  */
object SpatialJoin {


  def nearestNeighbor(points: DataFrame, pointId: String, px: String, py: String,
                      sites: DataFrame, siteId: String, sx: String, sy: String,
                      radius: Double): DataFrame = {
    require(radius > 0, s"radius must be positive: $radius")
    val p = points.select(col(pointId).as("point_id"),
        col(px).cast("double").as("px"), col(py).cast("double").as("py"))
      .filter(col("px").isNotNull && col("py").isNotNull)
    val s = sites.select(col(siteId).as("site_id"),
        col(sx).cast("double").as("sx"), col(sy).cast("double").as("sy"))
      .filter(col("sx").isNotNull && col("sy").isNotNull)
      .withColumn("cx", floor(col("sx") / radius))
      .withColumn("cy", floor(col("sy") / radius))
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1) yield
      struct(lit(dx).as("dx"), lit(dy).as("dy"))): _*)
    val probes = p
      .withColumn("o", explode(offsets))
      .select(col("point_id"), col("px"), col("py"),
        (floor(col("px") / radius) + col("o.dx")).as("cx"),
        (floor(col("py") / radius) + col("o.dy")).as("cy"))
    val dist2 = (col("px") - col("sx")) * (col("px") - col("sx")) +
      (col("py") - col("sy")) * (col("py") - col("sy"))
    // LEFT join on the cell keys (radius bound as a residual): every
    // probe row survives, so an uncovered point keeps its NULL site
    // through the argmin window directly — the previous shape re-joined
    // the winners back onto the point spine, paying a second row-scale
    // shuffle for rows the window already carried.
    val sCells = s.withColumnRenamed("cx", "scx").withColumnRenamed("cy", "scy")
    val cands = probes.join(sCells,
        col("cx") === col("scx") && col("cy") === col("scy") &&
          dist2 <= lit(radius * radius), "left")
      .withColumn("d2", dist2)
    // Argmin via min_by instead of a row_number window (r15, guide
    // §2.3/§2.4): the window shape exchanged EVERY candidate row (9
    // probe cells per point plus matches) and sorted them per point;
    // min_by is a declarative aggregate, so the partial aggregate
    // collapses each point's candidates MAP-SIDE before the exchange
    // — ~9x fewer shuffled rows — and no sort runs at all. Ordering
    // is the same (d2 asc nulls last, site_id asc): NULL d2 (no site
    // in range) maps to +MaxValue which a real candidate (d2 ≤ r²)
    // always beats, real ties break on site_id in the struct's second
    // field, and an uncovered point keeps its NULL site because all
    // of its rows carry a NULL value struct field. px/py are
    // functionally determined by point_id, so grouping on all three
    // preserves the output spine exactly.
    val ord = struct(coalesce(col("d2"), lit(Double.MaxValue)).as("o1"),
      col("site_id").as("o2"))
    cands.groupBy(col("point_id"), col("px"), col("py"))
      .agg(min_by(struct(col("site_id").as("site_id"), col("d2").as("d2")),
        ord).as("__best"))
      .select(col("point_id"), col("px"), col("py"),
        col("__best.site_id").as("site_id"),
        floorGrid(sqrt(col("__best.d2")), 1e6).as("dist"))
  }
}
