package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Density clustering: DBSCAN (Ester et al. 1996) over integer 2-D
  * points, distributed with the grid-blocking of MR-DBSCAN (He et al.
  * 2011): cells of side ε mean every ε-neighbor of a point lies in its
  * 3×3 cell neighborhood, so candidate generation is a shuffle join on
  * cell keys — never an all-pairs product. Coordinates and ε are
  * integers and comparisons use squared distance, so membership, core
  * status and cluster labels are all exact — the oracle can replay them
  * bit-for-bit (the repo's hash-gate discipline).
  *
  * Scale shape: one 9× explode on the probe side, one shuffle join on
  * cell ids, one partial-agg neighbor count, and a connected-components
  * pass over CORE-core edges only ([[graft.graph.GraphOps
  * .connectedComponents]]). Per-cell occupancy bounds the
  * quadratic term: natural-density data keeps it constant as the corpus
  * grows area-wise; a fixed-area corpus that only densifies grows pair
  * counts quadratically — that is a property of the data, not the plan
  * (same written trade as the ppjoin vocabulary-saturation note).
  */
object Density {

  /** DBSCAN over `points(idCol, xCol, yCol)` with integer coordinates
    * (callers quantize floats first; coordinates must be non-negative —
    * the cell key uses integer division). A point is CORE when at least
    * `minPts` points (itself included) lie within Euclidean distance
    * `eps`; clusters are connected components of the core-core
    * ε-adjacency labelled by their minimum core id; a border point
    * (non-core with ≥ 1 core neighbor) takes the smallest cluster label
    * among its core neighbors; everything else is noise (cluster −1).
    * Output: (id, n_nbr, is_core, cluster). */
  def dbscan(points: DataFrame, idCol: String, xCol: String, yCol: String,
      eps: Long, minPts: Int): DataFrame = {
    require(eps > 0 && minPts >= 1, "eps and minPts must be positive")
    val p = points.select(col(idCol).cast("long").as("id"),
      col(xCol).cast("long").as("x"), col(yCol).cast("long").as("y"))
    val cell = p.withColumn("cx", expr(s"x div ${eps}L"))
      .withColumn("cy", expr(s"y div ${eps}L"))
    // probe side replicates each point into its 3x3 cell neighborhood;
    // any ε-ball is covered because the cell side equals ε
    val offsets = array((for (dx <- -1 to 1; dy <- -1 to 1)
      yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)
    val probe = cell.select(col("id").as("id_a"), col("x").as("xa"),
        col("y").as("ya"),
        explode(offsets).as("o"), col("cx"), col("cy"))
      .select(col("id_a"), col("xa"), col("ya"),
        (col("cx") + col("o.dx")).as("cx"), (col("cy") + col("o.dy")).as("cy"))
    val build = cell.select(col("id").as("id_b"), col("x").as("xb"),
      col("y").as("yb"), col("cx"), col("cy"))
    val dx = col("xa") - col("xb")
    val dy = col("ya") - col("yb")
    // ε-pairs, self included (dist 0) — so n_nbr counts the point itself
    val pairs = probe.join(build, Seq("cx", "cy"))
      .filter(dx * dx + dy * dy <= lit(eps * eps))
      .select(col("id_a"), col("id_b"))
      .persist()
    val counts = pairs.groupBy(col("id_a").as("id"))
      .agg(count(lit(1)).as("n_nbr"))
    val cores = counts.filter(col("n_nbr") >= minPts).select("id").persist()
    // cluster = connected components over core-core adjacency,
    // labelled by min core id (edges touching a non-core point name
    // no vertex of the core graph, so the components drop them)
    val comp = graft.graph.GraphOps.connectedComponents(cores,
      pairs.filter(col("id_a") < col("id_b"))
        .select(col("id_a").as("src"), col("id_b").as("dst")))
    // border points: non-core, adopt the smallest cluster among their
    // core neighbors (deterministic tie-break across adjacent clusters)
    val borderMin = pairs.filter(col("id_a") =!= col("id_b"))
      .join(comp.select(col("id").as("id_b"),
        col("component").as("b_comp")), "id_b")
      .groupBy(col("id_a").as("id")).agg(min(col("b_comp")).as("border_comp"))
    val out = counts
      .join(comp.select(col("id"), col("component").as("core_comp")),
        Seq("id"), "left_outer")
      .join(borderMin, Seq("id"), "left_outer")
      .select(col("id"), col("n_nbr"),
        (col("n_nbr") >= minPts).as("is_core"),
        coalesce(col("core_comp"), col("border_comp"), lit(-1L))
          .as("cluster"))
      // materialize before releasing the shared caches (the
      // qp_c4_rules release pattern) — unpersisted, the suite carries
      // the pair frame as storage debris into every later query
      .localCheckpoint()
    pairs.unpersist(); cores.unpersist()
    out
  }
}
