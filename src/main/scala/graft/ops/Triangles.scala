package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact triangle enumeration over an undirected graph, degree-ordered
  * (the classic compact-forward / Latapy orientation): orient every
  * edge from its lower-(degree, id) endpoint to the higher one, build
  * wedges by joining the oriented edge list with itself on the middle
  * vertex, and close each wedge against the oriented edge list again.
  *
  * Why the orientation matters at 100 TB: wedge count under the naive
  * `src < dst` orientation is Σ out-deg², which a single celebrity
  * node with degree d blows up to d² — the degree ordering caps every
  * node's out-degree at O(√|E|) (a node of degree d has at most
  * O(√|E|) neighbors of degree ≥ d), so the join fan-out is bounded
  * by Σ min(deg, √|E|)² ≤ |E|^1.5 REGARDLESS of skew. The triangle
  * SET is orientation-invariant, so a naive-oriented oracle
  * hash-matches the degree-ordered plan — the optimization is free
  * correctness-wise and the whole point scale-wise.
  *
  * All three joins are equi-joins on vertex ids (shuffle-partitioned,
  * no broadcast assumption — the edge list is data-scale); per-vertex
  * triangle counts count each triangle at all 3 corners, also
  * orientation-invariant.
  */
object Triangles {

  /** Orient `edges` (symmetric, distinct, src≠dst) by (degree, id). */
  private def orient(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("id"))
      .agg(count(lit(1)).as("deg"))
    edges
      .join(deg.select(col("id").as("src"), col("deg").as("sdeg")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("ddeg")), "dst")
      .filter(col("sdeg") < col("ddeg") ||
        (col("sdeg") === col("ddeg") && col("src") < col("dst")))
      .select(col("src").as("lo"), col("dst").as("hi"))
  }

  /** All triangles via the edge-iterator form: each oriented edge
    * (u,v) closes one triangle per vertex of N⁺(u) ∩ N⁺(v), so the
    * plan is ONE adjacency aggregation + two edge⋈adjacency equi-joins
    * + a codegen'd `array_intersect` per edge — wedges are never
    * materialized as rows (the wedge-join form shuffles Σ C(outdeg,2)
    * rows, measured 14 s vs 2.0-2.3 s warm at sf0.1 on the 1.2M-edge
    * co-purchase graph; the intersection does the same Σ(d_u + d_v)
    * work as CPU inside the join project, which is where it belongs;
    * docs/SCALE.md has the skew-cliff table — under this form the naive orientation's failure mode is a deg²
    * adjacency-replication OOM, not slow wedges). Each
    * triangle (x<y<z in the orientation order) is found exactly once,
    * at its (x,y) edge. Per-vertex counts explode each triangle's 3
    * corners and aggregate: the top `k` vertices by triangle
    * membership, ties broken by id. Output: (id BIGINT, n_tri BIGINT).
    */
  def topVerticesByTriangles(edges: DataFrame, k: Int): DataFrame = {
    val corners = triangles(edges)
      .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
    corners.groupBy("id").agg(count(lit(1)).as("n_tri"))
      .orderBy(col("n_tri").desc, col("id"))
      .limit(k)
      .orderBy(col("n_tri").desc, col("id"))
  }

  /** Every triangle, one row each, as the oriented (a,b,c) triple —
    * the enumeration both [[topVerticesByTriangles]] and the DOULION
    * sampled estimator consume.
    */
  def triangles(edges: DataFrame): DataFrame = {
    val e = orient(edges)
    val adj = e.groupBy(col("lo").as("n"))
      .agg(collect_list(col("hi")).as("nbrs"))
    e.join(adj.select(col("n").as("lo"), col("nbrs").as("un")), "lo")
      .join(adj.select(col("n").as("hi"), col("nbrs").as("vn")), "hi")
      .select(col("lo").as("a"), col("hi").as("b"),
        explode(array_intersect(col("un"), col("vn"))).as("c"))
  }

  /** DOULION (Tsourakakis KDD '09) sampled triangle estimation: keep
    * each UNDIRECTED edge independently with probability 1/q (decided
    * by a portable hash of the edge identity, so the "coin" is
    * deterministic, layout-independent, and replayable by the oracle),
    * count triangles on the sampled graph, and scale by q³ — an
    * unbiased estimator whose work shrinks by ~q in edges and up to q³
    * in wedge volume. This is the scale path when exact enumeration's
    * output itself is the bottleneck (triangle counts grow faster than
    * edges on dense graphs); the exact count stays available as the
    * eval twin. Returns the SAMPLED graph's symmetric edge list.
    */
  def sampleEdges(edges: DataFrame, q: Int): DataFrame =
    edges.filter(
      pmod(graft.functions.Kernels.md5_48Col(
        concat_ws("_", least(col("src"), col("dst")),
          greatest(col("src"), col("dst")))), lit(q.toLong)) === 0L)
}
