package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ckpt

/** Triangle centrality (Burkhardt 2021, "Triangle centrality" — the
  * algorithm the GraphBLAS community ships as
  * LAGraph_VertexCentrality_Triangle): a vertex is central when much of the
  * graph's total triangle mass sits on or next to it,
  *
  *   TC(v) = [ ⅓·(t(v) + Σ_{u∈N_T(v)} t(u)) + Σ_{w∈N(v)∖N_T(v)} t(w) ]
  *           / t(G)
  *         = ( 3·(A·t)_v − 2·(T̂·t)_v + t(v) ) / ( 3·t(G) ),
  *
  * where t(v) is v's local triangle count, t(G) the graph total, T̂ the
  * 0/1 adjacency restricted to edges that lie on at least one triangle
  * (N_T(v) = triangle neighbors), and the closed-form follows because
  * Σ_{w∈N(v)} t(w) = (A·t)_v counts triangle neighbors once too often.
  * In reference terms the whole computation is the masked `plus_pair`
  * square (`/root/reference/graphblas/core/matrix.py` mxm with structural
  * mask — cf. TriangleCount) followed by two `plus_times` mxv gathers of
  * the t vector — the exact linear-algebra form of the paper.
  *
  * Spark-first shape: triangles are enumerated ONCE at their (deg,id)-min
  * corner on the triangle kernel of the vertex loops
  * (KTruss.orientedTriangles over `graft.core.Triangles` — sorted-merge
  * intersections of rows bounded O(√E) per vertex, no wedge records),
  * scattered to corners for t(v) and to their three edges for T̂;
  * both gathers are plain join + hash-agg over the (bounded) edge list, and
  * t(G) folds in as a 1×1 cross join — no driver collect, no all-pairs
  * join anywhere. A triangle-free graph yields TC ≡ 0 (t(G) = 0 guard).
  *
  * Input: symmetric, deduplicated, loop-free edges. Output (id, tc) over
  * every vertex with ≥1 incident edge, tc rounded to 6 decimals.
  */
object TriangleCentrality {

  def run(edgesSym: DataFrame, numPartitions: Int): DataFrame = {
    val e = edgesSym.select(col("src"), col("dst")).persist()
    try {
      // the kernel's vertex count materializes the cached input
      val (triPlan, o) = KTruss.orientedTriangles(e, numPartitions)
      // tri feeds three branches (corners, triangle edges, t(G)) — one scan;
      // the kernel is consumed by this materialization and freed
      // immediately (the supportCanon discipline)
      val triS = Ckpt.materialize(triPlan)
      o.unpersist()
      val tri = triS.df

      // t(v): each triangle counts once at each of its three corners
      val tcount = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("t"))
      // every vertex, triangle-free ones at t = 0
      val t = e.select(col("src").as("id")).distinct()
        .join(tcount, Seq("id"), "left")
        .select(col("id"), coalesce(col("t"), lit(0L)).as("t"))

      // T̂: edges on ≥1 triangle, both directions (distinct: a triangle
      // edge shared by many triangles appears once)
      val triEdges = tri.select(
          explode(array(
            struct(col("a").as("src"), col("b").as("dst")),
            struct(col("b").as("src"), col("a").as("dst")),
            struct(col("a").as("src"), col("c").as("dst")),
            struct(col("c").as("src"), col("a").as("dst")),
            struct(col("b").as("src"), col("c").as("dst")),
            struct(col("c").as("src"), col("b").as("dst")))).as("e"))
        .select(col("e.src"), col("e.dst")).distinct()

      // the two plus_times gathers of t along A and T̂
      def gather(edges: DataFrame): DataFrame = edges
        .join(t.select(col("id").as("src"), col("t").as("_t")), "src")
        .groupBy(col("dst").as("id")).agg(sum(col("_t")).as("g"))

      val at = gather(e).withColumnRenamed("g", "at")
      val tt = gather(triEdges).withColumnRenamed("g", "tt")
      val tg = tri.agg(count(lit(1)).as("tg"))

      val out = Ckpt.materialize(t
        .join(at, Seq("id"), "left")
        .join(tt, Seq("id"), "left")
        .crossJoin(tg)
        .select(col("id"),
          when(col("tg") === 0, lit(0.0)).otherwise(round(
            (lit(3) * coalesce(col("at"), lit(0L))
              - lit(2) * coalesce(col("tt"), lit(0L)) + col("t"))
              .cast("double") / (lit(3.0) * col("tg")), 6)).as("tc")))
      triS.release()
      out.df // |V| rows — blocks back the returned frame, session-scoped
    } finally e.unpersist(false)
  }
}
