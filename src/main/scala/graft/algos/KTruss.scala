package graft.algos

import scala.collection.mutable.ArrayBuilder
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Ckpt, CkptState, Triangles}

final case class KTrussResult(truss: DataFrame, rounds: Int)

/** k-truss: the maximal subgraph in which every edge participates in at
  * least k-2 triangles (its *support*), by synchronous peeling — per round,
  * recompute every surviving edge's support within the current subgraph and
  * drop the edges below k-2; fixpoint when the edge set stops shrinking.
  *
  * Semantically this is the GraphBLAS recipe (iterated masked plus_pair
  * SpGEMM: support = C(A.S) << A @ A, the same kernel as
  * `TriangleCount.support`), but the naive masked form extends every mask
  * edge (u,v) by the full adjacency of u — Σ deg² wedge rows, 140M at the
  * sf0.1 fixture (measured 72s for one round). The support kernel here is
  * the degree-ORIENTED equivalent: orient each undirected edge from its
  * smaller to larger endpoint under the total order (deg, id), enumerate
  * each triangle exactly once at the unique corner whose two triangle
  * edges both point out (the (deg,id)-minimum), then scatter +1 to the
  * triangle's three canonical edges. Wedge volume falls to Σ deg⁺² with
  * deg⁺ ≈ deg/2 on quasi-uniform graphs — ~4× less — and on power-law
  * (web) graphs the win is asymptotic: deg⁺ is bounded by O(√E) for ANY
  * graph, so hub vertices never fan out quadratically. Same trick family
  * as Dedup's df-cap, but lossless.
  *
  * The one-shot enumeration (`orientedTriangles`, and `supportCanon` over
  * it) runs on the triangle kernel of the vertex loops
  * (`graft.core.Triangles`): the same (deg, id) orientation, as
  * sorted-merge intersections with no wedge records. The peel loop below
  * still runs on Catalyst wedge joins, which the kernel does not replace
  * yet: it would peel on a per-edge support array instead.
  *
  * Per peel round (3 jobs): degrees + orientation from the persisted edge
  * state; oriented wedge self-join (zero-exchange: o is hash-partitioned
  * on its pivot `lo`); close against the canonical edge set; scatter union
  * → one count aggregation; filter `>= k-2`; symmetrize back (support is
  * symmetric, computed once per undirected edge).
  *
  * Early-stop note (same argument as KCore): the edge set only ever
  * shrinks and each round is a deterministic function of the current set,
  * so a converged run is bit-identical to any fixed larger unroll — which
  * is what lets a fixed-round materialized-CTE SQL oracle check it. A
  * bounded run (maxRounds below the fixpoint) is itself the deterministic
  * "R-round peel", matching an R-step oracle unroll.
  *
  * Output: (src, dst, sup) of surviving (directed-symmetric) edges, sup =
  * support within the subgraph of the LAST executed round.
  */
object KTruss {

  /** Build the (deg, id)-oriented edge frame of a symmetric edge set:
    * one (lo, hi) row per undirected edge, lo the total-order minimum,
    * hash-partitioned on the wedge pivot `lo` (so the wedge self-join is
    * zero-exchange). Caller releases the returned state. */
  private def orientFrame(edgesSym: DataFrame, numPartitions: Int): CkptState = {
    val canon = edgesSym.filter(col("src") < col("dst"))
    val deg = edgesSym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    // orient lo→hi by (deg, id); ids are distinct so the order is total
    val lowFirst = col("ds") < col("dd") ||
      (col("ds") === col("dd") && col("src") < col("dst"))
    // sorted at build: the wedge self-join on
    // `lo` then runs zero-exchange AND zero-sort on both branches — the
    // flat-state rewrap re-declares the (hash, sort) layout
    Ckpt.materialize(canon
      .join(deg.select(col("id").as("src"), col("deg").as("ds")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("dd")), "dst")
      .select(
        when(lowFirst, col("src")).otherwise(col("dst")).as("lo"),
        when(lowFirst, col("dst")).otherwise(col("src")).as("hi"))
      .repartition(numPartitions, col("lo"))
      .sortWithinPartitions("lo"))
  }

  /** Wedge-close enumeration over a prebuilt (lo, hi) orientation frame:
    * each triangle of the frame's underlying canonical edge set exactly
    * once as (a, b, c) — a the orientation-minimum corner, b < c (which
    * holds structurally: b and c are both `hi` endpoints of the same lo,
    * kept one-sided by the filter). The closing edge set is derived from
    * the frame ITSELF (least/greatest of (lo, hi) is exactly its canonical
    * form), so the b<c filter and the canonical-closure invariant live in
    * ONE place for the stale-orientation peel loop's rounds. */
  private def trianglesOf(od: DataFrame): DataFrame = {
    val w = od.select(col("lo"), col("hi").as("b"))
      .join(od.select(col("lo"), col("hi").as("c")), Seq("lo"))
      .filter(col("b") < col("c"))
    val canon = od.select(least(col("lo"), col("hi")).as("cs"),
      greatest(col("lo"), col("hi")).as("cd"))
    // close the wedges against the |E|-sized canonical set with a SHUFFLED
    // HASH join (guide §3.1): the wedge side is Σ deg⁺² rows — sorting it
    // (sort-merge, the planner default) costs far more than hashing the
    // canonical build side, and the build side per partition is |E|/p.
    // Broadcast is NOT safe here (canon is edge-scale at web size).
    w.join(canon.hint("shuffle_hash"),
        col("b") === col("cs") && col("c") === col("cd"))
      .select(col("lo").as("a"), col("b"), col("c"))
  }

  /** scatter +1 to each triangle's three canonical edges → per-edge support
    * (canonical rows; edges on no triangle have no row, so sup >= 1) */
  private def scatterSupport(tri: DataFrame): DataFrame =
    tri.select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .unionAll(tri.select(least(col("a"), col("c")).as("u"), greatest(col("a"), col("c")).as("v")))
      .unionAll(tri.select(col("b").as("u"), col("c").as("v")))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).as("sup"))
      .select(col("u").as("src"), col("v").as("dst"), col("sup"))

  /** Degree-oriented triangle enumeration on the triangle kernel
    * (`graft.core.Triangles`): each triangle {a,b,c} of the symmetric edge
    * set exactly ONCE as (a, b, c) with a the (deg,id)-min corner and b < c.
    * The vertex count comes from one job over `edgesSym`, so a persisted
    * input is materialized by it. Returns (tri, kernel) — the caller must
    * unpersist the kernel after consuming tri. Shared by the per-edge
    * support (below), the clustering statistics and triangle centrality. */
  private[algos] def orientedTriangles(edgesSym: DataFrame,
                                       numPartitions: Int): (DataFrame, Triangles) = {
    val t = Triangles(edgesSym, numPartitions)
    val rows = t.perPartition { _ =>
      new Triangles.Sink[Array[Long]] {
        private[this] val abc = new ArrayBuilder.ofLong
        def apply(a: Long, b: Long, c: Long): Unit =
          abc += a += math.min(b, c) += math.max(b, c)
        def result(): Array[Long] = abc.result()
      }
    }.flatMap(m => Iterator.range(0, m.length, 3).map(i => Row(m(i), m(i + 1), m(i + 2))))
    val tri = edgesSym.sparkSession.createDataFrame(rows,
      StructType(Seq("a", "b", "c").map(StructField(_, LongType, nullable = false))))
    (tri, t)
  }

  /** exact per-edge triangle support of a symmetric edge set, oriented
    * enumeration; returns CANONICAL rows (src < dst, sup >= 1 only) as a
    * materialized flat CkptState (two plan branches read it downstream). */
  private[graft] def supportCanon(edgesSym: DataFrame, numPartitions: Int): CkptState = {
    val (tri, o) = orientedTriangles(edgesSym, numPartitions)
    val sup = Ckpt.materialize(scatterSupport(tri))
    o.unpersist()
    sup
  }

  def run(spark: SparkSession, edgesSym: DataFrame, k: Int,
          numPartitions: Int, maxRounds: Int = 16): KTrussResult = {
    require(k >= 3, s"k-truss needs k >= 3, got $k")
    val minSup = k - 2
    // Orient ONCE by the round-0 (deg, id) order. Any FIXED total order on
    // vertices enumerates each triangle exactly once at its minimum corner,
    // and per-edge support counts triangles in the CURRENT edge set
    // regardless of orientation — so the peel rounds reuse the stale
    // orientation and skip the former per-round degree aggregation + two
    // orientation joins (3 shuffles/round). The wedge fan-out bound only
    // degrades toward the ORIGINAL graph's O(√E) corner, which is what
    // round 1 paid anyway. Loop state lives in flat Ckpt rewraps (lineage
    // growth — same finding as SCC, pinned there).
    var o = orientFrame(edgesSym, numPartitions)
    var nEdges = o.df.count() // CANONICAL count (half the symmetric one)
    var rounds = 0
    var converged = nEdges == 0L
    var result = edgesSym.select(col("src"), col("dst"))
      .withColumn("sup", lit(0L)).limit(0)
    var lastKept: CkptState = null
    while (!converged && rounds < maxRounds) {
      val od = o.df
      // edges on no triangle have no scatter row and drop implicitly
      // (minSup >= 1)
      val kept = Ckpt.materialize(
        scatterSupport(trianglesOf(od)).filter(col("sup") >= minSup))
      val keptDf = kept.df
      // fused count: the convergence check rides the materialization job.
      // shuffled-hash semi (guide §3.1): kept only SHRINKS over rounds, and
      // hashing it beats sort-merge re-sorting the orientation frame
      val (newO, n2) = Ckpt.materializeWithCount(od.join(
          keptDf.hint("shuffle_hash"),
          least(col("lo"), col("hi")) === keptDf("src")
            && greatest(col("lo"), col("hi")) === keptDf("dst"), "left_semi")
        .repartition(numPartitions, col("lo"))
        .sortWithinPartitions("lo"))
      o.release()
      if (lastKept != null) lastKept.release()
      o = newO
      lastKept = kept
      // symmetrize for the result view: support is symmetric, computed once
      // per undirected edge
      result = kept.df.unionByName(kept.df.select(
        col("dst").as("src"), col("src").as("dst"), col("sup")))
      // monotone: equal count ⇒ equal set; empty ⇒ every further round is
      // empty (both cases bit-identical to any larger unroll)
      converged = n2 == nEdges || n2 == 0L
      nEdges = n2
      rounds += 1
    }
    o.release()
    // the final round's kept blocks stay cached: `result` is read from them
    KTrussResult(result, rounds)
  }
}
