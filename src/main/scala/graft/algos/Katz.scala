package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.graph.Adjacency

/** `finalDiff` is NaN when the last round computed no residual (the
  * two-step rounds of `tol == 0`). */
final case class KatzResult(scores: DataFrame, iterations: Int,
                            finalDiff: Double)

/** Katz centrality: x(v) = β + α·Σ_{u→v} x(u), iterated to a fixed point —
  * the attenuated-path-count centrality (x = Σ_k α^k (Aᵀ)^k β·1). In
  * reference terms this is the same `plus_times` mxv recurrence PageRank
  * runs (`vector << semiring(A.T @ x)` with a scalar accumulate), just
  * without the out-degree prescale — the reference expresses it with the
  * identical kernels (cf. `/root/reference/graphblas/core/matrix.py` mxv
  * and the Pagerank demo notebook's loop shape).
  *
  * Spark-first shape: a zero-exchange Catalyst iteration plan — the
  * persisted CSR-bucket adjacency is joined on `src` with the
  * hash-co-partitioned score vector (no exchange on either side),
  * the per-source factor α·x(u) is projected BEFORE the explode (once per
  * source, not per generated edge row), and the dst partial sums are
  * map-side combined into the only shuffle of the round. Dense completion
  * (every vertex holds at least β) and the L1 convergence metric ride the
  * same left-outer join + fused materialization job.
  *
  * Convergence requires α < 1/λ_max(A); with tol = 0 the loop runs exactly
  * `maxIter` rounds of the recurrence (the oracle-unroll discipline shared
  * with `pagerank_iter5`).
  */
object Katz {

  def run(spark: SparkSession, adj: Adjacency, alpha: Double = 0.01,
          beta: Double = 1.0, tol: Double = 1e-9,
          maxIter: Int = 50): KatzResult = {
    val n = adj.numVertices
    val p = adj.numPartitions

    var state = Ckpt.materialize(
      spark.range(n).repartition(p, col("id"))
        .select(col("id"), lit(beta).as("v")))
    var t = state.df
    var iter = 0
    var diff = Double.NaN

    // One Katz step as a plan; completion against the CACHED state's ids
    // (dense, invariant), so `prev` is referenced exactly once and steps
    // chain without subtree recomputation.
    def stepPlan(prev: DataFrame): DataFrame = {
      val contrib = adj.rows.alias("a")
        .join(prev.alias("s"), col("a.src") === col("s.id"))
        .select(col("a.dsts").as("_ds"), (col("s.v") * alpha).as("c"))
        .select(explode(col("_ds")).as("_dn"), col("c"))
        .select(col("_dn").cast("long").as("dst"), col("c"))
      val g = contrib.groupBy("dst").agg(sum(col("c")).as("g"))
      t.select(col("id")).alias("u")
        .join(g.alias("g"), col("u.id") === col("g.dst"), "left_outer")
        .select(col("u.id").as("id"),
          (lit(beta) + coalesce(col("g.g"), lit(0.0))).as("v"))
    }

    // Exact-iteration fast path (tol == 0): two chained steps per
    // materialized job — same scores, half the state materializations
    // (the state-cache write and the job round-trip are paid half as often).
    val exactIters = tol == 0.0
    while (exactIters && maxIter - iter >= 2) {
      val newState = Ckpt.materialize(stepPlan(stepPlan(t)))
      state.release()
      state = newState
      t = newState.df
      iter += 2
    }

    while (iter < maxIter && !(diff <= tol)) {
      val contrib = adj.rows
        .join(t, adj.rows("src") === t("id"))
        .select(col("dsts"), (col("v") * alpha).as("c"))
        .select(explode(col("dsts")).as("_dn"), col("c"))
        .select(col("_dn").cast("long").as("dst"), col("c"))
      val gathered = contrib.groupBy("dst").agg(sum(col("c")).as("g"))
      val steppedPlan = t.select(col("id"), col("v").as("_ov"))
        .join(gathered, col("id") === gathered("dst"), "left_outer")
        .select(col("id"),
          (lit(beta) + coalesce(col("g"), lit(0.0))).as("v"),
          abs(lit(beta) + coalesce(col("g"), lit(0.0)) - col("_ov")).as("_d"))
      val (newState, d) = Ckpt.materializeWithSum(steppedPlan, "_d")
      diff = d
      state.release()
      state = newState
      t = newState.df.select(col("id"), col("v"))
      iter += 1
    }
    KatzResult(t, iter, diff)
  }
}
