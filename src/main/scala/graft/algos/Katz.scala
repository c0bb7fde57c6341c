package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Adjacency

/** `finalDiff` is NaN when no round ran (`maxIter = 0`). */
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
  * So it runs as the `LinearRecurrence` with base = β and w = α, from
  * x = β, on the block-cyclic vertex kernel: one shuffle and one job per
  * round, Σ|r - t| as the convergence metric.
  *
  * Convergence requires α < 1/λ_max(A); with tol = 0 the loop runs exactly
  * `maxIter` rounds of the recurrence (the oracle-unroll discipline shared
  * with `pagerank_iter5`).
  */
object Katz {

  def run(spark: SparkSession, adj: Adjacency, alpha: Double = 0.01,
          beta: Double = 1.0, tol: Double = 1e-9,
          maxIter: Int = 50): KatzResult = {
    val r = LinearRecurrence(beta, alpha).run(spark, adj, tol, maxIter)(_ => beta)
    KatzResult(r.scores, r.iterations, r.finalRdiff)
  }
}
