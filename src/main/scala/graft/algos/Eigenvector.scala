package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.Adjacency

final case class EigenvectorResult(scores: DataFrame, iterations: Int)

/** Eigenvector centrality by power iteration on (I + Aᵀ): per round
  * x(v) ← x(v) + Σ_{u→v} x(u), the NetworkX/graphblas-algorithms update
  * (an in-edge confers centrality on its target; the +I shift damps the
  * period-2 oscillation a bipartite component would feed pure power
  * iteration). In reference terms this is the same `plus_times` mxv the
  * PageRank demo loops (`/root/reference/graphblas/core/matrix.py` mxv;
  * cf. Katz — identical recurrence with the β floor replaced by the +x(v)
  * shift), accumulated with `plus`.
  *
  * Normalization: the recurrence is LINEAR, so the per-round L2 rescale the
  * textbook loop applies only changes the vector's length, never its
  * direction — x_k/.‖x_k‖ = (I+Aᵀ)^k x₀ / ‖(I+Aᵀ)^k x₀‖ exactly. The loop
  * therefore runs unnormalized (one fused materialization per round, no
  * extra norm job) and divides by the L2 norm ONCE at the end, via a lazy
  * 1×1 cross join — not a driver collect, not a global window. FP64 headroom:
  * the unnormalized magnitude grows like (1+λ_max)^k ≤ (1+Δ)^k; for the
  * default 5 rounds that overflows only past Δ ≈ 10^61 — unreachable.
  *
  * It runs as the `LinearRecurrence` with self = 1 and w = 1, from
  * x₀ = 1/n, on the block-cyclic vertex kernel: one shuffle and one job per
  * round.
  *
  * Fixed `maxIter` rounds (the oracle-unroll discipline shared with
  * `pagerank_iter5`/`katz_centrality`). Output (id, v), ‖v‖₂ = 1.
  */
object Eigenvector {

  def run(spark: SparkSession, adj: Adjacency,
          maxIter: Int = 5): EigenvectorResult = {
    val n = adj.numVertices
    val r = LinearRecurrence(0.0, 1.0, self = 1.0)
      .run(spark, adj, tol = 0.0, maxIter)(_ => 1.0 / n)
    val norm = r.scores.agg(sqrt(sum(col("v") * col("v"))).as("_n"))
    val scores = r.scores.crossJoin(norm)
      .select(col("id"), (col("v") / col("_n")).as("v"))
    EigenvectorResult(scores, r.iterations)
  }
}
