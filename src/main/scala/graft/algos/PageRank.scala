package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.graph.Adjacency
import graft.runtime.IterationCheckpointer

/** `finalRdiff` is NaN when no round ran (a resume at or past `maxIter`). */
final case class PageRankResult(scores: DataFrame, iterations: Int,
                                edgesTraversed: Long, finalRdiff: Double)

/** PageRank with the reference's exact `pagerank_3f` semantics
  * (`/root/reference/notebooks/Pagerank Demo.ipynb`):
  *
  *   teleport = (1-damping)/n ; r = 1/n
  *   d = d_out / damping                       (prescale, once)
  *   loop: w = t / d                           (ewise_mult truediv — sinks,
  *                                              having no d entry, drop out:
  *                                              NO sink redistribution)
  *         r = teleport ; r += A'w (plus_second semiring)
  *         rdiff = sum |t - r| ; stop when rdiff <= tol
  *
  * This is the `LinearRecurrence` with base = teleport and w = damping/deg,
  * on the block-cyclic vertex kernel (`graft.core.VertexLoop`): the scores
  * are one double array per partition, a round pushes `score*damping/deg`
  * once per CSR row, sums the pushes per target in the round's only
  * shuffle, and fills the new array with `teleport + sum`; the job that
  * materializes it also sums |t - r|. So a round is one job. With tol = 0
  * the loop runs exactly `maxIter` rounds. A `checkpointer` saves every
  * round and resumes from its latest snapshot.
  *
  * We compute in FP64 rather than the notebook's FP32 (documented
  * divergence: FP64 is strictly closer to the true recurrence, and the
  * 1e-6 allclose parity gate is checked against the exact recurrence).
  */
object PageRank {

  def run(spark: SparkSession, adj: Adjacency, damping: Double = 0.85,
          tol: Double = 1e-4, maxIter: Int = 100,
          checkpointer: Option[IterationCheckpointer] = None): PageRankResult = {
    val n = adj.numVertices
    LinearRecurrence((1.0 - damping) / n, damping, perDegree = true)
      .run(spark, adj, tol, maxIter, checkpointer)(_ => 1.0 / n)
  }
}
