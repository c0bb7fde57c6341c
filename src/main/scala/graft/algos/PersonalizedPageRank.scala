package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import graft.graph.Adjacency

/** Personalized (topic-sensitive) PageRank: identical recurrence to
  * `PageRank.run` (the reference's `pagerank_3f`,
  * `/root/reference/notebooks/Pagerank Demo.ipynb` — sinks drop out, no
  * redistribution), except the uniform teleport scalar becomes a teleport
  * VECTOR concentrated on a seed set S:
  *
  *   r0 = e_S / |S| ;  tp = (1-damping) · e_S / |S|
  *   loop: r = tp + damping · Aᵀ(r/d_out)
  *
  * So it runs as the `LinearRecurrence` with w = damping/deg and the
  * teleport vector as its sparse `extra` term, on the block-cyclic vertex
  * kernel: one shuffle and one job per round. The seed set is read on the
  * driver once (a broadcast-sized input; a local frame costs no job).
  */
object PersonalizedPageRank {

  /** @param seeds single-column (`id`) DataFrame of teleport targets;
    *              assumed small. |S| counts its distinct ids; ids outside
    *              [0, numVertices) count but receive no teleport. */
  def run(spark: SparkSession, adj: Adjacency, seeds: DataFrame,
          damping: Double = 0.85, tol: Double = 1e-4,
          maxIter: Int = 100): PageRankResult = {
    val n = adj.numVertices
    val ids = seeds.select(col("id").cast("long")).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getLong(0))).distinct
    require(ids.nonEmpty, "personalized PageRank needs a non-empty seed set")
    val s = ids.flatten.filter(v => v >= 0 && v < n).toSet
    LinearRecurrence(0.0, damping, perDegree = true,
      extra = s.toSeq.map(_ -> (1.0 - damping) / ids.length))
      .run(spark, adj, tol, maxIter)(v => if (s(v)) 1.0 / ids.length else 0.0)
  }
}
