package graft.algos

import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.{CsrGraph, VertexLayout, VertexLoop}
import graft.graph.Adjacency
import graft.runtime.IterationCheckpointer

/** The linear vertex recurrence that the reference writes as one
  * `plus_times` mxv plus an accumulate (`x << semiring(A.T @ w)`):
  *
  *   r(v) = base + extra(v) + self·t(v) + Σ_{u→v} t(u)·w(u)
  *   w(u) = scale / deg(u) when `perDegree`, else scale
  *
  * PageRank (base = teleport, w = damping/deg), personalized PageRank (its
  * teleport vector as `extra`), Katz (base = β, w = α) and eigenvector
  * centrality (self = 1, w = 1) differ only in these terms. `extra` is a
  * small sparse vector (a seed set) over 0..n-1; `deg` counts duplicate
  * edges, and sinks push nothing.
  *
  * A round runs on the block-cyclic vertex kernel (`graft.core.VertexLoop`):
  * it pushes t(u)·w(u) once per CSR row along the out-edges, sums the pushes
  * per target with a map-side combine in the round's only shuffle, and fills
  * the new array of each partition beside the old one; its metric is
  * Σ|r - t|.
  */
final case class LinearRecurrence(base: Double, scale: Double, perDegree: Boolean = false,
                                  self: Double = 0.0, extra: Seq[(Long, Double)] = Nil) {

  /** One round: the next vector, each partition's metric its share of
    * Σ|r - t|. */
  def round(graph: CsrGraph, state: RDD[(Array[Double], Double)]): RDD[(Array[Double], Double)] = {
    val layout = graph.layout
    val extras = extra.groupBy(e => layout.part(e._1))
    val gathered = graph.push(state) { (b, t) =>
      b.push { r =>
        val x = t(b.src(r)) * scale
        if (perDegree) x / b.deg(r) else x
      }
    }.reduceByKey(layout.partitioner, _ + _)
    state.zipPartitions(gathered) { (ts, gs) =>
      val t = ts.next()._1
      val r = Array.fill(t.length)(base)
      extras.getOrElse(TaskContext.getPartitionId(), Nil)
        .foreach { case (v, x) => r(layout.slot(v)) += x }
      if (self != 0.0) {
        var j = 0
        while (j < r.length) { r(j) += self * t(j); j += 1 }
      }
      gs.foreach { case (v, g) => r(layout.slot(v)) += g }
      var diff = 0.0
      var j = 0
      while (j < r.length) { diff += math.abs(r(j) - t(j)); j += 1 }
      Iterator((r, diff))
    }
  }

  /** Runs the recurrence over the out-edges of `adj` from t(v) = `init(v)`,
    * or from the latest checkpoint when `checkpointer` holds one, until
    * Σ|r - t| <= tol or `maxIter` rounds have run; tol = 0 runs exactly
    * `maxIter` rounds (the oracle-unroll discipline). The edges are cut into
    * CSR blocks in the first round's job and freed at the end. The result
    * is dense: (id, v) for every vertex of 0..n-1; `finalRdiff` is NaN when
    * no round ran. */
  def run(spark: SparkSession, adj: Adjacency, tol: Double, maxIter: Int,
          checkpointer: Option[IterationCheckpointer] = None)(
      init: Long => Double): PageRankResult = {
    val layout = VertexLayout(adj.numVertices, adj.numPartitions)
    val graph = CsrGraph.build(
      adj.rows.select(col("src"), explode(col("dsts")).as("dst")), "src", "dst", layout)
    val (startIter, start) = checkpointer.flatMap(_.latest(spark)) match {
      case Some((it, df)) =>
        (it, VertexLoop.load(layout, df.select(col("id").cast("long"), col("v").cast("double"))
          .rdd.map(r => (r.getLong(0), r.getDouble(1)))))
      case None =>
        (0, VertexLoop.init(spark.sparkContext, layout) { (k, m) =>
          Array.tabulate(m)(j => init(layout.vertex(k, j)))
        })
    }
    val run = VertexLoop.iterate(start, startIter, maxIter, tol > 0 && _ <= tol) { state =>
      (round(graph, state), Nil)
    } { (state, iter, rdiff) =>
      checkpointer.foreach(_.save(scores(spark, layout, state), iter,
        Map("rdiff" -> rdiff.toString)))
    }
    graph.unpersist()
    PageRankResult(scores(spark, layout, run.state), run.rounds,
      adj.numEdges * run.rounds.toLong, run.metric)
  }

  private def scores(spark: SparkSession, layout: VertexLayout,
                     state: RDD[(Array[Double], Double)]): DataFrame =
    VertexLoop.frame(spark, layout, state, "v", DoubleType)(_(_))
}
