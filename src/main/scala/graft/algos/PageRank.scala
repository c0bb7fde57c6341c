package graft.algos

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.core.{CsrGraph, VertexLayout, VertexLoop}
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
  * The loop runs on the block-cyclic vertex kernel (`graft.core.VertexLoop`):
  * the scores are one double array per partition, and the out-edges of
  * `adj.rows` are cut into CSR blocks placed beside their sources once per
  * run (in the first round's job) and freed at the end. A round pushes
  * `score*damping/deg` along every out-edge, sums the pushes per target with
  * a map-side combine in the round's only shuffle, and fills the new array
  * with `teleport + sum`; the job that materializes it also sums
  * |t - r|. So a round is one job. With tol = 0 the loop runs exactly
  * `maxIter` rounds.
  *
  * We compute in FP64 rather than the notebook's FP32 (documented
  * divergence: FP64 is strictly closer to the true recurrence, and the
  * 1e-6 allclose parity gate is checked against the exact recurrence).
  */
object PageRank {

  def run(spark: SparkSession, adj: Adjacency, damping: Double = 0.85,
          tol: Double = 1e-4, maxIter: Int = 100,
          checkpointer: Option[IterationCheckpointer] = None): PageRankResult = {
    val layout = VertexLayout(adj.numVertices, adj.numPartitions)
    val n = layout.n
    val graph = CsrGraph.build(
      adj.rows.select(col("src"), explode(col("dsts")).as("dst")), "src", "dst", layout)

    // resume from the latest checkpoint if one exists (resumable runs)
    val (startIter, start) = checkpointer.flatMap(_.latest(spark)) match {
      case Some((it, df)) =>
        (it, VertexLoop.load(layout, df.select(col("id").cast("long"), col("v").cast("double"))
          .rdd.map(r => (r.getLong(0), r.getDouble(1)))))
      case None =>
        (0, VertexLoop.init(spark.sparkContext, layout)((_, k) => Array.fill(k)(1.0 / n)))
    }
    val teleport = (1.0 - damping) / n
    // tol = 0 asks for exactly maxIter rounds (the oracle-unroll discipline)
    val run = VertexLoop.iterate(start, startIter, maxIter, tol > 0 && _ <= tol) { state =>
      (step(graph, state, damping, teleport), Nil)
    } { (state, iter, rdiff) =>
      checkpointer.foreach(_.save(scores(spark, layout, state), iter,
        Map("rdiff" -> rdiff.toString)))
    }
    graph.unpersist()
    PageRankResult(scores(spark, layout, run.state), run.rounds,
      adj.numEdges * run.rounds.toLong, run.metric)
  }

  /** One round: the next scores, each partition's metric its share of
    * |t - r|. */
  private[graft] def step(graph: CsrGraph, state: RDD[(Array[Double], Double)],
                          damping: Double, teleport: Double): RDD[(Array[Double], Double)] = {
    val layout = graph.layout
    val gathered = graph.push(state) { (b, t) =>
      b.push(r => t(b.src(r)) * damping / b.deg(r))
    }.reduceByKey(layout.partitioner, _ + _)
    state.zipPartitions(gathered) { (ts, gs) =>
      val t = ts.next()._1
      val r = Array.fill(t.length)(teleport)
      gs.foreach { case (v, g) => r(layout.slot(v)) += g }
      var diff = 0.0
      var j = 0
      while (j < r.length) { diff += math.abs(r(j) - t(j)); j += 1 }
      Iterator((r, diff))
    }
  }

  private def scores(spark: SparkSession, layout: VertexLayout,
                     state: RDD[(Array[Double], Double)]): DataFrame =
    VertexLoop.frame(spark, layout, state, "v", DoubleType)(_(_))
}
