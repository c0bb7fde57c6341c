package graft.algos

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.LongType
import org.apache.spark.storage.StorageLevel
import graft.core.{CsrGraph, VertexLayout, VertexLoop}

/** `converged` is false when the loop stopped at `maxIter` with a round
  * that still changed the grandparents. */
final case class CCResult(components: DataFrame, iterations: Int, converged: Boolean)

/** Connected components via FastSV (Zhang, Azad, Buluç; SIAM PP20), with the
  * exact semantics of the reference notebook
  * `/root/reference/notebooks/Connected Components -- FastSV.ipynb`:
  *
  *   f = 0..n-1 ; gp = f
  *   loop: mngp  = min_second(A @ gp)          — min grandparent of nbrs
  *         f[I] min= mngp  (I = old f values; duplicate targets pre-reduced
  *                          by min — the notebook's Reduce_assign, which
  *                          deliberately differs from GrB_assign dup rules)
  *         f = min(f, mngp) ; f = min(f, gp)   — hook + shortcut
  *         gp = f[f] ; stop when gp unchanged
  *
  * Edge input must be symmetric (both directions present). The loop runs on
  * the block-cyclic vertex kernel (`graft.core.VertexLoop`): f and gp are
  * two long arrays per partition, and the edges are CSR blocks keyed by
  * `dst`, so along each edge (i, j) the vertex j pushes gp(j) to i. A round
  * is one job over four vertex-keyed shuffles, all (Long, Long): the pushes
  * min-combined to their targets (mngp), the hooks min-combined to f(i),
  * and the request and answer of the pointer jump gp = f[f]. The change
  * count rides the job that materializes the new (f, gp). Converges in
  * O(log n) rounds.
  */
object ConnectedComponents {

  private type State = RDD[((Array[Long], Array[Long]), Double)]

  def run(spark: SparkSession, edgesSym: DataFrame, n: Long, numPartitions: Int,
          maxIter: Int = 64,
          checkpointer: Option[graft.runtime.IterationCheckpointer] = None): CCResult = {
    val layout = VertexLayout(n, numPartitions)
    val graph = CsrGraph.build(edgesSym, "dst", "src", layout)
    val start = VertexLoop.init(spark.sparkContext, layout) { (k, m) =>
      val f = Array.tabulate(m)(j => layout.vertex(k, j))
      (f, f) // f is the identity map, so gp = f(f) = f
    }
    def parents(state: State, name: String) =
      VertexLoop.frame(spark, layout, state, name, LongType)(_._1(_))
    val run = VertexLoop.iterate(start, 0, maxIter, _ == 0)(round(graph, _)) {
      (state, iter, changed) =>
        checkpointer.foreach(_.save(parents(state, "v"), iter,
          Map("changed" -> changed.toLong.toString)))
    }
    graph.unpersist()
    CCResult(parents(run.state, "component"), run.rounds, run.converged)
  }

  private def round(graph: CsrGraph, state: State): (State, Seq[RDD[_]]) = {
    val layout = graph.layout
    val part = layout.partitioner
    // mngp(i) = min_{j in N(i)} gp(j)   [min_second semiring mxv]
    val mngp = graph.push(state) { (b, s) => b.push(r => s._2(b.src(r))) }
      .reduceByKey(part, math.min(_, _))
    // hooking: f[f(i)] min= mngp(i); duplicate targets reduced by min
    val hooks = state.zipPartitions(mngp) { (ss, ms) =>
      val f = ss.next()._1._1
      ms.map { case (i, m) => (f(layout.slot(i)), m) }
    }.reduceByKey(part, math.min(_, _))
    // f = min(f, gp, mngp, hooks); read three times below, so kept
    val f1 = state.zipPartitions(mngp, hooks) { (ss, ms, hs) =>
      val (f, gp) = ss.next()._1
      val out = Array.tabulate(f.length)(j => math.min(f(j), gp(j)))
      (ms ++ hs).foreach { case (i, m) =>
        val j = layout.slot(i)
        if (m < out(j)) out(j) = m
      }
      Iterator(out)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // gp = f[f]: vertex i asks the owner of f(i), which answers f(f(i))
    val asks = f1.mapPartitionsWithIndex { (k, it) =>
      val f = it.next()
      Iterator.tabulate(f.length)(j => (f(j), layout.vertex(k, j)))
    }.partitionBy(part)
    val answers = f1.zipPartitions(asks) { (fs, as) =>
      val f = fs.next()
      as.map { case (t, i) => (i, f(layout.slot(t))) }
    }.partitionBy(part)
    // the change count (gp_new != gp) is the round's metric
    val next = state.zipPartitions(f1, answers) { (ss, fs, as) =>
      val gp = ss.next()._1._2
      val f = fs.next()
      val ngp = new Array[Long](f.length)
      as.foreach { case (i, g) => ngp(layout.slot(i)) = g }
      Iterator(((f, ngp), gp.indices.count(j => ngp(j) != gp(j)).toDouble))
    }
    (next, Seq(f1))
  }
}
