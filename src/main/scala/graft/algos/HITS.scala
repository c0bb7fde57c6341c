package graft.algos

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.core.{CsrBlock, CsrGraph, VertexLoop}
import graft.graph.Adjacency

final case class HitsResult(scores: DataFrame, iterations: Int)

/** Kleinberg HITS over the semiring substrate: per iteration
  *
  *   a = normalize₂(Aᵀ h)   (authority: plus_second gather over IN-edges)
  *   h = normalize₂(A a)    (hub:       plus_second gather over OUT-edges)
  *
  * — two `plus_second`-semiring mxv products (the same kernel family the
  * reference expresses them with) plus an L2 scalar reduction each.
  *
  * Both products run on the block-cyclic vertex kernel
  * (`graft.core.VertexLoop`) as two rounds per iteration, each one push
  * along an adjacency's persisted CSR blocks and one map-side-combined
  * shuffle to the targets' owners: a = Aᵀh pushes h over the out-edges of
  * `adjOut`, and h = A·a pushes a over the out-edges of `adjIn`, the
  * reversed graph. The state is the raw (unnormalized) authority and hub
  * arrays of each partition; a round's metric is its Σv², so the job that
  * materializes a half also yields its L2 norm, and the next half divides
  * by that norm as it pushes. One job per half, two per iteration.
  *
  * Missing = absent: a vertex with no in-edges has NO authority entry (not
  * an explicit 0), and a sink has no hub entry — GraphBLAS sparsity
  * semantics. A vertex with neither has no row.
  */
object HITS {

  private type State = RDD[((Array[Double], Array[Double]), Double)]

  /** @param adjOut adjacency of (src → dst) edges, as built by `Adjacency`
    * @param adjIn  adjacency of the REVERSED edges (dst → src) */
  def run(spark: SparkSession, adjOut: Adjacency, adjIn: Adjacency,
          maxIter: Int = 20): HitsResult = {
    val layout = adjOut.graph.layout
    require(adjIn.graph.layout == layout, "adjIn needs the vertices and partitions of adjOut")
    val h0 = 1.0 / math.sqrt(layout.n.toDouble)
    // (raw authority, raw hub); h0 is the uniform unit-L2 vector
    val start: State = VertexLoop.init(spark.sparkContext, layout) { (_, m) =>
      (new Array[Double](m), Array.fill(m)(h0))
    }
    var (aNorm, hNorm, halves) = (1.0, 1.0, 0)
    val run = VertexLoop.iterate(start, 0, 2 * maxIter, _ => false) { state =>
      if (halves % 2 == 0) (half(adjOut.graph, state, authority = true, hNorm), Nil)
      else (half(adjIn.graph, state, authority = false, aNorm), Nil)
    } { (_, rounds, sumSq) =>
      halves = rounds
      if (rounds % 2 == 1) aNorm = math.sqrt(sumSq) else hNorm = math.sqrt(sumSq)
    }
    // an entry where the vertex is a block row of adjIn (authority) or of
    // adjOut (hub), that is, where it has in-edges or out-edges
    val (an, hn) = (aNorm, hNorm)
    val rows = run.state.zipPartitions(adjIn.graph.blocks, adjOut.graph.blocks) {
      (ss, ins, outs) =>
        val (a, h) = ss.next()._1
        Iterator((a, h, rowsOf(ins, a.length), rowsOf(outs, h.length)))
    }.mapPartitionsWithIndex { (k, it) =>
      val (a, h, hasIn, hasOut) = it.next()
      Iterator.range(0, a.length).filter(j => hasIn(j) || hasOut(j)).map { j =>
        Row(layout.vertex(k, j), if (hasOut(j)) h(j) / hn else null,
          if (hasIn(j)) a(j) / an else null)
      }
    }
    val schema = StructType(Seq(StructField("id", LongType, nullable = false),
      StructField("hub", DoubleType), StructField("authority", DoubleType)))
    HitsResult(spark.createDataFrame(rows, schema), run.rounds / 2)
  }

  /** One half: the pushed array (hub for an authority half, authority for a
    * hub half), divided by `norm`, summed along the out-edges of `graph`
    * into the other array; the metric is the new array's Σv². */
  private def half(graph: CsrGraph, state: State, authority: Boolean,
                   norm: Double): State = {
    val layout = graph.layout
    val gathered = graph.push(state) { (b, s) =>
      val x = if (authority) s._2 else s._1
      b.push(r => x(b.src(r)) / norm)
    }.reduceByKey(layout.partitioner, _ + _)
    state.zipPartitions(gathered) { (ss, gs) =>
      val (a, h) = ss.next()._1
      val next = new Array[Double](a.length)
      gs.foreach { case (v, g) => next(layout.slot(v)) = g }
      var sumSq = 0.0
      next.foreach(x => sumSq += x * x)
      Iterator((if (authority) (next, h) else (a, next), sumSq))
    }
  }

  private def rowsOf(blocks: Iterator[CsrBlock], slots: Int): Array[Boolean] = {
    val has = new Array[Boolean](slots)
    blocks.foreach(_.src.foreach(has(_) = true))
    has
  }
}
