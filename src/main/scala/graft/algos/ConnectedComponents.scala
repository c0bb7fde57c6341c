package graft.algos

import java.util.Arrays
import scala.collection.mutable.ArrayBuilder
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
  * is one job over four `VertexLoop.exchange`s, each one primitive array
  * per partition pair: the pushes and then the hooks, each min-combined by
  * the sender and sent as (slot, value) pairs for the slots it reached, and
  * the asks and answers of the pointer jump gp = f[f], the asks as slots
  * and the answers in the order asked. A sender's messages hold at most its
  * edges (pushes) or its slots (hooks, asks), never a target's whole slot
  * range, so a round ships O(n + E) values besides its 4p^2 messages. The
  * change count rides the job that materializes the new (f, gp), and so
  * does a `checkpointer`'s save of f as (id, v) rows: each task writes its
  * partition. Converges in O(log n) rounds.
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
    val snapshot = checkpointer.map(new VertexLoop.Snapshot[(Array[Long], Array[Long])](_,
      layout, "v", LongType, changed => Map("changed" -> changed.toLong.toString))(_._1(_)))
    val run = VertexLoop.iterate(start, 0, maxIter, _ == 0, snapshot)(round(graph, _))()
    graph.unpersist()
    CCResult(VertexLoop.frame(spark, layout, run.state, "component", LongType)(_._1(_)),
      run.rounds, run.converged)
  }

  private def round(graph: CsrGraph, state: State): (State, Seq[RDD[_]]) = {
    val layout = graph.layout
    val p = layout.p
    def gather(msgs: RDD[Array[Array[Long]]]) =
      msgs.mapPartitionsWithIndex((t, it) => Iterator(least(it.next(), layout.slots(t))))
    // mngp(i) = min_{j in N(i)} gp(j)   [min_second semiring mxv]; read by
    // the hooks and by f1, so kept
    val mngp = gather(VertexLoop.exchange(graph.blocks.zipPartitions(state) { (bs, ss) =>
      val gp = ss.next()._1._2
      Iterator(mins(layout)(put => bs.foreach(b => b.foreachEdge((r, i) => put(i, gp(b.src(r)))))))
    }, p)).persist(StorageLevel.MEMORY_AND_DISK)
    // hooking: f[f(i)] min= mngp(i); duplicate targets reduced by min. f
    // only falls from the identity, so f(v) <= v, and a hook no less than
    // f(i) cannot lower f(f(i)) <= f(i): it is not sent.
    val hooks = gather(VertexLoop.exchange(state.zipPartitions(mngp) { (ss, ms) =>
      val f = ss.next()._1._1
      val m = ms.next()
      Iterator(mins(layout)(put => f.indices.foreach(j => if (m(j) < f(j)) put(f(j), m(j)))))
    }, p))
    // f = min(f, gp, mngp, hooks); read three times below, so kept
    val f1 = state.zipPartitions(mngp, hooks) { (ss, ms, hs) =>
      val (f, gp) = ss.next()._1
      val m = ms.next()
      val h = hs.next()
      val f1 = new Array[Long](f.length)
      var j = 0
      while (j < f.length) {
        f1(j) = math.min(math.min(f(j), gp(j)), math.min(m(j), h(j)))
        j += 1
      }
      Iterator(f1)
    }.persist(StorageLevel.MEMORY_AND_DISK)
    // gp = f[f]: each slot asks the owner of f(i) for slot(f(i)), which
    // answers f(f(i)) in the order asked
    val asks = VertexLoop.exchange(f1.map { f =>
      val out = Array.fill(p)(new ArrayBuilder.ofInt)
      var j = 0
      while (j < f.length) { out(layout.part(f(j))) += layout.slot(f(j)); j += 1 }
      out.map(_.result())
    }, p)
    val answers = VertexLoop.exchange(f1.zipPartitions(asks) { (fs, as) =>
      val f = fs.next()
      Iterator(as.next().map { ask =>
        val a = new Array[Long](ask.length)
        var i = 0
        while (i < ask.length) { a(i) = f(ask(i)); i += 1 }
        a
      })
    }, p)
    // the change count (gp_new != gp) is the round's metric
    val next = state.zipPartitions(f1, answers) { (ss, fs, as) =>
      val gp = ss.next()._1._2
      val f = fs.next()
      val ans = as.next()
      val taken = new Array[Int](p)
      val ngp = new Array[Long](f.length)
      var changed = 0
      var j = 0
      while (j < f.length) {
        val t = layout.part(f(j))
        ngp(j) = ans(t)(taken(t))
        taken(t) += 1
        if (ngp(j) != gp(j)) changed += 1
        j += 1
      }
      Iterator(((f, ngp), changed.toDouble))
    }
    (next, Seq(mngp, f1))
  }

  /** Per target partition, the least value `send` put to each vertex it
    * reached, as interleaved (slot, value) pairs in slot order. The puts are
    * buffered as (slot << 32 | index) keys beside their values and combined
    * by sorting the keys, so a sender holds its puts, never a target's
    * whole slot range. */
  private[algos] def mins(layout: VertexLayout)(
      send: ((Long, Long) => Unit) => Unit): Array[Array[Long]] = {
    val keys = Array.fill(layout.p)(new ArrayBuilder.ofLong)
    val vals = Array.fill(layout.p)(new ArrayBuilder.ofLong)
    val sizes = new Array[Int](layout.p)
    send { (v, x) =>
      val t = layout.part(v)
      keys(t) += (layout.slot(v).toLong << 32) | sizes(t)
      vals(t) += x
      sizes(t) += 1
    }
    Array.tabulate(layout.p) { t =>
      val k = keys(t).result()
      val x = vals(t).result()
      keys(t) = null
      vals(t) = null
      Arrays.sort(k)
      val out = new ArrayBuilder.ofLong
      var a = 0
      while (a < k.length) {
        val slot = k(a) >>> 32
        var m = Long.MaxValue
        while (a < k.length && (k(a) >>> 32) == slot) {
          m = math.min(m, x((k(a) & 0xFFFFFFFFL).toInt))
          a += 1
        }
        out += slot += m
      }
      out.result()
    }
  }

  /** The least value the (slot, value) pairs of `msgs` hold for each of
    * `slots` slots, `Long.MaxValue` for none. Drops each message once read. */
  private[algos] def least(msgs: Array[Array[Long]], slots: Int): Array[Long] = {
    val m = new Array[Long](slots)
    Arrays.fill(m, Long.MaxValue)
    var s = 0
    while (s < msgs.length) {
      val a = msgs(s)
      var i = 0
      while (i < a.length) {
        val j = a(i).toInt
        if (a(i + 1) < m(j)) m(j) = a(i + 1)
        i += 2
      }
      msgs(s) = null
      s += 1
    }
    m
  }
}
