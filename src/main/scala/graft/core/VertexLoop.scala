package graft.core

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

/** Block-cyclic placement of the vertex universe 0..n-1 over `p`
  * partitions: vertex i lives in partition i mod p at slot i / p, so each
  * partition's share of a dense vertex vector is one primitive array of
  * `slots(part)` entries. Construction fails with an
  * IllegalArgumentException when a partition's share cannot fit in one
  * JVM array; it allocates nothing, so loops check it before any job. */
final case class VertexLayout(n: Long, p: Int) {
  require(p > 0, s"need at least one partition, got $p")
  require(n >= 0, s"vertex count must be non-negative, got $n")
  require(n / p + (if (n % p == 0) 0 else 1) <= VertexLayout.MaxSlots,
    s"$n vertices over $p partitions need ${n / p + 1} slots per partition, " +
      s"more than one array holds (${VertexLayout.MaxSlots}); use more partitions")

  def part(v: Long): Int = (v % p).toInt
  def slot(v: Long): Int = (v / p).toInt
  def vertex(part: Int, slot: Int): Long = slot.toLong * p + part
  def slots(part: Int): Int = if (part >= n) 0 else ((n - 1 - part) / p + 1).toInt
  def partitioner: Partitioner = VertexPartitioner(p)
}

object VertexLayout {
  /** The largest array length every JVM allocates. */
  val MaxSlots: Long = Int.MaxValue - 8
}

/** Sends a record to the owner of its long vertex key. */
final case class VertexPartitioner(p: Int) extends Partitioner {
  def numPartitions: Int = p
  def getPartition(key: Any): Int = (key.asInstanceOf[Long] % p).toInt
}

/** A bounded slice of one partition's out-edges in CSR form: row r is the
  * source at slot `src(r)`, `deg(r)` is that source's full out-degree
  * (duplicates included), and its targets in this block are
  * `dst(off(r) until off(r + 1))`. A source with more out-edges than a block
  * holds spans consecutive blocks, so no array grows with a hub's degree. */
final class CsrBlock(val src: Array[Int], val deg: Array[Long], val off: Array[Int],
                     val dst: Array[Long]) extends Serializable {

  /** (target, value(row)) for every edge; `value` runs once per row. */
  def push[V](value: Int => V): Iterator[(Long, V)] = new Iterator[(Long, V)] {
    private[this] var r = 0
    private[this] var e = 0
    private[this] var v: V = if (src.isEmpty) null.asInstanceOf[V] else value(0)
    def hasNext: Boolean = e < dst.length
    def next(): (Long, V) = {
      while (e >= off(r + 1)) { r += 1; v = value(r) }
      e += 1
      (dst(e - 1), v)
    }
  }

  /** `f(row, target)` for every edge, in block order. */
  def foreachEdge(f: (Int, Long) => Unit): Unit = {
    var r = 0
    while (r < src.length) {
      var e = off(r)
      while (e < off(r + 1)) { f(r, dst(e)); e += 1 }
      r += 1
    }
  }
}

/** A graph for vertex loops: the out-edges of each vertex, held in bounded
  * CSR blocks in its owner partition and persisted. The edges are shuffled
  * once, in the job of the first round, and never again. */
final class CsrGraph(val layout: VertexLayout, val blocks: RDD[CsrBlock]) {

  /** Step 1 of a round: `emit` runs over each block beside its partition's
    * state and yields (target, value) records for the shuffle to the
    * targets' owners. */
  def push[S, V](state: RDD[(S, Double)])(
      emit: (CsrBlock, S) => Iterator[(Long, V)]): RDD[(Long, V)] =
    blocks.zipPartitions(state) { (bs, ss) =>
      val s = ss.next()._1
      bs.flatMap(b => emit(b, s))
    }

  def unpersist(): Unit = blocks.unpersist(blocking = false)
}

object CsrGraph {
  val BlockEdges: Int = 1 << 16

  /** The graph whose out-edges are the rows (`from`, `to`) of `edges`. Each
    * input partition sends every owner one array of interleaved (slot,
    * target) pairs for the sources it holds (`VertexLoop.exchange`), and
    * each owner counting-sorts what it received by slot into blocks of
    * `blockEdges` edges. Nothing spills. A sender holds its input
    * partition's edges in `p` growing primitive arrays: 16 B per edge, up to
    * 32 B right after their capacities double, plus one target's share
    * again while that array is copied to its exact size to be sent. An
    * owner holds the arrays it received (16 B per edge) and its blocks (8 B
    * per edge, 16 B per row) and two longs per slot, and drops each received
    * array once its edges are in the blocks. */
  def build(edges: DataFrame, from: String, to: String, layout: VertexLayout,
            blockEdges: Int = BlockEdges): CsrGraph = {
    val p = layout.p
    val sent = edges.select(col(from).cast("long"), col(to).cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val out = Array.fill(p)(new ArrayBuilder.ofLong)
        rows.foreach { r =>
          val s = r.getLong(0)
          out(layout.part(s)).addOne(layout.slot(s)).addOne(r.getLong(1))
        }
        // each builder is dropped once its array is taken
        Iterator(Array.tabulate(p) { t => val a = out(t).result(); out(t) = null; a })
      }
    val blocks = VertexLoop.exchange(sent, p)
      .mapPartitionsWithIndex((k, it) => pack(it.next(), layout.slots(k), blockEdges))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new CsrGraph(layout, blocks)
  }

  /** Counting-sorts the (slot, target) pairs of `msgs` by slot, in message
    * order within a slot, and cuts the sorted edges into blocks of `cap`: a
    * row cut at a block's end goes on in the next block with its full
    * degree. */
  private def pack(msgs: Array[Array[Long]], slots: Int, cap: Int): Iterator[CsrBlock] = {
    val deg = new Array[Long](slots)
    msgs.foreach { m =>
      var i = 0
      while (i < m.length) { deg(m(i).toInt) += 1; i += 2 }
    }
    val next = new Array[Long](slots) // where a slot's next edge goes
    var total = 0L
    var j = 0
    while (j < slots) { next(j) = total; total += deg(j); j += 1 }
    val dst = Array.tabulate(((total + cap - 1) / cap).toInt) { b =>
      new Array[Long](math.min(cap, total - b.toLong * cap).toInt)
    }
    msgs.indices.foreach { s =>
      val m = msgs(s)
      var i = 0
      while (i < m.length) {
        val at = next(m(i).toInt)
        next(m(i).toInt) = at + 1
        dst((at / cap).toInt)((at % cap).toInt) = m(i + 1)
        i += 2
      }
      msgs(s) = null // its edges are in the blocks now
    }
    // now next(j) is the end of slot j's edges
    val blocks = new Array[CsrBlock](dst.length)
    var b = 0
    var src = new ArrayBuilder.ofInt
    var rowDeg = new ArrayBuilder.ofLong
    var off = (new ArrayBuilder.ofInt).addOne(0)
    def close(): Unit = {
      blocks(b) = new CsrBlock(src.result(), rowDeg.result(), off.result(), dst(b))
      b += 1
      src = new ArrayBuilder.ofInt
      rowDeg = new ArrayBuilder.ofLong
      off = (new ArrayBuilder.ofInt).addOne(0)
    }
    j = 0
    while (j < slots) {
      var at = next(j) - deg(j)
      while (at < next(j)) {
        if (at == (b + 1).toLong * cap) close()
        val end = math.min(next(j), (b + 1).toLong * cap)
        src += j
        rowDeg += deg(j)
        off += (end - b.toLong * cap).toInt
        at = end
      }
      j += 1
    }
    if (b < blocks.length) close()
    blocks.iterator
  }
}

/** The driver of dense-vector loops over a `VertexLayout`. A state holds
  * one element per partition: its share of the vectors and a metric. A
  * round sends along out-edges to the targets' owners, either as
  * map-side-combined records (`CsrGraph.push`) or as one primitive array
  * per partition pair (`exchange`), and merges with the old state through
  * `zipPartitions`; one job materializes the new state and sums the
  * partition metrics (a change count or a residual). */
object VertexLoop {

  final case class Run[S](state: RDD[(S, Double)], rounds: Int, metric: Double,
                          converged: Boolean)

  /** Ships one message per partition pair. Each partition of `out` holds
    * one array of `p` messages, the t-th for partition t; partition t of the
    * result holds one array of the messages sent to it, the s-th from
    * partition s of `out`. Messages are primitive arrays, which Spark
    * serializes with Kryo, and the receivers see them in sender order
    * whatever order the shuffle fetches them in. */
  def exchange[M: ClassTag](out: RDD[Array[M]], p: Int): RDD[Array[M]] = {
    val senders = out.getNumPartitions
    val keyed = out.mapPartitionsWithIndex { (s, it) =>
      val msgs = it.next()
      require(msgs.length == p, s"partition $s sent ${msgs.length} messages to $p partitions")
      Iterator.tabulate(p)(t => (s.toLong * p + t, msgs(t)))
    }
    new ShuffledRDD[Long, M, M](keyed, VertexPartitioner(p)).mapPartitions { it =>
      val in = new Array[M](senders)
      it.foreach { case (key, m) => in((key / p).toInt) = m }
      Iterator(in)
    }
  }

  /** The state whose partition `part` holds `f(part, slots)`. */
  def init[S: ClassTag](sc: SparkContext, layout: VertexLayout)(
      f: (Int, Int) => S): RDD[(S, Double)] =
    sc.parallelize(0 until layout.p, layout.p).map(k => (f(k, layout.slots(k)), 0.0))

  /** The state holding the (vertex, value) pairs, which may come from any
    * layout (a checkpoint saved at another partition count); vertices with
    * no pair hold 0. */
  def load(layout: VertexLayout, pairs: RDD[(Long, Double)]): RDD[(Array[Double], Double)] =
    pairs.partitionBy(layout.partitioner).mapPartitionsWithIndex { (k, it) =>
      val a = new Array[Double](layout.slots(k))
      it.foreach { case (v, x) => a(layout.slot(v)) = x }
      Iterator((a, 0.0))
    }

  /** Runs `round` from `start` (after `startRound` rounds) until
    * `done(metric)` holds or `maxIter` rounds have run. `round` returns the
    * next state and the RDDs it persisted for that round alone. Each new
    * state is persisted, cut from its lineage and computed in one job; then
    * the previous state and the round's RDDs are freed and `after(state,
    * rounds, metric)` runs. The metric is NaN when no round ran. */
  def iterate[S](start: RDD[(S, Double)], startRound: Int, maxIter: Int,
                 done: Double => Boolean)(
      round: RDD[(S, Double)] => (RDD[(S, Double)], Seq[RDD[_]]))(
      after: (RDD[(S, Double)], Int, Double) => Unit): Run[S] = {
    var state = start
    var rounds = startRound
    var metric = Double.NaN
    while (rounds < maxIter && !done(metric)) {
      val (next, scratch) = round(state)
      next.localCheckpoint()
      metric = next.sparkContext
        .runJob(next, (it: Iterator[(S, Double)]) => it.map(_._2).sum).sum
      (state +: scratch).foreach(_.unpersist(blocking = false))
      state = next
      rounds += 1
      after(state, rounds, metric)
    }
    Run(state, rounds, metric, done(metric))
  }

  /** The state as an (id, `name`) DataFrame; `value(s, slot)` reads one
    * entry of a partition's share `s`. */
  def frame[S](spark: SparkSession, layout: VertexLayout, state: RDD[(S, Double)],
               name: String, dataType: DataType)(value: (S, Int) => Any): DataFrame = {
    val rows = state.mapPartitionsWithIndex { (k, it) =>
      val s = it.next()._1
      Iterator.tabulate(layout.slots(k))(j => Row(layout.vertex(k, j), value(s, j)))
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField(name, dataType, nullable = false))))
  }
}
