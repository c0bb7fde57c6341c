package graft.core

import java.util.Arrays
import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
import org.apache.spark.{Partitioner, SparkContext}
import org.apache.spark.rdd.RDD
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
  def partitioner: Partitioner = VertexPartitioner(p, 0)
}

object VertexLayout {
  /** The largest array length every JVM allocates. */
  val MaxSlots: Long = Int.MaxValue - 8
}

/** Sends a record to the owner of the vertex held in its long key's bits
  * above `shift` (0 for a plain vertex key). */
final case class VertexPartitioner(p: Int, shift: Int) extends Partitioner {
  def numPartitions: Int = p
  def getPartition(key: Any): Int = ((key.asInstanceOf[Long] >>> shift) % p).toInt
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

  /** The graph whose out-edges are the rows (`from`, `to`) of `edges`. The
    * rows reach their owner through one sort-based (spilling) shuffle; a
    * source's edges are then consecutive, and only one source's targets
    * are held at a time while its rows are cut into blocks. */
  def build(edges: DataFrame, from: String, to: String, layout: VertexLayout,
            blockEdges: Int = BlockEdges): CsrGraph = {
    val pairs = edges.select(col(from).cast("long"), col(to).cast("long"))
      .queryExecution.toRdd.map(r => (r.getLong(0), r.getLong(1)))
    val p = layout.p
    val blocks = pairs.repartitionAndSortWithinPartitions(layout.partitioner)
      .mapPartitions(it => pack(it, p, blockEdges))
      .persist(StorageLevel.MEMORY_AND_DISK)
    new CsrGraph(layout, blocks)
  }

  private def pack(sorted: Iterator[(Long, Long)], p: Int, cap: Int): Iterator[CsrBlock] = {
    val in = sorted.buffered
    var row = new Array[Long](16) // the current source's targets
    var rowLen = 0
    var rowPos = 0
    var rowSlot = 0
    def nextRow(): Unit = {
      val s = in.head._1
      rowLen = 0
      rowPos = 0
      rowSlot = (s / p).toInt
      while (in.hasNext && in.head._1 == s) {
        if (rowLen == row.length) row = Arrays.copyOf(row, rowLen * 2)
        row(rowLen) = in.next()._2
        rowLen += 1
      }
    }
    new Iterator[CsrBlock] {
      def hasNext: Boolean = rowPos < rowLen || in.hasNext
      def next(): CsrBlock = {
        val src = ArrayBuilder.make[Int]
        val deg = ArrayBuilder.make[Long]
        val off = ArrayBuilder.make[Int]
        val dst = ArrayBuilder.make[Long]
        off += 0
        var used = 0
        while (used < cap && hasNext) {
          if (rowPos == rowLen) nextRow()
          val take = math.min(cap - used, rowLen - rowPos)
          src += rowSlot
          deg += rowLen.toLong
          dst.addAll(row, rowPos, take)
          rowPos += take
          used += take
          off += used
        }
        new CsrBlock(src.result(), deg.result(), off.result(), dst.result())
      }
    }
  }
}

/** The driver of dense-vector loops over a `VertexLayout`. A state holds
  * one element per partition: its share of the vectors and a metric. A
  * round pushes along out-edges (`CsrGraph.push`), shuffles once to the
  * targets' owners with a map-side combine, and merges with the old state
  * through `zipPartitions`; one job materializes the new state and sums the
  * partition metrics (a change count or a residual). */
object VertexLoop {

  final case class Run[S](state: RDD[(S, Double)], rounds: Int, metric: Double,
                          converged: Boolean)

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
