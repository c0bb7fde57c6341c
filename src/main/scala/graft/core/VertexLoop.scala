package graft.core

import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
import org.apache.spark.{Partitioner, SparkContext, TaskContext}
import org.apache.spark.rdd.{RDD, ShuffledRDD}
import org.apache.spark.serializer.KryoSerializer
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import graft.runtime.IterationCheckpointer

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
  /** Whether every vertex id fits an `Int`. */
  def intIds: Boolean = n <= Int.MaxValue
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
  * (duplicates included), and its targets in this block are `dst(e)` for e
  * in `off(r) until off(r + 1)`. A source with more out-edges than a block
  * holds spans consecutive blocks, so no array grows with a hub's degree.
  * The targets are held in `ints` when every vertex id fits an `Int` and in
  * `longs` otherwise; the other array is null. */
final class CsrBlock(val src: Array[Int], val deg: Array[Long], val off: Array[Int],
                     ints: Array[Int], longs: Array[Long]) extends Serializable {

  /** Whether the targets are held as `Int`s; `edges` counts them. */
  def narrow: Boolean = ints != null
  def edges: Int = if (narrow) ints.length else longs.length
  def dst(e: Int): Long = if (narrow) ints(e) else longs(e)

  /** (target, value(row)) for every edge; `value` runs once per row. */
  def push[V](value: Int => V): Iterator[(Long, V)] = new Iterator[(Long, V)] {
    private[this] var r = 0
    private[this] var e = 0
    private[this] var v: V = if (src.isEmpty) null.asInstanceOf[V] else value(0)
    def hasNext: Boolean = e < edges
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
  * once, in the first job that reads the blocks, and never again. */
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
    * target) pairs for the sources it holds (`messages`), and each owner
    * counting-sorts what it received by slot into blocks of `blockEdges`
    * edges. Nothing spills. The pairs are `Int`s when `layout.intIds` and
    * `Long`s otherwise: 8 or 16 B per edge. A sender holds its input
    * partition's edges in `p` growing primitive arrays: one pair per edge,
    * up to two right after their capacities double, plus one target's share
    * again while that array is copied to its exact size to be sent. An
    * owner holds the arrays it received (one pair per edge) and its blocks
    * and two longs per slot, and drops each received array once its edges
    * are in the blocks. A block takes 4 B per edge when `layout.intIds` and
    * 8 B otherwise, and 16 B per row. */
  def build(edges: DataFrame, from: String, to: String, layout: VertexLayout,
            blockEdges: Int = BlockEdges): CsrGraph = {
    val blocks = VertexLoop.exchange(messages(edges, from, to, layout), layout.p)
      .mapPartitionsWithIndex { (k, it) =>
        pack(it.next(), layout.slots(k), blockEdges, layout.intIds)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    new CsrGraph(layout, blocks)
  }

  /** Per input partition of `edges`, the `Pairs` message to each owner: the
    * (slot(from), to) pair of every row whose `from` it owns. */
  private[graft] def messages(edges: DataFrame, from: String, to: String,
                              layout: VertexLayout): RDD[Array[AnyRef]] =
    edges.select(col(from).cast("long"), col(to).cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        val out = new Pairs(layout.p, layout.intIds)
        rows.foreach { r =>
          val s = r.getLong(0)
          out.put(layout.part(s), layout.slot(s), r.getLong(1))
        }
        Iterator(out.result())
      }

  /** Counting-sorts the (slot, target) pairs of `msgs` (`Pairs` messages)
    * by slot, in message order within a slot, and cuts the sorted edges into
    * blocks of `cap`: a row cut at a block's end goes on in the next block
    * with its full degree. The blocks hold `Int` targets when `narrow`. */
  private[graft] def pack(msgs: Array[_ <: AnyRef], slots: Int, cap: Int,
                          narrow: Boolean): Iterator[CsrBlock] = {
    val deg = new Array[Long](slots)
    msgs.foreach(Pairs.foreach(_)((s, _) => deg(s) += 1))
    val next = new Array[Long](slots) // where a slot's next edge goes
    var total = 0L
    var j = 0
    while (j < slots) { next(j) = total; total += deg(j); j += 1 }
    val nBlocks = ((total + cap - 1) / cap).toInt
    def size(b: Int) = math.min(cap, total - b.toLong * cap).toInt
    val ints = Array.tabulate(nBlocks)(b => if (narrow) new Array[Int](size(b)) else null)
    val longs = Array.tabulate(nBlocks)(b => if (narrow) null else new Array[Long](size(b)))
    msgs.indices.foreach { m =>
      Pairs.foreach(msgs(m)) { (s, t) =>
        val at = next(s)
        next(s) = at + 1
        val b = (at / cap).toInt
        val e = (at % cap).toInt
        if (narrow) ints(b)(e) = t.toInt else longs(b)(e) = t
      }
      msgs.asInstanceOf[Array[AnyRef]](m) = null // its edges are in the blocks now
    }
    // now next(j) is the end of slot j's edges
    val blocks = new Array[CsrBlock](nBlocks)
    var b = 0
    var src = new ArrayBuilder.ofInt
    var rowDeg = new ArrayBuilder.ofLong
    var off = (new ArrayBuilder.ofInt).addOne(0)
    def close(): Unit = {
      blocks(b) = new CsrBlock(src.result(), rowDeg.result(), off.result(), ints(b), longs(b))
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

/** Per target partition, a growing message of interleaved (slot, target)
  * pairs: an `Array[Int]` when `narrow` (every vertex id fits an `Int`) and
  * an `Array[Long]` otherwise, so a narrow pair takes 8 B, not 16. */
private[graft] final class Pairs(p: Int, narrow: Boolean) {
  private[this] val ints = if (narrow) Array.fill(p)(new ArrayBuilder.ofInt) else null
  private[this] val longs = if (narrow) null else Array.fill(p)(new ArrayBuilder.ofLong)

  def put(part: Int, slot: Int, target: Long): Unit =
    if (narrow) ints(part).addOne(slot).addOne(target.toInt)
    else longs(part).addOne(slot).addOne(target)

  /** The `p` messages; each builder is dropped once its array is taken. */
  def result(): Array[AnyRef] = Array.tabulate[AnyRef](p) { t =>
    if (narrow) { val a = ints(t).result(); ints(t) = null; a }
    else { val a = longs(t).result(); longs(t) = null; a }
  }
}

private[graft] object Pairs {
  /** `f(slot, target)` for each pair of one message, in order. */
  def foreach(msg: AnyRef)(f: (Int, Long) => Unit): Unit = msg match {
    case m: Array[Int] =>
      var i = 0
      while (i < m.length) { f(m(i), m(i + 1)); i += 2 }
    case m: Array[Long] =>
      var i = 0
      while (i < m.length) { f(m(i).toInt, m(i + 1)); i += 2 }
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
    * partition s of `out`. Messages are primitive arrays (or `Pairs`
    * messages, typed `AnyRef`), serialized with Kryo, and the receivers see
    * them in sender order whatever order the shuffle fetches them in. */
  def exchange[M: ClassTag](out: RDD[Array[M]], p: Int): RDD[Array[M]] = {
    val senders = out.getNumPartitions
    val keyed = out.mapPartitionsWithIndex { (s, it) =>
      val msgs = it.next()
      require(msgs.length == p, s"partition $s sent ${msgs.length} messages to $p partitions")
      Iterator.tabulate(p)(t => (s.toLong * p + t, msgs(t)))
    }
    new ShuffledRDD[Long, M, M](keyed, VertexPartitioner(p))
      .setSerializer(new KryoSerializer(out.sparkContext.getConf))
      .mapPartitions { it =>
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

  /** How a loop saves its state: each round that `checkpointer.saves` is
    * written by the tasks of the job that computes it, each partition as one
    * parquet file of (id, `name`) rows, `value(s, slot)` one entry of a
    * partition's share `s` (as `frame` reads it); `metrics` names the round's
    * metric in the manifest. */
  final class Snapshot[S](val checkpointer: IterationCheckpointer, layout: VertexLayout,
                          name: String, dataType: DataType,
                          val metrics: Double => Map[String, String])(value: (S, Int) => Any) {

    /** Clears the snapshot of round `iteration` and returns the task-side
      * write of a partition's share, which returns its row count. */
    private[VertexLoop] def writer(iteration: Int): (Int, S) => Long = {
      val path = checkpointer.begin(iteration)
      // copies, so the task captures them and not `this`, which holds the checkpointer
      val (at, column, kind, entry) = (layout, name, dataType, value)
      (k, s) => IterationCheckpointer.writePart(path, k, column, kind)(
        Iterator.tabulate(at.slots(k))(j => (at.vertex(k, j), entry(s, j))))
    }
  }

  /** Runs `round` from `start` (after `startRound` rounds) until
    * `done(metric)` holds or `maxIter` rounds have run. `round` returns the
    * next state and the RDDs it persisted for that round alone. Each new
    * state is persisted, cut from its lineage and computed in one job, whose
    * tasks also write the round's `snapshot` when it saves that round; the
    * driver then writes the manifest from the row counts the tasks return.
    * Then the previous state and the round's RDDs are freed and
    * `after(state, rounds, metric)` runs. The metric is NaN when no round
    * ran. */
  def iterate[S](start: RDD[(S, Double)], startRound: Int, maxIter: Int,
                 done: Double => Boolean, snapshot: Option[Snapshot[S]] = None)(
      round: RDD[(S, Double)] => (RDD[(S, Double)], Seq[RDD[_]]))(
      after: (RDD[(S, Double)], Int, Double) => Unit = (_: Any, _: Any, _: Any) => ()
  ): Run[S] = {
    var state = start
    var rounds = startRound
    var metric = Double.NaN
    while (rounds < maxIter && !done(metric)) {
      val (next, scratch) = round(state)
      next.localCheckpoint()
      rounds += 1
      val save = snapshot.filter(_.checkpointer.saves(rounds))
      val write = save.map(_.writer(rounds))
      val parts = next.sparkContext.runJob(next, (ctx: TaskContext, it: Iterator[(S, Double)]) => {
        val (s, m) = it.next()
        (m, write.fold(0L)(_(ctx.partitionId(), s)))
      })
      metric = parts.map(_._1).sum
      save.foreach(s => s.checkpointer.commit(rounds, s.metrics(metric),
        parts.indices.map(k => k -> parts(k)._2)))
      (state +: scratch).foreach(_.unpersist(blocking = false))
      state = next
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
