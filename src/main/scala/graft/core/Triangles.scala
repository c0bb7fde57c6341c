package graft.core

import java.util.Arrays
import scala.collection.mutable.ArrayBuilder
import scala.reflect.ClassTag
import org.apache.spark.TaskContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** The triangles of a symmetric edge set on the vertex kernel: the masked
  * `plus_pair` square C⟨L.S⟩ = L·Lᵀ of the reference (SURVEY §7.1) as
  * sorted-merge intersections of degree-oriented rows.
  *
  *  1. The edges are built into `CsrGraph` blocks, so each row's `deg` is
  *     the vertex degree (duplicates included).
  *  1. One `VertexLoop.exchange` gives every row its neighbours' degrees:
  *     each owner sends a vertex's slot and degree once to every partition
  *     that holds a neighbour. Each row is then oriented by (deg, id) into its
  *     sorted, duplicate-free out-neighbours N⁺(v); |N⁺(v)| ≤ √(2E).
  *  1. Each non-empty N⁺(b) is shipped once to every partition holding an
  *     in-neighbour a of b: at most p copies per row, one array per
  *     partition pair.
  *  1. Each partition merges N⁺(a) ∩ N⁺(b) for its rows a and each b in
  *     N⁺(a), in primitive loops. Each triangle is found once, at the owner
  *     of its (deg, id)-least corner.
  *
  * The blocks and the oriented rows are persisted, and `unpersist` frees
  * both. The three exchanges (build, degrees, rows) run as shuffle-map
  * stages of the first job that reads `perPartition`, each writing one record
  * per partition pair (the build, one per input partition and owner).
  *
  * Memory: a partition holds its blocks, its oriented rows (8 B per
  * out-neighbour, 16 B per row and 4 B per (row, in-neighbour partition))
  * and the slots and degrees of its rows' neighbours. It receives each
  * oriented row that one of its rows points to once, with 16 B of header
  * per row: at most |E⁺| entries plus 2n longs. On a hub graph (n = 200,000:
  * one hub joined to every vertex of a ring, which also has the chords
  * v–v+2; 1.2M symmetric edge rows, |E⁺| = 599,997) at p = 32 under
  * `local[4]`, each row went to two partitions on average, and the most
  * row entries any partition received was 37,504, 2|E⁺|/p (62,540 longs
  * with the headers). A run there allocated 1.56–1.62 GB of heap, against
  * 0.37–0.42 GB at p = 4 on the same graph. */
final class Triangles private (val layout: VertexLayout, graph: CsrGraph,
                               oriented: RDD[Triangles.Oriented],
                               rows: RDD[Array[Array[Long]]]) {

  /** The result of `sink(partition)` after it has seen every triangle
    * found at that partition. */
  def perPartition[U: ClassTag](sink: Int => Triangles.Sink[U]): RDD[U] = {
    val l = layout
    oriented.zipPartitions(rows) { (os, rs) =>
      val s = sink(TaskContext.getPartitionId())
      Triangles.intersect(l, os.next(), rs.next(), s)
      Iterator(s.result())
    }
  }

  /** The number of triangles, in one job. */
  def count(): Long = perPartition { _ =>
    new Triangles.Sink[Long] {
      private[this] var n = 0L
      def apply(a: Long, b: Long, c: Long): Unit = n += 1
      def result(): Long = n
    }
  }.fold(0L)(_ + _)

  def unpersist(): Unit = {
    graph.unpersist()
    oriented.unpersist(blocking = false)
  }
}

object Triangles {

  /** Sees the triangles of one partition, each once as its corners
    * a ≺ b ≺ c in (deg, id) order, then yields the partition's result. */
  abstract class Sink[U] {
    def apply(a: Long, b: Long, c: Long): Unit
    def result(): U
  }

  /** One partition's rows of the oriented graph: vertex `id(r)` points to
    * `out(off(r) until off(r + 1))`, sorted, and has in-neighbours in the
    * partitions `to(toOff(r) until toOff(r + 1))`. Only vertices with
    * out-neighbours have a row. */
  private[core] final class Oriented(val id: Array[Long], val off: Array[Int],
                                     val out: Array[Long], val toOff: Array[Int],
                                     val to: Array[Int]) extends Serializable

  /** The vertex count the ids of `edges` imply (the largest id plus one),
    * from one job. */
  private def vertices(edges: DataFrame): Long =
    edges.select(col("src").cast("long"), col("dst").cast("long"))
      .queryExecution.toRdd.mapPartitions { rows =>
        var m = -1L
        rows.foreach(r => m = math.max(m, math.max(r.getLong(0), r.getLong(1))))
        Iterator(m)
      }.fold(-1L)(math.max) + 1

  /** The triangles of the symmetric (src, dst) rows of `edges` over `p`
    * partitions, n taken from `vertices`. */
  def apply(edges: DataFrame, p: Int): Triangles =
    apply(edges, VertexLayout(vertices(edges), p))

  /** The triangles of the symmetric (src, dst) rows of `edges`, every id
    * below `layout.n`, with the rows cut into blocks of `blockEdges`. */
  def apply(edges: DataFrame, layout: VertexLayout,
            blockEdges: Int = CsrGraph.BlockEdges): Triangles = {
    val p = layout.p
    val graph = CsrGraph.build(edges, "src", "dst", layout, blockEdges)
    // every owner tells each partition holding a neighbour of v the slot
    // and degree of v, as [slots..., degrees...] in slot order
    val degs = VertexLoop.exchange(graph.blocks.mapPartitions { bs =>
      val slots = Array.fill(p)(new ArrayBuilder.ofLong)
      val ds = Array.fill(p)(new ArrayBuilder.ofLong)
      val last = Array.fill(p)(-1) // the last slot sent to each partition
      bs.foreach(b => b.foreachEdge { (r, v) =>
        val t = layout.part(v)
        if (last(t) != b.src(r)) { last(t) = b.src(r); slots(t) += b.src(r); ds(t) += b.deg(r) }
      })
      Iterator(Array.tabulate(p)(t => slots(t).result() ++ ds(t).result()))
    }, p)
    val oriented = graph.blocks.zipPartitions(degs) { (bs, ds) =>
      Iterator(orient(layout, TaskContext.getPartitionId(), bs, ds.next()))
    }.persist(StorageLevel.MEMORY_AND_DISK)
    new Triangles(layout, graph, oriented, VertexLoop.exchange(oriented.map(ship(p, _)), p))
  }

  /** Orients the rows of partition `k`'s blocks: v points to its neighbours
    * u with (deg(u), u) > (deg(v), v), where deg(u) is read from the
    * message `degs(part(u))` of its owner (0 if absent). */
  private def orient(layout: VertexLayout, k: Int, blocks: Iterator[CsrBlock],
                     degs: Array[Array[Long]]): Oriented = {
    val p = layout.p
    def degree(u: Long): Long = {
      val m = degs(layout.part(u))
      val at = Arrays.binarySearch(m, 0, m.length / 2, layout.slot(u).toLong)
      if (at < 0) 0L else m(at + m.length / 2)
    }
    val ids = new ArrayBuilder.ofLong
    val off = (new ArrayBuilder.ofInt).addOne(0)
    val out = new ArrayBuilder.ofLong
    val toOff = (new ArrayBuilder.ofInt).addOne(0)
    val to = new ArrayBuilder.ofInt
    val listed = Array.fill(p)(-1L) // the last vertex that listed each partition
    val parts = new Array[Int](p) // the current row's in-neighbour partitions
    var plus = new Array[Long](16) // and its out-neighbours
    var q = 0
    var n = 0
    var cur = -1 // the slot of the current row, which may span blocks
    def close(): Unit = if (n > 0) {
      Arrays.sort(plus, 0, n)
      var m = 1
      var i = 1
      while (i < n) { if (plus(i) != plus(m - 1)) { plus(m) = plus(i); m += 1 }; i += 1 }
      ids += layout.vertex(k, cur)
      out.addAll(plus, 0, m)
      off += out.length
      to.addAll(parts, 0, q)
      toOff += to.length
    }
    blocks.foreach { b =>
      var r = 0
      while (r < b.src.length) {
        if (b.src(r) != cur) { close(); cur = b.src(r); n = 0; q = 0 }
        val v = layout.vertex(k, cur)
        val dv = b.deg(r)
        var e = b.off(r)
        while (e < b.off(r + 1)) {
          val u = b.dst(e)
          if (u != v) {
            val du = degree(u)
            if (du > dv || (du == dv && u > v)) {
              if (n == plus.length) plus = Arrays.copyOf(plus, 2 * n)
              plus(n) = u
              n += 1
            } else if (listed(layout.part(u)) != v) {
              listed(layout.part(u)) = v
              parts(q) = layout.part(u)
              q += 1
            }
          }
          e += 1
        }
        r += 1
      }
    }
    close()
    new Oriented(ids.result(), off.result(), out.result(), toOff.result(), to.result())
  }

  /** Partition t's message: the m rows with an in-neighbour in t, as
    * [m, ids(0 until m), ends(0 to m), out-neighbours...], where the i-th
    * row's out-neighbours are `ends(i) until ends(i + 1)` and the ids are
    * sorted. */
  private def ship(p: Int, o: Oriented): Array[Array[Long]] = {
    val ids = Array.fill(p)(new ArrayBuilder.ofLong)
    val ends = Array.fill(p)((new ArrayBuilder.ofLong).addOne(0))
    val outs = Array.fill(p)(new ArrayBuilder.ofLong)
    var r = 0
    while (r < o.id.length) {
      var j = o.toOff(r)
      while (j < o.toOff(r + 1)) {
        val t = o.to(j)
        ids(t) += o.id(r)
        outs(t).addAll(o.out, o.off(r), o.off(r + 1) - o.off(r))
        ends(t) += outs(t).length
        j += 1
      }
      r += 1
    }
    Array.tabulate(p) { t =>
      val i = ids(t).result()
      Array.concat(Array(i.length.toLong), i, ends(t).result(), outs(t).result())
    }
  }

  /** `sink(a, b, c)` for each c in N⁺(a) ∩ N⁺(b), for each row a of `o` and
    * each b in N⁺(a), with N⁺(b) read from the message of b's owner. */
  private def intersect(layout: VertexLayout, o: Oriented, msgs: Array[Array[Long]],
                        sink: Sink[_]): Unit = {
    var r = 0
    while (r < o.id.length) {
      val a = o.id(r)
      var i = o.off(r)
      while (i < o.off(r + 1)) {
        val b = o.out(i)
        val m = msgs(layout.part(b))
        val rows = m(0).toInt
        val at = Arrays.binarySearch(m, 1, 1 + rows, b)
        if (at >= 0) {
          val base = 2 + 2 * rows // where the out-neighbours start
          var y = base + m(at + rows).toInt
          val yEnd = base + m(at + rows + 1).toInt
          var x = o.off(r)
          while (x < o.off(r + 1) && y < yEnd) {
            val c = o.out(x)
            if (c < m(y)) x += 1
            else if (c > m(y)) y += 1
            else { sink(a, b, c); x += 1; y += 1 }
          }
        }
        i += 1
      }
      r += 1
    }
  }
}
