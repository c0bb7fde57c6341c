package graft.graph

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest
import graft.core.{CsrGraph, VertexLayout}

/** Direct tests of the adjacency's two layouts: the packed parquet rows of
  * `Adjacency.pack` (hub salting, full degree) and the CSR blocks the loops
  * read (exact edges, `Int` targets when the ids fit). */
class AdjacencySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("hub out-degree is chunk-salted: no packed row exceeds maxChunk, " +
    "deg stays the FULL degree, edges survive exactly") {
    // one hub (0 → 1..500) over maxChunk=64, plus a normal vertex
    val edges = ((1 to 500).map(d => (0L, d.toLong)) :+ (7L, 3L)).toDF("src", "dst")
    val packed = Adjacency.pack(edges, maxChunk = 64)
    val rows = packed.select(col("src"), col("deg"), size(col("dsts")).as("len")).collect()
    val hubRows = rows.filter(_.getLong(0) == 0L)
    // ceil(500/64) = 8 chunks, each within the bound, full degree on every row
    assert(hubRows.length == 8, s"expected 8 salted chunks, got ${hubRows.length}")
    assert(hubRows.forall(_.getInt(2) <= 64), "a chunk exceeds maxChunk")
    assert(hubRows.forall(_.getLong(1) == 500L), "deg must be the FULL out-degree")
    assert(rows.filter(_.getLong(0) == 7L).map(_.getLong(1)).toSeq == Seq(1L))
    // no edge lost or duplicated by the salting, in the packed rows or in
    // the adjacency's blocks loaded from them
    val want = ((1 to 500).map(d => (0L, d.toLong)) :+ (7L, 3L)).sorted
    val back = packed.select(col("src"), explode(col("dsts")).as("dst"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(back.sorted.toSeq == want)
    val adj = Adjacency.fromPacked(packed, 501, numPartitions = 4)
    try {
      assert(adj.numEdges == 501L)
      assert(AdjacencySpec.edges(adj).map(e => (e._1, e._3)).sorted == want)
    } finally adj.unpersist()
  }

  test("neighbor arrays int-pack iff the vertex universe fits 32 bits") {
    val edges = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val small = Adjacency.build(edges, 3, numPartitions = 2)
    try {
      assert(small.graph.blocks.collect().forall(_.narrow), "a small universe must int-pack")
    } finally small.unpersist()
    // the layout decides; a >2^31 universe is checked without building its
    // slot arrays, on the packing of one partition's messages
    assert(VertexLayout(Int.MaxValue.toLong, 2).intIds)
    assert(!VertexLayout(Int.MaxValue.toLong + 10, 2).intIds)
    val far = Int.MaxValue.toLong + 5
    val blocks = CsrGraph.pack(Array(Array(0L, far, 1L, 7L, 0L, 2L)), slots = 2, cap = 2,
      narrow = false).toSeq
    assert(blocks.forall(!_.narrow), "a >2^31 universe must stay long")
    val got = blocks.flatMap { b =>
      val out = Seq.newBuilder[(Int, Long, Long)]
      b.foreachEdge((r, d) => out += ((b.src(r), b.deg(r), d)))
      out.result()
    }
    assert(got == Seq((0, 2L, far), (0, 2L, 2L), (1, 1L, 7L)))
  }
}

object AdjacencySpec {
  /** (src, deg, dst) for every edge in the blocks of `adj`. */
  def edges(adj: Adjacency): Seq[(Long, Long, Long)] = {
    val layout = adj.graph.layout
    adj.graph.blocks.mapPartitionsWithIndex { (k, bs) =>
      bs.flatMap { b =>
        val out = Seq.newBuilder[(Long, Long, Long)]
        b.foreachEdge((r, d) => out += ((layout.vertex(k, b.src(r)), b.deg(r), d)))
        out.result()
      }
    }.collect().toSeq
  }
}
