package graft.graph

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.{CsrGraph, VertexLayout}

/** The out-edges of a graph over the vertices 0..n-1, held once as the
  * vertex kernel's persisted CSR blocks (`graft.core.CsrGraph`) — the
  * analogue of the reference backend's one CSR import
  * (`graphblas/core/ss/matrix.py:1163` import_csr) that every mxv reads.
  *
  * The edges are shuffled once, in the build's own job, and every run on
  * this adjacency (PageRank, PPR, Katz, Eigenvector through
  * `graft.algos.LinearRecurrence`, and HITS) reads the same blocks. Block
  * rows carry the full out-degree (duplicate edges included) and a hub's
  * row is cut across blocks of at most `CsrGraph.BlockEdges` edges, so no
  * array grows with one vertex's degree. Targets take 4 B per edge when n
  * fits an `Int`.
  */
final case class Adjacency(graph: CsrGraph, numEdges: Long) {
  def numVertices: Long = graph.layout.n
  def numPartitions: Int = graph.layout.p
  def unpersist(): Unit = graph.unpersist()
}

object Adjacency {

  /** The packed parquet layout of an edge table: one row (src, deg, dsts)
    * per source and chunk, where `deg` is the full out-degree, a source
    * with more than `maxChunk` out-edges is salted into ceil(deg/maxChunk)
    * chunks by `dst % nChunks`, and `dsts` is sorted. A bench writes it
    * once and re-loads it per session with `fromPacked`. */
  def pack(edges: DataFrame, maxChunk: Int = 4096): DataFrame = {
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    // Join edges with degree (both sides hash-partitioned on src), derive a
    // deterministic chunk id, then pack per (src, chunk).
    val nChunks = ceil(col("deg") / maxChunk).cast("long")
    edges
      .join(deg, "src")
      .withColumn("_chunk", pmod(col("dst"), nChunks))
      .groupBy(col("src"), col("_chunk"))
      .agg(first(col("deg")).as("deg"), sort_array(collect_list(col("dst"))).as("dsts"))
      .select(col("src"), col("deg"), col("dsts"))
  }

  /** The adjacency of a `pack`ed layout, its rows exploded into `build`. */
  def fromPacked(packed: DataFrame, numVertices: Long, numPartitions: Int): Adjacency =
    build(packed.select(col("src"), explode(col("dsts")).as("dst")), numVertices, numPartitions)

  /** Build from a deduplicated (src, dst) edge table over the vertices
    * 0..`numVertices`-1. The job that counts the edges cuts and persists
    * the blocks; it fails before any job when the layout does not fit. */
  def build(edges: DataFrame, numVertices: Long, numPartitions: Int): Adjacency = {
    val graph = CsrGraph.build(edges, "src", "dst", VertexLayout(numVertices, numPartitions))
    Adjacency(graph, graph.blocks.map(_.edges.toLong).fold(0L)(_ + _))
  }
}
