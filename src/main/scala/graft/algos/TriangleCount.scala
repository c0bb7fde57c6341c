package graft.algos

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import graft.core.{CsrGraph, Pairs, Triangles, VertexLayout, VertexLoop}

/** Triangle count with the reference kernel chain (SURVEY.md §7.1 algos):
  * L = tril(A) (select `src > dst`,
  * `/root/reference/graphblas/core/operator/indexunary.py:101`), then the
  * masked `plus_pair` matrix square `C(L.S) = L · Lᵀ`, then
  * `reduce_scalar(plus)`.
  *
  * Both run on the triangle kernel of the vertex loops
  * (`graft.core.Triangles`): the edges are oriented once by (deg, id), each
  * oriented row is shipped to the partitions that point to it, and the
  * masked dot products are sorted-merge intersections in primitive loops.
  * Nothing is joined: no wedge is ever a record.
  */
object TriangleCount {

  private def partitions(spark: SparkSession): Int =
    spark.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** edgesSym: symmetric deduplicated (src, dst), no self-loops. The sum of
    * the intersection sizes |N⁺(a) ∩ N⁺(b)|, which counts each triangle once
    * at its (deg, id)-least corner. The input is persisted for its two
    * reads (the vertex count's job and the build) and released with
    * everything else before the count returns. */
  def count(edgesSym: DataFrame): Long = {
    val e = edgesSym.select(col("src"), col("dst")).persist()
    try {
      val tri = Triangles(e, partitions(e.sparkSession))
      try tri.count() finally tri.unpersist()
    } finally e.unpersist(false)
  }

  /** Per-edge triangle support: the masked plus_pair square itself,
    * C(L.S) = L·Lᵀ — (src, dst, v = #common neighbors k < dst), only for
    * edges of L that close at least one wedge. Each triangle k < j < i adds
    * 1 to the mask entry (i, j): the kernel sends j to the owner of i, which
    * sorts each vertex's entries and counts the runs. The rows are cached
    * in one job, the kernel is freed, and the frame reads the cache alone. */
  def support(edgesSym: DataFrame, n: Long): DataFrame = {
    val spark = edgesSym.sparkSession
    val layout = VertexLayout(n, partitions(spark))
    val tri = Triangles(edgesSym, layout)
    try {
      val entries = VertexLoop.exchange(tri.perPartition { _ =>
        new Triangles.Sink[Array[AnyRef]] {
          private[this] val out = new Pairs(layout.p, layout.intIds)
          def apply(a: Long, b: Long, c: Long): Unit = {
            val i = math.max(a, math.max(b, c))
            val j = math.max(math.min(a, b), math.min(math.max(a, b), c))
            out.put(layout.part(i), layout.slot(i), j)
          }
          def result(): Array[AnyRef] = out.result()
        }
      }, layout.p)
      val rows = entries.mapPartitionsWithIndex { (k, it) =>
        val blocks = CsrGraph.pack(it.next(), layout.slots(k), CsrGraph.BlockEdges, layout.intIds)
        val out = Iterator.newBuilder[Row]
        var js = new Array[Long](16) // one vertex's entries, which may span blocks
        var len = 0
        blocks.foreach(b => b.foreachEdge { (r, j) =>
          if (len == js.length) js = java.util.Arrays.copyOf(js, 2 * len)
          js(len) = j
          len += 1
          if (len == b.deg(r)) {
            java.util.Arrays.sort(js, 0, len)
            val i = layout.vertex(k, b.src(r))
            var x = 0
            while (x < len) {
              var y = x + 1
              while (y < len && js(y) == js(x)) y += 1
              out += Row(i, js(x), (y - x).toDouble)
              x = y
            }
            len = 0
          }
        })
        out.result()
      }
      val df = spark.createDataFrame(rows, StructType(Seq(
        StructField("src", LongType, nullable = false),
        StructField("dst", LongType, nullable = false),
        StructField("v", DoubleType, nullable = false)))).persist()
      df.queryExecution.toRdd.foreachPartition((_: Iterator[_]) => ())
      df
    } finally tri.unpersist()
  }
}
