package graft.core

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounts
import graft.SparkTest

/** The block-cyclic layout, its fail-fast bound, and the CSR blocks. */
class VertexLoopSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("layout: every vertex has one (partition, slot), also for n < p and n not a multiple of p") {
    for ((n, p) <- Seq((0L, 3), (3L, 8), (10L, 4), (12L, 4), (1L, 1))) {
      val l = VertexLayout(n, p)
      assert((0 until p).map(l.slots).sum == n, s"n=$n p=$p")
      val cells = (0L until n).map(v => (l.part(v), l.slot(v)))
      assert(cells.distinct.size == n)
      (0L until n).foreach { v =>
        assert(l.slot(v) < l.slots(l.part(v)))
        assert(l.vertex(l.part(v), l.slot(v)) == v)
      }
    }
  }

  test("layout: more slots per partition than one array holds fails fast, allocating nothing") {
    val max = VertexLayout.MaxSlots
    assert(VertexLayout(max * 3, 3).slots(0) == max) // at the bound: fine
    intercept[IllegalArgumentException](VertexLayout(max * 3 + 1, 3))
    intercept[IllegalArgumentException](VertexLayout(Long.MaxValue, 1))
    intercept[IllegalArgumentException](VertexLayout(10, 0))
    // the loops check the layout before any job
    val edges = Seq((0L, 1L), (1L, 0L)).toDF("src", "dst")
    val (thrown, counts) = JobCounts(spark) {
      Seq(
        () => graft.algos.ConnectedComponents.run(spark, edges, 1L << 40, 2),
        () => graft.algos.LabelPropagation.run(spark, edges, 1L << 40, 2),
        // the (vertex, label) key of LP needs n <= 2^32 even when slots fit
        () => graft.algos.LabelPropagation.run(spark, edges, (1L << 32) + 1, 4)
      ).map(f => intercept[IllegalArgumentException](f()))
    }
    assert(thrown.size == 3)
    assert(counts.jobs.get == 0)
  }

  test("exchange: every message reaches its target once, in sender order, also from empty senders") {
    // 7 senders, of which 1 and 4 hold no data
    val data = spark.sparkContext.parallelize(0 until 7, 7)
      .flatMap(s => if (s == 1 || s == 4) Nil else (0 until 10).map(x => (s, x)))
    for (p <- Seq(1, 3, 4)) {
      // sender s sends target t the values x with x mod p == t, tagged with s
      def msg(s: Int, t: Int): Seq[Long] =
        if (s == 1 || s == 4) Nil else (0 until 10).filter(_ % p == t).map(x => s * 100L + x)
      val sent = data.mapPartitionsWithIndex { (s, it) =>
        val xs = it.toArray
        Iterator(Array.tabulate(p)(t => xs.filter(_._2 % p == t).map(x => s * 100L + x._2)))
      }
      val got = VertexLoop.exchange(sent, p)
        .mapPartitionsWithIndex((t, it) => it.map(in => (t, in.map(_.toSeq).toSeq)))
        .collect()
      assert(got.map(_._1).toSeq == (0 until p), s"p=$p")
      got.foreach { case (t, in) =>
        assert(in == (0 until 7).map(msg(_, t)), s"p=$p target $t")
      }
    }
  }

  test("CSR blocks are bounded: a hub spans blocks, every row keeps the full degree") {
    val layout = VertexLayout(20, 3)
    // vertex 4 is a hub with 11 out-edges (a duplicate included); 7 has 2
    val edges = (0L until 10L).map(d => (4L, d + 10)) ++ Seq((4L, 10L), (7L, 1L), (7L, 2L))
    // the same edges in one local frame, and over 7 input partitions of
    // which 2 and 5 are empty
    val full = Seq(0, 1, 3, 4, 6)
    val spread = spark.sparkContext.parallelize(0 until 7, 7)
      .flatMap(k => edges.indices.filter(i => full(i % full.size) == k).map(edges))
    for (input <- Seq(edges.toDF("src", "dst"), spread.toDF("src", "dst"))) {
      val g = CsrGraph.build(input, "src", "dst", layout, blockEdges = 4)
      try {
        val blocks = g.blocks.mapPartitionsWithIndex((k, it) => it.map(b => (k, b))).collect()
        assert(blocks.forall(_._2.dst.length <= 4))
        val got = blocks.flatMap { case (k, b) =>
          b.push(r => (layout.vertex(k, b.src(r)), b.deg(r))).map { case (d, (s, deg)) => (s, d, deg) }
        }
        assert(got.map(e => (e._1, e._2)).sorted.toSeq == edges.sorted)
        assert(got.forall { case (s, _, deg) => deg == edges.count(_._1 == s) })
        // the hub's 11 edges took three blocks of its owner partition
        assert(blocks.count { case (k, b) => k == layout.part(4) && b.src.contains(layout.slot(4)) } == 3)
      } finally g.unpersist()
    }
  }
}
