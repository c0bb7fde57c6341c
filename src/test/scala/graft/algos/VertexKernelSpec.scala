package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest
import graft.graph.Adjacency
import graft.runtime.IterationCheckpointer

/** Edge cases of the loops on the block-cyclic vertex kernel (PageRank, CC,
  * LP), each checked against a plain-Scala recurrence, plus the
  * convergence fields of their results. */
class VertexKernelSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def frame(edges: Seq[(Long, Long)]): DataFrame =
    if (edges.isEmpty) spark.range(0).select(col("id").as("src"), col("id").as("dst"))
    else edges.toDF("src", "dst")

  private def pairs[T](df: DataFrame)(value: org.apache.spark.sql.Row => T): Map[Long, T] =
    df.collect().map(r => r.getLong(0) -> value(r)).toMap

  /** pagerank_3f on the driver: no sink redistribution, stop at rdiff <= tol */
  private def pagerank(n: Int, edges: Seq[(Long, Long)], iters: Int): Array[Double] = {
    val deg = edges.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = Array.fill(n)(1.0 / n)
    for (_ <- 0 until iters) {
      val next = Array.fill(n)((1 - 0.85) / n)
      edges.foreach { case (s, d) => next(d.toInt) += r(s.toInt) * 0.85 / deg(s) }
      r = next
    }
    r
  }

  private def assertScores(got: Map[Long, Double], want: Array[Double]): Unit = {
    assert(got.size == want.length)
    want.indices.foreach(i => assert(math.abs(got(i.toLong) - want(i)) < 1e-12, s"vertex $i"))
  }

  /** min-label components on the driver (union-find) */
  private def components(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a.toInt), find(b.toInt))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    (0 until n).map(v => v.toLong -> find(v).toLong).toMap
  }

  /** synchronous mode-LPA on the driver; every edge row is one vote */
  private def lpa(n: Int, edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    var lbl = (0L until n).map(v => v -> v).toMap
    for (_ <- 0 until rounds) {
      val votes = edges.groupBy(_._1).map { case (v, es) => v -> es.map(e => lbl(e._2)) }
      lbl = lbl.map { case (v, l) =>
        v -> votes.get(v).fold(l)(_.groupBy(identity).toSeq.minBy { case (x, c) => (-c.size, x) }._1)
      }
    }
    lbl
  }

  test("PageRank with n < p and with n not a multiple of p") {
    for ((n, p) <- Seq((3, 8), (10, 4))) {
      val edges = (0L until n).flatMap(i => Seq((i, (i + 1) % n), (i, (i * 7 + 3) % n)))
        .filter { case (s, d) => s != d }.distinct
      val adj = Adjacency.build(edges.toDF("src", "dst"), n, p)
      try {
        val res = PageRank.run(spark, adj, tol = 0.0, maxIter = 6)
        assert(res.iterations == 6)
        assertScores(pairs(res.scores)(_.getDouble(1)), pagerank(n, edges, 6))
      } finally adj.unpersist()
    }
  }

  test("PageRank: an empty edge table reaches its fixpoint in two rounds; sinks and " +
    "isolated vertices keep only the teleport") {
    val empty = Adjacency.build(frame(Nil), 5, 2)
    try {
      // round 1 moves every score to the teleport; round 2 changes nothing
      val res = PageRank.run(spark, empty, tol = 1e-12, maxIter = 10)
      assert(res.iterations == 2 && res.finalRdiff == 0.0)
      assertScores(pairs(res.scores)(_.getDouble(1)), Array.fill(5)((1 - 0.85) / 5))
      // tol = 0 runs exactly maxIter rounds, also past a fixpoint
      assert(PageRank.run(spark, empty, tol = 0.0, maxIter = 4).iterations == 4)
    } finally empty.unpersist()
    // 0 -> 1 -> 2 (2 is a sink), 3 and 4 isolated
    val edges = Seq((0L, 1L), (1L, 2L))
    val adj = Adjacency.build(edges.toDF("src", "dst"), 5, 3)
    try {
      val res = PageRank.run(spark, adj, tol = 0.0, maxIter = 4)
      val want = pagerank(5, edges, 4)
      assertScores(pairs(res.scores)(_.getDouble(1)), want)
      assert(want(3) == (1 - 0.85) / 5 && want(4) == (1 - 0.85) / 5)
    } finally adj.unpersist()
  }

  test("CC and LP: an empty edge table and isolated vertices keep their own ids") {
    val cc = ConnectedComponents.run(spark, frame(Nil), 7, 3)
    assert(cc.converged && cc.iterations == 1)
    assert(pairs(cc.components)(_.getLong(1)) == (0L until 7L).map(v => v -> v).toMap)
    val lp = LabelPropagation.run(spark, frame(Nil), 7, 3)
    assert(lp.converged && lp.iterations == 1)
    assert(pairs(lp.labels)(_.getLong(1)) == (0L until 7L).map(v => v -> v).toMap)
  }

  test("CC and LP: self-loops and duplicate edges match the driver recurrences") {
    val rnd = new scala.util.Random(11)
    val n = 30
    val base = (0 until 40).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
    val loops = (0L until n by 4).map(v => (v, v))
    // symmetric, with every fifth edge (and its reverse) present twice
    val und = base ++ loops
    val sym = und ++ und.map(_.swap) ++ und.indices.filter(_ % 5 == 0)
      .flatMap(i => Seq(und(i), und(i).swap))
    for (p <- Seq(1, 4, 7)) {
      val cc = ConnectedComponents.run(spark, sym.toDF("src", "dst"), n, p)
      assert(cc.converged)
      assert(pairs(cc.components)(_.getLong(1)) == components(n, sym), s"p=$p")
      val lp = LabelPropagation.run(spark, sym.toDF("src", "dst"), n, p, maxIter = 4)
      assert(pairs(lp.labels)(_.getLong(1)) == lpa(n, sym, lp.iterations), s"p=$p")
    }
  }

  test("CC's min messages hold one (slot, least value) pair per vertex reached, whatever n") {
    val layout = graft.core.VertexLayout(1L << 33, 8)
    val puts = Seq((5L, 9L), (13L, 4L), (5L, 2L), (1L << 32, 7L), (13L, 6L), (5L, 3L), (8L, 1L))
    val msgs = ConnectedComponents.mins(layout)(put => puts.foreach { case (v, x) => put(v, x) })
    assert(msgs.length == 8)
    val want = puts.groupBy(_._1).map { case (v, xs) => v -> xs.map(_._2).min }
    for (t <- 0 until 8) {
      val got = msgs(t).grouped(2).map { case Array(j, x) => layout.vertex(t, j.toInt) -> x }.toSeq
      assert(got == want.filter(e => layout.part(e._1) == t).toSeq.sortBy(_._1), s"t=$t")
    }
    // a receiver's dense array, from sender 0's message and an empty one
    val small = graft.core.VertexLayout(40, 8)
    val in = Array(ConnectedComponents.mins(small)(put => puts.filter(_._1 < 40).foreach {
      case (v, x) => put(v, x)
    })(5), Array.empty[Long])
    val got = ConnectedComponents.least(in, small.slots(5))
    assert(got.toSeq == Seq(2L, 4L, Long.MaxValue, Long.MaxValue, Long.MaxValue))
    assert(in.forall(_ == null))
  }

  test("converged is false when CC or LP stops at maxIter") {
    val path = (0L until 20L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst")
    val cut = ConnectedComponents.run(spark, sym, 21, 4, maxIter = 1)
    assert(cut.iterations == 1 && !cut.converged)
    val full = ConnectedComponents.run(spark, sym, 21, 4)
    assert(full.converged)
    // a star oscillates under synchronous mode-LPA
    val star = (1L to 4L).flatMap(i => Seq((0L, i), (i, 0L))).toDF("src", "dst")
    val lp = LabelPropagation.run(spark, star, 5, 2, maxIter = 6)
    assert(lp.iterations == 6 && !lp.converged)
  }

  test("PageRank resumes a checkpoint saved at another partition count; " +
    "finalRdiff is NaN when no round ran") {
    val rnd = new scala.util.Random(5)
    val n = 40
    val edges = (0 until 160).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (s, d) => s != d }.distinct
    val dir = java.nio.file.Files.createTempDirectory("graft-resume-p").toString
    val at4 = Adjacency.build(edges.toDF("src", "dst"), n, 4)
    val at3 = Adjacency.build(edges.toDF("src", "dst"), n, 3)
    try {
      PageRank.run(spark, at4, tol = 0.0, maxIter = 3, checkpointer = Some(new IterationCheckpointer(dir)))
      val resumed = PageRank.run(spark, at3, tol = 0.0, maxIter = 8,
        checkpointer = Some(new IterationCheckpointer(dir)))
      assert(resumed.iterations == 8 && !resumed.finalRdiff.isNaN)
      assertScores(pairs(resumed.scores)(_.getDouble(1)), pagerank(n, edges, 8))
      // a resume at maxIter runs no round
      val idle = PageRank.run(spark, at3, tol = 0.0, maxIter = 8,
        checkpointer = Some(new IterationCheckpointer(dir)))
      assert(idle.iterations == 8 && idle.finalRdiff.isNaN)
      assertScores(pairs(idle.scores)(_.getDouble(1)), pagerank(n, edges, 8))
    } finally { at4.unpersist(); at3.unpersist() }
  }

  test("Katz and PPR report NaN, not a sentinel, when the last round computed no residual") {
    val edges = Seq((0L, 1L), (1L, 2L), (2L, 0L), (2L, 3L)).toDF("src", "dst")
    val adj = Adjacency.build(edges, 4, 2)
    try {
      val seeds = spark.range(1).toDF("id")
      // no round runs at maxIter = 0
      assert(Katz.run(spark, adj, tol = 0.0, maxIter = 0).finalDiff.isNaN)
      assert(PersonalizedPageRank.run(spark, adj, seeds, tol = 0.0, maxIter = 0).finalRdiff.isNaN)
      for (k <- Seq(2, 3)) {
        assert(Katz.run(spark, adj, tol = 0.0, maxIter = k).finalDiff.isFinite, s"k=$k")
        assert(PersonalizedPageRank.run(spark, adj, seeds, tol = 0.0, maxIter = k)
          .finalRdiff.isFinite, s"k=$k")
      }
    } finally adj.unpersist()
  }
}
