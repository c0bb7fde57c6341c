package graft.algos

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.JobCounts
import org.apache.spark.sql.DataFrame
import graft.SparkTest
import graft.core.{Triangles, VertexLayout}

/** The triangle kernel against a plain Scala enumeration: the count, the exact
  * masked plus_pair rows and the oriented triangle rows, at 1, 4 and 7
  * partitions, on degenerate, dense, random and hub graphs. */
class TriangleKernelSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** Symmetric edge rows of an undirected edge list, loop-free and deduplicated. */
  private def sym(es: Seq[(Long, Long)]): Seq[(Long, Long)] =
    es.filter { case (a, b) => a != b }.flatMap { case (a, b) => Seq((a, b), (b, a)) }.distinct

  /** Each triangle once as (a, b, c): a its (deg, id)-least corner, b < c. */
  private def oriented(rows: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val nbrs = rows.groupBy(_._1).map { case (v, g) => (v, g.map(_._2).toSet) }
    def rank(v: Long) = (nbrs(v).size, v)
    val tris = for {
      (x, nx) <- nbrs.toSeq; y <- nx if y > x; z <- nbrs(y) if z > y && nx(z)
    } yield Seq(x, y, z)
    tris.map { t =>
      val a = t.minBy(rank)(Ordering[(Int, Long)])
      val Seq(b, c) = t.filter(_ != a).sorted
      (a, b, c)
    }.toSet
  }

  /** C⟨L.S⟩ = L·Lᵀ: each triangle k < j < i adds 1 to (i, j). */
  private def support(tris: Set[(Long, Long, Long)]): Map[(Long, Long), Double] =
    tris.toSeq.map { case (a, b, c) => Seq(a, b, c).sorted }
      .groupBy(t => (t(2), t(1))).map { case (k, g) => (k, g.size.toDouble) }

  private def withPartitions[T](p: Int)(body: => T): T = {
    val old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", p.toString)
    try body finally spark.conf.set("spark.sql.shuffle.partitions", old)
  }

  private def check(name: String, es: Seq[(Long, Long)], n: Long): Unit = {
    val rows = sym(es)
    val want = oriented(rows)
    for (p <- Seq(1, 4, 7)) {
      val df = rows.toDF("src", "dst")
      val clue = s"$name at p = $p"
      withPartitions(p) {
        assert(TriangleCount.count(df) == want.size, clue)
        val got = TriangleCount.support(df, n).collect()
          .map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2)))
        assert(got.length == got.map(_._1).distinct.length, clue)
        assert(got.toMap == support(want), clue)
      }
      val (tri, kernel) = KTruss.orientedTriangles(df, p)
      try {
        val abc = tri.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        assert(abc.length == want.size, s"$clue: each triangle once")
        assert(abc.toSet == want, clue)
      } finally kernel.unpersist()
    }
  }

  test("empty edge set") {
    check("empty", Nil, 0)
    check("empty over 5 vertices", Nil, 5)
  }

  test("fewer vertices than partitions") {
    check("one triangle", Seq((0L, 1L), (1L, 2L), (0L, 2L)), 3)
  }

  test("isolated vertices") {
    // 0, 3, 5 and 9..11 have no edge; 12 is the mask's universe
    check("isolated", Seq((1L, 2L), (2L, 4L), (1L, 4L), (4L, 6L), (6L, 8L), (4L, 8L), (7L, 8L)), 12)
  }

  test("clique K6: every triple") {
    val k6 = for (i <- 0L until 6L; j <- i + 1 until 6L) yield (i, j)
    check("K6", k6, 6)
    assert(oriented(sym(k6)).size == 20)
  }

  test("random graphs") {
    val rnd = new Random(7)
    for ((n, m) <- Seq((12, 30), (40, 200), (90, 700))) {
      val es = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      check(s"random n = $n, m = $m", es, n)
    }
  }

  /** A hub joined to every vertex of a ring 0..m-1: the triangles are the
    * m ring edges with the hub; the hub has the largest degree and id. */
  private def starRing(m: Int): Seq[(Long, Long)] =
    (0L until m).flatMap(v => Seq((v, m.toLong), (v, (v + 1) % m)))

  test("star plus ring: the hub's row spans several CSR blocks") {
    val m = 50
    val rows = sym(starRing(m))
    check("star plus ring", starRing(m), m + 1)
    val df = rows.toDF("src", "dst")
    for (p <- Seq(1, 4, 7)) {
      // blocks of 8 edges: the hub's 50 edges take 7 blocks of its owner
      val t = Triangles(df, VertexLayout(m + 1, p), blockEdges = 8)
      try {
        assert(t.count() == m, s"p = $p")
        val got = t.perPartition { _ =>
          new Triangles.Sink[Seq[(Long, Long, Long)]] {
            private[this] val out = Seq.newBuilder[(Long, Long, Long)]
            def apply(a: Long, b: Long, c: Long): Unit = out += ((a, b, c))
            def result(): Seq[(Long, Long, Long)] = out.result()
          }
        }.collect().flatten
        // a ≺ b ≺ c: the hub is always the last corner
        assert(got.forall(_._3 == m), s"p = $p")
        assert(got.map { case (a, b, c) => (a, math.min(b, c), math.max(b, c)) }.toSet ==
          oriented(rows), s"p = $p")
      } finally t.unpersist()
    }
  }

  test("count and support run a fixed number of jobs and stages, one record per partition pair") {
    val p = 4
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.keySet.toSet
    val before = persisted
    for (m <- Seq(20, 200)) {
      withPartitions(p) {
        val df = sym(starRing(m)).toDF("src", "dst")
        val senders = df.queryExecution.toRdd.getNumPartitions
        // the vertex count's job, then one job over the build, the degree
        // exchange and the row exchange
        val (n, count) = JobCounts(spark)(TriangleCount.count(df))
        assert(n == m, s"m = $m")
        assert(count.jobs.get == 2 && count.shuffleStages.get == 3, s"m = $m")
        assert(count.shuffleRecords.get == senders * p + 2 * p * p, s"m = $m")
        assert(persisted == before, s"count keeps nothing persisted, m = $m")
        // one job, and one more exchange: the mask entries to their owners
        val (s, sup) = JobCounts(spark)(TriangleCount.support(df, m + 1))
        try {
          assert(sup.jobs.get == 1 && sup.shuffleStages.get == 4, s"m = $m")
          assert(sup.shuffleRecords.get == senders * p + 3 * p * p, s"m = $m")
          // what stays persisted is the frame's own cache, built in full
          val kept = persisted -- before
          assert(kept.size == 1, s"m = $m")
          val cache = sc.getRDDStorageInfo.filter(i => kept(i.id))
          assert(cache.forall(i => i.numCachedPartitions == i.numPartitions), s"m = $m")
          // the triangles (m-2, m-1, hub) and (0, m-1, hub) share (hub, m-1)
          assert(s.count() == m - 1, s"m = $m")
        } finally s.unpersist()
        assert(persisted == before, s"m = $m")
      }
    }
  }
}
