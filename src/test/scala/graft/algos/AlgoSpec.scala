package graft.algos

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest
import graft.graph.Adjacency

/** Algorithm parity vs the reference's own fixture graphs, with expected
  * values recomputed on the driver using the exact reference recurrences
  * (FIXTURES.md §2.3-2.6). */
class AlgoSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  // PageRank demo graph (notebooks/Pagerank Demo.ipynb): 5 nodes, 7 edges
  val prEdges: Seq[(Long, Long)] =
    Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L), (2L, 4L), (3L, 4L), (4L, 0L))

  /** exact pagerank_3f recurrence in plain Scala (driver-side oracle) */
  def pagerank3fLocal(n: Int, edges: Seq[(Long, Long)], damping: Double,
                      tol: Double, itermax: Int): (Array[Double], Int) = {
    val teleport = (1 - damping) / n
    val outDeg = edges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = Array.fill(n)(1.0 / n)
    var iters = 0
    var rdiff = 1.0
    while (iters < itermax && rdiff > tol) {
      val t = r
      val w = (0 until n).map(i => outDeg.get(i.toLong).map(d => t(i) * damping / d))
      r = Array.fill(n)(teleport)
      edges.foreach { case (s, d) => w(s.toInt).foreach(x => r(d.toInt) += x) }
      rdiff = (0 until n).map(i => math.abs(t(i) - r(i))).sum
      iters += 1
    }
    (r, iters)
  }

  test("PageRank matches the exact pagerank_3f recurrence to 1e-6 (5-node demo)") {
    val adj = Adjacency.build(prEdges.toDF("src", "dst"), 5, 4)
    val res = PageRank.run(spark, adj, damping = 0.85, tol = 1e-4, maxIter = 100)
    val (want, wantIters) = pagerank3fLocal(5, prEdges, 0.85, 1e-4, 100)
    val got = res.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 5)
    assert(res.iterations == wantIters)
    (0 until 5).foreach { i =>
      assert(math.abs(got(i.toLong) - want(i)) < 1e-6,
        s"vertex $i: got ${got(i.toLong)}, want ${want(i)}")
    }
  }

  test("PageRank with tol = 0 matches the recurrence at even AND odd round counts") {
    val rnd = new scala.util.Random(7)
    val n = 60
    val edges = (for (_ <- 0 until 400) yield
      (rnd.nextInt(n - 10).toLong, rnd.nextInt(n).toLong))
      .distinct.filter { case (s, d) => s != d }
    val adj = Adjacency.build(edges.toDF("src", "dst"), n, 4, maxChunk = 8)
    try {
      // an even and an odd round count
      Seq(4, 5).foreach { k =>
        val res = PageRank.run(spark, adj, damping = 0.85, tol = 0.0, maxIter = k)
        assert(res.iterations == k)
        val (want, _) = pagerank3fLocal(n, edges, 0.85, tol = 0.0, itermax = k)
        val got = res.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
        assert(got.size == n)
        (0 until n).foreach { i =>
          assert(math.abs(got(i.toLong) - want(i)) < 1e-12,
            s"k=$k vertex $i: got ${got(i.toLong)}, want ${want(i)}")
        }
      }
    } finally adj.unpersist()
  }

  test("PageRank on a seeded random graph with sinks and hubs (allclose 1e-6)") {
    val rnd = new scala.util.Random(42)
    val n = 120
    val edges = (for (_ <- 0 until 900) yield {
      val s = rnd.nextInt(n - 20).toLong // last 20 vertices are sinks
      val d = (rnd.nextInt(n * n) % n).toLong * rnd.nextInt(n) % n
      (s, d)
    }).distinct.filter { case (s, d) => s != d }
    val adj = Adjacency.build(edges.toDF("src", "dst"), n, 4, maxChunk = 8)
    val res = PageRank.run(spark, adj, damping = 0.85, tol = 1e-6, maxIter = 200)
    val (want, _) = pagerank3fLocal(n, edges, 0.85, 1e-6, 200)
    val got = res.scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong) - want(i)) < 1e-6)
    }
  }

  // FastSV fixture (notebooks/Connected Components -- FastSV.ipynb):
  // 12 nodes, 11 undirected edges; components {0..5}→0, {6,7,8}→6, {9,10,11}→9
  val ccEdges: Seq[(Long, Long)] = Seq(
    (0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (2L, 4L), (2L, 5L), (3L, 4L),
    (6L, 7L), (6L, 8L), (9L, 10L), (9L, 11L))

  def sym(e: Seq[(Long, Long)]) =
    (e ++ e.map(_.swap)).distinct.toDF("src", "dst")

  test("FastSV connected components: exact min-label components") {
    val res = ConnectedComponents.run(spark, sym(ccEdges), 12, 4)
    val got = res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(0L -> 0L, 1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 0L, 5L -> 0L,
      6L -> 6L, 7L -> 6L, 8L -> 6L, 9L -> 9L, 10L -> 9L, 11L -> 9L)
    assert(got == want)
  }

  test("FastSV handles isolated vertices and a path graph (worst case for hooking)") {
    // path 0-1-2-...-9 plus isolated 10..14
    val path = (0L until 9L).map(i => (i, i + 1))
    val res = ConnectedComponents.run(spark, sym(path), 15, 4)
    val got = res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 10L).foreach(i => assert(got(i) == 0L))
    (10L until 15L).foreach(i => assert(got(i) == i))
    assert(res.iterations <= 6) // log-round convergence, not diameter rounds
  }

  /** driver-side oracle for synchronous mode-LPA: most frequent neighbor
    * label, ties to the smallest label, keep own label when isolated */
  def lpaLocal(n: Int, edgesSym: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val nbrs = edgesSym.groupBy(_._1).map { case (s, es) => s -> es.map(_._2) }
    var lbl = (0 until n).map(i => i.toLong -> i.toLong).toMap
    for (_ <- 0 until rounds) {
      val prev = lbl
      lbl = (0 until n).map { i =>
        val ns = nbrs.getOrElse(i.toLong, Seq.empty)
        if (ns.isEmpty) i.toLong -> prev(i.toLong)
        else i.toLong -> ns.groupBy(prev).toSeq
          .minBy { case (l, xs) => (-xs.size, l) }._1
      }.toMap
    }
    lbl
  }

  test("label propagation: synchronous mode-LPA with deterministic tie-break") {
    val symSeq = (ccEdges ++ ccEdges.map(_.swap)).distinct
    for (rounds <- Seq(1, 2, 4)) {
      val res = LabelPropagation.run(spark, sym(ccEdges), 12, 4, maxIter = rounds)
      val got = res.labels.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got == lpaLocal(12, symSeq, rounds), s"rounds=$rounds")
    }
    // note: the star clusters {6,7,8}/{9,10,11} OSCILLATE under synchronous
    // mode-LPA (classic bipartite 2-cycle) — which is exactly why rounds are
    // pinned and bounded; the oracle-parity loop above is the conformance
  }

  test("triangle count: masked plus_pair square (naive oracle)") {
    // symmetrized CC fixture: triangles {0,1,2}, {2,3,4}? check naive
    val es = (ccEdges ++ ccEdges.map(_.swap)).toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    var naive = 0L
    for (i <- nodes; j <- nodes if j > i; k <- nodes if k > j)
      if (es((i, j)) && es((j, k)) && es((i, k))) naive += 1
    val got = TriangleCount.count(sym(ccEdges))
    assert(got == naive)
    assert(naive == 1) // exactly {0,1,2}
    // reduce_scalar(plus) over the masked square C(L.S) = L·Lᵀ counts each
    // triangle exactly once (k < j < i), so Σ C == triangle count
    val support = TriangleCount.support(sym(ccEdges), 12)
      .agg(sum("v")).collect()(0).getDouble(0)
    assert(support == naive.toDouble)
  }

  test("SSSP min_plus: matches driver Bellman-Ford (weighted 5-node demo)") {
    // PageRank demo weights (FIXTURES.md §2.3)
    val we = Seq((0L, 1L, 1.1), (0L, 2L, 9.8), (1L, 3L, 4.2), (2L, 3L, 7.1),
      (2L, 4L, 0.2), (3L, 4L, 6.9), (4L, 0L, 2.2))
    val got = SSSP.run(spark, we.toDF("src", "dst", "w"), 0, 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // driver Bellman-Ford
    val dist = scala.collection.mutable.Map(0L -> 0.0)
    var changed = true
    while (changed) {
      changed = false
      we.foreach { case (s, d, w) =>
        dist.get(s).foreach { ds =>
          if (dist.get(d).forall(_ > ds + w)) { dist(d) = ds + w; changed = true }
        }
      }
    }
    assert(got.keySet == dist.keySet)
    dist.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12) }
  }

  test("BFS levels: exact hop counts") {
    val edges = prEdges.toDF("src", "dst")
    val got = BFS.levels(spark, edges, 0, 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 0L, 1L -> 1L, 2L -> 1L, 3L -> 2L, 4L -> 2L))
  }

  test("MSBFS packed wave agrees with per-source BFS; unreachable pairs absent") {
    // pr demo graph + a disconnected edge 7->8: source 7 reaches only {7,8},
    // and no source in the pr component reaches 7 or 8
    val edges = (prEdges ++ Seq((7L, 8L))).toDF("src", "dst")
    val sources = Seq(0L, 3L, 7L)
    val got = MSBFS.levels(spark, edges, sources, maxDepth = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val want = sources.flatMap { s =>
      BFS.levels(spark, edges, s, 10).collect()
        .map(r => (s, r.getLong(0)) -> r.getLong(1))
    }.toMap
    assert(got == want)
    assert(!got.contains((0L, 7L)) && got((7L, 8L)) == 1L)
    // 64 sources in one wave still decode correctly (full mask width)
    val ring = (0L until 64L).map(i => (i, (i + 1) % 64)).toDF("src", "dst")
    val all = MSBFS.levels(spark, ring, 0L until 64L, maxDepth = 70)
    assert(all.count() == 64L * 64)
    val l = all.filter(col("source") === 63 && col("id") === 0)
      .collect()(0).getLong(2)
    assert(l == 1L)
  }

  test("Katz centrality: driver-computed recurrence on a path; beta floor holds") {
    // path 0→1→2, α=0.5, β=1: fixed point x = (1, 1.5, 1.75) — reached in
    // 3 rounds; vertex 0 (no in-edges) stays at the β floor
    val adj = Adjacency.build(Seq((0L, 1L), (1L, 2L)).toDF("src", "dst"), 3, 4)
    val got = Katz.run(spark, adj, alpha = 0.5, beta = 1.0, tol = 0.0,
        maxIter = 3)
      .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 1.0, 1L -> 1.5, 2L -> 1.75))
    // and on the pr demo graph, agree with the driver-side recurrence
    val n = 5
    val adj2 = Adjacency.build(prEdges.toDF("src", "dst"), n, 4)
    var x = Array.fill(n)(1.0)
    (1 to 4).foreach { _ =>
      val nx = Array.fill(n)(1.0)
      prEdges.foreach { case (s, d) => nx(d.toInt) += 0.2 * x(s.toInt) }
      x = nx
    }
    val got2 = Katz.run(spark, adj2, alpha = 0.2, beta = 1.0, tol = 0.0,
        maxIter = 4)
      .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    (0 until n).foreach(i => assert(math.abs(got2(i.toLong) - x(i)) < 1e-12))
  }

  test("Eccentricity: per-seed max BFS level on the pr demo graph") {
    // from 0: max dist 2 (to 3, 4); from 1: max dist 4 (1→3→4→0→2);
    // from 7 in the disconnected tail 7→8: max dist 1
    val edges = (prEdges ++ Seq((7L, 8L))).toDF("src", "dst")
    val got = MSBFS.eccentricity(spark, edges, Seq(0L, 1L, 7L), maxDepth = 10)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 4L, 7L -> 1L))
  }

  test("Harmonic centrality: hand-computed seed-sampled sums on the pr demo graph") {
    // distances on the demo digraph: from 0 → {1:1, 2:1, 3:2, 4:2};
    // from 1 → {3:1, 4:2, 0:3, 2:4}. H_{0,1}(v) = Σ 1/d over positive d.
    val got = MSBFS.harmonic(spark, prEdges.toDF("src", "dst"), Seq(0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val want = Map(0L -> 1.0 / 3, 1L -> 1.0, 2L -> 1.25, 3L -> 1.5, 4L -> 1.0)
    assert(got.keySet == want.keySet)
    want.foreach { case (k, v) => assert(math.abs(got(k) - v) < 1e-12) }
  }

  test("RandomWalk: edges respected, argmin hop replayed, sinks stop, reruns identical") {
    val edges = prEdges.toDF("src", "dst")
    val rows = RandomWalk.corpus(spark, edges, walkLength = 6, numPartitions = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val byWalk = rows.groupBy(_._1).map { case (w, rs) =>
      w -> rs.sortBy(_._2).map(_._3).toSeq
    }
    // every start vertex walks the full length (no sinks in the demo graph),
    // every consecutive pair is an edge, and each hop is the score-argmin
    val eSet = prEdges.toSet
    val adj = prEdges.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val M = 2147483647L
    def h(w: Long, t: Int, u: Long, d: Long) =
      ((w * 2654435761L) % M + (u * 40503L) % M + (d * 69069L) % M +
        t * 1013904223L % M) % M
    assert(byWalk.keySet == prEdges.map(_._1).toSet)
    byWalk.foreach { case (w, path) =>
      assert(path.head == w && path.size == 7)
      path.sliding(2).zipWithIndex.foreach { case (Seq(u, v), i) =>
        assert(eSet.contains((u, v)))
        val want = adj(u).minBy(d => (h(w, i + 1, u, d), d))
        assert(v == want, s"walk $w step ${i + 1} at $u: got $v want $want")
      }
    }
    // a rerun regenerates the corpus bit-identically (the 100-TB property)
    val again = RandomWalk.corpus(spark, edges, walkLength = 6, numPartitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(rows.sorted.toSeq == again.sorted.toSeq)
    // walkers stop at sinks: 0 -> 1 -> 2 (sink) ends at step 2
    val chain = Seq((0L, 1L), (1L, 2L)).toDF("src", "dst")
    val c = RandomWalk.corpus(spark, chain, walkLength = 5, numPartitions = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(c == Set((0L, 0L, 0L), (0L, 1L, 1L), (0L, 2L, 2L),
      (1L, 0L, 1L), (1L, 1L, 2L)))
    // ids above 2^33: the mod-before-multiply score must not overflow —
    // the hop is still the driver-replayed argmin (raw `id * 2654435761`
    // would wrap negative in Spark and error in the DuckDB oracle)
    val big = 9000000000L
    val bigE = Seq((big, big + 1), (big, big + 2), (big, big + 3))
      .toDF("src", "dst")
    val bh = RandomWalk.corpus(spark, bigE, walkLength = 1, numPartitions = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toMap
    def hBig(w: Long, t: Int, u: Long, d: Long) =
      ((w % M) * 2654435761L % M + (u % M) * 40503L % M +
        (d % M) * 69069L % M + t * 1013904223L % M) % M
    val wantHop = Seq(big + 1, big + 2, big + 3)
      .minBy(d => (hBig(big, 1, big, d), d))
    assert(bh === Map(0L -> big, 1L -> wantHop))
  }

  test("Betweenness: hand-computed Brandes on path and diamond; truncation; batching") {
    // directed path 0→1→2→3, source 0: σ≡1; δ(2)=1, δ(1)=1+δ(2)=2; 3 is a
    // leaf (δ=0, absent)
    val path = Seq((0L, 1L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val p = Betweenness.run(spark, path, Seq(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(p == Map(1L -> 2.0, 2L -> 1.0))
    // diamond 0→{1,2}→3: σ(3)=2, δ(1)=δ(2)=1/2·(1+0)=0.5
    val dia = Seq((0L, 1L), (0L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val d = Betweenness.run(spark, dia, Seq(0L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d.keySet == Set(1L, 2L))
    d.values.foreach(v => assert(math.abs(v - 0.5) < 1e-12))
    // batching: adding source 1 (whose tree is radius 1: 1→3 only) changes
    // nothing — no vertex lies strictly between 1 and anything
    val d2 = Betweenness.run(spark, dia, Seq(0L, 1L))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(d2 == d)
    // radius truncation: maxDepth=2 on the path drops the 0⇝3 pair —
    // level-2 vertex 2 becomes the leaf level (δ=0), so δ(1)=1·(1+0)=1
    val pt = Betweenness.run(spark, path, Seq(0L), maxDepth = 2)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pt == Map(1L -> 1.0))
  }

  test("MIS: independent, maximal, deterministic across partitioning; clique yields one") {
    def misOf(und: Seq[(Long, Long)], parts: Int = 4): (Set[Long], Int) = {
      val sym = (und ++ und.map(_.swap)).toDF("src", "dst").repartition(parts)
      val r = MIS.run(spark, sym, numPartitions = parts)
      (r.mis.collect().map(_.getLong(0)).toSet, r.rounds)
    }
    // ring of 8 + a 4-clique bridged at vertex 0
    val und = (0L until 8L).map(i => (i, (i + 1) % 8)) ++
      Seq((10L, 11L), (10L, 12L), (10L, 13L), (11L, 12L), (11L, 13L),
        (12L, 13L), (0L, 10L))
    val eSet = (und ++ und.map(_.swap)).toSet
    val adj = eSet.groupBy(_._1).map { case (u, es) => u -> es.map(_._2) }
    val (m, _) = misOf(und)
    // independence: no two MIS vertices adjacent
    assert(!eSet.exists { case (u, v) => m(u) && m(v) })
    // maximality: every non-MIS vertex has a MIS neighbor
    adj.keys.filterNot(m).foreach(v => assert(adj(v).exists(m), s"vertex $v"))
    // determinism across a different partition count
    assert(misOf(und, parts = 2)._1 == m)
    // a clique admits exactly one MIS vertex, in round 1
    val clique = for { i <- 0L to 4L; j <- (i + 1) to 4L } yield (i, j)
    val (cm, cr) = misOf(clique)
    assert(cm.size == 1 && cr <= 2)
  }

  test("KCore peels pendant chains, keeps the triangle, reports core degrees") {
    // triangle 0-1-2 with a pendant chain 2-3-4: the 2-core is the triangle
    // (3 and then 4 peel over two cascading rounds)
    val und = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L), (3L, 4L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val res = KCore.run(spark, sym, k = 2, numPartitions = 4)
    val got = res.core.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 2L, 1L -> 2L, 2L -> 2L))
    // k above the max degree empties the graph
    assert(KCore.run(spark, sym, k = 5, numPartitions = 4).core.count() == 0)
  }

  test("KTruss keeps the clique, peels the weak triangle and tail; cascade reaches fixpoint") {
    // 5-clique {0..4} + triangle {4,5,6} + pendant edge 6-7. In the 4-truss
    // (support >= 2) the clique survives (every clique edge sits in 3
    // triangles), the lone triangle's edges have support 1 and peel, and
    // the pendant edge has support 0.
    val clique = for { i <- 0L to 4L; j <- (i + 1) to 4L } yield (i, j)
    val und = clique ++ Seq((4L, 5L), (4L, 6L), (5L, 6L), (6L, 7L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val r4 = KTruss.run(spark, sym, k = 4, numPartitions = 4)
    val got = r4.truss.collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    assert(got.size == 20) // 10 undirected clique edges, both directions
    assert(got.forall { case ((u, v), s) => u <= 4 && v <= 4 && s == 3 })

    // cascading peel: remove clique edge (0,1) — edges at 0 and 1 drop to
    // support 2 in round 1 of the 5-truss (need >= 3), and the surviving
    // triangle {2,3,4} collapses in round 2; fixpoint is empty
    val holed = (clique.filterNot(_ == (0L, 1L)) ++ Seq((4L, 5L), (4L, 6L), (5L, 6L)))
    val symH = (holed ++ holed.map(_.swap)).toDF("src", "dst")
    val r5 = KTruss.run(spark, symH, k = 5, numPartitions = 4)
    assert(r5.truss.count() == 0 && r5.rounds >= 2)

    // k-truss of the intact clique at k=5 (support >= 3): exactly the clique
    val r5c = KTruss.run(spark, sym, k = 5, numPartitions = 4)
    assert(r5c.truss.count() == 20)
  }

  test("Adamic-Adar: hand-computed scores on a 4-node graph; center cap drops hub wedges") {
    // undirected {0-1, 1-2, 0-2, 2-3}: the only non-adjacent pairs are (0,3)
    // and (1,3), each with the single common neighbor 2 (deg 3)
    val und = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = LinkPrediction.adamicAdar(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val w = 1.0 / math.log(3.0)
    assert(got.keySet == Set((0L, 3L), (1L, 3L)))
    assert(got.values.forall(v => math.abs(v - w) < 1e-12))
    // capping centers at deg 2 removes vertex 2, the only shared neighbor
    assert(LinkPrediction.adamicAdar(sym, maxCenterDeg = 2).count() == 0)
  }

  test("Jaccard link prediction: hand-computed on the same 4-node graph") {
    // {0-1, 1-2, 0-2, 2-3}: degrees 0:2 1:2 2:3 3:1; pairs (0,3) and (1,3)
    // each share only vertex 2 -> J = 1 / (2 + 1 - 1) = 0.5
    val und = Seq((0L, 1L), (1L, 2L), (0L, 2L), (2L, 3L))
    val sym = (und ++ und.map(_.swap)).toDF("src", "dst")
    val got = LinkPrediction.jaccard(sym)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(got === Map((0L, 3L) -> 0.5, (1L, 3L) -> 0.5))
    assert(LinkPrediction.jaccard(sym, maxCenterDeg = 2).count() == 0)
  }

  test("SCC: two 3-cycles bridged by a DAG edge plus a tendril") {
    // {0,1,2} and {3,4,5} are the cycles; 2->3 links them acyclically;
    // 5->6 hangs a tendril. SCC ids are the min member.
    val e = Seq((0L, 1L), (1L, 2L), (2L, 0L), (3L, 4L), (4L, 5L), (5L, 3L),
      (2L, 3L), (5L, 6L)).toDF("src", "dst")
    val res = SCC.run(spark, e, numPartitions = 4)
    val got = res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 0L, 2L -> 0L,
      3L -> 3L, 4L -> 3L, 5L -> 3L, 6L -> 6L))
  }

  test("SCC: a pure DAG resolves entirely to singletons in one trim+mark round") {
    val e = Seq((0L, 1L), (1L, 2L), (0L, 2L)).toDF("src", "dst")
    val res = SCC.run(spark, e, numPartitions = 4)
    val got = res.components.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 0L, 1L -> 1L, 2L -> 2L))
    assert(res.rounds == 1)
  }

  test("BowTie: textbook core/in/out/other on a hand-built bow tie") {
    // core cycle {2,3}; chain 1->0->2 feeds it (IN); 3->4->5 drains it
    // (OUT); 0->6 is a tendril off IN; {7,8} is a disconnected pair
    val e = Seq((2L, 3L), (3L, 2L), (0L, 2L), (1L, 0L), (3L, 4L), (4L, 5L),
      (0L, 6L), (7L, 8L)).toDF("src", "dst")
    val res = BowTie.run(spark, e, numPartitions = 4)
    assert(res.coreId == 2L)
    val got = res.classes.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(2L -> "core", 3L -> "core", 0L -> "in", 1L -> "in",
      4L -> "out", 5L -> "out", 6L -> "other", 7L -> "other", 8L -> "other"))
    // an empty edge set classifies nothing instead of NoSuchElementException
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(BowTie.run(spark, none, numPartitions = 2).classes.count() == 0)
  }

  test("SCC: a single directed cycle is one component keyed by its min vertex") {
    val n = 5
    val e = (0 until n).map(i => (i.toLong, ((i + 1) % n).toLong)).toDF("src", "dst")
    val got = SCC.run(spark, e, numPartitions = 4).components
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0 until n).map(i => i.toLong -> 0L).toMap)
  }

  test("Personalized PageRank with the full vertex set as seeds equals plain PageRank") {
    val adj = Adjacency.build(prEdges.toDF("src", "dst"), 5, 4)
    val plain = PageRank.run(spark, adj, damping = 0.85, tol = 0.0, maxIter = 8)
      .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ppr = PersonalizedPageRank.run(spark, adj, spark.range(5).toDF("id"),
        damping = 0.85, tol = 0.0, maxIter = 8)
      .scores.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ppr.keySet == plain.keySet)
    plain.foreach { case (k, v) => assert(math.abs(ppr(k) - v) < 1e-12) }
  }

  test("Personalized PageRank concentrates mass near the seed (driver recurrence)") {
    // exact seeded recurrence on the 5-node demo graph, seed = {0}
    val n = 5; val damping = 0.85; val iters = 6
    val outDeg = prEdges.groupBy(_._1).map { case (s, es) => s -> es.size.toDouble }
    var r = Array.tabulate(n)(i => if (i == 0) 1.0 else 0.0)
    (1 to iters).foreach { _ =>
      val t = r
      r = Array.tabulate(n)(i => if (i == 0) 1.0 - damping else 0.0)
      prEdges.foreach { case (s, d) =>
        r(d.toInt) += t(s.toInt) * damping / outDeg(s)
      }
    }
    val adj = Adjacency.build(prEdges.toDF("src", "dst"), n, 4)
    val got = PersonalizedPageRank.run(spark, adj, spark.range(1).toDF("id"),
        damping = damping, tol = 0.0, maxIter = iters)
      .scores.collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong) - r(i)) < 1e-12,
        s"vertex $i: got ${got(i.toLong)}, want ${r(i)}")
    }
  }

  test("HITS matches the driver recurrence and has unit-L2 hub/authority vectors") {
    // chain + shortcut: 0→1, 0→2, 1→2, 3→2 — vertex 0 is the strongest hub,
    // vertex 2 the strongest authority; sink 2 has no hub entry, source
    // vertices 0/3 have no authority entry (missing = absent)
    val edges = Seq((0L, 1L), (0L, 2L), (1L, 2L), (3L, 2L))
    val n = 4
    var h = Array.fill(n)(1.0 / math.sqrt(n.toDouble))
    var a = Array.fill(n)(0.0)
    (1 to 5).foreach { _ =>
      a = Array.fill(n)(0.0)
      edges.foreach { case (s, d) => a(d.toInt) += h(s.toInt) }
      val an = math.sqrt(a.map(x => x * x).sum)
      a = a.map(_ / an)
      h = Array.fill(n)(0.0)
      edges.foreach { case (s, d) => h(s.toInt) += a(d.toInt) }
      val hn = math.sqrt(h.map(x => x * x).sum)
      h = h.map(_ / hn)
    }
    val e = edges.toDF("src", "dst")
    val adjOut = Adjacency.build(e, n, 4)
    val adjIn = Adjacency.build(e.select(col("dst").as("src"), col("src").as("dst")), n, 4)
    val res = HITS.run(spark, adjOut, adjIn, maxIter = 5)
    val rows = res.scores.collect()
      .map(r => (r.getLong(0),
        Option(r.get(1)).map(_.asInstanceOf[Double]),
        Option(r.get(2)).map(_.asInstanceOf[Double]))).toList
    val hubs = rows.collect { case (id, Some(x), _) => id -> x }.toMap
    val auths = rows.collect { case (id, _, Some(x)) => id -> x }.toMap
    // sparsity: only vertices with out-edges get hubs, with in-edges auths
    assert(hubs.keySet == Set(0L, 1L, 3L))
    assert(auths.keySet == Set(1L, 2L))
    hubs.foreach { case (k, v) => assert(math.abs(v - h(k.toInt)) < 1e-12) }
    auths.foreach { case (k, v) => assert(math.abs(v - a(k.toInt)) < 1e-12) }
    assert(math.abs(hubs.values.map(x => x * x).sum - 1.0) < 1e-12)
    assert(math.abs(auths.values.map(x => x * x).sum - 1.0) < 1e-12)
    assert(hubs.maxBy(_._2)._1 == 0L && auths.maxBy(_._2)._1 == 2L)
  }

  test("GraphStats: lcc / assortativity / reciprocity / degree histogram on a hand fixture") {
    // triangle {0,1,2} + tail 2-3, 3-4 (undirected)
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L), (2L, 3L), (3L, 4L))
    val es = sym(und)
    val lcc = GraphStats.localClustering(es, 4).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(lcc == Map(
      0L -> ((2L, 1.0)), 1L -> ((2L, 1.0)),
      2L -> ((3L, 0.333333)), // 1 triangle / C(3,2)=3 wedges, rounded to 6dp
      3L -> ((2L, 0.0)), 4L -> ((1L, 0.0))))

    // driver-side exact Pearson r over the symmetric endpoint-degree pairs
    val deg = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.size.toLong }
    val pairs = (und ++ und.map(_.swap)).map { case (u, v) => (deg(u), deg(v)) }
    val n = pairs.size.toLong
    val (sx, sy) = (pairs.map(_._1).sum, pairs.map(_._2).sum)
    val sxy = pairs.map(p => p._1 * p._2).sum
    val (sxx, syy) = (pairs.map(p => p._1 * p._1).sum, pairs.map(p => p._2 * p._2).sum)
    val want = (n * sxy - sx * sy).toDouble /
      (math.sqrt((n * sxx - sx * sx).toDouble) * math.sqrt((n * syy - sy * sy).toDouble))
    val got = GraphStats.assortativity(es).collect()(0).getDouble(0)
    assert(math.abs(got - math.round(want * 1e6) / 1e6) < 1e-9)

    // directed: (0,1) has its reverse, (1,2) and (2,3) do not
    val dir = Seq((0L, 1L), (1L, 0L), (1L, 2L), (2L, 3L)).toDF("src", "dst")
    val rec = GraphStats.reciprocity(dir).collect()(0).getDouble(0)
    assert(rec == 0.5)

    // out-degrees 0:1, 1:2, 2:1 → bit-length buckets 1 (×2) and 2 (×1)
    val hist = GraphStats.degreeHistogram(dir).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(hist == Map(1 -> 2L, 2 -> 1L))
  }

  test("Coloring: Jones-Plassmann drains the graph into a proper coloring " +
    "with color(v) <= deg(v)") {
    // two bridged triangles + a pendant path — mixed degrees 1..3
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L), (5L, 6L), (6L, 7L))
    val es = sym(und)
    val res = Coloring.run(spark, es, 4, maxRounds = 16)
    val colors = res.colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(colors.keySet == (0L to 7L).toSet, "every vertex gets colored")
    und.foreach { case (u, v) =>
      assert(colors(u) != colors(v), s"edge ($u,$v) must not be monochromatic")
    }
    val deg = (und ++ und.map(_.swap)).groupBy(_._1).map { case (k, v) => k -> v.size }
    colors.foreach { case (v, c) =>
      assert(c <= deg(v), s"JP bound: color($v)=$c exceeds deg=${deg(v)}")
    }
    // layout independence: a different partitioning yields identical colors
    val again = Coloring.run(spark, es.repartition(7), 4, maxRounds = 16)
      .colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(again == colors)
  }

  test("MIS & Coloring: >32-bit ids take the struct-key path and stay " +
    "valid and layout-independent") {
    // every id >= 2^33 ⇒ the packed-long (priority, id) fast path is
    // ineligible and both algos must fall back to the struct comparator;
    // the guarantees (independence/maximality, proper coloring, partition
    // determinism) must hold there exactly as on the packed path
    val base = 1L << 33
    val und = Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L), (5L, 6L), (6L, 7L))
      .map { case (a, b) => (base + a, base + b) }
    val es = sym(und)
    val eSet = (und ++ und.map(_.swap)).toSet
    val adj = eSet.groupBy(_._1).map { case (u, e) => u -> e.map(_._2) }

    val m = MIS.run(spark, es, numPartitions = 4)
      .mis.collect().map(_.getLong(0)).toSet
    assert(!eSet.exists { case (u, v) => m(u) && m(v) }, "independence")
    adj.keys.filterNot(m).foreach(v => assert(adj(v).exists(m), s"maximal $v"))
    val m2 = MIS.run(spark, es.repartition(7), numPartitions = 2)
      .mis.collect().map(_.getLong(0)).toSet
    assert(m2 == m, "MIS partition determinism on the struct path")

    val colors = Coloring.run(spark, es, 4, maxRounds = 16)
      .colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(colors.keySet == adj.keySet, "every vertex colored")
    und.foreach { case (u, v) => assert(colors(u) != colors(v), s"($u,$v)") }
    val colors2 = Coloring.run(spark, es.repartition(7), 2, maxRounds = 16)
      .colors.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(colors2 == colors, "Coloring partition determinism on the struct path")
  }

  test("Boruvka: full forest equals the driver Kruskal MST under the same " +
    "tie-break order; layout-independent") {
    // weighted graph with REPEATED weights to exercise the (w, lo, hi)
    // tie-break, plus a disconnected pair {6,7} (forest, not tree)
    val und = Seq(
      (0L, 1L, 4L), (0L, 2L, 4L), (1L, 2L, 2L), (1L, 3L, 7L),
      (2L, 3L, 3L), (3L, 4L, 3L), (2L, 4L, 9L), (4L, 5L, 1L),
      (0L, 5L, 8L), (6L, 7L, 5L))
    val sym = (und ++ und.map(t => (t._2, t._1, t._3))).toDF("src", "dst", "w")
    val got = Boruvka.run(spark, sym, 4, maxRounds = 4).forest.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // driver Kruskal with the identical (w, lo, hi) total order
    val parent = scala.collection.mutable.Map((0L to 7L).map(i => i -> i): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    val want = scala.collection.mutable.Set.empty[(Long, Long, Long)]
    und.sortBy(t => (t._3, t._1, t._2)).foreach { case (a, b, w) =>
      if (find(a) != find(b)) { parent(find(a)) = find(b); want += ((a, b, w)) }
    }
    assert(got == want.toSet) // 6 edges: the 6-vertex tree + the {6,7} bridge
    assert(got.size == 6)
    // layout independence
    val again = Boruvka.run(spark, sym.repartition(7), 3, maxRounds = 4)
      .forest.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(again == got)
  }

  test("GraphStats: modularity of two bridged triangles is 5/14") {
    // triangles {0,1,2} and {3,4,5} joined by the bridge 2-3; labels = which
    // triangle. 2m=14, Sw=12 (both triangles' 6 directed edges), degrees
    // (2,2,3 | 3,2,2) → D_c = 7 each, Sd2 = 98.
    // Q = 12/14 − 98/196 = 5/14 ≈ 0.357142857.
    val es = sym(Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (3L, 4L), (3L, 5L), (4L, 5L), (2L, 3L)))
    val labels = Seq((0L, 0L), (1L, 0L), (2L, 0L), (3L, 1L), (4L, 1L), (5L, 1L))
      .toDF("id", "label")
    val q = GraphStats.modularity(es, labels).collect()(0).getDouble(0)
    assert(math.abs(q - 5.0 / 14.0) < 1e-8)

    // one-community partition always scores exactly 0 (Sw=2m, Sd2=(2m)²)
    val one = labels.select(col("id"), lit(7L).as("label"))
    assert(GraphStats.modularity(es, one).collect()(0).getDouble(0) == 0.0)
  }

  test("GraphStats: s_metric, transitivity, rich_club on the triangle+pendant") {
    // triangle {0,1,2} with pendant 3 on 0: degrees 3,2,2,1
    val es = sym(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)))
    // s = 3·2 + 3·2 + 2·2 + 3·1 = 19 over the canonical edges
    assert(GraphStats.sMetric(es).collect()(0).getLong(0) == 19L)
    // wedges = Σ C(deg,2) = 3+1+1+0 = 5, triangles = 1 → 3/5
    val tr = GraphStats.transitivity(es, 4).collect()(0).getDouble(0)
    assert(math.abs(tr - 0.6) < 1e-12)
    // k=0: all 4 vertices, 4 edges → 2·4/(4·3); k=1: {0,1,2}, 3 edges → 1;
    // k=2: N_k=1 → dropped
    val rc = GraphStats.richClub(es).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toMap
    assert(rc.keySet == Set(0L, 1L))
    assert(rc(0L) == ((4L, 4L, 0.666667)))
    assert(rc(1L) == ((3L, 3L, 1.0)))
  }

  test("GraphStats: square clustering on cycle+pendant; triangle scores 0") {
    // 4-cycle 0-1-2-3 with pendant 4 on 0:
    // v=0 pairs (1,3) q=1 den 1, (1,4)/(3,4) q=0 den 1 each → 1/3
    // v=1/v=3: pair (0,2) q=1, den = 3+2−1−2 = 2 → 1/2; v=2 → 1; v=4 → 0
    val es = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 4L)))
    val got = GraphStats.squareClustering(es, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(0L -> 0.333333, 1L -> 0.5, 2L -> 1.0, 3L -> 0.5,
      4L -> 0.0))
    // a triangle has pairs but zero squares AND zero denominator → all 0
    val tri = sym(Seq((0L, 1L), (0L, 2L), (1L, 2L)))
    assert(GraphStats.squareClustering(tri, 4).collect()
      .forall(_.getDouble(1) == 0.0))
  }

  test("GraphStats: square clustering hub cap — capped ≡ uncapped below " +
    "cap; hub center dropped above it") {
    // capped ≡ uncapped when max degree ≤ cap (cycle+pendant: max deg 3)
    val es = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 0L), (0L, 4L)))
    val base = GraphStats.squareClustering(es, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val capped = GraphStats.squareClustering(es, 4, maxCenterDeg = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(capped == base)
    // wheel: 4-cycle {1,2,3,4} + hub 0 adjacent to all four. Hub deg 4,
    // rim deg 3; cap 3 drops the hub's wedges (its score falls to 0, row
    // kept) and removes it from cn so rim scores change per the documented
    // bias — but every rim row still computes (no crash, full coverage).
    val wheel = sym(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L),
      (0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    val full = GraphStats.squareClustering(wheel, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val cap3 = GraphStats.squareClustering(wheel, 4, maxCenterDeg = 3).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(full(0L) > 0.0)            // uncapped hub has squares
    assert(cap3(0L) == 0.0)           // capped hub: no wedges at the center
    assert(cap3.keySet == full.keySet) // every vertex still has a row
    // rim pair (1,3): cn drops from {0,2,4}→{2,4} when hub centers vanish
    assert(cap3(1L) != full(1L))
  }

  test("GraphStats: generalized degree histogram on triangle+pendant") {
    val es = sym(Seq((0L, 1L), (0L, 2L), (1L, 2L), (0L, 3L)))
    val got = GraphStats.generalizedDegree(es, 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    // 0: two triangle edges (t=1) + the pendant edge (t=0); 1,2: two each;
    // 3: one t=0 edge. Σ n_edges per vertex = deg, Σ t·n_edges = 2·tri(v)
    assert(got == Map((0L, 1L) -> 2L, (0L, 0L) -> 1L, (1L, 1L) -> 2L,
      (2L, 1L) -> 2L, (3L, 0L) -> 1L))
  }

  test("TriangleCentrality: two triangles sharing a corner; pendant; tri-free") {
    // {0,1,2} and {0,3,4}: t = (2,1,1,1,1), t(G)=2; pendant 5 on 1.
    // TC(0) = (3·4 − 2·4 + 2)/6 = 1; TC(1) = (3·(2+1+0) − 2·3 + 1)/6 = 2/3
    // (pendant contributes t(5)=0); TC(3) = (3·(2+1) − 2·3 + 1)/6 = 2/3;
    // TC(5) = (3·t(1) − 0 + 0)/6 = 1/2 (its one neighbor is reached un-cut)
    val es = sym(Seq((0L, 1L), (0L, 2L), (1L, 2L),
      (0L, 3L), (0L, 4L), (3L, 4L), (1L, 5L)))
    val got = TriangleCentrality.run(es, 4).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got.size == 6)
    assert(got(0L) == 1.0)
    assert(got(1L) == 0.666667)
    assert(got(2L) == 0.666667)
    assert(got(3L) == 0.666667)
    assert(got(4L) == 0.666667)
    assert(got(5L) == 0.5)
    // triangle-free graph: all zero (t(G)=0 guard, no NaN/div-by-zero)
    val path = sym(Seq((0L, 1L), (1L, 2L)))
    assert(TriangleCentrality.run(path, 4).collect()
      .forall(_.getDouble(1) == 0.0))
  }

  test("Eigenvector centrality: driver-computed (I+Aᵀ)^k recurrence, L2-normed") {
    // directed pr-demo graph; 5 unnormalized rounds then one L2 norm must
    // equal the per-round-normalized textbook loop (linearity)
    val n = 5
    val adj = Adjacency.build(prEdges.toDF("src", "dst"), n, 4)
    val got = Eigenvector.run(spark, adj, maxIter = 5).scores.collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    var x = Array.fill(n)(1.0 / n)
    for (_ <- 1 to 5) {
      val nx = x.clone()
      prEdges.foreach { case (s, d) => nx(d.toInt) += x(s.toInt) }
      val nrm = math.sqrt(nx.map(v => v * v).sum)
      x = nx.map(_ / nrm) // normalizing every round — directions must agree
    }
    (0 until n).foreach { i =>
      assert(math.abs(got(i.toLong) - x(i)) < 1e-12,
        s"vertex $i: got ${got(i.toLong)}, want ${x(i)}")
    }
    // ‖result‖₂ = 1
    assert(math.abs(got.values.map(v => v * v).sum - 1.0) < 1e-12)
  }

  test("Matching: disjoint, maximal at fixpoint, driver-replayable, layout-free") {
    import graft.pipeline.Sampling
    val und = Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (1L, 3L), (5L, 6L))
    val es = sym(und)
    val got = Matching.run(spark, es, 4, maxRounds = 16).matching.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // pairwise endpoint-disjoint
    val endpoints = got.toSeq.flatMap(e => Seq(e._1, e._2))
    assert(endpoints.distinct.size == endpoints.size)
    // maximal: every edge is matched or touches a matched vertex
    val epSet = endpoints.toSet
    und.foreach { case (u, v) =>
      assert(got.contains((u, v)) || epSet(u) || epSet(v)) }
    // the isolated edge {5,6} must always match in round 1
    assert(got.contains((5L, 6L)))
    // exact driver replay of the salted recurrence
    val M = Sampling.M
    var live = und
    var want = Set.empty[(Long, Long)]
    var r = 0
    val ord = implicitly[Ordering[(Long, Long, Long)]]
    while (live.nonEmpty && r < 16) {
      r += 1
      val a = Sampling.saltedMultiplier(2L * r - 1)
      val b = Sampling.saltedMultiplier(2L * r)
      def key(e: (Long, Long)) =
        ((e._1 % M * a % M + e._2 % M * b % M) % M, e._1, e._2)
      val minAt = scala.collection.mutable.Map.empty[Long, (Long, Long, Long)]
      live.foreach { e =>
        val k = key(e)
        Seq(e._1, e._2).foreach { v =>
          if (!minAt.contains(v) || ord.lt(k, minAt(v))) minAt(v) = k
        }
      }
      val sel = live.filter(e => minAt(e._1) == key(e) && minAt(e._2) == key(e))
      want ++= sel
      val mv = sel.flatMap(e => Seq(e._1, e._2)).toSet
      live = live.filterNot(e => mv(e._1) || mv(e._2))
    }
    assert(got == want)
    // partition-layout independence
    val again = Matching.run(spark, es.repartition(7), 3, maxRounds = 16)
      .matching.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == got)
  }

  test("MIS/Matching results expose release(): winner cache blocks freed " +
    "after the caller consumes the result") {
    val es = sym(Seq((0L, 1L), (1L, 2L), (2L, 3L), (3L, 4L), (4L, 0L),
      (5L, 6L)))
    // track the SET of newly persisted RDD ids, not global counts: the
    // shared session's ContextCleaner unpersists earlier tests' unreachable
    // cached relations asynchronously, so absolute counts move underneath us
    def ids = spark.sparkContext.getPersistentRDDs.keySet
    val before = ids
    val m = Matching.run(spark, es, 4, maxRounds = 16)
    val mRows = m.matching.collect()
    val mAdded = ids -- before
    assert(mRows.nonEmpty && mAdded.nonEmpty) // winner states are cached
    m.release()
    assert((ids & mAdded).isEmpty) // ...and freed on the caller's schedule
    val mis = MIS.run(spark, es, numPartitions = 4)
    assert(mis.mis.collect().nonEmpty)
    val misAdded = ids -- before
    assert(misAdded.nonEmpty)
    mis.release()
    assert((ids & misAdded).isEmpty)
  }

  test("min_plus power APSP: 0-diagonal square accumulates 4-hop distances") {
    import graft.core.{GrbMatrix, GrbShape, Ops}
    import graft.core.Extras._
    // 0→1→2→3→4 chain (w=1 each) plus the expensive shortcut 0→4 (w=10):
    // within 4 hops d(0,4) = 4, not 10; d(0,3)=3; no path 4→0
    val w = Seq((0L, 1L, 1.0), (1L, 2L, 1.0), (2L, 3L, 1.0), (3L, 4L, 1.0),
      (0L, 4L, 10.0)).toDF("src", "dst", "v")
    val dm = GrbMatrix(
      w.unionByName(spark.range(5).select(col("id").as("src"),
          col("id").as("dst"), lit(0.0).as("v")))
        .groupBy("src", "dst").agg(min(col("v")).as("v")),
      GrbShape(5, 5))
    val d4 = dm.power(4, Ops.semirings("min_plus")).df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d4((0L, 4L)) == 4.0)
    assert(d4((0L, 3L)) == 3.0)
    assert(d4((1L, 4L)) == 3.0)
    assert(d4.keys.forall { case (s, t) => s <= t }) // DAG: no backward pairs
    assert((0 to 4).forall(i => d4((i.toLong, i.toLong)) == 0.0))
  }
}
