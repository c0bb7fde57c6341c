package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core._
import graft.core.Extras._
import graft.graph.{Adjacency, Contraction}
import graft.pipeline.UrlOps
import graft.algos._
import graft.pipeline.{Chunking, Clustering, Dedup, Media, Sampling, Selection, Similarity, TextOps}
import graft.ingest.Pages
import graft.runtime.IterationCheckpointer

/** Driver contract (see SURVEY.md §7): one entry per implemented operator,
  * each with an equivalent DuckDB oracle SQL over the same parquet tables.
  *
  * Determinism discipline for the hash compare:
  *  - integer-valued doubles (quantities, counts, pair-products) are exact →
  *    no rounding;
  *  - order-dependent float aggregations are `round(...)`ed identically on
  *    both sides;
  *  - ties in window ranks are always broken by an explicit key column.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  private def parts(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions", "32").toInt

  /** Scale-ADAPTIVE partition count for the lineitem-derived graph fixtures
    * (guide §2.2 "fewer, larger partitions"): the iterative algos' vertex and
    * edge state at these SFs is single-digit MB, and a JobProbe sweep showed
    * ~70-85% of their summed task time is fixed per-task overhead when that
    * state is spread over `spark.sql.shuffle.partitions` tasks (sf0.1 scc:
    * 1905 tasks / 99.7 s task-time at 32 partitions vs 561 / 16.1 s at 8,
    * same results). So derive the count from the INPUT SIZE — the same
    * policy AQE's partition coalescing applies to non-pinned shuffles (the
    * explicit repartitions that declare the loop state's co-partitioning
    * opt out of AQE, so the derivation happens here): ~1 MB of edge bytes
    * per partition, floored at 4 so multi-core execution is preserved, and
    * capped at 4× the session's shuffle parallelism so a real cluster's
    * `spark.sql.shuffle.partitions` (thousands) keeps scaling the count UP
    * with the data rather than pinning it to a local constant. Edge bytes
    * are estimated from the PARSED scale factor (lineitem ≈ 6M rows/sf of
    * 16-byte src/dst pairs) — no extra job, deterministic per dir.
    *
    * The WEDGE-heavy triangle family (triangle_centrality, clustering_coeff,
    * transitivity, square_clustering, generalized_degree, ktruss) keeps
    * `parts(s)`: their dominant intermediate is the Σdeg² wedge expansion
    * (~60× the edge input on this fixture), so partitioning must follow the
    * expansion, not the input — an input-derived count starves the wedge
    * join of parallelism (measured: triangle_centrality 4.30 s → 5.51 s
    * min-of-3 when moved to the input-derived count). All but ktruss's peel
    * and square_clustering now run on the triangle kernel, which makes no
    * wedge records; whether they gain from the input-derived count is not
    * measured. */
  private[graft] def gparts(s: SparkSession, dir: String): Int = {
    val conf = parts(s)
    val edgeBytes = sfOf(dir) * 6.0e6 * 16.0
    val bySize = math.ceil(edgeBytes / (1 << 20)).toInt
    math.max(4, math.min(bySize, conf * 4))
  }

  /** Deterministic per-(sfDir, tag) directory for a query that writes files
    * of its own (IcebergLite tables, checkpoints, a saved model), WIPED at
    * the start of each call: createTempDirectory would leak one directory
    * per Bench or Verify pass, and a stale checkpoint would let a resumed
    * run start from a previous call's manifest. */
  private def scratchDir(s: SparkSession, sfDir: String, tag: String): String = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft-$tag-" +
      java.lang.Integer.toHexString(sfDir.hashCode)
    val p = new org.apache.hadoop.fs.Path(dir)
    p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
    dir
  }

  // ---- shared derived graph tables (same definitions in SQL below) ----

  /** Graph-fixture vertex modulus, derived from the scale factor PARSED from
    * the dir path (not substring sniffing — `sf0.12` or `sf1` must not fall
    * back to the oracle constants and reintroduce the dense-fixture artifact
    * VERDICT r1 flagged). The oracle SQL (fixed constants 937/97) only runs
    * at the driver's correctness SF (≤ 0.01), where these return exactly
    * those constants; above that the vertex universe scales ~√(rows) with
    * the data so average degree — and therefore the benched plans — stays
    * realistic instead of saturating to a near-complete graph. */
  private[graft] def sfOfOpt(dir: String): Option[Double] =
    "sf([0-9]+(?:\\.[0-9]+)?)".r.findFirstMatchIn(dir)
      .map(_.group(1).toDouble)
  private[graft] def sfOf(dir: String): Double = sfOfOpt(dir).getOrElse(0.01)
  private def scaledMod(dir: String): Long = {
    val sf = sfOf(dir)
    // 9973 at sf0.1 (the round-2 calibration); lineitem rows grow ~linearly
    // in sf and edge count ~follows, so modulus ∝ √sf keeps density flat
    math.max(937L, math.round(9973.0 * math.sqrt(sf / 0.1)))
  }
  private[graft] def gmod(dir: String): Long =
    if (sfOf(dir) <= 0.0101) 937L else scaledMod(dir)
  // M must scale with the data too: 997 at sf0.1 gave a 45%-dense matrix and
  // a 200M-row mxm intermediate (22.9s) — a density artifact, not a plan cost
  private def mmod(dir: String): Long =
    if (sfOf(dir) <= 0.0101) 97L else scaledMod(dir)

  /** directed graph G over gmod vertices from lineitem (no self-loops) */
  private[graft] def edgesG(s: SparkSession, dir: String): DataFrame = {
    val n = gmod(dir)
    t(s, dir, "lineitem")
      .select((col("l_orderkey") % n).as("src"), (col("l_partkey") % n).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
  }

  private def edgesGSym(s: SparkSession, dir: String): DataFrame = {
    val e = edgesG(s, dir)
    e.unionByName(e.select(col("dst").as("src"), col("src").as("dst"))).distinct()
  }

  /** weighted matrix M over mmod vertices (dup edges merged by max) */
  private def matM(s: SparkSession, dir: String): GrbMatrix = {
    val n = mmod(dir)
    GrbMatrix(
      t(s, dir, "lineitem")
        .select((col("l_orderkey") % n).as("src"), (col("l_partkey") % n).as("dst"),
          col("l_quantity").as("v"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(max(col("v")).as("v")),
      GrbShape(n, n))
  }

  /** small fixed 97-vertex matrix S (sf-independent: power/flatten queries
    * need bounded output even at bench SFs). Values are integer cents
    * (round(l_quantity*100)) so chained products/sums stay EXACT in FP64 —
    * no rounding needed in the power oracle. */
  private def matS(s: SparkSession, dir: String): GrbMatrix =
    GrbMatrix(
      t(s, dir, "lineitem")
        .select((col("l_orderkey") % 97).as("src"), (col("l_partkey") % 97).as("dst"),
          round(col("l_quantity") * 100).cast("double").as("v"))
        .filter(col("src") =!= col("dst"))
        .groupBy("src", "dst").agg(max(col("v")).as("v")),
      GrbShape(97, 97))

  private val sqlS =
    "SELECT l_orderkey % 97 AS src, l_partkey % 97 AS dst, " +
      "max(CAST(round(l_quantity * 100) AS DOUBLE)) AS v " +
      "FROM lineitem WHERE l_orderkey % 97 <> l_partkey % 97 GROUP BY 1, 2"

  private def vec1(s: SparkSession, dir: String): GrbVector =
    GrbVector(t(s, dir, "customer")
      .filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey").as("id"), col("c_acctbal").as("v")), 1L << 40)

  private def vec2(s: SparkSession, dir: String): GrbVector =
    GrbVector(t(s, dir, "supplier")
      .select(col("s_suppkey").as("id"), col("s_acctbal").as("v")), 1L << 40)

  private val sqlEdges =
    "SELECT DISTINCT l_orderkey % 937 AS src, l_partkey % 937 AS dst FROM lineitem " +
      "WHERE l_orderkey % 937 <> l_partkey % 937"
  private val sqlEdgesSym =
    s"SELECT src, dst FROM ($sqlEdges) UNION SELECT dst, src FROM ($sqlEdges)"
  private val sqlM =
    "SELECT l_orderkey % 97 AS src, l_partkey % 97 AS dst, max(l_quantity) AS v " +
      "FROM lineitem WHERE l_orderkey % 97 <> l_partkey % 97 GROUP BY 1, 2"
  private val sqlV1 =
    "SELECT c_custkey AS id, c_acctbal AS v FROM customer WHERE c_custkey % 3 = 0"
  private val sqlV2 = "SELECT s_suppkey AS id, s_acctbal AS v FROM supplier"

  /** Flagship: full web-graph pipeline on a small synthetic page table —
    * pages → href extraction → id map → CSR adjacency → PageRank scores. */
  def entry(spark: SparkSession): DataFrame = {
    val pages = Pages.synthesize(spark, 300, nSites = 20)
    val ids = Pages.idMap(pages)
    val edges = Pages.edges(pages, ids)
    val adj = Adjacency.build(edges, 300, parts(spark))
    PageRank.run(spark, adj, tol = 1e-6).scores
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ===== graph / semiring kernels =====
    "edges_extract" -> ((s, d) => edgesG(s, d)),

    "degrees_out" -> ((s, d) =>
      GrbMatrix(edgesG(s, d).withColumn("v", lit(1.0)), GrbShape(gmod(d), gmod(d)))
        .reduceRowwise(Ops.plusMonoid).df
        .select(col("id"), col("v").cast("long").as("deg"))),

    "mxv_plus_times" -> ((s, d) => {
      val x = GrbVector(s.range(mmod(d)).select(col("id"),
        ((col("id") % 7) + 1).cast("double").as("v")), mmod(d))
      matM(s, d).mxv(x, Ops.plusTimes).df
    }),

    "mxv_masked" -> ((s, d) => {
      // masked SpMV: the structural mask on the OUTPUT ids is pushed below
      // the aggregation (Core.mxv), the same descriptor fusion as masked mxm
      val x = GrbVector(s.range(mmod(d)).select(col("id"),
        ((col("id") % 7) + 1).cast("double").as("v")), mmod(d))
      val mask = GrbMask(s.range(mmod(d)).filter(col("id") % 3 === 0).select("id"))
      matM(s, d).mxv(x, Ops.plusTimes, Some(mask)).df
    }),

    "mxv_min_secondi" -> ((s, d) => {
      // NAMED positional semiring (reference `semiring.py:185-218`): the
      // product's value is the vector operand's INDEX, so the result is the
      // smallest neighbor id holding a vector entry — the BFS parent shape
      val x = GrbVector(s.range(mmod(d)).filter(col("id") % 2 === 0)
        .select(col("id"), lit(1.0).as("v")), mmod(d))
      matM(s, d).mxv(x, Ops.semiring("min_secondi")).df
    }),

    "udt_struct_ewise" -> ((s, d) => {
      // record dtype end-to-end (Types.registerRecord path): struct(cnt,amt)
      // values flow through the ewise_add kernel's full-outer union and a
      // struct-combining BinaryOp; flattened only at the output boundary
      val va = GrbVector(t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"),
          struct(lit(1L).as("cnt"), col("c_acctbal").as("amt")).as("v")), 1L << 40)
      val vb = GrbVector(t(s, d, "supplier")
        .select(col("s_suppkey").as("id"),
          struct(lit(1L).as("cnt"), col("s_acctbal").as("amt")).as("v")), 1L << 40)
      val structPlus = BinaryOp("struct_plus", (x, y) =>
        struct((x("cnt") + y("cnt")).as("cnt"), (x("amt") + y("amt")).as("amt")))
      va.ewiseAdd(vb, structPlus).df
        .select(col("id"), col("v.cnt").as("cnt"), col("v.amt").as("amt"))
    }),

    "mxm_plus_times" -> ((s, d) => {
      // both operand sides of the square read the SAME relation —
      // materialize it once instead of re-running the lineitem scan +
      // dedup aggregation per side (guide §1.2: don't compute things twice)
      val m0 = matM(s, d)
      val m = GrbMatrix(Ckpt.materialize(m0.df).df, m0.shape)
      m.mxm(m, Ops.plusTimes).df
    }),

    "mxm_masked_plus_pair" -> ((s, d) =>
      TriangleCount.support(edgesGSym(s, d), gmod(d))),

    "triangle_count" -> ((s, d) => {
      import s.implicits._
      Seq(TriangleCount.count(edgesGSym(s, d))).toDF("n_triangles")
    }),

    "pagerank_iter1" -> ((s, d) => {
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      val r = PageRank.run(s, adj, damping = 0.85, tol = 0.0, maxIter = 1)
      r.scores.select(col("id"), round(col("v"), 9).as("v"))
    }),

    "pagerank" -> ((s, d) => {
      // fixed 15 iterations (the driver-recorded webgraph iteration count)
      // with tol=0, rounded to 1e-6 — a deterministic recurrence the DuckDB
      // oracle unrolls exactly, closing the one rows-only gap of rounds 1-3
      // (VERDICT r3 item 2). Convergence-driven operation is pinned by the
      // sbt suite (AlgoSpec: recurrence to 1e-6 incl. sinks/hubs) and
      // exercised by `entry`/Bench's webgraph run (tol=1e-6).
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      PageRank.run(s, adj, damping = 0.85, tol = 0.0, maxIter = 15)
        .scores.select(col("id"), round(col("v"), 6).as("v"))
    }),

    "connected_components" -> ((s, d) =>
      ConnectedComponents.run(s, edgesGSym(s, d), gmod(d), gparts(s, d)).components),

    "kcore" -> ((s, d) =>
      // k=95 peels a 12-vertex fringe off the ~117-avg-degree fixture in 3
      // cascading rounds; maxRounds matches the oracle's unroll and early
      // stop at the fixpoint is bit-identical to running all 8 (the
      // survivor set shrinks monotonically)
      KCore.run(s, edgesGSym(s, d), k = 95, gparts(s, d), maxRounds = 8).core),

    "ktruss" -> ((s, d) =>
      // 3-round 16-truss peel (maxRounds matches the oracle's unroll; the
      // bounded peel IS the deterministic R-round operator — see KTruss
      // Scaladoc; the sbt test pins fixpoint semantics on a hand fixture).
      // At sf0.01 the cascade is 111902 -> 74532 -> 19210 -> 460 sym edges,
      // so all three support rounds do real work and the output is non-empty
      KTruss.run(s, edgesGSym(s, d), k = 16, parts(s), maxRounds = 3).truss),

    "mis" -> ((s, d) =>
      // Luby rounds; ANY oracle unroll R ≥ the executed rounds matches (the
      // output is the union of per-round winners and exhausted rounds admit
      // nobody), so maxRounds here == misSql's unroll
      MIS.run(s, edgesGSym(s, d), gparts(s, d), maxRounds = 8).mis),

    "coloring" -> ((s, d) =>
      // Jones-Plassmann rounds; same bounded-round contract as mis
      Coloring.run(s, edgesGSym(s, d), gparts(s, d), maxRounds = 8).colors),

    "boruvka_mst" -> ((s, d) => {
      // weighted graph: canonical undirected lineitem edges, integer-cent
      // weights, duplicates merged by min — 4 rounds span the fixture (the
      // sbt test cross-checks the full forest against a driver Kruskal)
      val n = gmod(d)
      val raw = t(s, d, "lineitem")
        .select((col("l_orderkey") % n).as("s"), (col("l_partkey") % n).as("d2"),
          round(col("l_quantity") * 100).cast("long").as("q"))
        .filter(col("s") =!= col("d2"))
      val canon = raw.select(least(col("s"), col("d2")).as("lo"),
          greatest(col("s"), col("d2")).as("hi"), col("q"))
        .groupBy("lo", "hi").agg(min(col("q")).as("w"))
      val sym = canon.select(col("lo").as("src"), col("hi").as("dst"), col("w"))
        .unionByName(
          canon.select(col("hi").as("src"), col("lo").as("dst"), col("w")))
      Boruvka.run(s, sym, gparts(s, d), maxRounds = 4).forest
    }),

    "clustering_coeff" -> ((s, d) =>
      GraphStats.localClustering(edgesGSym(s, d), parts(s))),

    "assortativity" -> ((s, d) =>
      GraphStats.assortativity(edgesGSym(s, d))),

    "s_metric" -> ((s, d) =>
      GraphStats.sMetric(edgesGSym(s, d))),

    "transitivity" -> ((s, d) =>
      GraphStats.transitivity(edgesGSym(s, d), parts(s))),

    "rich_club" -> ((s, d) =>
      GraphStats.richClub(edgesGSym(s, d))),

    "triangle_centrality" -> ((s, d) =>
      TriangleCentrality.run(edgesGSym(s, d), parts(s))),

    "square_clustering" -> ((s, d) => {
      // 1/7-sparsified G (the link_predict regime): the full mod-937
      // expander is wedge-saturated — Σ C(deg,2) grows ~quadratically with
      // density while C4 collapses toward a constant; thinning restores a
      // genuine square-counting regime AND bounds the wedge table
      val g = edgesG(s, d).filter((col("src") * 31 + col("dst")) % 7 === 0)
      val e = g.unionByName(
        g.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      GraphStats.squareClustering(e, parts(s))
    }),

    "generalized_degree" -> ((s, d) =>
      GraphStats.generalizedDegree(edgesGSym(s, d), parts(s))),

    "maximal_matching" -> ((s, d) =>
      // bounded-round deterministic operator (the MIS convention: maxRounds
      // here == matchingSql's unroll; the dense expander drains in ~5)
      Matching.run(s, edgesGSym(s, d), gparts(s, d), maxRounds = 8).matching),

    "eigenvector_centrality" -> ((s, d) => {
      // 5 power-iteration rounds of x ← (I+Aᵀ)x, L2-normalized once at the
      // end (linearity — see Eigenvector Scaladoc); fixed rounds so the
      // DuckDB oracle unrolls the exact recurrence like katz_centrality
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      Eigenvector.run(s, adj, maxIter = 5)
        .scores.select(col("id"), round(col("v"), 6).as("v"))
    }),

    "apsp_minplus" -> ((s, d) => {
      // ≤4-hop all-pairs min_plus distances over the small fixed 97-vertex
      // integer-cent matrix S (bounded 97² output at every SF): zero the
      // diagonal so the squared power accumulates shorter-or-equal paths,
      // then one repeated min_plus squaring — the reference's
      // `min_plus` mxm power recipe (Floyd–Warshall's algebraic core)
      val base = matS(s, d)
      // diagonal derived from the matrix shape (not a third copy of matS's
      // modulus) so a fixture change can't silently truncate it
      val dm = GrbMatrix(
        base.df.unionByName(
            s.range(base.shape.nrows).select(col("id").as("src"),
              col("id").as("dst"), lit(0.0).as("v")))
          .groupBy("src", "dst").agg(min(col("v")).as("v")),
        base.shape)
      dm.power(4, Ops.semirings("min_plus")).df
    }),

    "reciprocity" -> ((s, d) =>
      // on the DIRECTED graph — the symmetric closure is 1.0 by construction
      GraphStats.reciprocity(edgesG(s, d))),

    "degree_histogram" -> ((s, d) =>
      GraphStats.degreeHistogram(edgesG(s, d))),

    "modularity" -> ((s, d) => {
      // planted-partition fixture: the dense lineitem expander has NO
      // community structure (LPA collapses it to one label and every
      // partition scores Q = 0 exactly), so keep within-block edges plus a
      // thin deterministic cross-block sliver and score the planted block
      // partition — a nontrivial Q exercising both the W_c and D_c² terms.
      // The filter predicate is symmetric, so symmetry is preserved.
      val e = edgesGSym(s, d).filter(
        expr("src DIV 118") === expr("dst DIV 118") ||
          pmod(col("src") + col("dst"), lit(29L)) === 0)
      val labels = e.select(col("src").as("id"))
        .union(e.select(col("dst").as("id"))).distinct()
        .select(col("id"), expr("id DIV 118").as("label"))
      GraphStats.modularity(e, labels)
    }),

    "label_propagation" -> ((s, d) =>
      // 4 synchronous mode-LPA rounds (maxIter matches lpIterSql's unroll)
      LabelPropagation.run(s, edgesGSym(s, d), gmod(d), gparts(s, d), maxIter = 4)
        .labels.select(col("id"), col("label"))),

    "bfs_levels" -> ((s, d) =>
      BFS.levels(s, edgesG(s, d), 0, maxDepth = 15, numPartitions = gparts(s, d))),

    "msbfs_levels" -> ((s, d) =>
      // 4 sources ride ONE packed 64-bit frontier: one gather join per level
      // regardless of source count (the point of batched BFS at web scale)
      MSBFS.levels(s, edgesG(s, d), Seq(0L, 1L, 2L, 3L), maxDepth = 15,
        numPartitions = gparts(s, d))),

    "harmonic_centrality" -> ((s, d) =>
      // seed-sampled harmonic centrality from the same packed wave; ≤64
      // 1/level terms per vertex so 1e-9 rounding is deterministic
      MSBFS.harmonic(s, edgesG(s, d), Seq(0L, 1L, 2L, 3L), maxDepth = 15,
          numPartitions = gparts(s, d))
        .select(col("id"), round(col("harmonic"), 9).as("harmonic"))),

    "eccentricity" -> ((s, d) =>
      // pseudo-diameter sampling: per-seed max BFS level off the packed wave
      MSBFS.eccentricity(s, edgesG(s, d), Seq(0L, 1L, 2L, 3L), maxDepth = 15,
        numPartitions = gparts(s, d))),

    "random_walks" -> ((s, d) =>
      // 8-step deterministic walk corpus, one walk per vertex; the oracle
      // replays the exact next-hop arithmetic (see RandomWalk Scaladoc)
      RandomWalk.corpus(s, edgesG(s, d), walkLength = 8, gparts(s, d))),

    "betweenness" -> ((s, d) =>
      // 4-seed Brandes sample, radius-6 (≥ the fixture's eccentricity, so
      // exact for these seeds); σ is exact BIGINT, δ rounded at 1e-6
      Betweenness.run(s, edgesG(s, d), Seq(0L, 1L, 2L, 3L), maxDepth = 6,
          numPartitions = gparts(s, d))
        .select(col("id"), round(col("bc"), 6).as("bc"))),

    "pagerank_iter5" -> ((s, d) => {
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      PageRank.run(s, adj, damping = 0.85, tol = 0.0, maxIter = 5)
        .scores.select(col("id"), round(col("v"), 9).as("v"))
    }),

    "pagerank_resume" -> ((s, d) => {
      // north_rule resumability as an ORACLE row (not just the sbt resume
      // test): run 3 checkpointed iterations, then a SECOND run picks the
      // latest manifest up and carries the recurrence to 5 — the result must
      // hash-match the straight-through 5-iteration unrolled oracle, proving
      // the parquet+manifest snapshot loses nothing (state round-trips FP64
      // bit-exact) and the resumed loop is the same recurrence.
      val ck = scratchDir(s, d, "resume")
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      val c = new IterationCheckpointer(ck)
      PageRank.run(s, adj, damping = 0.85, tol = 0.0, maxIter = 3,
        checkpointer = Some(c))
      PageRank.run(s, adj, damping = 0.85, tol = 0.0, maxIter = 5,
        checkpointer = Some(c))
        .scores.select(col("id"), round(col("v"), 9).as("v"))
    }),

    "pagerank_personalized" -> ((s, d) => {
      // teleport restricted to seed vertices 0..9; fixed 5 iterations so the
      // DuckDB oracle unrolls the exact recurrence (same discipline as
      // pagerank_iter5)
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      PersonalizedPageRank.run(s, adj, s.range(10).toDF("id"),
          damping = 0.85, tol = 0.0, maxIter = 5)
        .scores.select(col("id"), round(col("v"), 9).as("v"))
    }),

    "katz_centrality" -> ((s, d) => {
      // x ← β + α·Aᵀx, fixed 5 rounds (tol=0) so the DuckDB oracle unrolls
      // the exact recurrence — same discipline as pagerank_iter5
      val adj = Adjacency.build(edgesG(s, d), gmod(d), gparts(s, d))
      // round(6): Katz values are O(1) (β floor = 1), so 6 digits is the
      // same RELATIVE tolerance pagerank_iter5's round(9) gives its O(1e-3)
      // values; 9 digits here tripped round-to-even boundary flips between
      // Spark's and DuckDB's summation orders on ~1% of vertices
      Katz.run(s, adj, alpha = 0.01, beta = 1.0, tol = 0.0, maxIter = 5)
        .scores.select(col("id"), round(col("v"), 6).as("v"))
    }),

    "hits" -> ((s, d) => {
      // 5 L2-normalized hub/authority rounds on the vertex kernel; the
      // reversed-edge adjacency holds the in-edges for the hub halves
      val e = edgesG(s, d)
      val adjOut = Adjacency.build(e, gmod(d), gparts(s, d))
      val adjIn = Adjacency.build(
        e.select(col("dst").as("src"), col("src").as("dst")), gmod(d), gparts(s, d))
      HITS.run(s, adjOut, adjIn, maxIter = 5).scores
        .select(col("id"),
          coalesce(round(col("hub"), 6), lit(0.0)).as("hub"),
          coalesce(round(col("authority"), 6), lit(0.0)).as("authority"))
    }),

    "bfs_parents" -> ((s, d) =>
      BFS.parents(s, edgesG(s, d), 0, maxDepth = 15, numPartitions = gparts(s, d))),

    "sssp" -> ((s, d) =>
      SSSP.run(s, matM(s, d).df.select(col("src"), col("dst"), col("v").as("w")),
        0, gparts(s, d))),

    // ===== element-wise / mask / assign kernels =====
    "ewise_mult_plus" -> ((s, d) =>
      vec1(s, d).ewiseMult(vec2(s, d), Ops.plus).df),

    "ewise_add_minus" -> ((s, d) =>
      vec1(s, d).ewiseAdd(vec2(s, d), Ops.minus).df),

    "ewise_union_minus" -> ((s, d) =>
      vec1(s, d).ewiseUnion(vec2(s, d), Ops.minus, lit(0.0), lit(0.0)).df),

    "select_value_gt" -> ((s, d) =>
      vec1(s, d).select((v, _) => v > 5000.0).df),

    "apply_unary_sqrt" -> ((s, d) =>
      vec1(s, d).apply(Ops.absOp).apply(Ops.sqrtOp).df),

    "complex_ops" -> ((s, d) => {
      // FC64 surface end-to-end (reference `dtypes.py:423-457` gated tier):
      // ctruediv through the ewise_mult kernel, cexp/clog/csqrt through
      // apply. im is offset +0.5 so z never hits the origin or the negative
      // real axis (both engines agree on atan2 branch cuts anyway; this
      // keeps the fixture away from signed-zero territory). w's real part
      // is >= 1 so the ctruediv denominator is never 0. Componentwise
      // formulas are written in the SAME operation order as the oracle SQL,
      // rounded to 6 (libm-vs-JVM exp/trig differ by ulps, never more).
      val base = t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"),
          (col("c_acctbal") / 1000).as("re"),
          ((col("c_custkey") % 7).cast("double") - 3 + 0.5).as("im"))
      val vz = GrbVector(base.select(col("id"),
        Ops.Cx(col("re"), col("im")).as("v")), 1L << 40)
      val vw = GrbVector(base.select(col("id"),
        Ops.Cx(((col("id") % 7) + 1).cast("double"), col("re")).as("v")), 1L << 40)
      val dv = vz.ewiseMult(vw, Ops.ctruediv).df
        .select(col("id"), col("v.re").as("dre"), col("v.im").as("dim"))
      val ev = vz.apply(Ops.cexpOp).df
        .select(col("id"), col("v.re").as("ere"), col("v.im").as("eim"))
      val lv = vz.apply(Ops.clogOp).df
        .select(col("id"), col("v.re").as("lre"), col("v.im").as("lim"))
      val sv = vz.apply(Ops.csqrtOp).df
        .select(col("id"), col("v.re").as("sre"), col("v.im").as("sim"))
      dv.join(ev, "id").join(lv, "id").join(sv, "id")
        .select(col("id") +: Seq("dre", "dim", "ere", "eim", "lre", "lim",
          "sre", "sim").map(c => round(col(c), 6).as(c)): _*)
    }),

    "special_funcs" -> ((s, d) => {
      // lgamma/tgamma kernels (Lanczos g=7 + reflection, Ops.scala) against
      // DuckDB's libm lgamma/gamma: x >= 3.2 exercises the main branch,
      // y in [-1.9, 0.32] (never within 0.05 of a pole) the reflection
      // branch with sign. Lanczos is ~1e-13 relative, so round-6 agreement
      // is deterministic headroom, not luck.
      val base = t(s, d, "customer").filter(col("c_custkey") % 3 === 0)
        .select(col("c_custkey").as("id"),
          (col("c_acctbal") / 1000 + 4.2).as("x"),
          ((col("c_custkey") % 7).cast("double") * 0.37 - 1.9).as("y"))
      val lg = GrbVector(base.select(col("id"), col("x").as("v")), 1L << 40)
        .apply(Ops.lgammaOp).df.select(col("id"), round(col("v"), 6).as("lg"))
      val tg = GrbVector(base.select(col("id"), col("y").as("v")), 1L << 40)
        .apply(Ops.tgammaOp).df.select(col("id"), round(col("v"), 6).as("tg"))
      lg.join(tg, "id")
    }),

    "reduce_scalar_plus" -> ((s, d) => {
      import s.implicits._
      Seq(vec1(s, d).reduce(Ops.plusMonoid).get.asInstanceOf[Double])
        .toDF("total").select(round(col("total"), 2).as("total"))
    }),

    "reduce_colwise_max" -> ((s, d) =>
      matM(s, d).reduceColumnwise(Ops.maxMonoid).df),

    "transpose_reduce" -> ((s, d) =>
      matM(s, d).transpose.reduceRowwise(Ops.plusMonoid).df),

    // isequal / isclose (`matrix.py:373,417`, `vector.py:340,381`): the
    // whole-collection comparisons are driver-side Booleans, so the query
    // packs six deterministic scenarios into one row of 0/1 flags —
    // identity, a +1 value perturbation, a within-tolerance relative
    // perturbation (1e-6 accepts, exact rejects), a dropped element
    // (structure mismatch), and the vector pair. Fixed 97×97 S fixture:
    // each flag is a bounded limit(1)-count job, sf-independent.
    "isequal_isclose" -> ((s, d) => {
      import s.implicits._
      val a = matS(s, d)
      val mk = a.df.orderBy(col("src"), col("dst")).limit(1)
        .select(col("src"), col("dst")).collect()(0)
      val (mr, mc) = (mk.getLong(0), mk.getLong(1))
      val hit = col("src") === mr && col("dst") === mc
      def re(df: DataFrame) = GrbMatrix(df, a.shape)
      val perturbed = re(a.df.withColumn("v",
        when(hit, col("v") + 1.0).otherwise(col("v"))))
      val scaled = re(a.df.withColumn("v", col("v") * (1.0 + 5e-8)))
      val missing = re(a.df.filter(!hit))
      val v = vec1(s, d)
      val vScaled = GrbVector(v.df.withColumn("v", col("v") * (1.0 + 5e-8)), v.size)
      Seq((
        if (a.isequal(re(a.df))) 1L else 0L,
        if (a.isequal(perturbed)) 1L else 0L,
        if (a.isclose(scaled, relTol = 1e-6)) 1L else 0L,
        if (a.isclose(scaled, relTol = 1e-12)) 1L else 0L,
        if (a.isclose(missing, relTol = 1e-6)) 1L else 0L,
        if (v.isequal(GrbVector(v.df, v.size))) 1L else 0L,
        if (v.isclose(vScaled, relTol = 1e-6)) 1L else 0L
      )).toDF("eq_self", "eq_perturbed", "close_tol", "close_tight",
        "close_missing", "veq_self", "vclose_tol")
    }),

    "mask_structural" -> ((s, d) =>
      Kernels.maskFilter(vec1(s, d).df, vec2(s, d).mask(), Seq("id"))),

    "mask_complement" -> ((s, d) =>
      Kernels.maskFilter(vec1(s, d).df, vec2(s, d).mask(complement = true), Seq("id"))),

    "extract_remap" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val sub = vec1(s, d).df.filter(col("id") % 15 === 0)
      sub.withColumn("new_id",
          (row_number().over(Window.orderBy("id")) - 1).cast("long"))
        .select(col("new_id"), col("v"))
    }),

    "assign_scatter_min" -> ((s, d) => {
      val base = GrbVector.dense(s, 50, lit(999999.0))
      val targets = vec2(s, d).df.select(col("id"), (col("id") % 50).as("target"))
      base.scatterAssign(targets, vec2(s, d), min, Ops.minBin).df
    }),

    "assign_submatrix" -> ((s, d) => {
      // C[rows, cols] << A: region-replace semantics (no accum) — rows 0,7,..,28
      // × cols 0,9,..,36 of M replaced by a sparse 5×5 A from `region`
      val a = GrbMatrix(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("src"),
          ((col("r_regionkey") * 2) % 5).cast("long").as("dst"),
          (col("r_regionkey") + 10).cast("double").as("v")),
        GrbShape(5, 5))
      val rowMap = s.range(5).select(col("id").as("idx"), (col("id") * 7).as("target"))
      val colMap = s.range(5).select(col("id").as("idx"), (col("id") * 9).as("target"))
      matM(s, d).assign(rowMap, colMap, a).df
    }),

    "assign_scalar_masked" -> ((s, d) => {
      // w(mask, accum=plus)[targets] << 100.0 — scalar-broadcast assign with
      // structural mask (even ids) and plus-accumulate
      val targets = t(s, d, "supplier").select(col("s_suppkey").as("target")).distinct()
      val mask = GrbMask(targets.filter(col("target") % 2 === 0)
        .select(col("target").as("id")))
      vec1(s, d).assignScalar(targets, lit(100.0), Some(mask), Some(Ops.plus)).df
    }),

    "assign_row" -> ((s, d) => {
      // C[5, :] << u — row assign, region-replace of row 5
      val u = GrbVector(
        t(s, d, "nation").groupBy((col("n_nationkey") % mmod(d)).cast("long").as("id"))
          .agg(max(col("n_nationkey").cast("double")).as("v")), mmod(d))
      matM(s, d).assignRow(5, u).df
    }),

    "diag_extract" -> ((s, d) => matM(s, d).diag(1).df),

    "apply_indexop" -> ((s, d) =>
      // apply(indexunaryop, thunk) by NAME from the catalog
      // (`GrB_Matrix_apply_IndexOp_*`, `operator/indexunary.py:94`):
      // rowindex(thunk=10) → value becomes i + 10
      matS(s, d).applyIndexOp(Ops.indexUnaries("rowindex"), lit(10L)).df),

    "reposition_mat" -> ((s, d) =>
      // matrix reposition (`matrix.py:2764`): shift both indices, drop
      // out-of-range — the 2-D twin of reposition_vec
      matS(s, d).reposition(3, -2).df),

    "reshape_vec" -> ((s, d) =>
      // ss.reshape 97×97 → 9409×1 (`core/ss/matrix.py:3732`): row-major
      // relinearization, exercised to a single column
      Extras.MatrixExtras(matS(s, d)).reshape(9409, 1).df),

    "sort_permutation" -> ((s, d) => {
      // ss.sort returns (values, PERMUTATION) — both halves joined on the
      // dense position so the oracle pins them together (`ss/matrix.py:3983`)
      val (vals, perm) = matS(s, d).sortRowwise(asc = true)
      vals.df.select(col("src"), col("dst").as("p"), col("v"))
        .join(perm.df.select(col("src"), col("dst").as("p"), col("v").as("perm")),
          Seq("src", "p"))
    }),

    "head_vec" -> ((s, d) =>
      // ss.head sort=true (`core/ss/vector.py:32`): first 25 stored elements
      // by id — plans as TakeOrderedAndProject (per-partition top-n + n-row
      // merge), never a full sort
      vec1(s, d).head(25).df),

    "head_mat" -> ((s, d) =>
      // matrix twin (`core/ss/matrix.py:44`): first 20 stored elements in
      // (src, dst) order — same TakeOrderedAndProject shape
      matS(s, d).head(20).df),

    "mask_and" -> ((s, d) => {
      // mask combination __and__ (`mask.py:86`): keys present in BOTH masks
      val a = GrbMask(vec1(s, d).df.select("id"))
      val b = GrbMask(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("id")))
      vec2(s, d).dup(GrbMask.and(a, b, Seq("id"))).df
    }),

    "mask_or" -> ((s, d) => {
      // mask combination __or__ (`mask.py:87`): keys present in EITHER mask
      // — the union twin of mask_and (round-5 conversion of the last
      // test-only mask surface)
      val a = GrbMask(vec1(s, d).df.select("id"))
      val b = GrbMask(t(s, d, "customer").filter(col("c_custkey") % 5 === 0)
        .select(col("c_custkey").as("id")))
      vec2(s, d).dup(GrbMask.or(a, b, Seq("id"))).df
    }),

    "split_concat" -> ((s, d) => {
      // ss.split → ss.concat round trip reassembles the matrix exactly
      // (`core/ss/matrix.py:280`, `ss/_core.py:72`); 49 does not divide 97,
      // so ragged edge tiles are exercised
      val tiles = matS(s, d).split(49, 49)
      Extras.concat(tiles, 49, 49).df
    }),

    "from_coo_dup" -> ((s, d) => {
      // from_coo with dup_op (`matrix.py:818`): every COO entry of S fed in
      // TWICE, duplicates merged by the plus monoid → exactly 2v (integer
      // cents, so the doubling is FP-exact). Driver-side COO is the
      // reference's own from_coo contract (arrays in memory); S is the
      // fixed 97×97 fixture, sf-independent.
      val coo = Formats.toCoo(matS(s, d))
      GrbMatrix.fromCoo(s, coo ++ coo, GrbShape(97, 97),
        dup = Some(Ops.plusMonoid)).df
    }),

    "mmrw_roundtrip" -> ((s, d) => {
      // mmwrite → mmread round trip (`io/_matrixmarket.py:98`): Double
      // text round-trips exactly (Java toString/parse contract), so the
      // re-read matrix hash-matches the S fixture oracle.
      val p = java.nio.file.Files.createTempFile("graft-mm", ".mtx").toString
      Formats.mmwrite(matS(s, d), p)
      Formats.mmread(s, p).df
    }),

    "element_setdel" -> ((s, d) =>
      // element upsert + delete (`matrix.py:3088`, `matrix.py:3529`):
      // A[5,7] = 123 (an upsert — present or not before), del A[2,3]
      matS(s, d).set(5L, 7L, 123.0).delete(2L, 3L).df),

    "dense_roundtrip" -> ((s, d) => {
      // to_dense → from_dense round trip (`matrix.py:1461`, `matrix.py:900`):
      // export fills missing cells with 0.0 and the re-import keeps ALL
      // dense entries (GraphBLAS from_dense semantics: every cell present),
      // so the result is the full 97×97 grid with v = coalesce(S.v, 0).
      val dense = Formats.toDense(matS(s, d))
      Formats.fromDense(s, dense.toSeq.map(_.toSeq)).df
    }),

    "csr_roundtrip" -> ((s, d) =>
      // to_csr → from_csr round trip (`matrix.py:1647,1071`): the packed
      // (src, dsts[], vals[]) bucket layout — the same distributed CSR
      // shape Adjacency runs PageRank on — re-exploded to COO. Fully
      // distributed (groupBy + posexplode), no driver hop.
      Formats.fromCsrBuckets(Formats.toCsrBuckets(matS(s, d).df))),

    "dicts_roundtrip" -> ((s, d) =>
      // from_dicts → to_dicts round trip (`matrix.py:987,1552`)
      Formats.fromDicts(s, Formats.toDicts(matS(s, d)), GrbShape(97, 97)).df),

    "from_scalar_dense" -> ((s, d) =>
      // from_scalar (`matrix.py:900`): an 11×7 constant matrix — every
      // cell present with the same value (dense iso semantics)
      GrbMatrix.fromScalar(s, 3.5, GrbShape(11, 7)).df),

    "dup_mask" -> ((s, d) => {
      // dup with mask-on-construction (`matrix.py:683` dup(mask=)): the
      // copy is restricted to the mask's key set at build time
      val m = matS(s, d)
      m.dup(GrbMask(m.df.filter(col("v") > 2500).select(col("src"), col("dst")))).df
    }),

    "vector_assign" -> ((s, d) => {
      // general vector assign w[indices] << u (`vector.py`
      // _prep_for_assign): the target region (customer ids) is REPLACED by
      // u's values — existing positions overwritten, absent ones upserted,
      // all other positions of w untouched
      val u = vec1(s, d)
      val m = u.df.select(col("id").as("idx"), col("id").as("target"))
      vec2(s, d).assign(m, u).df
    }),

    "setdiag_vals" -> ((s, d) => {
      // FULL setdiag(values, k, accum) (`matrix.py:2905`): vector onto the
      // k=1 diagonal, overlaps accumulated by plus, off-diagonal untouched
      val u = GrbVector(t(s, d, "nation")
        .select((col("n_nationkey") % 97).cast("long").as("id"),
          col("n_nationkey").cast("double").as("v"))
        .groupBy("id").agg(max("v").as("v")), 97)
      matS(s, d).setdiag(u, 1L, None, Some(Ops.plus)).df
    }),

    "extract_input_mask" -> ((s, d) => {
      // input_mask on extract (`base.py:356-362`): the mask pre-filters the
      // INPUT before the index remap
      val im = GrbMask(t(s, d, "customer").filter(col("c_custkey") % 6 === 0)
        .select(col("c_custkey").as("id")))
      val remap = t(s, d, "customer").select(col("c_custkey").as("old"),
        (col("c_custkey") * 2).as("new"))
      vec1(s, d).extract(remap, 1L << 41, inputMask = Some(im)).df
    }),

    "diag_build" -> ((s, d) =>
      // vector → diagonal matrix (`vector.py:605` Vector.diag / ss.build_diag,
      // VERDICT r3 item 3): v[i] lands at (i, i+2)
      vec1(s, d).diag(2).df),

    "indexbinary_ewise" -> ((s, d) => {
      // user-defined IndexBinaryOp bound with theta, through ewise_mult
      // (`operator/indexbinary.py:231`, docs example `operators.rst:225-255`
      // extended with an index term to pin the kernel's index resolution):
      // f(x,ix,jx,y,iy,jy,θ) = (x + y)·θ + ix
      val op = IndexBinaryOp("discounted_sum_ix",
        (x, ix, _, y, _, _, theta) => (x + y) * theta + ix)
      vec1(s, d).ewiseMult(vec2(s, d), op.bound(lit(0.5))).df
        .select(col("id"), round(col("v"), 4).as("v"))
    }),

    "topk_per_row" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("src").orderBy(col("v").desc, col("dst"))
      matM(s, d).df.withColumn("rn", row_number().over(w).cast("long"))
        .filter(col("rn") <= 3)
    }),

    "prefix_scan_row" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("src").orderBy("dst")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      matM(s, d).df.select(col("src"), col("dst"), sum(col("v")).over(w).as("cum"))
    }),

    "argmax_per_row" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("src").orderBy(col("v").desc, col("dst"))
      matM(s, d).df.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).select(col("src").as("id"), col("dst"), col("v"))
    }),

    "kron_small" -> ((s, d) => {
      val a = GrbMatrix(
        t(s, d, "nation").groupBy((col("n_nationkey") % 5).as("src"),
            col("n_regionkey").cast("long").as("dst"))
          .agg(count(lit(1)).cast("double").as("v")),
        GrbShape(5, 5))
      val b = GrbMatrix(
        t(s, d, "region").select(col("r_regionkey").cast("long").as("src"),
          ((col("r_regionkey") + 1) % 5).cast("long").as("dst"), lit(1.0).as("v")),
        GrbShape(5, 5))
      a.kronecker(b, Ops.times).df
    }),

    "agg_stats" -> ((s, d) =>
      vec1(s, d).df.agg(
        count(lit(1)).as("n"),
        round(sum(col("v")), 2).as("s"),
        round(avg(col("v")), 4).as("mean"),
        min(col("v")).as("mn"),
        max(col("v")).as("mx"),
        round(stddev_pop(col("v")), 4).as("stdp"))),

    "agg_argminmax" -> ((s, d) =>
      // single-pass min_by/max_by (Extras catalog argmin/argmax); ties broken
      // by id via lexicographic struct ordering — one agg, no global sorts
      vec1(s, d).df.agg(
        min_by(col("id"), struct(col("v"), col("id"))).as("argmin_id"),
        max_by(col("id"), struct(col("v"), (-col("id")).as("nid"))).as("argmax_id"))),

    "vxm_plus_times" -> ((s, d) => {
      val x = GrbVector(s.range(97).select(col("id"),
        ((col("id") % 5) + 1).cast("double").as("v")), 97)
      x.vxm(matS(s, d), Ops.plusTimes).df
    }),

    "inner_product" -> ((s, d) => {
      import s.implicits._
      Seq(vec1(s, d).inner(vec2(s, d), Ops.plusTimes).get.asInstanceOf[Double])
        .toDF("ip").select(round(col("ip"), 2).as("ip"))
    }),

    "power3" -> ((s, d) =>
      // repeated-squaring power: M·(M·M) — exact (integer-cent values)
      matS(s, d).power(3, Ops.plusTimes).df),

    "apply_bind" -> ((s, d) =>
      // bind-1st then bind-2nd: (10000 - v) / 2
      vec1(s, d).applyLeft(Ops.minus, lit(10000.0))
        .applyRight(Ops.truediv, lit(2.0)).df
        .select(col("id"), round(col("v"), 4).as("v"))),

    "reposition_vec" -> ((s, d) => vec1(s, d).reposition(7).df),

    "flatten_small" -> ((s, d) => matS(s, d).flatten().df),

    "compactify_vec" -> ((s, d) => vec1(s, d).compactify().df),

    // the SCALE path must produce the identical dense renumbering — same
    // oracle as compactify_vec, through the bucketed/prefix-sum plan (a
    // deliberately non-dividing bucket count exercises ragged buckets)
    "compactify_partitioned" -> ((s, d) =>
      vec1(s, d).compactifyPartitioned(buckets = 7).df),

    // ===== dtype contracts: INT64 end-to-end (core.types) =====
    "int64_div_mod" -> ((s, d) => {
      // pinned integer-division contracts over signed INT64: C cdiv/rem
      // (truncation, sign of dividend) vs numpy floordiv/floormod — all four
      // BIGINT end-to-end, negatives included (Types.cdiv/floordiv)
      val a = col("l_orderkey").cast("long") - 3000L
      val b = when(col("l_partkey") % 2 === 0, lit(7L)).otherwise(lit(-4L))
      t(s, d, "lineitem").select(a.as("a"), b.as("b"),
        Types.cdiv(a, b).as("cdiv"), Types.floordiv(a, b).as("fdiv"),
        Types.rem(a, b).as("crem"), Types.floormod(a, b).as("frem"))
    }),

    "bitwise_agg" -> ((s, d) => {
      // bitwise binary ops + bor/band/bxor monoids as INT64 aggregations
      val x = col("l_partkey").cast("long")
      val y = col("l_suppkey").cast("long")
      t(s, d, "lineitem")
        .groupBy((col("l_orderkey") % 100).cast("long").as("g"))
        .agg(
          Ops.borMonoid.agg(Ops.band(x, y)).as("or_and"),
          Ops.bandMonoid.agg(Ops.bor(x, y)).as("and_or"),
          Ops.bxorMonoid.agg(Ops.bxor(x, y)).as("xor_xor"),
          sum(Ops.bget(x, lit(5))).as("bits5"),
          max(Ops.bshift(x, lit(3))).as("shl3max"))
    }),

    // ===== TPC-H-ish anchors =====
    "q1_agg" -> ((s, d) =>
      t(s, d, "lineitem").groupBy("l_returnflag", "l_linestatus")
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          count(lit(1)).as("cnt"))),

    "q3_join" -> ((s, d) =>
      t(s, d, "orders")
        .join(broadcast(t(s, d, "customer")), col("o_custkey") === col("c_custkey"))
        .join(broadcast(t(s, d, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_name")
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"),
          count(lit(1)).as("n_orders"))),

    "top_order_per_cust" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, d, "orders").withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"))
    }),

    "sessionize" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val cum = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, d, "events")
        .withColumn("gap", unix_millis(col("ts").cast("timestamp")) - unix_millis(lag(col("ts"), 1).over(byUser).cast("timestamp")))
        .withColumn("new_s", when(col("gap").isNull || col("gap") > 1800000L, 1L).otherwise(0L))
        .withColumn("session_id", sum(col("new_s")).over(cum))
        .groupBy("user_id", "session_id")
        .agg(count(lit(1)).as("n_events"), min(unix_millis(col("ts").cast("timestamp"))).as("t_start_ms"))
    }),

    "masked_accum_write" -> ((s, d) => {
      // the full GraphBLAS write clause: C(mask, accum=plus) << T
      // C = v1, T = v2, mask = structural on {supplier ids with v > 5000}
      val mask = GrbMask(vec2(s, d).df.filter(col("v") > 5000.0).select("id"))
      Kernels.write(vec1(s, d).df, vec2(s, d).df, Seq("id"),
        Some(mask), Some(Ops.plus))
    }),

    "outer_product" -> ((s, d) => {
      val a = GrbVector(t(s, d, "region")
        .select(col("r_regionkey").cast("long").as("id"),
          (col("r_regionkey") + 1).cast("double").as("v")), 5)
      a.outer(a, Ops.times).df
    }),

    "stream_sessions" -> ((s, d) =>
      graft.streaming.EventSessions.sessionize(s, t(s, d, "events"))
        .select(col("user_id"), col("session_start_ms"), col("session_end_ms"),
          col("n_events"), round(col("value_sum"), 6).as("value_sum"))),

    "stream_window_counts" -> ((s, d) =>
      graft.streaming.EventSessions.windowedCounts(t(s, d, "events"))
        .select(unix_millis(col("window.start")).as("window_start_ms"),
          col("event_type"), col("n_events"),
          round(col("value_sum"), 6).as("value_sum"))),

    // ===== training-data pipeline: dedup / text / similarity =====
    "dedup_exact" -> ((s, d) => Dedup.exact(t(s, d, "documents"))),
    "token_count" -> ((s, d) => TextOps.tokenCounts(t(s, d, "documents"))),

    "bm25_score" -> ((s, d) =>
      TextOps.bm25(t(s, d, "documents"), Seq("spark", "join", "table"))
        .select(col("doc_id"), round(col("bm25"), 9).as("bm25"))),

    "chunk_windows" -> ((s, d) =>
      // overlapping token-window chunking (retrieval/eval layout): zero
      // shuffles, per-doc fan-out bounded by ceil(tokens/stride)
      Chunking.chunkWindows(t(s, d, "documents"), window = 64, stride = 48)),

    "pack_sequences" -> ((s, d) =>
      // concat-and-chop context packing in 8 deterministic bin streams of
      // budget-1024 sequences; pack identity is content-derived (doc_id),
      // never layout-derived
      Chunking.packSequences(t(s, d, "documents"), budget = 1024L, nBins = 8)),

    "pack_manifest" -> ((s, d) =>
      // the pack-side inverse: per (pack, doc) token sub-ranges — what a
      // trainer materializes fixed-budget sequences from. Full packs must
      // sum to exactly the budget (asserted in ChunkingSpec)
      Chunking.packManifest(t(s, d, "documents"), budget = 1024L, nBins = 8)),

    "e2e_training_layout" -> ((s, d) => {
      // the capstone composition a pipeline user actually runs: quality
      // filter → exact dedup (min-doc_id winner per content hash) →
      // deterministic train split → sequence packing, all in ONE
      // declarative plan (filter pushes into the scan; the dedup window,
      // the split, and the packing window are the only wide stages). Each
      // stage is an already-oracle-verified operator; this row verifies
      // the COMPOSITION against a single DuckDB CTE chain.
      import org.apache.spark.sql.expressions.Window
      val toks = TextOps.tokens(col("text"))
      val alpha = length(regexp_replace(col("text"), "[^a-zA-Z]", ""))
        .cast("double") / greatest(length(col("text")), lit(1))
      val quality = t(s, d, "documents")
        .filter(size(toks) >= 5 && alpha >= lit(0.55))
      val dedup = quality
        .withColumn("keep", min(col("doc_id"))
          .over(Window.partitionBy(md5(encode(col("text"), "UTF-8")))))
        .filter(col("doc_id") === col("keep"))
      val train = Sampling.split(dedup, col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .filter(col("split") === "train")
      Chunking.packSequences(train.select(col("doc_id"), col("text")),
        budget = 256L, nBins = 4)
    }),

    "tfidf_top_terms" -> ((s, d) =>
      TextOps.tfidfTopTerms(t(s, d, "documents"), k = 3)),

    "dataset_split" -> ((s, d) =>
      // deterministic 80/10/10 train/val/test assignment by key hash —
      // layout-independent, unlike rand()/df.sample (see Sampling Scaladoc)
      Sampling.split(t(s, d, "documents"),
          col("doc_id"), Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .select(col("doc_id"),
          Sampling.hashBucket(col("doc_id")).as("bucket"), col("split"))),

    "bernoulli_sample" -> ((s, d) =>
      Sampling.bernoulli(t(s, d, "documents"), col("doc_id"), 0.25)
        .select(col("doc_id"))),

    "sample_topn" -> ((s, d) =>
      // fixed-size deterministic sample: smallest 100 by (hash, key)
      Sampling.topN(t(s, d, "documents"), col("doc_id"), 100)
        .select(col("doc_id"))),

    "stratified_sample" -> ((s, d) =>
      // per-language rates: downsample en to 10%, de to 50%, rest kept
      Sampling.stratified(t(s, d, "documents"), col("doc_id"), col("lang"),
          Seq("en" -> 0.1, "de" -> 0.5))
        .select(col("doc_id"), col("lang"))),

    "sample_cap_group" -> ((s, d) =>
      // cap each language at ≈30 docs in expectation (rate = min(1, 30/n_g))
      Sampling.capPerGroup(t(s, d, "documents"), col("doc_id"), col("lang"),
          cap = 30)
        .select(col("doc_id"), col("lang"))),

    "span_dedup" -> ((s, d) =>
      // corpus-wide first-occurrence dedup of 8-token spans (C4 line-dedup
      // applied to token streams); reassembled doc text must match the
      // oracle byte-for-byte
      Dedup.dedupSpans(t(s, d, "documents"), k = 8)),
    "quality_score" -> ((s, d) => TextOps.qualityScore(t(s, d, "documents"))),
    "lang_id" -> ((s, d) => TextOps.langId(t(s, d, "documents"))),
    "doc_fingerprint" -> ((s, d) => TextOps.fingerprints(t(s, d, "documents"))),
    "ngram_jaccard" -> ((s, d) =>
      Dedup.ngramJaccardPairs(t(s, d, "documents"), threshold = 0.05)),
    "dedup_clusters" -> ((s, d) =>
      Dedup.dedupClusters(s, t(s, d, "documents"), threshold = 0.05)),
    "decontaminate" -> ((s, d) => {
      // stand-in benchmark set: every 97th document (deterministic; those
      // docs flag themselves, near-dups flag via shared shingles)
      val docs = t(s, d, "documents")
      Dedup.decontaminate(docs, docs.filter(col("doc_id") % 97 === 0))
    }),
    "char_entropy" -> ((s, d) =>
      TextOps.charEntropy(t(s, d, "documents"))
        .select(col("doc_id"), round(col("char_entropy"), 6).as("char_entropy"))),
    "link_predict_aa" -> ((s, d) => {
      // Adamic-Adar over a 1/7-sparsified G (mod-97 and even full mod-937 are
      // too dense: nearly every pair is adjacent or wedge-connected, so the
      // prediction set is vacuous/near-complete). The deterministic
      // (31*src+dst)%7 thinning puts the graph in a genuine link-prediction
      // regime (~0.9 expected common neighbors/pair at sf0.01); scores
      // rounded per the float-agg discipline.
      val g = edgesG(s, d).filter((col("src") * 31 + col("dst")) % 7 === 0)
      val e = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      LinkPrediction.adamicAdar(e)
        .select(col("src"), col("dst"), round(col("score"), 6).as("aa"))
    }),
    "scc" -> ((s, d) => {
      // strongly connected components on the DIRECTED 1/11-sparsified G.
      // Sparsification picks the SCC landscape: /7 is so dense only 3 SCCs
      // survive (vacuous), /23 fragments into 146 SCCs whose condensation
      // is 7 DEEP — and peeling rounds track condensation depth, an
      // adversarial regime no web graph exhibits (their condensation is
      // shallow: giant core + short tendrils). /11 gives 6 SCCs at depth 2
      // — giant-core structure AND a 2-round peel, like the real workload.
      val g = edgesG(s, d).filter((col("src") * 31 + col("dst")) % 11 === 0)
      SCC.run(s, g, gparts(s, d)).components
    }),
    "bowtie" -> ((s, d) => {
      // same 1/11 sparsification as `scc` (see note there); every class is
      // populated (847 core / 2 in / 2 out / 86 other at sf0.01) though the
      // in/out fringes are thin — the AlgoSpec bow tie pins the class logic
      val g = edgesG(s, d).filter((col("src") * 31 + col("dst")) % 11 === 0)
      BowTie.run(s, g, gparts(s, d)).classes
    }),
    "link_predict_jaccard" -> ((s, d) => {
      // same sparsified regime as link_predict_aa (see note there)
      val g = edgesG(s, d).filter((col("src") * 31 + col("dst")) % 7 === 0)
      val e = g.unionByName(g.select(col("dst").as("src"), col("src").as("dst")))
        .distinct()
      LinkPrediction.jaccard(e)
        .select(col("src"), col("dst"), round(col("score"), 6).as("jac"))
    }),
    "contract_quotient" -> ((s, d) => {
      // quotient of G by a 53-block vertex partition, via the RELATION form
      // of Contraction (the projection form is exercised by Pages.hostGraph
      // and its spec — no parquet url table exists for an oracle there)
      val e = edgesG(s, d)
      val verts = e.select(col("src").as("id"))
        .unionByName(e.select(col("dst").as("id"))).distinct()
      Contraction.contract(e, verts.select(col("id"), (col("id") % 53).as("grp")))
    }),
    "url_normalize" -> ((s, d) => {
      // deterministic url synthesis over documents: mixed-case scheme/host,
      // userinfo, default vs explicit port, duplicate-slash path, trailing
      // slash, query, fragment — every branch of UrlOps.normalize fires
      val id = col("doc_id")
      val raw = org.apache.spark.sql.functions.concat(
        lit("HTTPS://User@Site"), (id % 37).cast("string"), lit(".Example.COM"),
        when(id % 5 === 0, lit(":443")).when(id % 5 === 1, lit(":8443"))
          .otherwise(lit("")),
        lit("/Path//p/"), id.cast("string"),
        when(id % 3 === 0, lit("/")).otherwise(lit("")),
        when(id % 4 === 0, lit("?q=1")).otherwise(lit("")),
        when(id % 6 === 0, lit("#frag")).otherwise(lit("")))
      t(s, d, "documents").select(id,
        UrlOps.host(raw).as("host"),
        UrlOps.domain(raw).as("domain"),
        UrlOps.port(raw).as("port"),
        UrlOps.pathDepth(raw).as("depth"),
        UrlOps.normalize(raw).as("url_norm"))
    }),
    "gopher_repetition" -> ((s, d) =>
      TextOps.gopherRepetition(t(s, d, "documents"))),
    "pii_scrub" -> ((s, d) => {
      // deterministic PII synthesis: the corpus text is synthetic words, so
      // plant an email / phone / IPv4 on id-modulus schedules (both sides
      // construct the identical string) — every redaction branch fires
      val id = col("doc_id")
      val t2 = org.apache.spark.sql.functions.concat(col("text"),
        when(id % 3 === 0, org.apache.spark.sql.functions.concat(
          lit(" contact user"), id.cast("string"), lit("@example.com")))
          .otherwise(lit("")),
        when(id % 5 === 0, org.apache.spark.sql.functions.concat(
          lit(" call +1-555-"), lpad((id % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(id % 7 === 0, org.apache.spark.sql.functions.concat(
          lit(" from 10.0."), (id % 256).cast("string"), lit("."),
          (id % 100).cast("string"))).otherwise(lit("")))
      TextOps.piiScrub(t(s, d, "documents").select(id, t2.as("text")))
    }),
    "minhash_signatures" -> ((s, d) => Dedup.minhashSignatures(t(s, d, "documents"))),
    "minhash_lsh_pairs" -> ((s, d) => Dedup.minhashLshCandidates(t(s, d, "documents"))),
    "simhash" -> ((s, d) => Dedup.simhash(t(s, d, "documents"))),
    "simhash_dup_pairs" -> ((s, d) =>
      Dedup.simhashDupPairs(t(s, d, "documents"), maxHamming = 2)),
    "embedding_sim_pairs" -> ((s, d) =>
      Similarity.cosineSimPairs(t(s, d, "embeddings"), threshold = 0.35)),
    "embedding_topk" -> ((s, d) =>
      Similarity.bruteForceTopK(t(s, d, "embeddings"), nQueries = 5, k = 10)),
    "embedding_lsh_buckets" -> ((s, d) =>
      Similarity.lshBuckets(t(s, d, "embeddings"), nBits = 8)),
    "embedding_ann_topk" -> ((s, d) =>
      Similarity.annTopKAdaptive(t(s, d, "embeddings"), k = 10, targetOcc = 64)),
    "embedding_ann_multiprobe" -> ((s, d) =>
      Similarity.annTopKMultiProbe(t(s, d, "embeddings"), k = 10, targetOcc = 64)),
    "embedding_ann_ivf" -> ((s, d) =>
      Similarity.annTopKIvf(t(s, d, "embeddings"), nlist = 16, nprobe = 2, k = 10)),
    "kmeans_embed" -> ((s, d) =>
      Clustering.kmeansAssign(t(s, d, "embeddings"), k = 8, iters = 2)),
    "semantic_dedup" -> ((s, d) =>
      Clustering.semanticDedup(t(s, d, "embeddings"), k = 8, iters = 2,
        threshold = 0.35)),
    "media_decode_wav" -> ((s, d) => {
      // REAL RIFF/WAVE PCM16 parse: payload bytes synthesized from pure row
      // arithmetic, so the oracle recomputes every decoded feature without
      // touching bytes — a correct parser is the only way the hashes match
      val wav = Media.synthesizeWav(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodeWav(wav, "wav", "key")
        .select(col("key").as("doc_id"), col("sample_rate"),
          col("n_channels"), col("n_samples"), round(col("rms"), 6).as("rms"))
    }),

    "media_decode_image" -> ((s, d) => {
      val ppm = Media.synthesizePpm(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodePpm(ppm, "ppm", "key")
        .select(col("key").as("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "text_normalize" -> ((s, d) => {
      // Unicode canonicalization (the dedup-key front end) DIFFERENTIALLY
      // tested against DuckDB's utf8proc: both sides independently build an
      // accented variant (vowels -> precomposed accents) and a decomposed
      // variant (a -> a + combining acute) of the same text, then our
      // codegen NFC / strip-accents must hash-match nfc_normalize /
      // strip_accents — two unrelated Unicode implementations agreeing
      import graft.functions.UnicodeNorm
      val accented = translate(col("text"), "aeiou", "áéíóú")
      val decomposed = regexp_replace(col("text"), "a", "á")
      t(s, d, "documents").select(col("doc_id"),
        md5(encode(UnicodeNorm.nfc(decomposed), "UTF-8")).as("nfc_md5"),
        md5(encode(UnicodeNorm.stripAccents(accented), "UTF-8")).as("strip_md5"),
        md5(encode(lower(UnicodeNorm.stripAccents(accented)), "UTF-8")).as("fold_md5"))
    }),

    "media_decode_g711" -> ((s, d) => {
      // REAL G.711 companded-audio decode (µ-law even keys, A-law odd):
      // the oracle reimplements the ITU-T expansion formulas in SQL over
      // the same byte arithmetic, so both codec tables are hash-checked
      val wav = Media.synthesizeWavG711(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodeWav(wav, "wav", "key")
        .select(col("key").as("doc_id"), col("sample_rate"),
          col("n_channels"), col("n_samples"), round(col("rms"), 6).as("rms"))
    }),

    "media_decode_png" -> ((s, d) => {
      // REAL compressed decode: the payload is a spec-compliant PNG (zlib
      // DEFLATE, row filters cycling None/Sub/Up/Average/Paeth, multi-IDAT,
      // CRC-32 chunks) over the SAME pixel arithmetic as the PPM fixture —
      // so a green hash against the pure-SQL oracle proves the whole
      // inflate + filter-reconstruction chain, not just header parsing
      val png = Media.synthesizePng(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodePng(png, "png", "key")
        .select(col("key").as("doc_id"), col("width"), col("height"),
          col("n_channels"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "gzip_roundtrip" -> ((s, d) => {
      // REAL gzip (DEFLATE) decompression of Common-Crawl-style compressed
      // text payloads: the payload is the document's own text gzip'd
      // task-side, so the oracle recomputes n_bytes/md5 from the PLAIN text
      // column — the hashes only match if the decompressor is correct
      val gz = Media.synthesizeGzip(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id")
      Media.decompressGzip(gz, "gz", "key")
        .select(col("key").as("doc_id"), col("n_bytes"), col("content_md5"))
    }),

    "media_decode_gif" -> ((s, d) => {
      // REAL LZW decode: 64-entry palette and pixel indices from pure row
      // arithmetic (odd keys interlaced), so the oracle recomputes the
      // palette-mapped channel means in SQL — only a correct variable-width
      // LZW decoder + palette mapping reproduces the hashes
      val gif = Media.synthesizeGif(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodeGif(gif, "gif", "key")
        .select(col("key").as("doc_id"), col("width"), col("height"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "media_decode_jpeg" -> ((s, d) => {
      // REAL baseline JPEG decode (pure-JVM Huffman + IDCT): the fixture
      // class is exact under the lossy chain (block-constant gray, flat
      // DC quantizer 8, restart markers every 2 MCUs), so the oracle
      // recomputes the decoded means from pure arithmetic — only a correct
      // entropy decoder + dequantizer + IDCT reproduces the hashes
      val jpg = Media.synthesizeJpeg(
        t(s, d, "documents").select(col("doc_id")), "doc_id")
      Media.decodeJpeg(jpg, "jpg", "key")
        .select(col("key").as("doc_id"), col("width"), col("height"),
          col("n_components"),
          round(col("mean_r"), 6).as("mean_r"),
          round(col("mean_g"), 6).as("mean_g"),
          round(col("mean_b"), 6).as("mean_b"))
    }),

    "decompress_auto" -> ((s, d) => {
      // Mixed-codec corpus ingest: payload per doc compressed with codec
      // (doc_id mod 4) ∈ plain/gzip/zstd/bzip2; decompressAuto must sniff
      // the magic AND decompress correctly for the oracle (computed from
      // the plain text column) to hash-match on all four codec classes
      val comp = Media.synthesizeCompressed(
        t(s, d, "documents").select(col("doc_id"), col("text")),
        "text", "doc_id")
      Media.decompressAuto(comp, "payload", "key")
        .select(col("key").as("doc_id"), col("codec"), col("n_bytes"),
          col("content_md5"))
    }),

    "media_meta" -> ((s, d) =>
      Media.metadata(
        t(s, d, "documents").select(col("doc_id"), encode(col("text"), "UTF-8").as("payload")),
        "payload", "doc_id")
        .select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"), col("content_md5"))),

    "numpy_gcd_lcm" -> ((s, d) => {
      // numpy-namespace integer kernels (codegen Euclid loop) against
      // DuckDB's native gcd/lcm — both use the non-negative convention
      val g = graft.core.NumpyOps.binary("gcd")
      val l = graft.core.NumpyOps.binary("lcm")
      t(s, d, "lineitem").select(col("l_orderkey"), col("l_linenumber"),
        g(col("l_orderkey"), col("l_partkey")).as("g"),
        l(col("l_orderkey") % 97 + 1, col("l_partkey") % 89 + 1).as("l"))
    }),

    // ===== data selection (distribution-level filters) =====
    "lm_bits" -> ((s, d) => Selection.lmBits(t(s, d, "documents"))),

    "lm_bits_reloaded" -> ((s, d) => {
      // the persisted-model path end to end: train → save (parquet counts +
      // metadata) → load in a fresh object → score. Same oracle as lm_bits —
      // the round trip must be semantically invisible (the 100-TB contract:
      // train the model once, score later batches across sessions)
      val docs = t(s, d, "documents")
      val dir = scratchDir(s, d, "lm-reload")
      Selection.saveLm(Selection.trainLm(docs), dir)
      Selection.scoreLm(docs, Selection.loadLm(s, dir))
    }),

    "dsir_weights" -> ((s, d) => {
      // target distribution stand-in: every 97th document (same convention
      // as decontaminate's benchmark); weights tilt the corpus toward it
      val docs = t(s, d, "documents")
      Selection.dsirWeights(docs, docs.filter(col("doc_id") % 97 === 0))
    }),

    // ===== table-format source (BASELINE.json input_hint names an Iceberg
    // table; no Iceberg jars ship in this image, so ingest/IcebergLite
    // implements the v2 metadata chain from the public spec) =====
    "iceberg_roundtrip" -> ((s, d) => {
      // two appends → two snapshots, identity-partitioned by lang; the
      // CURRENT snapshot read walks version-hint → metadata.json →
      // manifest-list Avro → manifest Avro → parquet and must hash-match
      // the raw table via the oracle
      val dir = scratchDir(s, d, "iceberg-roundtrip")
      val docs = t(s, d, "documents")
      graft.ingest.IcebergLite.append(docs.filter(col("doc_id") % 2 === 0),
        dir, partitionCols = Seq("lang"), nowMs = 1000L)
      graft.ingest.IcebergLite.append(docs.filter(col("doc_id") % 2 =!= 0),
        dir, partitionCols = Seq("lang"), nowMs = 2000L)
      graft.ingest.IcebergLite.readTable(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    "iceberg_mor" -> ((s, d) => {
      // merge-on-read end-to-end: append everything (seq 1), position-
      // delete the short docs (seq 2, deleteWhere), equality-delete a
      // doc_id slice (seq 3, global content=2 file), then re-append a
      // sub-slice (seq 4). Visible rows must show position deletes
      // applied, equality deletes applied STRICTLY to older sequence
      // numbers, and the re-appended sub-slice alive again — the three v2
      // row-level mechanisms in one read.
      val dir = scratchDir(s, d, "iceberg-mor")
      val docs = t(s, d, "documents")
      graft.ingest.IcebergLite.append(docs, dir, nowMs = 1000L)
      graft.ingest.IcebergLite.deleteWhere(s, dir,
        col("n_chars") < 200, nowMs = 2000L)
      graft.ingest.IcebergLite.appendEqualityDeletes(s, dir,
        docs.filter(col("doc_id") % 10 === 3).select("doc_id"), nowMs = 3000L)
      graft.ingest.IcebergLite.append(docs.filter(col("doc_id") % 20 === 3),
        dir, nowMs = 4000L)
      graft.ingest.IcebergLite.readTable(s, dir)
        .select(col("doc_id"), col("lang"), col("n_chars"))
    }),

    "iceberg_prune" -> ((s, d) => {
      // partition-pruned snapshot read: only lang=en files are planned
      // (manifest bounds + file tuples); correctness of the pruning is the
      // oracle's WHERE clause
      val dir = scratchDir(s, d, "iceberg-prune")
      graft.ingest.IcebergLite.append(t(s, d, "documents"), dir,
        partitionCols = Seq("lang"), nowMs = 1000L)
      graft.ingest.IcebergLite.readTable(s, dir,
          partitionFilter = Map("lang" -> "en"))
        .select(col("doc_id"), col("lang"))
    }),

    "iceberg_mor_part" -> ((s, d) => {
      // merge-on-read on a PARTITIONED table: append by lang (seq 1);
      // equality-delete doc_id%7==1 with keys CARRYING lang (seq 2 — one
      // tuple-stamped delete file per lang, so the lang=en read below
      // plans exactly one of them); equality-delete doc_id%13==5 WITHOUT
      // lang (seq 3 — one partition-agnostic null-tuple file every
      // partition's plan keeps); re-append doc_id%26==5 (seq 4 — strictly
      // newer than both deletes, so it survives them). The filtered read
      // exercises tuple pruning AND both delete scopes in one plan.
      val dir = scratchDir(s, d, "iceberg-morpart")
      val docs = t(s, d, "documents")
      graft.ingest.IcebergLite.append(docs, dir,
        partitionCols = Seq("lang"), nowMs = 1000L)
      graft.ingest.IcebergLite.appendEqualityDeletes(s, dir,
        docs.filter(col("doc_id") % 7 === 1).select("doc_id", "lang"),
        nowMs = 2000L)
      graft.ingest.IcebergLite.appendEqualityDeletes(s, dir,
        docs.filter(col("doc_id") % 13 === 5).select("doc_id"), nowMs = 3000L)
      graft.ingest.IcebergLite.append(docs.filter(col("doc_id") % 26 === 5),
        dir, partitionCols = Seq("lang"), nowMs = 4000L)
      graft.ingest.IcebergLite.readTable(s, dir,
          partitionFilter = Map("lang" -> "en"))
        .select(col("doc_id"), col("lang"), col("n_chars"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "edges_extract" -> sqlEdges,

    "degrees_out" ->
      s"SELECT src AS id, count(*) AS deg FROM ($sqlEdges) GROUP BY src",

    "mxv_plus_times" ->
      s"SELECT src AS id, sum(v * (dst % 7 + 1)) AS v FROM ($sqlM) GROUP BY src",

    "mxv_masked" ->
      s"SELECT src AS id, sum(v * (dst % 7 + 1)) AS v FROM ($sqlM) WHERE src % 3 = 0 GROUP BY src",

    "mxv_min_secondi" ->
      s"SELECT src AS id, min(dst) AS v FROM ($sqlM) WHERE dst % 2 = 0 GROUP BY src",

    "udt_struct_ewise" ->
      s"""SELECT coalesce(a.id, b.id) AS id,
         |  CAST(CASE WHEN a.id IS NOT NULL AND b.id IS NOT NULL
         |       THEN 2 ELSE 1 END AS BIGINT) AS cnt,
         |  CASE WHEN a.id IS NOT NULL AND b.id IS NOT NULL THEN a.v + b.v
         |       WHEN a.id IS NOT NULL THEN a.v ELSE b.v END AS amt
         |FROM ($sqlV1) a FULL JOIN ($sqlV2) b ON a.id = b.id""".stripMargin,

    "mxm_plus_times" ->
      s"""WITH m AS ($sqlM)
         |SELECT a.src AS src, b.dst AS dst, sum(a.v * b.v) AS v
         |FROM m a JOIN m b ON a.dst = b.src GROUP BY a.src, b.dst""".stripMargin,

    "mxm_masked_plus_pair" ->
      s"""WITH e AS ($sqlEdgesSym), l AS (SELECT src, dst FROM e WHERE src > dst)
         |SELECT m.src AS src, m.dst AS dst, CAST(count(*) AS DOUBLE) AS v
         |FROM l m JOIN l a ON a.src = m.src JOIN l b ON b.src = m.dst AND b.dst = a.dst
         |GROUP BY m.src, m.dst""".stripMargin,

    "triangle_count" ->
      s"""WITH e AS ($sqlEdgesSym), l AS (SELECT src, dst FROM e WHERE src > dst)
         |SELECT count(*) AS n_triangles
         |FROM l m JOIN l a ON a.src = m.src JOIN l b ON b.src = m.dst AND b.dst = a.dst"""
        .stripMargin,

    "pagerank_iter1" ->
      s"""WITH base AS ($sqlEdges),
         |deg AS (SELECT src, count(*) AS deg FROM base GROUP BY src),
         |contrib AS (SELECT b.dst AS id, sum((1.0/937) * 0.85 / d.deg) AS g
         |            FROM base b JOIN deg d ON b.src = d.src GROUP BY b.dst)
         |SELECT t.id AS id, round(0.15/937 + coalesce(c.g, 0), 9) AS v
         |FROM range(0, 937) t(id) LEFT JOIN contrib c ON t.id = c.id""".stripMargin,

    "connected_components" ->
      s"""WITH RECURSIVE e AS ($sqlEdgesSym),
         |r(id, lbl) AS (
         |  SELECT id, id FROM range(0, 937) t(id)
         |  UNION
         |  SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id
         |)
         |SELECT id, min(lbl) AS component FROM r GROUP BY id""".stripMargin,

    "label_propagation" -> lpIterSql(4),

    "kcore" -> kcoreSql(95, 8),

    "ktruss" -> ktrussSql(16, 3),

    "mis" -> misSql(8),

    "maximal_matching" -> matchingSql(8),

    "coloring" -> coloringSql(8),

    "boruvka_mst" -> boruvkaSql(4),

    "clustering_coeff" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |canon AS (SELECT src, dst FROM e WHERE src < dst),
         |o AS (SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.src ELSE c.dst END AS lo,
         |             CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.dst ELSE c.src END AS hi
         |      FROM canon c JOIN deg dx ON c.src = dx.id JOIN deg dy ON c.dst = dy.id),
         |tri AS (SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
         |        FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
         |        JOIN canon t ON t.src = w1.hi AND t.dst = w2.hi),
         |corners AS (SELECT a AS id FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri),
         |tc AS (SELECT id, count(*) AS tri FROM corners GROUP BY id)
         |SELECT deg.id AS id, deg.deg AS deg,
         |       CASE WHEN deg.deg < 2 THEN 0.0
         |            ELSE round(coalesce(tc.tri, 0) * 2.0 / (deg.deg * (deg.deg - 1)), 6)
         |       END AS lcc
         |FROM deg LEFT JOIN tc ON deg.id = tc.id""".stripMargin,

    "assortativity" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |xy AS (SELECT dx.deg AS x, dy.deg AS y
         |       FROM e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id),
         |s AS (SELECT CAST(count(*) AS BIGINT) AS n,
         |             CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |             CAST(sum(x*y) AS BIGINT) AS sxy,
         |             CAST(sum(x*x) AS BIGINT) AS sxx,
         |             CAST(sum(y*y) AS BIGINT) AS syy FROM xy)
         |SELECT round(CAST(n*sxy - sx*sy AS DOUBLE)
         |             / (sqrt(CAST(n*sxx - sx*sx AS DOUBLE))
         |                * sqrt(CAST(n*syy - sy*sy AS DOUBLE))), 6) AS assortativity
         |FROM s""".stripMargin,

    "s_metric" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src)
         |SELECT CAST(sum(dx.deg * dy.deg) AS BIGINT) AS s_metric
         |FROM e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id
         |WHERE e.src < e.dst""".stripMargin,

    "transitivity" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |w AS (SELECT CAST(sum(deg * (deg - 1)) AS BIGINT) AS w2 FROM deg),
         |canon AS (SELECT src, dst FROM e WHERE src < dst),
         |o AS (SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.src ELSE c.dst END AS lo,
         |             CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.dst ELSE c.src END AS hi
         |      FROM canon c JOIN deg dx ON c.src = dx.id JOIN deg dy ON c.dst = dy.id),
         |t AS (SELECT count(*) AS t
         |      FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
         |      JOIN canon tc ON tc.src = w1.hi AND tc.dst = w2.hi)
         |SELECT CASE WHEN w.w2 = 0 THEN 0.0
         |            ELSE round(t.t * 6.0 / w.w2, 9) END AS transitivity
         |FROM t, w""".stripMargin,

    "rich_club" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |dh AS (SELECT deg, count(*) AS n FROM deg GROUP BY deg),
         |mh AS (SELECT least(dx.deg, dy.deg) AS m, count(*) AS n
         |       FROM e JOIN deg dx ON e.src = dx.id JOIN deg dy ON e.dst = dy.id
         |       WHERE e.src < e.dst GROUP BY 1),
         |ks AS (SELECT unnest(range(0, (SELECT max(deg) FROM dh))) AS k),
         |nk AS (SELECT k, CAST(sum(n) AS BIGINT) AS n_k FROM ks
         |       JOIN dh ON dh.deg > ks.k GROUP BY k),
         |ek AS (SELECT k, CAST(sum(n) AS BIGINT) AS e_k FROM ks
         |       JOIN mh ON mh.m > ks.k GROUP BY k)
         |SELECT nk.k AS k, n_k, coalesce(e_k, 0) AS e_k,
         |       round(coalesce(e_k, 0) * 2.0 / (n_k * (n_k - 1)), 6) AS phi
         |FROM nk LEFT JOIN ek ON nk.k = ek.k WHERE n_k >= 2""".stripMargin,

    "triangle_centrality" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |canon AS (SELECT src, dst FROM e WHERE src < dst),
         |o AS (SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.src ELSE c.dst END AS lo,
         |             CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.dst ELSE c.src END AS hi
         |      FROM canon c JOIN deg dx ON c.src = dx.id JOIN deg dy ON c.dst = dy.id),
         |tri AS MATERIALIZED (SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
         |      FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
         |      JOIN canon ce ON ce.src = w1.hi AND ce.dst = w2.hi),
         |tcx AS (SELECT id, count(*) AS t FROM (
         |        SELECT a AS id FROM tri UNION ALL SELECT b FROM tri
         |        UNION ALL SELECT c FROM tri) GROUP BY id),
         |t AS MATERIALIZED (SELECT d.id, coalesce(tcx.t, 0) AS t
         |     FROM (SELECT DISTINCT src AS id FROM e) d LEFT JOIN tcx USING (id)),
         |te AS (SELECT DISTINCT src, dst FROM (
         |       SELECT a AS src, b AS dst FROM tri UNION ALL SELECT b, a FROM tri
         |       UNION ALL SELECT a, c FROM tri UNION ALL SELECT c, a FROM tri
         |       UNION ALL SELECT b, c FROM tri UNION ALL SELECT c, b FROM tri)),
         |at AS (SELECT e.dst AS id, CAST(sum(t.t) AS BIGINT) AS g
         |       FROM e JOIN t ON e.src = t.id GROUP BY e.dst),
         |tt AS (SELECT te.dst AS id, CAST(sum(t.t) AS BIGINT) AS g
         |       FROM te JOIN t ON te.src = t.id GROUP BY te.dst),
         |tg AS (SELECT count(*) AS tg FROM tri)
         |SELECT t.id AS id,
         |       CASE WHEN tg.tg = 0 THEN 0.0
         |            ELSE round(CAST(3 * coalesce(at.g, 0) - 2 * coalesce(tt.g, 0)
         |                            + t.t AS DOUBLE) / (3.0 * tg.tg), 6) END AS tc
         |FROM t LEFT JOIN at USING (id) LEFT JOIN tt USING (id) CROSS JOIN tg"""
        .stripMargin,

    "eigenvector_centrality" -> eigenvectorIterSql(5, digits = 6),

    "square_clustering" ->
      s"""WITH g AS (SELECT src, dst FROM ($sqlEdges)
         |           WHERE (src * 31 + dst) % 7 = 0),
         |e AS MATERIALIZED (SELECT src, dst FROM g
         |     UNION SELECT dst, src FROM g),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |wed AS MATERIALIZED (SELECT a.src AS c, a.dst AS u, b.dst AS w
         |     FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst),
         |cn AS (SELECT u, w, count(*) AS cn FROM wed GROUP BY u, w),
         |pr AS MATERIALIZED (SELECT cn.u, cn.w, cn.cn - 1 AS q,
         |       CASE WHEN t.src IS NULL THEN 0 ELSE 1 END AS theta
         |     FROM cn LEFT JOIN (SELECT src, dst FROM e WHERE src < dst) t
         |       ON t.src = cn.u AND t.dst = cn.w),
         |r AS (SELECT wed.c AS id, CAST(sum(pr.q) AS BIGINT) AS num,
         |       CAST(sum(du.deg + dw.deg - pr.q - 2 - 2 * pr.theta) AS BIGINT)
         |         AS den
         |     FROM wed JOIN pr ON wed.u = pr.u AND wed.w = pr.w
         |     JOIN deg du ON wed.u = du.id JOIN deg dw ON wed.w = dw.id
         |     GROUP BY wed.c)
         |SELECT d.id AS id, CASE WHEN coalesce(r.den, 0) = 0 THEN 0.0
         |       ELSE round(CAST(r.num AS DOUBLE) / r.den, 6) END AS sq
         |FROM deg d LEFT JOIN r ON d.id = r.id""".stripMargin,

    "generalized_degree" ->
      s"""WITH e AS MATERIALIZED ($sqlEdgesSym),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |canon AS (SELECT src, dst FROM e WHERE src < dst),
         |o AS (SELECT CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.src ELSE c.dst END AS lo,
         |             CASE WHEN dx.deg < dy.deg OR (dx.deg = dy.deg AND c.src < c.dst)
         |                  THEN c.dst ELSE c.src END AS hi
         |      FROM canon c JOIN deg dx ON c.src = dx.id JOIN deg dy ON c.dst = dy.id),
         |tri AS MATERIALIZED (SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
         |      FROM o w1 JOIN o w2 ON w1.lo = w2.lo AND w1.hi < w2.hi
         |      JOIN canon ce ON ce.src = w1.hi AND ce.dst = w2.hi),
         |sup AS (SELECT u, v, count(*) AS sup FROM (
         |        SELECT least(a, b) AS u, greatest(a, b) AS v FROM tri
         |        UNION ALL SELECT least(a, c), greatest(a, c) FROM tri
         |        UNION ALL SELECT b, c FROM tri) GROUP BY 1, 2),
         |pe AS (SELECT e.src AS id, coalesce(s.sup, 0) AS t FROM e
         |       LEFT JOIN sup s ON least(e.src, e.dst) = s.u
         |                      AND greatest(e.src, e.dst) = s.v)
         |SELECT id, t, CAST(count(*) AS BIGINT) AS n_edges
         |FROM pe GROUP BY id, t""".stripMargin,

    "apsp_minplus" ->
      s"""WITH m AS MATERIALIZED ($sqlS),
         |d1 AS MATERIALIZED (SELECT src, dst, min(v) AS v FROM (
         |     SELECT src, dst, v FROM m
         |     UNION ALL SELECT i, i, CAST(0.0 AS DOUBLE) FROM range(0, 97) t(i))
         |     GROUP BY 1, 2),
         |d2 AS MATERIALIZED (SELECT a.src AS src, b.dst AS dst, min(a.v + b.v) AS v
         |     FROM d1 a JOIN d1 b ON a.dst = b.src GROUP BY 1, 2)
         |SELECT a.src AS src, b.dst AS dst, min(a.v + b.v) AS v
         |FROM d2 a JOIN d2 b ON a.dst = b.src GROUP BY 1, 2""".stripMargin,

    "reciprocity" ->
      s"""WITH e AS MATERIALIZED ($sqlEdges),
         |r AS (SELECT count(*) AS r FROM e
         |      WHERE EXISTS (SELECT 1 FROM e e2 WHERE e2.src = e.dst AND e2.dst = e.src)),
         |m AS (SELECT count(*) AS m FROM e)
         |SELECT round(CAST(r.r AS DOUBLE) / m.m, 6) AS reciprocity FROM r, m""".stripMargin,

    "degree_histogram" ->
      s"""WITH e AS ($sqlEdges),
         |deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src)
         |SELECT length(bin(deg)) AS bucket, CAST(count(*) AS BIGINT) AS n_vertices
         |FROM deg GROUP BY 1""".stripMargin,

    "modularity" -> modularitySql,

    "bfs_levels" ->
      s"""WITH RECURSIVE base AS ($sqlEdges),
         |r(id, d) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT e.dst, r.d + 1 FROM r JOIN base e ON e.src = r.id WHERE r.d < 15
         |)
         |SELECT id, min(d) AS level FROM r GROUP BY id""".stripMargin,

    "msbfs_levels" ->
      s"""WITH RECURSIVE base AS ($sqlEdges),
         |src(s) AS (SELECT CAST(x AS BIGINT) FROM generate_series(0, 3) AS g(x)),
         |r(source, id, d) AS (
         |  SELECT s, s, CAST(0 AS BIGINT) FROM src
         |  UNION
         |  SELECT r.source, e.dst, r.d + 1
         |  FROM r JOIN base e ON e.src = r.id WHERE r.d < 15
         |)
         |SELECT source, id, min(d) AS level FROM r GROUP BY source, id""".stripMargin,

    "eccentricity" ->
      s"""WITH RECURSIVE base AS ($sqlEdges),
         |src(s) AS (SELECT CAST(x AS BIGINT) FROM generate_series(0, 3) AS g(x)),
         |r(source, id, d) AS (
         |  SELECT s, s, CAST(0 AS BIGINT) FROM src
         |  UNION
         |  SELECT r.source, e.dst, r.d + 1
         |  FROM r JOIN base e ON e.src = r.id WHERE r.d < 15
         |),
         |lv AS (SELECT source, id, min(d) AS level FROM r GROUP BY source, id)
         |SELECT source, max(level) AS eccentricity FROM lv GROUP BY source""".stripMargin,

    "harmonic_centrality" ->
      s"""WITH RECURSIVE base AS ($sqlEdges),
         |src(s) AS (SELECT CAST(x AS BIGINT) FROM generate_series(0, 3) AS g(x)),
         |r(source, id, d) AS (
         |  SELECT s, s, CAST(0 AS BIGINT) FROM src
         |  UNION
         |  SELECT r.source, e.dst, r.d + 1
         |  FROM r JOIN base e ON e.src = r.id WHERE r.d < 15
         |),
         |lv AS (SELECT source, id, min(d) AS level FROM r GROUP BY source, id)
         |SELECT id, round(sum(1.0 / level), 9) AS harmonic
         |FROM lv WHERE level > 0 GROUP BY id""".stripMargin,

    "random_walks" -> walkSql(8),

    "betweenness" -> bcSql(6, 4),

    "pagerank_iter5" -> pagerankIterSql(5),
    "katz_centrality" -> katzIterSql(5, digits = 6),

    // full pagerank: 15 unrolled iterations at 1e-6 rounding (the query is
    // pinned to the same fixed recurrence — VERDICT r3 item 2)
    "pagerank" -> pagerankIterSql(15, 6),

    // resume(3)+run-to-5 must equal the straight-through 5-iteration oracle
    "pagerank_resume" -> pagerankIterSql(5),

    "pagerank_personalized" -> pprIterSql(5),

    "hits" -> hitsIterSql(5),

    "from_coo_dup" -> s"SELECT src, dst, v + v AS v FROM ($sqlS)",

    "mmrw_roundtrip" -> s"SELECT src, dst, v FROM ($sqlS)",

    "element_setdel" ->
      s"""SELECT src, dst, v FROM ($sqlS)
         |WHERE NOT (src = 5 AND dst = 7) AND NOT (src = 2 AND dst = 3)
         |UNION ALL SELECT CAST(5 AS BIGINT) AS src, CAST(7 AS BIGINT) AS dst,
         |  CAST(123.0 AS DOUBLE) AS v""".stripMargin,

    "dense_roundtrip" ->
      s"""SELECT r.i AS src, c.j AS dst, CAST(coalesce(S.v, 0.0) AS DOUBLE) AS v
         |FROM generate_series(0, 96) AS r(i)
         |CROSS JOIN generate_series(0, 96) AS c(j)
         |LEFT JOIN ($sqlS) S ON S.src = r.i AND S.dst = c.j""".stripMargin,

    "csr_roundtrip" -> s"SELECT src, dst, v FROM ($sqlS)",

    "dicts_roundtrip" -> s"SELECT src, dst, v FROM ($sqlS)",

    "from_scalar_dense" ->
      s"""SELECT r.i AS src, c.j AS dst, CAST(3.5 AS DOUBLE) AS v
         |FROM generate_series(0, 10) AS r(i)
         |CROSS JOIN generate_series(0, 6) AS c(j)""".stripMargin,

    "dup_mask" -> s"SELECT src, dst, v FROM ($sqlS) WHERE v > 2500",

    "vector_assign" ->
      s"""SELECT coalesce(a.id, w.id) AS id, coalesce(a.v, w.v) AS v
         |FROM ($sqlV2) w FULL JOIN ($sqlV1) a ON w.id = a.id""".stripMargin,

    "bfs_parents" ->
      s"""WITH RECURSIVE base AS ($sqlEdges),
         |r(id, d) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |  UNION
         |  SELECT e.dst, r.d + 1 FROM r JOIN base e ON e.src = r.id WHERE r.d < 15
         |),
         |lv AS (SELECT id, min(d) AS level FROM r GROUP BY id)
         |SELECT v.id AS id, min(e.src) AS parent
         |FROM lv v JOIN base e ON e.dst = v.id
         |JOIN lv p ON p.id = e.src AND p.level = v.level - 1
         |WHERE v.id <> 0 GROUP BY v.id
         |UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT)""".stripMargin,

    "sssp" ->
      s"""WITH RECURSIVE m AS ($sqlM),
         |r(id, d) AS (
         |  SELECT CAST(0 AS BIGINT), CAST(0 AS DOUBLE)
         |  UNION
         |  SELECT m.dst, r.d + m.v FROM r JOIN m ON m.src = r.id WHERE r.d < 500
         |)
         |SELECT id, min(d) AS dist FROM r GROUP BY id""".stripMargin,

    "ewise_mult_plus" ->
      s"SELECT a.id AS id, a.v + b.v AS v FROM ($sqlV1) a JOIN ($sqlV2) b USING (id)",

    "ewise_add_minus" ->
      s"""SELECT coalesce(a.id, b.id) AS id,
         |  CASE WHEN a.id IS NOT NULL AND b.id IS NOT NULL THEN a.v - b.v
         |       WHEN a.id IS NOT NULL THEN a.v ELSE b.v END AS v
         |FROM ($sqlV1) a FULL JOIN ($sqlV2) b ON a.id = b.id""".stripMargin,

    "ewise_union_minus" ->
      s"""SELECT coalesce(a.id, b.id) AS id,
         |  coalesce(a.v, 0.0) - coalesce(b.v, 0.0) AS v
         |FROM ($sqlV1) a FULL JOIN ($sqlV2) b ON a.id = b.id""".stripMargin,

    "select_value_gt" -> s"SELECT id, v FROM ($sqlV1) WHERE v > 5000.0",

    "apply_unary_sqrt" -> s"SELECT id, sqrt(abs(v)) AS v FROM ($sqlV1)",

    "complex_ops" ->
      """WITH z AS (SELECT c_custkey AS id,
        |    c_acctbal / 1000 AS re,
        |    CAST(c_custkey % 7 AS DOUBLE) - 3 + 0.5 AS im,
        |    CAST((c_custkey % 7) + 1 AS DOUBLE) AS wre,
        |    c_acctbal / 1000 AS wim
        |  FROM customer WHERE c_custkey % 3 = 0)
        |SELECT id,
        |  round((re * wre + im * wim) / (wre * wre + wim * wim), 6) AS dre,
        |  round((im * wre - re * wim) / (wre * wre + wim * wim), 6) AS dim,
        |  round(exp(re) * cos(im), 6) AS ere,
        |  round(exp(re) * sin(im), 6) AS eim,
        |  round(ln(sqrt(re * re + im * im)), 6) AS lre,
        |  round(atan2(im, re), 6) AS lim,
        |  round(sqrt((sqrt(re * re + im * im) + re) / 2), 6) AS sre,
        |  round((CASE WHEN im < 0 THEN -1 ELSE 1 END)
        |    * sqrt((sqrt(re * re + im * im) - re) / 2), 6) AS sim
        |FROM z""".stripMargin,

    "special_funcs" ->
      """SELECT c_custkey AS id,
        |  round(lgamma(c_acctbal / 1000 + 4.2), 6) AS lg,
        |  round(gamma(CAST(c_custkey % 7 AS DOUBLE) * 0.37 - 1.9), 6) AS tg
        |FROM customer WHERE c_custkey % 3 = 0""".stripMargin,

    "reduce_scalar_plus" -> s"SELECT round(sum(v), 2) AS total FROM ($sqlV1)",

    "reduce_colwise_max" ->
      s"SELECT dst AS id, max(v) AS v FROM ($sqlM) GROUP BY dst",

    "transpose_reduce" ->
      s"SELECT dst AS id, sum(v) AS v FROM ($sqlM) GROUP BY dst",

    "isequal_isclose" ->
      s"""WITH s AS ($sqlS),
         |mn AS (SELECT src, dst FROM s ORDER BY src, dst LIMIT 1),
         |sp AS (SELECT s.src, s.dst,
         |         s.v + CASE WHEN mn.src IS NOT NULL THEN 1.0 ELSE 0.0 END AS v
         |       FROM s LEFT JOIN mn ON s.src = mn.src AND s.dst = mn.dst),
         |sc AS (SELECT src, dst, v * (1.0 + 5e-8) AS v FROM s),
         |sm AS (SELECT s.src, s.dst, s.v FROM s
         |       LEFT JOIN mn ON s.src = mn.src AND s.dst = mn.dst
         |       WHERE mn.src IS NULL),
         |v1 AS ($sqlV1),
         |vc AS (SELECT id, v * (1.0 + 5e-8) AS v FROM v1),
         |n AS (SELECT count(*) AS n FROM s),
         |nv AS (SELECT count(*) AS n FROM v1)
         |SELECT
         | CAST((SELECT count(*) FROM s a JOIN s b
         |       ON a.src=b.src AND a.dst=b.dst AND a.v=b.v)
         |      = (SELECT n FROM n) AS BIGINT) AS eq_self,
         | CAST((SELECT count(*) FROM s a JOIN sp b
         |       ON a.src=b.src AND a.dst=b.dst AND a.v=b.v)
         |      = (SELECT n FROM n) AS BIGINT) AS eq_perturbed,
         | CAST((SELECT count(*) FROM s a JOIN sc b
         |       ON a.src=b.src AND a.dst=b.dst
         |       AND abs(a.v-b.v) <= 1e-6*greatest(abs(a.v),abs(b.v)))
         |      = (SELECT n FROM n) AS BIGINT) AS close_tol,
         | CAST((SELECT count(*) FROM s a JOIN sc b
         |       ON a.src=b.src AND a.dst=b.dst
         |       AND abs(a.v-b.v) <= 1e-12*greatest(abs(a.v),abs(b.v)))
         |      = (SELECT n FROM n) AS BIGINT) AS close_tight,
         | CAST(((SELECT count(*) FROM s a JOIN sm b
         |       ON a.src=b.src AND a.dst=b.dst
         |       AND abs(a.v-b.v) <= 1e-6*greatest(abs(a.v),abs(b.v)))
         |      = (SELECT n FROM n))
         |   AND ((SELECT count(*) FROM sm) = (SELECT n FROM n)) AS BIGINT)
         |   AS close_missing,
         | CAST((SELECT count(*) FROM v1 a JOIN v1 b ON a.id=b.id AND a.v=b.v)
         |      = (SELECT n FROM nv) AS BIGINT) AS veq_self,
         | CAST((SELECT count(*) FROM v1 a JOIN vc b ON a.id=b.id
         |       AND abs(a.v-b.v) <= 1e-6*greatest(abs(a.v),abs(b.v)))
         |      = (SELECT n FROM nv) AS BIGINT) AS vclose_tol""".stripMargin,

    "mask_structural" ->
      s"SELECT id, v FROM ($sqlV1) WHERE id IN (SELECT id FROM ($sqlV2))",

    "mask_complement" ->
      s"SELECT id, v FROM ($sqlV1) WHERE id NOT IN (SELECT id FROM ($sqlV2))",

    "extract_remap" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS new_id, v
         |FROM ($sqlV1) WHERE id % 15 = 0""".stripMargin,

    "assign_scatter_min" ->
      s"""WITH sc AS (SELECT id % 50 AS id, min(v) AS v FROM ($sqlV2) GROUP BY 1)
         |SELECT t.id AS id,
         |  CASE WHEN sc.v IS NULL THEN 999999.0 ELSE least(999999.0, sc.v) END AS v
         |FROM range(0, 50) t(id) LEFT JOIN sc ON t.id = sc.id""".stripMargin,

    "assign_submatrix" ->
      s"""WITH m AS ($sqlM),
         |a AS (SELECT CAST(r_regionkey AS BIGINT) AS src,
         |        CAST((r_regionkey * 2) % 5 AS BIGINT) AS dst,
         |        CAST(r_regionkey + 10 AS DOUBLE) AS v FROM region),
         |rws AS (SELECT i AS idx, i * 7 AS target FROM range(0, 5) t(i)),
         |cls AS (SELECT i AS idx, i * 9 AS target FROM range(0, 5) t(i)),
         |mapped AS (SELECT r.target AS src, c.target AS dst, a.v
         |           FROM a JOIN rws r ON a.src = r.idx JOIN cls c ON a.dst = c.idx)
         |SELECT src, dst, v FROM m
         |WHERE NOT (src IN (SELECT target FROM rws) AND dst IN (SELECT target FROM cls))
         |UNION ALL SELECT src, dst, v FROM mapped""".stripMargin,

    "assign_scalar_masked" ->
      s"""WITH a AS ($sqlV1),
         |tg AS (SELECT DISTINCT s_suppkey AS id FROM supplier),
         |mk AS (SELECT id FROM tg WHERE id % 2 = 0),
         |ins AS (SELECT id, v FROM a WHERE id IN (SELECT id FROM tg)),
         |z AS (SELECT t.id AS id,
         |        CASE WHEN i.id IS NOT NULL THEN i.v + 100.0 ELSE 100.0 END AS v
         |      FROM tg t LEFT JOIN ins i ON t.id = i.id)
         |SELECT id, v FROM a WHERE id NOT IN (SELECT id FROM tg)
         |UNION ALL SELECT id, v FROM z WHERE id IN (SELECT id FROM mk)
         |UNION ALL SELECT id, v FROM ins WHERE id NOT IN (SELECT id FROM mk)"""
        .stripMargin,

    "assign_row" ->
      s"""WITH m AS ($sqlM),
         |u AS (SELECT CAST(n_nationkey % 97 AS BIGINT) AS id,
         |        max(CAST(n_nationkey AS DOUBLE)) AS v FROM nation GROUP BY 1)
         |SELECT src, dst, v FROM m WHERE src <> 5
         |UNION ALL SELECT CAST(5 AS BIGINT) AS src, id AS dst, v FROM u""".stripMargin,

    "diag_extract" ->
      s"SELECT src AS id, v FROM ($sqlM) WHERE dst - src = 1",

    "diag_build" ->
      ("SELECT c_custkey AS src, c_custkey + 2 AS dst, c_acctbal AS v " +
        "FROM customer WHERE c_custkey % 3 = 0"),

    "apply_indexop" ->
      s"SELECT src, dst, CAST(src + 10 AS BIGINT) AS v FROM ($sqlS)",

    "reposition_mat" ->
      s"""SELECT src + 3 AS src, dst - 2 AS dst, v FROM ($sqlS)
         |WHERE src + 3 >= 0 AND src + 3 < 97 AND dst - 2 >= 0 AND dst - 2 < 97"""
        .stripMargin,

    "reshape_vec" ->
      s"SELECT src * 97 + dst AS src, CAST(0 AS BIGINT) AS dst, v FROM ($sqlS)",

    "sort_permutation" ->
      s"""SELECT src,
         |  CAST(row_number() OVER (PARTITION BY src ORDER BY v, dst) - 1
         |    AS BIGINT) AS p,
         |  v, CAST(dst AS BIGINT) AS perm
         |FROM ($sqlS)""".stripMargin,

    "head_vec" ->
      s"SELECT id, v FROM ($sqlV1) ORDER BY id LIMIT 25",

    "head_mat" ->
      s"SELECT src, dst, v FROM ($sqlS) ORDER BY src, dst LIMIT 20",

    "mask_and" ->
      s"""SELECT id, v FROM ($sqlV2)
         |WHERE id IN (SELECT id FROM ($sqlV1))
         |  AND id IN (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)"""
        .stripMargin,

    "mask_or" ->
      s"""SELECT id, v FROM ($sqlV2)
         |WHERE id IN (SELECT id FROM ($sqlV1))
         |  OR id IN (SELECT c_custkey FROM customer WHERE c_custkey % 5 = 0)"""
        .stripMargin,

    "split_concat" -> s"SELECT src, dst, v FROM ($sqlS)",

    "setdiag_vals" ->
      s"""WITH m AS ($sqlS),
         |u AS (SELECT CAST(n_nationkey % 97 AS BIGINT) AS id,
         |        max(CAST(n_nationkey AS DOUBLE)) AS v FROM nation GROUP BY 1),
         |dg AS (SELECT id AS src, id + 1 AS dst, v FROM u WHERE id + 1 < 97)
         |SELECT coalesce(m.src, dg.src) AS src, coalesce(m.dst, dg.dst) AS dst,
         |  CASE WHEN m.src IS NOT NULL AND dg.src IS NOT NULL THEN m.v + dg.v
         |       WHEN m.src IS NOT NULL THEN m.v ELSE dg.v END AS v
         |FROM m FULL JOIN dg ON m.src = dg.src AND m.dst = dg.dst""".stripMargin,

    "extract_input_mask" ->
      s"SELECT 2 * id AS id, v FROM ($sqlV1) WHERE id % 6 = 0",

    "indexbinary_ewise" ->
      s"""SELECT a.id AS id, round((a.v + b.v) * 0.5 + a.id, 4) AS v
         |FROM ($sqlV1) a JOIN ($sqlV2) b ON a.id = b.id""".stripMargin,

    "topk_per_row" ->
      s"""SELECT src, dst, v, rn FROM (
         |  SELECT src, dst, v,
         |    CAST(row_number() OVER (PARTITION BY src ORDER BY v DESC, dst) AS BIGINT) AS rn
         |  FROM ($sqlM)) WHERE rn <= 3""".stripMargin,

    "prefix_scan_row" ->
      s"""SELECT src, dst, sum(v) OVER (PARTITION BY src ORDER BY dst
         |  ROWS UNBOUNDED PRECEDING) AS cum FROM ($sqlM)""".stripMargin,

    "argmax_per_row" ->
      s"""SELECT src AS id, dst, v FROM (
         |  SELECT src, dst, v,
         |    row_number() OVER (PARTITION BY src ORDER BY v DESC, dst) AS rn
         |  FROM ($sqlM)) WHERE rn = 1""".stripMargin,

    "kron_small" ->
      s"""WITH a AS (SELECT n_nationkey % 5 AS src, CAST(n_regionkey AS BIGINT) AS dst,
         |             CAST(count(*) AS DOUBLE) AS v FROM nation GROUP BY 1, 2),
         |b AS (SELECT CAST(r_regionkey AS BIGINT) AS src,
         |        CAST((r_regionkey + 1) % 5 AS BIGINT) AS dst, 1.0 AS v FROM region)
         |SELECT a.src * 5 + b.src AS src, a.dst * 5 + b.dst AS dst, a.v * b.v AS v
         |FROM a CROSS JOIN b""".stripMargin,

    "agg_stats" ->
      s"""SELECT count(*) AS n, round(sum(v), 2) AS s, round(avg(v), 4) AS mean,
         |  min(v) AS mn, max(v) AS mx, round(stddev_pop(v), 4) AS stdp
         |FROM ($sqlV1)""".stripMargin,

    "agg_argminmax" ->
      s"""SELECT (SELECT id FROM ($sqlV1) ORDER BY v ASC, id LIMIT 1) AS argmin_id,
         |       (SELECT id FROM ($sqlV1) ORDER BY v DESC, id LIMIT 1) AS argmax_id"""
        .stripMargin,

    "vxm_plus_times" ->
      s"SELECT dst AS id, sum((src % 5 + 1) * v) AS v FROM ($sqlS) GROUP BY dst",

    "inner_product" ->
      s"SELECT round(sum(a.v * b.v), 2) AS ip FROM ($sqlV1) a JOIN ($sqlV2) b USING (id)",

    "power3" ->
      s"""WITH m AS ($sqlS),
         |m2 AS (SELECT a.src AS src, b.dst AS dst, sum(a.v * b.v) AS v
         |       FROM m a JOIN m b ON a.dst = b.src GROUP BY 1, 2),
         |m3 AS (SELECT a.src AS src, b.dst AS dst, sum(a.v * b.v) AS v
         |       FROM m a JOIN m2 b ON a.dst = b.src GROUP BY 1, 2)
         |SELECT src, dst, v FROM m3""".stripMargin,

    "apply_bind" ->
      s"SELECT id, round((10000.0 - v) / 2.0, 4) AS v FROM ($sqlV1)",

    "reposition_vec" -> s"SELECT id + 7 AS id, v FROM ($sqlV1)",

    "flatten_small" ->
      s"SELECT src * 97 + dst AS id, v FROM ($sqlS)",

    "compactify_vec" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS id, v
         |FROM ($sqlV1)""".stripMargin,

    "compactify_partitioned" ->
      s"""SELECT CAST(row_number() OVER (ORDER BY id) - 1 AS BIGINT) AS id, v
         |FROM ($sqlV1)""".stripMargin,

    "int64_div_mod" ->
      """WITH b AS (SELECT CAST(l_orderkey AS BIGINT) - 3000 AS a,
        |    CASE WHEN l_partkey % 2 = 0 THEN CAST(7 AS BIGINT)
        |         ELSE CAST(-4 AS BIGINT) END AS b
        |  FROM lineitem)
        |SELECT a, b, a // b AS cdiv,
        |  a // b - CASE WHEN (a % b) <> 0 AND ((a % b < 0) <> (b < 0))
        |           THEN 1 ELSE 0 END AS fdiv,
        |  a % b AS crem, ((a % b) + b) % b AS frem
        |FROM b""".stripMargin,

    "bitwise_agg" ->
      """WITH b AS (SELECT CAST(l_orderkey % 100 AS BIGINT) AS g,
        |    CAST(l_partkey AS BIGINT) AS x, CAST(l_suppkey AS BIGINT) AS y
        |  FROM lineitem)
        |SELECT g, bit_or(x & y) AS or_and, bit_and(x | y) AS and_or,
        |  bit_xor(xor(x, y)) AS xor_xor,
        |  CAST(sum((x >> 5) & 1) AS BIGINT) AS bits5,
        |  max(x << 3) AS shl3max
        |FROM b GROUP BY g""".stripMargin,

    "q1_agg" ->
      """SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty,
        |  round(avg(l_extendedprice), 4) AS avg_price, count(*) AS cnt
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q3_join" ->
      """SELECT n_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,

    "top_order_per_cust" ->
      """SELECT o_custkey, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS rn
        |  FROM orders) WHERE rn = 1""".stripMargin,

    "sessionize" ->
      """WITH g AS (
        |  SELECT user_id, ts, event_id,
        |    epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS session_id
        |  FROM g)
        |SELECT user_id, CAST(session_id AS BIGINT) AS session_id,
        |  count(*) AS n_events, CAST(min(epoch_ms(ts)) AS BIGINT) AS t_start_ms
        |FROM s GROUP BY user_id, session_id""".stripMargin,

    "masked_accum_write" ->
      s"""WITH a AS ($sqlV1), b AS ($sqlV2),
         |mk AS (SELECT id FROM ($sqlV2) WHERE v > 5000.0),
         |z AS (SELECT coalesce(a.id, b.id) AS id,
         |        CASE WHEN a.id IS NOT NULL AND b.id IS NOT NULL THEN a.v + b.v
         |             WHEN a.id IS NOT NULL THEN a.v ELSE b.v END AS v
         |      FROM a FULL JOIN b ON a.id = b.id)
         |SELECT id, v FROM z WHERE id IN (SELECT id FROM mk)
         |UNION ALL
         |SELECT id, v FROM a WHERE id NOT IN (SELECT id FROM mk)""".stripMargin,

    "outer_product" ->
      """WITH a AS (SELECT CAST(r_regionkey AS BIGINT) AS id,
        |             CAST(r_regionkey + 1 AS DOUBLE) AS v FROM region)
        |SELECT x.id AS src, y.id AS dst, x.v * y.v AS v
        |FROM a x CROSS JOIN a y""".stripMargin,

    "stream_sessions" ->
      """WITH g AS (
        |  SELECT user_id, ts, value, event_id,
        |    epoch_ms(ts) - epoch_ms(lag(ts, 1) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id)) AS gap
        |  FROM events),
        |s AS (
        |  SELECT user_id, ts, value,
        |    sum(CASE WHEN gap IS NULL OR gap > 1800000 THEN 1 ELSE 0 END) OVER
        |      (PARTITION BY user_id ORDER BY ts, event_id
        |       ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM g)
        |SELECT user_id, CAST(min(epoch_ms(ts)) AS BIGINT) AS session_start_ms,
        |  CAST(max(epoch_ms(ts)) AS BIGINT) AS session_end_ms,
        |  count(*) AS n_events, round(sum(value), 6) AS value_sum
        |FROM s GROUP BY user_id, sid""".stripMargin,

    "stream_window_counts" ->
      """SELECT (epoch_ms(ts) // 600000) * 600000 AS window_start_ms,
        |  event_type, count(*) AS n_events, round(sum(value), 6) AS value_sum
        |FROM events GROUP BY 1, 2""".stripMargin,

    "dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_count
        |FROM documents GROUP BY md5(text)""".stripMargin,

    "token_count" ->
      """SELECT doc_id,
        |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tokens,
        |  CAST(ceil(length(text) / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents""".stripMargin,

    "chunk_windows" -> Chunking.chunkWindowsSql(window = 64, stride = 48),
    "pack_sequences" -> Chunking.packSequencesSql(budget = 1024L, nBins = 8),
    "pack_manifest" -> Chunking.packManifestSql(budget = 1024L, nBins = 8),

    "e2e_training_layout" -> {
      val Seq(c1, _, _) = graft.pipeline.Sampling.thresholds(Seq(0.8, 0.1, 0.1))
      val m = graft.pipeline.Sampling.M
      s"""WITH q AS (SELECT doc_id, text FROM documents
         |  WHERE len(regexp_split_to_array(trim(text), ' +')) >= 5
         |    AND CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
         |        / greatest(length(text), 1) >= 0.55),
         |k AS (SELECT doc_id, text,
         |  min(doc_id) OVER (PARTITION BY md5(text)) AS keep FROM q),
         |tr AS (SELECT doc_id, text FROM k WHERE doc_id = keep
         |  AND (doc_id % $m) * 2654435761 % $m < $c1),
         |d2 AS (SELECT doc_id, doc_id % 4 AS bin,
         |  CAST(len(regexp_split_to_array(trim(text), ' +')) AS BIGINT) AS n_tok
         |  FROM tr),
         |c AS (SELECT doc_id, bin, n_tok,
         |  CAST(sum(n_tok) OVER (PARTITION BY bin ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
         |    AS cum_end FROM d2)
         |SELECT doc_id, bin, n_tok,
         |  (cum_end - n_tok) // 256 AS pack_first,
         |  greatest(cum_end - n_tok, cum_end - 1) // 256 AS pack_last,
         |  (cum_end - n_tok) % 256 AS pack_offset
         |FROM c""".stripMargin
    },

    "bm25_score" ->
      """WITH dl AS (SELECT doc_id,
        |    len(regexp_split_to_array(trim(text), ' +')) AS dl FROM documents),
        |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
        |    CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
        |toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
        |  WHERE term IN ('spark', 'join', 'table') GROUP BY doc_id, term),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  round(sum(ln((stats.n_docs - df.df + 0.5) / (df.df + 0.5) + 1.0)
        |    * tf.tf * (1.2 + 1)
        |    / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * dl.dl / stats.avgdl))), 9) AS bm25
        |FROM tf JOIN df USING (term) JOIN dl USING (doc_id) CROSS JOIN stats
        |GROUP BY tf.doc_id""".stripMargin,

    "tfidf_top_terms" ->
      """WITH toks AS (SELECT doc_id,
        |    unnest(regexp_split_to_array(trim(text), ' +')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
        |  FROM toks GROUP BY 1, 2),
        |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1),
        |n AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs FROM documents),
        |scored AS (SELECT tf.doc_id, tf.term,
        |    round(tf.tf * (ln((1.0 + n.n_docs) / (1.0 + dft.df)) + 1.0), 9)
        |      AS score
        |  FROM tf JOIN dft USING (term) CROSS JOIN n)
        |SELECT doc_id, term, score, rank FROM (
        |  SELECT doc_id, term, score, CAST(row_number() OVER (
        |    PARTITION BY doc_id ORDER BY score DESC, term) AS BIGINT) AS rank
        |  FROM scored) WHERE rank <= 3""".stripMargin,

    "dataset_split" -> {
      val Seq(c1, c2, _) = graft.pipeline.Sampling.thresholds(Seq(0.8, 0.1, 0.1))
      val m = graft.pipeline.Sampling.M
      s"""SELECT doc_id,
         |  (doc_id % $m) * 2654435761 % $m AS bucket,
         |  CASE WHEN (doc_id % $m) * 2654435761 % $m < $c1 THEN 'train'
         |       WHEN (doc_id % $m) * 2654435761 % $m < $c2 THEN 'val'
         |       ELSE 'test' END AS split
         |FROM documents""".stripMargin
    },

    "bernoulli_sample" -> {
      val m = graft.pipeline.Sampling.M
      val thr = (0.25 * m).toLong
      s"""SELECT doc_id FROM documents
         |WHERE (doc_id % $m) * 2654435761 % $m < $thr""".stripMargin
    },

    "sample_topn" -> {
      val m = graft.pipeline.Sampling.M
      s"""SELECT doc_id FROM documents
         |ORDER BY (doc_id % $m) * 2654435761 % $m, doc_id LIMIT 100"""
        .stripMargin
    },

    "stratified_sample" -> {
      val m = graft.pipeline.Sampling.M
      val (tEn, tDe) = ((0.1 * m).toLong, (0.5 * m).toLong)
      s"""SELECT doc_id, lang FROM documents
         |WHERE (doc_id % $m) * 2654435761 % $m <
         |  CASE WHEN lang = 'en' THEN $tEn
         |       WHEN lang = 'de' THEN $tDe ELSE $m END""".stripMargin
    },

    "sample_cap_group" -> {
      val m = graft.pipeline.Sampling.M
      s"""SELECT d.doc_id, d.lang FROM documents d
         |JOIN (SELECT lang, count(*) AS n FROM documents GROUP BY lang) g
         |  USING (lang)
         |WHERE (d.doc_id % $m) * 2654435761 % $m < least(${30L * m} // g.n, $m)"""
        .stripMargin
    },

    // packed doc_id·2³⁰+span replays the Spark side's lexicographic
    // (doc_id, span) struct-min winner pick exactly (span < 2³⁰ always)
    "span_dedup" ->
      """WITH toks AS (
        |  SELECT doc_id, i AS pos, toks[i + 1] AS tok
        |  FROM (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS toks
        |        FROM documents),
        |       unnest(range(0, len(toks))) u(i)),
        |spans AS (
        |  SELECT doc_id, pos // 8 AS span,
        |         string_agg(tok, ' ' ORDER BY pos) AS span_text
        |  FROM toks GROUP BY 1, 2),
        |w AS (SELECT span_text, min(doc_id * 1073741824 + span) AS wk
        |      FROM spans GROUP BY 1)
        |SELECT s.doc_id, string_agg(s.span_text, ' ' ORDER BY s.span) AS text_deduped
        |FROM spans s JOIN w ON s.span_text = w.span_text
        |  AND s.doc_id * 1073741824 + s.span = w.wk
        |GROUP BY 1""".stripMargin,

    "quality_score" ->
      """WITH b AS (SELECT doc_id, text,
        |    regexp_split_to_array(trim(text), ' +') AS toks FROM documents)
        |SELECT doc_id,
        |  CAST(len(toks) AS BIGINT) AS n_tokens,
        |  round(CAST(length(replace(text, ' ', '')) AS DOUBLE)
        |    / greatest(len(toks), 1), 6) AS mean_word_len,
        |  round(CAST(len(list_filter(toks,
        |      t -> t IN ('the','a','of','and','to','in','is'))) AS DOUBLE)
        |    / greatest(len(toks), 1), 6) AS stopword_ratio,
        |  round(CAST(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
        |    / greatest(length(text), 1), 6) AS alpha_ratio
        |FROM b""".stripMargin,

    "lang_id" ->
      """WITH b AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
        |sc AS (SELECT doc_id,
        |  len(list_filter(toks, t -> t IN ('the','and','of','is'))) AS s_en,
        |  len(list_filter(toks, t -> t IN ('der','die','und','ist'))) AS s_de,
        |  len(list_filter(toks, t -> t IN ('le','la','et','est'))) AS s_fr
        |FROM b)
        |SELECT doc_id,
        |  CASE WHEN s_fr > greatest(s_en, s_de) THEN 'fr'
        |       WHEN s_de > s_en THEN 'de' ELSE 'en' END AS lang_pred,
        |  CAST(CASE WHEN s_fr > greatest(s_en, s_de) THEN s_fr
        |       WHEN s_de > s_en THEN s_de ELSE s_en END AS BIGINT) AS marker_hits
        |FROM sc""".stripMargin,

    "doc_fingerprint" -> docFingerprintSql,

    "ngram_jaccard" -> ngramJaccardSql,

    "decontaminate" ->
      s"""WITH $sqlShingleCtes,
         |bench AS (SELECT DISTINCT shingle FROM s0 WHERE doc_id % 97 = 0),
         |hits AS (SELECT s0.doc_id, CAST(count(*) AS BIGINT) AS n_hits
         |         FROM s0 JOIN bench USING (shingle) GROUP BY s0.doc_id)
         |SELECT d.doc_id, coalesce(h.n_hits, 0) AS n_hits,
         |       CAST(coalesce(h.n_hits, 0) > 0 AS BIGINT) AS contaminated
         |FROM documents d LEFT JOIN hits h ON d.doc_id = h.doc_id""".stripMargin,

    "char_entropy" -> charEntropySql,

    "link_predict_aa" ->
      s"""WITH g AS (SELECT src, dst FROM ($sqlEdges) WHERE (src * 31 + dst) % 7 = 0),
         |e AS MATERIALIZED (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |w AS (SELECT a.src AS u, b.dst AS v, sum(1.0/ln(d.deg)) AS score
         |      FROM e a JOIN deg d ON d.id = a.dst
         |      JOIN e b ON a.dst = b.src AND a.src < b.dst
         |      GROUP BY 1, 2)
         |SELECT u AS src, v AS dst, round(score, 6) AS aa FROM w
         |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = w.u AND e.dst = w.v)"""
        .stripMargin,

    "scc" ->
      s"""WITH RECURSIVE g AS MATERIALIZED (
         |  SELECT src, dst FROM ($sqlEdges) WHERE (src * 31 + dst) % 11 = 0),
         |v AS (SELECT src AS id FROM g UNION SELECT dst FROM g),
         |r(a, b) AS (SELECT src, dst FROM g
         |            UNION
         |            SELECT r.a, g.dst FROM r JOIN g ON g.src = r.b),
         |mutual AS (SELECT f.a AS id, f.b AS other
         |           FROM r f JOIN r bk ON bk.a = f.b AND bk.b = f.a)
         |SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
         |FROM v LEFT JOIN mutual m ON m.id = v.id
         |GROUP BY v.id""".stripMargin,

    "bowtie" ->
      s"""WITH RECURSIVE g AS MATERIALIZED (
         |  SELECT src, dst FROM ($sqlEdges) WHERE (src * 31 + dst) % 11 = 0),
         |v AS (SELECT src AS id FROM g UNION SELECT dst FROM g),
         |r(a, b) AS (SELECT src, dst FROM g
         |            UNION
         |            SELECT r.a, g.dst FROM r JOIN g ON g.src = r.b),
         |mutual AS (SELECT f.a AS id, f.b AS other
         |           FROM r f JOIN r bk ON bk.a = f.b AND bk.b = f.a),
         |scc AS (SELECT v.id, least(v.id, coalesce(min(m.other), v.id)) AS scc
         |        FROM v LEFT JOIN mutual m ON m.id = v.id GROUP BY v.id),
         |core AS (SELECT scc FROM scc GROUP BY scc
         |         ORDER BY count(*) DESC, scc LIMIT 1),
         |corev AS (SELECT id FROM scc WHERE scc = (SELECT scc FROM core))
         |SELECT s.id,
         |  CASE WHEN s.scc = (SELECT scc FROM core) THEN 'core'
         |       WHEN EXISTS (SELECT 1 FROM r JOIN corev cv ON r.b = cv.id
         |                    WHERE r.a = s.id) THEN 'in'
         |       WHEN EXISTS (SELECT 1 FROM r JOIN corev cv ON r.a = cv.id
         |                    WHERE r.b = s.id) THEN 'out'
         |       ELSE 'other' END AS cls
         |FROM scc s""".stripMargin,

    "link_predict_jaccard" ->
      s"""WITH g AS (SELECT src, dst FROM ($sqlEdges) WHERE (src * 31 + dst) % 7 = 0),
         |e AS MATERIALIZED (SELECT src, dst FROM g UNION SELECT dst, src FROM g),
         |deg AS (SELECT src AS id, count(*) AS deg FROM e GROUP BY src),
         |cn AS (SELECT a.src AS u, b.dst AS v, count(*) AS cn
         |       FROM e a JOIN e b ON a.dst = b.src AND a.src < b.dst
         |       GROUP BY 1, 2),
         |s AS (SELECT u, v,
         |        round(CAST(cn AS DOUBLE) / (du.deg + dv.deg - cn), 6) AS jac
         |      FROM cn JOIN deg du ON du.id = cn.u JOIN deg dv ON dv.id = cn.v)
         |SELECT u AS src, v AS dst, jac FROM s
         |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = s.u AND e.dst = s.v)"""
        .stripMargin,

    "contract_quotient" ->
      s"""WITH e AS (SELECT src, dst FROM ($sqlEdges)),
         |v AS (SELECT src AS id FROM e UNION SELECT dst FROM e),
         |m AS (SELECT id, id % 53 AS grp FROM v)
         |SELECT ms.grp AS src_g, md.grp AS dst_g, count(*) AS weight
         |FROM e JOIN m ms ON e.src = ms.id JOIN m md ON e.dst = md.id
         |WHERE ms.grp <> md.grp
         |GROUP BY 1, 2""".stripMargin,

    "url_normalize" ->
      """WITH u AS (SELECT doc_id,
        |  'HTTPS://User@Site' || (doc_id % 37) || '.Example.COM' ||
        |  CASE WHEN doc_id % 5 = 0 THEN ':443'
        |       WHEN doc_id % 5 = 1 THEN ':8443' ELSE '' END ||
        |  '/Path//p/' || doc_id ||
        |  CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END ||
        |  CASE WHEN doc_id % 4 = 0 THEN '?q=1' ELSE '' END ||
        |  CASE WHEN doc_id % 6 = 0 THEN '#frag' ELSE '' END AS url
        |FROM documents),
        |c AS (SELECT doc_id,
        |  lower(regexp_extract(url, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS sch,
        |  regexp_replace(regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)', 1), '^[^/@]*@', '') AS hostport,
        |  regexp_extract(url,
        |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)', 1) AS pth,
        |  regexp_extract(url, '^[^#?]*([?][^#]*)', 1) AS qry
        |FROM u),
        |h AS (SELECT doc_id, sch, pth, qry,
        |  lower(regexp_replace(hostport, ':[0-9]*$', '')) AS host,
        |  CAST(nullif(regexp_extract(hostport, ':([0-9]+)$', 1), '') AS INT) AS port
        |FROM c),
        |p AS (SELECT doc_id, sch, qry, host, port,
        |  regexp_replace(regexp_replace(
        |    regexp_replace(pth, '/+', '/', 'g'), '^/', ''), '/$', '') AS squeezed,
        |  regexp_replace(pth, '/+$', '') AS rawpath
        |FROM h)
        |SELECT doc_id, host,
        |  regexp_extract(host, '([^.]+[.][^.]+)$', 1) AS domain,
        |  port,
        |  CAST(CASE WHEN squeezed = '' THEN 0
        |       ELSE length(squeezed) - length(replace(squeezed, '/', '')) + 1
        |       END AS INT) AS depth,
        |  sch || '://' || host ||
        |    CASE WHEN port IS NOT NULL AND NOT
        |           ((sch = 'http' AND port = 80) OR (sch = 'https' AND port = 443))
        |         THEN ':' || port ELSE '' END ||
        |    CASE WHEN rawpath = '' THEN '/' ELSE rawpath END || qry AS url_norm
        |FROM p""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE p AS ($ngramJaccardSql),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM p
         |      UNION ALL SELECT doc_b, doc_a FROM p),
         |r(id, lbl) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.dst, r.lbl FROM r JOIN e ON e.src = r.id
         |)
         |SELECT id AS doc_id, min(lbl) AS cluster_id,
         |  CAST(min(lbl) = id AS BIGINT) AS is_canonical
         |FROM r GROUP BY id""".stripMargin,

    "gopher_repetition" ->
      """WITH t AS (SELECT doc_id,
        |    regexp_split_to_array(trim(text), ' +') AS toks FROM documents),
        |b AS (SELECT doc_id,
        |      unnest([toks[i] || chr(1) || toks[i+1]
        |              FOR i IN range(1, len(toks))]) AS g
        |      FROM t WHERE len(toks) >= 2),
        |tg AS (SELECT doc_id,
        |      unnest([toks[i] || chr(1) || toks[i+1] || chr(1) || toks[i+2]
        |              FOR i IN range(1, len(toks) - 1)]) AS g
        |      FROM t WHERE len(toks) >= 3),
        |bc AS (SELECT doc_id, g, count(*) AS n FROM b GROUP BY 1, 2),
        |ba AS (SELECT doc_id, sum(n) AS total, count(*) AS dist, max(n) AS top
        |       FROM bc GROUP BY 1),
        |tc AS (SELECT doc_id, g, count(*) AS n FROM tg GROUP BY 1, 2),
        |ta AS (SELECT doc_id, sum(n) AS total, count(*) AS dist
        |       FROM tc GROUP BY 1)
        |SELECT d.doc_id,
        |  round(1.0 - coalesce(CAST(ba.dist AS DOUBLE) / ba.total, 1.0), 6)
        |    AS dup2_frac,
        |  round(1.0 - coalesce(CAST(ta.dist AS DOUBLE) / ta.total, 1.0), 6)
        |    AS dup3_frac,
        |  round(coalesce(CAST(ba.top AS DOUBLE) / ba.total, 0.0), 6)
        |    AS top2_frac
        |FROM documents d
        |LEFT JOIN ba ON ba.doc_id = d.doc_id
        |LEFT JOIN ta ON ta.doc_id = d.doc_id""".stripMargin,

    "pii_scrub" ->
      """WITH u AS (SELECT doc_id, text ||
        |  CASE WHEN doc_id % 3 = 0
        |       THEN ' contact user' || doc_id || '@example.com' ELSE '' END ||
        |  CASE WHEN doc_id % 5 = 0
        |       THEN ' call +1-555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
        |       ELSE '' END ||
        |  CASE WHEN doc_id % 7 = 0
        |       THEN ' from 10.0.' || (doc_id % 256) || '.' || (doc_id % 100)
        |       ELSE '' END AS t2
        |FROM documents)
        |SELECT doc_id,
        |  CAST(len(regexp_extract_all(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}')) AS INT) AS n_email,
        |  CAST(len(regexp_extract_all(t2,
        |    '[+][0-9][0-9\-]{7,}[0-9]')) AS INT) AS n_phone,
        |  CAST(len(regexp_extract_all(t2,
        |    '\b[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}\b')) AS INT) AS n_ip,
        |  regexp_replace(regexp_replace(regexp_replace(t2,
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+[.][A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[+][0-9][0-9\-]{7,}[0-9]', '<PHONE>', 'g'),
        |    '\b[0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}[.][0-9]{1,3}\b', '<IP>', 'g')
        |    AS text_scrubbed
        |FROM u""".stripMargin,

    "minhash_signatures" -> minhashSql,
    "minhash_lsh_pairs" -> minhashLshSql,
    "simhash" -> simhashSql,
    "simhash_dup_pairs" -> simhashDupPairsSql,

    "embedding_sim_pairs" ->
      s"""WITH bkt AS ($lshBucketsDynSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |wb AS (SELECT e.vec_id, e.emb, bkt.bucket FROM e JOIN bkt USING (vec_id)),
         |p AS (
         |  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         |    round(list_dot_product(a.emb, b.emb) /
         |      (sqrt(list_dot_product(a.emb, a.emb)) *
         |       sqrt(list_dot_product(b.emb, b.emb))), 6) AS cos
         |  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos FROM p WHERE cos >= 0.35""".stripMargin,

    "embedding_topk" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |q AS (SELECT vec_id AS query_id, emb AS qe FROM e WHERE vec_id < 5),
        |sims AS (
        |  SELECT q.query_id, c.vec_id AS cand_id,
        |    round(list_dot_product(q.qe, c.emb) /
        |      (sqrt(list_dot_product(q.qe, q.qe)) *
        |       sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
        |  FROM q CROSS JOIN e c WHERE c.vec_id <> q.query_id)
        |SELECT query_id, cand_id, sim, rank FROM (
        |  SELECT query_id, cand_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
        |  FROM sims) WHERE rank <= 10""".stripMargin,

    "embedding_lsh_buckets" -> lshBucketsSql,

    "embedding_ann_topk" ->
      s"""WITH bkt AS ($lshBucketsDynSql),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |wb AS (SELECT e.vec_id, e.emb, bkt.bucket FROM e JOIN bkt USING (vec_id)),
         |sims AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS cand_id,
         |    round(list_dot_product(a.emb, b.emb) /
         |      (sqrt(list_dot_product(a.emb, a.emb)) *
         |       sqrt(list_dot_product(b.emb, b.emb))), 6) AS sim
         |  FROM wb a JOIN wb b ON a.bucket = b.bucket AND a.vec_id <> b.vec_id)
         |SELECT query_id, cand_id, sim, rank FROM (
         |  SELECT query_id, cand_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
         |  FROM sims) WHERE rank <= 10""".stripMargin,

    "embedding_ann_multiprobe" ->
      s"""WITH nb AS (SELECT greatest(1, CAST(ceil(log2(CAST(count(*) AS DOUBLE)
         |    / 64.0)) AS BIGINT)) AS n FROM embeddings),
         |bkt AS ($lshBucketsDynSql),
         |probes AS (
         |  SELECT vec_id AS query_id,
         |    CASE WHEN j = 0 THEN bucket
         |         ELSE xor(bucket, CAST(1 AS BIGINT) << (j - 1)) END AS bucket
         |  FROM bkt, unnest(range(0, (SELECT n FROM nb) + 1)) u(j)),
         |cand AS (SELECT p.query_id, c.vec_id AS cand_id
         |         FROM probes p JOIN bkt c ON c.bucket = p.bucket
         |           AND c.vec_id <> p.query_id),
         |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |sims AS (
         |  SELECT cand.query_id, cand.cand_id,
         |    round(list_dot_product(q.emb, c.emb) /
         |      (sqrt(list_dot_product(q.emb, q.emb)) *
         |       sqrt(list_dot_product(c.emb, c.emb))), 6) AS sim
         |  FROM cand JOIN e q ON q.vec_id = cand.query_id
         |            JOIN e c ON c.vec_id = cand.cand_id)
         |SELECT query_id, cand_id, sim, rank FROM (
         |  SELECT query_id, cand_id, sim,
         |    CAST(row_number() OVER (PARTITION BY query_id
         |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
         |  FROM sims) WHERE rank <= 10""".stripMargin,

    "embedding_ann_ivf" ->
      """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
        |c AS (SELECT vec_id AS list_id, emb AS cent FROM e
        |      ORDER BY vec_id LIMIT 16),
        |r AS (SELECT e.vec_id, c.list_id,
        |        round(list_dot_product(e.emb, c.cent) /
        |          (sqrt(list_dot_product(e.emb, e.emb)) *
        |           sqrt(list_dot_product(c.cent, c.cent))), 6) AS csim
        |      FROM e CROSS JOIN c),
        |p AS (SELECT vec_id, list_id, row_number() OVER (PARTITION BY vec_id
        |        ORDER BY csim DESC, list_id) AS rn FROM r),
        |assign AS (SELECT list_id, vec_id AS cand_id FROM p WHERE rn = 1),
        |probes AS (SELECT vec_id AS query_id, list_id FROM p WHERE rn <= 2),
        |sims AS (
        |  SELECT pr.query_id, a.cand_id,
        |    round(list_dot_product(q.emb, ce.emb) /
        |      (sqrt(list_dot_product(q.emb, q.emb)) *
        |       sqrt(list_dot_product(ce.emb, ce.emb))), 6) AS sim
        |  FROM probes pr JOIN assign a ON a.list_id = pr.list_id
        |  JOIN e q ON q.vec_id = pr.query_id
        |  JOIN e ce ON ce.vec_id = a.cand_id
        |  WHERE a.cand_id <> pr.query_id)
        |SELECT query_id, cand_id, sim, rank FROM (
        |  SELECT query_id, cand_id, sim,
        |    CAST(row_number() OVER (PARTITION BY query_id
        |      ORDER BY sim DESC, cand_id) AS BIGINT) AS rank
        |  FROM sims) WHERE rank <= 10""".stripMargin,

    "kmeans_embed" ->
      s"""WITH ${kmeansCte(8, 2)}
         |SELECT vec_id, cluster FROM a2""".stripMargin,

    "semantic_dedup" ->
      s"""WITH ${kmeansCte(8, 2)},
         |wc AS (SELECT a.vec_id, a.cluster, r.emb
         |       FROM a2 a JOIN (SELECT vec_id,
         |         CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) r
         |       USING (vec_id)),
         |dropped AS (SELECT DISTINCT a.vec_id
         |  FROM wc a JOIN wc b ON a.cluster = b.cluster AND a.vec_id > b.vec_id
         |  WHERE round(list_dot_product(a.emb, b.emb) /
         |          (sqrt(list_dot_product(a.emb, a.emb)) *
         |           sqrt(list_dot_product(b.emb, b.emb))), 6) >= 0.35)
         |SELECT a.vec_id, a.cluster,
         |  CAST(d.vec_id IS NULL AS BIGINT) AS is_kept
         |FROM a2 a LEFT JOIN dropped d ON a.vec_id = d.vec_id""".stripMargin,

    "media_meta" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5 FROM documents""".stripMargin,

    "media_decode_wav" ->
      """WITH s AS (SELECT doc_id,
        |    ((doc_id * 131 + u.i * 7919) % 65536) - 32768 AS s
        |  FROM documents, unnest(range(0, 64)) u(i))
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels, CAST(64 AS BIGINT) AS n_samples,
        |  round(sqrt(CAST(sum(s * s) AS DOUBLE) / 64), 6) AS rms
        |FROM s GROUP BY doc_id""".stripMargin,

    "media_decode_image" ->
      """WITH p AS (SELECT doc_id, u.k % 3 AS chan,
        |    (doc_id * 37 + u.k * 101) % 256 AS v
        |  FROM documents, unnest(range(0, 432)) u(k))
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(9 AS BIGINT) AS height,
        |  round(CAST(sum(CASE WHEN chan = 0 THEN v END) AS DOUBLE) / 144, 6) AS mean_r,
        |  round(CAST(sum(CASE WHEN chan = 1 THEN v END) AS DOUBLE) / 144, 6) AS mean_g,
        |  round(CAST(sum(CASE WHEN chan = 2 THEN v END) AS DOUBLE) / 144, 6) AS mean_b
        |FROM p GROUP BY doc_id""".stripMargin,

    "gzip_roundtrip" ->
      """SELECT doc_id, CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5 FROM documents""".stripMargin,

    "media_decode_gif" ->
      """WITH p AS (SELECT doc_id, (doc_id * 13 + u.k * 29) % 64 AS idx
        |  FROM documents, unnest(range(0, 144)) u(k))
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(9 AS BIGINT) AS height,
        |  round(avg((doc_id + idx * 7) % 256), 6) AS mean_r,
        |  round(avg((doc_id + idx * 7 + 31) % 256), 6) AS mean_g,
        |  round(avg((doc_id + idx * 7 + 62) % 256), 6) AS mean_b
        |FROM p GROUP BY doc_id""".stripMargin,

    "media_decode_jpeg" ->
      """WITH p AS (SELECT doc_id, (doc_id * 31 + u.j * 53) % 256 AS v
        |  FROM documents, unnest(range(0, 4)) u(j))
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(16 AS BIGINT) AS height,
        |  CAST(1 AS BIGINT) AS n_components,
        |  round(avg(v), 6) AS mean_r, round(avg(v), 6) AS mean_g,
        |  round(avg(v), 6) AS mean_b
        |FROM p GROUP BY doc_id""".stripMargin,

    "decompress_auto" ->
      """SELECT doc_id,
        |  CASE doc_id % 4 WHEN 0 THEN 'plain' WHEN 1 THEN 'gzip'
        |    WHEN 2 THEN 'zstd' ELSE 'bzip2' END AS codec,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS content_md5 FROM documents""".stripMargin,

    "text_normalize" ->
      """SELECT doc_id,
        |  md5(nfc_normalize(regexp_replace(text, 'a', 'a' || chr(769), 'g'))) AS nfc_md5,
        |  md5(strip_accents(translate(text, 'aeiou', 'áéíóú'))) AS strip_md5,
        |  md5(lower(strip_accents(translate(text, 'aeiou', 'áéíóú')))) AS fold_md5
        |FROM documents""".stripMargin,

    "media_decode_g711" ->
      """WITH s AS (SELECT doc_id, (doc_id * 59 + u.i * 17) % 256 AS v
        |  FROM documents, unnest(range(0, 64)) u(i)),
        |e AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN
        |    -- ITU-T G.711 mu-law expansion: u = NOT v (8-bit)
        |    CASE WHEN (255 - v) >= 128
        |      THEN 132 - (((255 - v) % 16) * 8 + 132)
        |             * CAST(pow(2, ((255 - v) // 16) % 8) AS BIGINT)
        |      ELSE (((255 - v) % 16) * 8 + 132)
        |             * CAST(pow(2, ((255 - v) // 16) % 8) AS BIGINT) - 132
        |    END
        |  ELSE
        |    -- ITU-T G.711 A-law expansion: a = v XOR 0x55
        |    CASE WHEN xor(v, 85) >= 128 THEN 1 ELSE -1 END *
        |    CASE WHEN (xor(v, 85) // 16) % 8 = 0
        |           THEN (xor(v, 85) % 16) * 16 + 8
        |         WHEN (xor(v, 85) // 16) % 8 = 1
        |           THEN (xor(v, 85) % 16) * 16 + 264
        |         ELSE ((xor(v, 85) % 16) * 16 + 264)
        |           * CAST(pow(2, (xor(v, 85) // 16) % 8 - 1) AS BIGINT)
        |    END
        |  END AS s FROM s)
        |SELECT doc_id, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(1 AS BIGINT) AS n_channels, CAST(64 AS BIGINT) AS n_samples,
        |  round(sqrt(CAST(sum(s * s) AS DOUBLE) / 64), 6) AS rms
        |FROM e GROUP BY doc_id""".stripMargin,

    "media_decode_png" ->
      """WITH p AS (SELECT doc_id, u.k % 3 AS chan,
        |    (doc_id * 37 + u.k * 101) % 256 AS v
        |  FROM documents, unnest(range(0, 432)) u(k))
        |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(9 AS BIGINT) AS height,
        |  CAST(3 AS BIGINT) AS n_channels,
        |  round(CAST(sum(CASE WHEN chan = 0 THEN v END) AS DOUBLE) / 144, 6) AS mean_r,
        |  round(CAST(sum(CASE WHEN chan = 1 THEN v END) AS DOUBLE) / 144, 6) AS mean_g,
        |  round(CAST(sum(CASE WHEN chan = 2 THEN v END) AS DOUBLE) / 144, 6) AS mean_b
        |FROM p GROUP BY doc_id""".stripMargin,

    "numpy_gcd_lcm" ->
      """SELECT l_orderkey, l_linenumber,
        |  gcd(l_orderkey, l_partkey) AS g,
        |  lcm(l_orderkey % 97 + 1, l_partkey % 89 + 1) AS l
        |FROM lineitem""".stripMargin,

    "lm_bits" -> lmBitsSql,
    "lm_bits_reloaded" -> lmBitsSql,
    "dsir_weights" -> dsirSql,

    // IcebergLite round trips: whatever the metadata chain plans and the
    // scan returns must equal the raw parquet table
    "iceberg_roundtrip" ->
      "SELECT doc_id, lang, n_chars FROM documents",
    "iceberg_mor" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE n_chars >= 200 AND doc_id % 10 <> 3
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE doc_id % 20 = 3""".stripMargin,

    "iceberg_prune" ->
      "SELECT doc_id, lang FROM documents WHERE lang = 'en'",

    "iceberg_mor_part" ->
      """SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id % 7 <> 1 AND doc_id % 13 <> 5
        |UNION ALL
        |SELECT doc_id, lang, n_chars FROM documents
        |WHERE lang = 'en' AND doc_id % 26 = 5""".stripMargin
  )

  // ---- longer SQL bodies built with the same constants as the Scala code ----

  /** Lloyd's k-means unrolled to `iters` assignment rounds (iters−1 centroid
    * updates), ending at CTE a$iters = (vec_id, cluster) — the exact
    * arithmetic of Clustering.kmeansAssign: dyadic 2^-24 quantization makes
    * the centroid numerators INTEGER sums, so both engines compute
    * bit-identical centroids regardless of aggregation order, and the
    * assignment score c·c − 2·x·c is two sequential list_dot_products. */
  private def kmeansCte(k: Int, iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      val assignStep =
        s"""s$i AS (SELECT e.vec_id, c.cluster,
           |          list_dot_product(c.cent, c.cent)
           |            - 2 * list_dot_product(e.xq, c.cent) AS score
           |        FROM e CROSS JOIN c${i - 1} c),
           |a$i AS (SELECT vec_id, cluster FROM (
           |          SELECT vec_id, cluster, row_number() OVER (
           |            PARTITION BY vec_id ORDER BY score, cluster) AS rn
           |          FROM s$i) WHERE rn = 1)""".stripMargin
      val updateStep = if (i == iters) "" else
        s""",
           |q$i AS (SELECT a.cluster, u.i AS pos,
           |          CAST(e.xq[u.i + 1] * 16777216.0 AS BIGINT) AS qv
           |        FROM a$i a JOIN e USING (vec_id),
           |             unnest(range(0, len(e.xq))) u(i)),
           |c$i AS (SELECT cluster, list(m ORDER BY pos) AS cent FROM (
           |          SELECT cluster, pos,
           |            CAST(sum(qv) AS DOUBLE) / (count(*) * 16777216.0) AS m
           |          FROM q$i GROUP BY 1, 2) GROUP BY 1)""".stripMargin
      assignStep + updateStep
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, list_transform(CAST(embedding AS DOUBLE[]),
       |        v -> floor(v * 16777216.0) / 16777216.0) AS xq
       |      FROM embeddings),
       |c0 AS (SELECT vec_id AS cluster, xq AS cent FROM e
       |       ORDER BY vec_id LIMIT $k),
       |$rounds""".stripMargin
  }

  /** K full pagerank_3f iterations as K chained (non-recursive) CTEs —
    * recursive SQL cannot aggregate in the recursive term, but a fixed
    * iteration count unrolls exactly. */
  /** unrolled Katz recurrence x ← 1 + 0.01·Aᵀx (k fixed rounds), matching
    * Katz.run(alpha=0.01, beta=1.0, tol=0, maxIter=k) over edgesG */
  private def katzIterSql(k: Int, digits: Int = 9): String = {
    val steps = (1 to k).map { i =>
      s"""x$i AS (
         |  SELECT t.id AS id, 1.0 + coalesce(c.g, 0) AS v
         |  FROM range(0, 937) t(id) LEFT JOIN (
         |    SELECT b.dst AS id, sum(x${i - 1}.v * 0.01) AS g
         |    FROM base b JOIN x${i - 1} ON x${i - 1}.id = b.src GROUP BY b.dst) c
         |  ON t.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($sqlEdges),
       |x0 AS (SELECT id, 1.0 AS v FROM range(0, 937) t(id)),
       |$steps
       |SELECT id, round(v, $digits) AS v FROM x$k""".stripMargin
  }

  /** unrolled eigenvector power iteration x ← x + Aᵀx (k fixed rounds,
    * unnormalized — linearity defers the L2 rescale, see Eigenvector
    * Scaladoc) with ONE final L2 normalization, matching
    * Eigenvector.run(maxIter = k) over edgesG */
  private def eigenvectorIterSql(k: Int, digits: Int = 9): String = {
    val steps = (1 to k).map { i =>
      s"""x$i AS (
         |  SELECT t.id AS id, t.v + coalesce(c.g, 0) AS v
         |  FROM x${i - 1} t LEFT JOIN (
         |    SELECT b.dst AS id, sum(x${i - 1}.v) AS g
         |    FROM base b JOIN x${i - 1} ON x${i - 1}.id = b.src GROUP BY b.dst) c
         |  ON t.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($sqlEdges),
       |x0 AS (SELECT id, 1.0/937 AS v FROM range(0, 937) t(id)),
       |$steps
       |SELECT id, round(v / (SELECT sqrt(sum(v * v)) FROM x$k), $digits) AS v
       |FROM x$k""".stripMargin
  }

  private def pagerankIterSql(k: Int, digits: Int = 9): String = {
    val steps = (1 to k).map { i =>
      s"""r$i AS (
         |  SELECT t.id AS id, 0.15/937 + coalesce(c.g, 0) AS v
         |  FROM range(0, 937) t(id) LEFT JOIN (
         |    SELECT b.dst AS id, sum(r${i - 1}.v * 0.85 / d.deg) AS g
         |    FROM base b JOIN deg d ON b.src = d.src
         |    JOIN r${i - 1} ON r${i - 1}.id = b.src GROUP BY b.dst) c
         |  ON t.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($sqlEdges),
       |deg AS (SELECT src, count(*) AS deg FROM base GROUP BY src),
       |r0 AS (SELECT id, 1.0/937 AS v FROM range(0, 937) t(id)),
       |$steps
       |SELECT id, round(v, $digits) AS v FROM r$k""".stripMargin
  }

  /** R unrolled k-core peeling rounds. Every CTE is referenced twice per
    * round, so each is pinned AS MATERIALIZED — plain CTEs inline per
    * reference and the chain would expand 2^R-fold (observed hanging DuckDB
    * on the HITS oracle before its norm became a window function). */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { i =>
      s"""a$i AS MATERIALIZED (SELECT src AS id FROM e${i - 1}
         |     GROUP BY src HAVING count(*) >= $k),
         |e$i AS MATERIALIZED (SELECT t.src, t.dst FROM e${i - 1} t
         |     JOIN a$i x ON t.src = x.id JOIN a$i y ON t.dst = y.id)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($sqlEdgesSym),
       |$steps
       |SELECT src AS id, count(*) AS deg FROM e$rounds GROUP BY src"""
      .stripMargin
  }

  /** R unrolled k-truss peel rounds: per round, each surviving edge's
    * triangle support within the current edge set (common-neighbor count
    * via two self-joins — the plus_pair masked-SpGEMM recipe in SQL), then
    * the < k-2 filter. Output = the final round's support rows, which is
    * bit-identical to KTruss.run(maxRounds = R) (monotone shrink — see the
    * KTruss Scaladoc early-stop note). */
  private def ktrussSql(k: Int, rounds: Int): String = {
    val t = k - 2
    val steps = (1 to rounds).map { i =>
      s"""s$i AS MATERIALIZED (SELECT e.src, e.dst, count(*) AS sup
         |     FROM e${i - 1} e JOIN e${i - 1} x ON x.src = e.src
         |     JOIN e${i - 1} y ON y.src = x.dst AND y.dst = e.dst
         |     GROUP BY e.src, e.dst),
         |e$i AS MATERIALIZED (SELECT src, dst FROM s$i WHERE sup >= $t)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($sqlEdgesSym),
       |$steps
       |SELECT src, dst, sup FROM s$rounds WHERE sup >= $t""".stripMargin
  }

  /** `len` unrolled deterministic-walk steps: per step, each walker's
    * next hop is the out-neighbor minimizing the same mixed-congruential
    * score RandomWalk computes (pure positive BIGINT arithmetic — bit-equal
    * in both engines), ties broken by min dst via the row_number ORDER BY. */
  private def walkSql(len: Int): String = {
    val steps = (1 to len).map { t =>
      val stepC = t * 1013904223L % 2147483647L
      s"""w$t AS MATERIALIZED (
         |  SELECT walk, CAST($t AS BIGINT) AS step, id FROM (
         |    SELECT w.walk, e.dst AS id,
         |      row_number() OVER (PARTITION BY w.walk ORDER BY
         |        ((w.walk % 2147483647) * 2654435761 % 2147483647 +
         |         (w.id % 2147483647) * 40503 % 2147483647 +
         |         (e.dst % 2147483647) * 69069 % 2147483647 + $stepC)
         |          % 2147483647,
         |        e.dst) AS rn
         |    FROM w${t - 1} w JOIN base e ON e.src = w.id) WHERE rn = 1)"""
        .stripMargin
    }.mkString(",\n")
    val sel = (0 to len).map(t => s"SELECT walk, step, id FROM w$t")
      .mkString("\nUNION ALL ")
    s"""WITH base AS MATERIALIZED ($sqlEdges),
       |w0 AS MATERIALIZED (SELECT DISTINCT src AS walk,
       |  CAST(0 AS BIGINT) AS step, src AS id FROM base),
       |$steps
       |$sel""".stripMargin
  }

  /** R unrolled Luby MIS rounds: per round, a remaining vertex joins when
    * no live neighbor has a smaller (priority, id) row-tuple — the same
    * salted multiplicative hash MIS.run computes, compared with SQL
    * row-value comparison; winners and their neighborhoods leave, the live
    * edge set refilters. Unrolling past convergence admits nobody. */
  private def misSql(rounds: Int): String = {
    val m = graft.pipeline.Sampling.M
    val steps = (1 to rounds).map { rr =>
      val a = graft.pipeline.Sampling.saltedMultiplier(rr)
      s"""cand$rr AS MATERIALIZED (
         |  SELECT v.id FROM rem${rr - 1} v WHERE NOT EXISTS (
         |    SELECT 1 FROM e${rr - 1} e WHERE e.src = v.id
         |      AND (e.dst % $m * $a % $m, e.dst)
         |        < (v.id % $m * $a % $m, v.id))),
         |rem$rr AS MATERIALIZED (
         |  SELECT v.id FROM rem${rr - 1} v
         |  WHERE v.id NOT IN (SELECT id FROM cand$rr)
         |    AND NOT EXISTS (SELECT 1 FROM e${rr - 1} e
         |      WHERE e.dst = v.id AND e.src IN (SELECT id FROM cand$rr))),
         |e$rr AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${rr - 1} e
         |  JOIN rem$rr a ON a.id = e.src JOIN rem$rr b ON b.id = e.dst)"""
        .stripMargin
    }.mkString(",\n")
    val un = (1 to rounds).map(rr =>
      s"SELECT id, CAST($rr AS BIGINT) AS round FROM cand$rr")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS MATERIALIZED ($sqlEdgesSym),
       |rem0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0),
       |$steps
       |$un""".stripMargin
  }

  /** R unrolled Israeli–Itai matching rounds — the exact Matching.run
    * recurrence: per round an edge wins iff its (p, src, dst) tuple is the
    * row_number-1 minimum at BOTH endpoints (it then appears twice with
    * rn = 1), matched endpoints' edges leave. */
  private def matchingSql(rounds: Int): String = {
    val m = graft.pipeline.Sampling.M
    val steps = (1 to rounds).map { rr =>
      val a = graft.pipeline.Sampling.saltedMultiplier(2L * rr - 1)
      val b = graft.pipeline.Sampling.saltedMultiplier(2L * rr)
      s"""pk$rr AS (SELECT src, dst,
         |    (src % $m * $a % $m + dst % $m * $b % $m) % $m AS p
         |  FROM e${rr - 1}),
         |ex$rr AS (SELECT v, src, dst, row_number() OVER (
         |    PARTITION BY v ORDER BY p, src, dst) AS rn FROM (
         |    SELECT src AS v, src, dst, p FROM pk$rr
         |    UNION ALL SELECT dst AS v, src, dst, p FROM pk$rr)),
         |win$rr AS MATERIALIZED (SELECT src, dst FROM ex$rr WHERE rn = 1
         |  GROUP BY src, dst HAVING count(*) = 2),
         |mv$rr AS (SELECT src AS v FROM win$rr UNION SELECT dst FROM win$rr),
         |e$rr AS MATERIALIZED (SELECT e.src, e.dst FROM e${rr - 1} e
         |  WHERE e.src NOT IN (SELECT v FROM mv$rr)
         |    AND e.dst NOT IN (SELECT v FROM mv$rr))""".stripMargin
    }.mkString(",\n")
    val un = (1 to rounds).map(rr =>
      s"SELECT src, dst, CAST($rr AS BIGINT) AS round FROM win$rr")
      .mkString(" UNION ALL ")
    s"""WITH e0 AS MATERIALIZED (
       |  SELECT src, dst FROM ($sqlEdgesSym) WHERE src < dst),
       |$steps
       |$un""".stripMargin
  }

  /** R unrolled Borůvka rounds — the exact Boruvka.run recurrence: per round
    * each component's min outgoing edge under the strict (w, lo, hi) order,
    * then a RECURSIVE min-reach relabel over the merge graph (the converged
    * fixpoint MinReach computes) and the contraction filter. */
  private def boruvkaSql(rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""sel$r AS MATERIALIZED (SELECT ca, cb, lo, hi, w FROM (
         |   SELECT ca, cb, lo, hi, w, row_number() OVER (
         |     PARTITION BY ca ORDER BY w, lo, hi) AS rn FROM e${r - 1})
         |   WHERE rn = 1),
         |mg$r AS (SELECT ca AS a, cb AS b FROM sel$r
         |          UNION SELECT cb, ca FROM sel$r),
         |reach$r(id, lbl) AS (
         |   SELECT DISTINCT ca, ca FROM e${r - 1}
         |   UNION
         |   SELECT m.b, r.lbl FROM reach$r r JOIN mg$r m ON m.a = r.id),
         |lbl$r AS MATERIALIZED (SELECT id, min(lbl) AS l FROM reach$r GROUP BY id),
         |e$r AS MATERIALIZED (
         |   SELECT la.l AS ca, lb.l AS cb, e.lo, e.hi, e.w
         |   FROM e${r - 1} e JOIN lbl$r la ON la.id = e.ca
         |   JOIN lbl$r lb ON lb.id = e.cb
         |   WHERE la.l <> lb.l)""".stripMargin
    }.mkString(",\n")
    val un = (1 to rounds).map(r => s"SELECT lo, hi, w FROM sel$r")
      .mkString(" UNION ALL ")
    s"""WITH RECURSIVE raw AS (
       |  SELECT l_orderkey % 937 AS s, l_partkey % 937 AS d,
       |         CAST(round(l_quantity * 100) AS BIGINT) AS q
       |  FROM lineitem WHERE l_orderkey % 937 <> l_partkey % 937),
       |canon AS MATERIALIZED (
       |  SELECT least(s, d) AS lo, greatest(s, d) AS hi, min(q) AS w
       |  FROM raw GROUP BY 1, 2),
       |e0 AS MATERIALIZED (
       |  SELECT lo AS ca, hi AS cb, lo, hi, w FROM canon
       |  UNION ALL SELECT hi, lo, lo, hi, w FROM canon),
       |$steps
       |SELECT DISTINCT lo, hi, w FROM ($un)""".stripMargin
  }

  /** R unrolled Jones-Plassmann rounds — the exact Coloring.run recurrence:
    * MIS-style beats-all candidates on the live (uncolored) edge set, then
    * the smallest color absent from each candidate's already-colored
    * neighborhood (colors stay < rr, so range(0, rr) always suffices). */
  private def coloringSql(rounds: Int): String = {
    val m = graft.pipeline.Sampling.M
    val steps = (1 to rounds).map { rr =>
      val a = graft.pipeline.Sampling.saltedMultiplier(rr)
      s"""cand$rr AS MATERIALIZED (
         |  SELECT v.id FROM rem${rr - 1} v WHERE NOT EXISTS (
         |    SELECT 1 FROM e${rr - 1} e WHERE e.src = v.id
         |      AND (e.dst % $m * $a % $m, e.dst)
         |        < (v.id % $m * $a % $m, v.id))),
         |pick$rr AS MATERIALIZED (
         |  SELECT c.id, min(k.k) AS color
         |  FROM cand$rr c, unnest(range(0, $rr)) k(k)
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM e0 e JOIN colored${rr - 1} col ON col.id = e.dst
         |    WHERE e.src = c.id AND col.color = k.k)
         |  GROUP BY c.id),
         |colored$rr AS MATERIALIZED (
         |  SELECT id, color FROM colored${rr - 1}
         |  UNION ALL SELECT id, color FROM pick$rr),
         |rem$rr AS MATERIALIZED (
         |  SELECT v.id FROM rem${rr - 1} v
         |  WHERE v.id NOT IN (SELECT id FROM cand$rr)),
         |e$rr AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${rr - 1} e
         |  JOIN rem$rr a ON a.id = e.src JOIN rem$rr b ON b.id = e.dst)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH e0 AS MATERIALIZED ($sqlEdgesSym),
       |rem0 AS MATERIALIZED (SELECT DISTINCT src AS id FROM e0),
       |colored0 AS (SELECT CAST(NULL AS BIGINT) AS id,
       |             CAST(NULL AS BIGINT) AS color WHERE FALSE),
       |$steps
       |SELECT id, color FROM colored$rounds""".stripMargin
  }

  /** Radius-R Brandes betweenness from seeds 0..nSeeds-1, fully unrolled:
    * forward levels f1..fR carry exact BIGINT path counts σ (NOT EXISTS
    * against the accumulated visited set = the level-synchronous BFS);
    * backward levels d(R-1)..d1 replay δ(v) = Σ σv/σw·(1+δw) against the
    * NEXT level's f/d rows. Mirrors Betweenness.run level for level. */
  private def bcSql(r: Int, nSeeds: Int, digits: Int = 6): String = {
    val fwd = (1 to r).map { l =>
      s"""f$l AS MATERIALIZED (
         |  SELECT f.source, e.dst AS id, CAST(sum(f.sig) AS BIGINT) AS sig
         |  FROM f${l - 1} f JOIN base e ON e.src = f.id
         |  WHERE NOT EXISTS (SELECT 1 FROM vis${l - 1} v
         |    WHERE v.source = f.source AND v.id = e.dst)
         |  GROUP BY f.source, e.dst),
         |vis$l AS MATERIALIZED (
         |  SELECT source, id FROM vis${l - 1}
         |  UNION ALL SELECT source, id FROM f$l)""".stripMargin
    }.mkString(",\n")
    val bwd = ((r - 1) to 1 by -1).map { l =>
      s"""d$l AS MATERIALIZED (
         |  SELECT v.source, v.id,
         |    sum(CAST(v.sig AS DOUBLE) / w.sig
         |        * (coalesce(dw.delta, 0.0) + 1.0)) AS delta
         |  FROM f$l v JOIN base e ON e.src = v.id
         |  JOIN f${l + 1} w ON w.source = v.source AND w.id = e.dst
         |  LEFT JOIN d${l + 1} dw ON dw.source = w.source AND dw.id = w.id
         |  GROUP BY v.source, v.id)""".stripMargin
    }.mkString(",\n")
    val un = (1 until r).map(l => s"SELECT id, delta FROM d$l")
      .mkString(" UNION ALL ")
    s"""WITH base AS MATERIALIZED ($sqlEdges),
       |f0 AS MATERIALIZED (SELECT CAST(x AS BIGINT) AS source,
       |  CAST(x AS BIGINT) AS id, CAST(1 AS BIGINT) AS sig
       |  FROM generate_series(0, ${nSeeds - 1}) AS g(x)),
       |vis0 AS MATERIALIZED (SELECT source, id FROM f0),
       |$fwd,
       |d$r AS MATERIALIZED (
       |  SELECT source, id, CAST(0 AS DOUBLE) AS delta FROM f$r),
       |$bwd
       |SELECT id, round(CAST(sum(delta) AS DOUBLE), $digits) AS bc
       |FROM ($un) GROUP BY id""".stripMargin
  }

  /** K unrolled personalized-PageRank iterations: pagerankIterSql with the
    * uniform teleport/init replaced by mass on seed vertices 0..nSeeds-1. */
  private def pprIterSql(k: Int, nSeeds: Int = 10, digits: Int = 9): String = {
    val steps = (1 to k).map { i =>
      s"""r$i AS (
         |  SELECT t.id AS id,
         |    (CASE WHEN t.id < $nSeeds THEN 0.15/$nSeeds ELSE 0 END)
         |      + coalesce(c.g, 0) AS v
         |  FROM range(0, 937) t(id) LEFT JOIN (
         |    SELECT b.dst AS id, sum(r${i - 1}.v * 0.85 / d.deg) AS g
         |    FROM base b JOIN deg d ON b.src = d.src
         |    JOIN r${i - 1} ON r${i - 1}.id = b.src GROUP BY b.dst) c
         |  ON t.id = c.id)""".stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($sqlEdges),
       |deg AS (SELECT src, count(*) AS deg FROM base GROUP BY src),
       |r0 AS (SELECT id, CASE WHEN id < $nSeeds THEN 1.0/$nSeeds ELSE 0.0 END AS v
       |       FROM range(0, 937) t(id)),
       |$steps
       |SELECT id, round(v, $digits) AS v FROM r$k""".stripMargin
  }

  /** K unrolled HITS rounds (mirrors HITS.run: authority = L2-normalized
    * Aᵀh, hub = L2-normalized A·a; missing stays absent until the final
    * coalesce-to-0 projection shared with the Spark side). */
  private def hitsIterSql(k: Int, digits: Int = 6): String = {
    val steps = (1 to k).map { i =>
      val hPrev = if (i == 1) "h0" else s"h${i - 1}"
      // the L2 norm is a window over the whole CTE, NOT a scalar subquery:
      // a second reference to ar$i/hr$i would double the inlined plan per
      // round (2^2k CTE expansions — observed hanging DuckDB at k=5)
      s"""ar$i AS (SELECT b.dst AS id, sum($hPrev.v) AS v
         |         FROM base b JOIN $hPrev ON $hPrev.id = b.src GROUP BY b.dst),
         |a$i AS (SELECT id, v / sqrt(sum(v*v) OVER ()) AS v FROM ar$i),
         |hr$i AS (SELECT b.src AS id, sum(a$i.v) AS v
         |         FROM base b JOIN a$i ON a$i.id = b.dst GROUP BY b.src),
         |h$i AS (SELECT id, v / sqrt(sum(v*v) OVER ()) AS v FROM hr$i)"""
        .stripMargin
    }.mkString(",\n")
    s"""WITH base AS ($sqlEdges),
       |h0 AS (SELECT id, 1.0/sqrt(937.0) AS v FROM range(0, 937) t(id)),
       |$steps
       |SELECT coalesce(h.id, a.id) AS id,
       |  coalesce(round(h.v, $digits), 0.0) AS hub,
       |  coalesce(round(a.v, $digits), 0.0) AS authority
       |FROM h$k h FULL JOIN a$k a ON h.id = a.id""".stripMargin
  }

  /** K unrolled synchronous mode-LPA rounds (mirrors LabelPropagation.run:
    * per-vertex neighbor-label histogram, argmax with (count desc, label)
    * tie-break, keep own label when isolated). */
  /** The 4-round mode-LPA CTE chain (e, r0, v·/m·/r· per round) — shared by
    * the label_propagation oracle and modularity's label source. */
  private def lpRoundsCte(k: Int): String = {
    val steps = (1 to k).map { i =>
      s"""v$i AS (SELECT e.src AS id, r${i - 1}.lbl AS lbl, count(*) AS c
         |        FROM e JOIN r${i - 1} ON e.dst = r${i - 1}.id GROUP BY 1, 2),
         |m$i AS (SELECT id, lbl FROM (
         |          SELECT id, lbl, row_number() OVER (PARTITION BY id
         |            ORDER BY c DESC, lbl) AS rn FROM v$i) WHERE rn = 1),
         |r$i AS (SELECT r${i - 1}.id AS id, coalesce(m$i.lbl, r${i - 1}.lbl) AS lbl
         |        FROM r${i - 1} LEFT JOIN m$i ON r${i - 1}.id = m$i.id)""".stripMargin
    }.mkString(",\n")
    s"""e AS ($sqlEdgesSym),
       |r0 AS (SELECT id, id AS lbl FROM range(0, 937) t(id)),
       |$steps""".stripMargin
  }

  private def lpIterSql(k: Int): String =
    s"""WITH ${lpRoundsCte(k)}
       |SELECT id, lbl AS label FROM r$k""".stripMargin

  /** Newman Q of the planted block partition from exact integer aggregates —
    * the same closed-form combine as GraphStats.modularity (DuckDB's `//`
    * truncates toward zero like Spark's DIV; ids are non-negative). */
  private def modularitySql: String =
    s"""WITH ef AS MATERIALIZED (SELECT src, dst FROM ($sqlEdgesSym)
       |        WHERE (src // 118) = (dst // 118) OR (src + dst) % 29 = 0),
       |lab AS (SELECT id, id // 118 AS lbl FROM
       |        (SELECT src AS id FROM ef UNION SELECT dst FROM ef)),
       |deg AS (SELECT src AS id, count(*) AS deg FROM ef GROUP BY 1),
       |d2 AS (SELECT CAST(sum(dc * dc) AS BIGINT) AS sd2 FROM (
       |         SELECT l.lbl, sum(d.deg) AS dc FROM deg d
       |         JOIN lab l ON d.id = l.id GROUP BY 1)),
       |wm AS (SELECT CAST(count(*) AS BIGINT) AS two_m,
       |              CAST(count(*) FILTER (WHERE la.lbl = lb.lbl) AS BIGINT) AS sw
       |       FROM ef JOIN lab la ON ef.src = la.id JOIN lab lb ON ef.dst = lb.id)
       |SELECT round(CAST(sw AS DOUBLE) / two_m
       |             - CAST(sd2 AS DOUBLE) / (CAST(two_m AS DOUBLE) * two_m),
       |       9) AS modularity FROM d2, wm""".stripMargin

  /** byte-identical mirror of TextOps.charEntropy: same replace-and-diff
    * counts, same left-associated summation trees (term order changes the
    * float result; both engines fold c0..c26 left-to-right). */
  private def charEntropySql: String = {
    val n = graft.pipeline.TextOps.entropyChars.size
    val cnts = graft.pipeline.TextOps.entropyChars.zipWithIndex.map {
      case (c, i) =>
        s"CAST(length(t) - length(replace(t, '$c', '')) AS DOUBLE) AS c$i"
    }
    val total = (0 until n).map(i => s"c$i").mkString(" + ")
    val terms = (0 until n).map { i =>
      s"(CASE WHEN c$i > 0.0 THEN -(c$i/total) * log2(c$i/total) ELSE 0.0 END)"
    }.mkString(" + ")
    s"""WITH l AS (SELECT doc_id, lower(text) AS t FROM documents),
       |c AS (SELECT doc_id, ${cnts.mkString(", ")} FROM l),
       |s AS (SELECT doc_id, ($total) AS total, ${(0 until n).map(i => s"c$i").mkString(", ")} FROM c)
       |SELECT doc_id,
       |  round(CASE WHEN total > 0.0 THEN ($terms) ELSE 0.0 END, 6) AS char_entropy
       |FROM s""".stripMargin
  }

  private def docFingerprintSql: String = {
    // 31^k mod (2^31-1), k = 15..0, matching TextOps.fingerprints
    def powMod31(k: Int): Long = {
      var r = 1L; var i = 0
      while (i < k) { r = r * 31 % 2147483647L; i += 1 }
      r
    }
    val terms = (1 to 16).map { i =>
      s"(ascii(substr(h16, $i, 1)) * CAST(${powMod31(16 - i)} AS BIGINT)) % 2147483647"
    }.mkString(" + ")
    s"""WITH n AS (SELECT doc_id,
       |    lower(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')) AS norm
       |  FROM documents),
       |h AS (SELECT doc_id, norm,
       |    substr(norm || '################', 1, 16) AS h16 FROM n)
       |SELECT doc_id, md5(norm) AS fingerprint,
       |  ($terms) % 2147483647 AS rolling_hash
       |FROM h""".stripMargin
  }

  /** byte-identical mirror of Dedup.polyHash over an arbitrary SQL expr */
  private def sqlPolyHash(e: String, base: Long, prime: Long, lenMul: Long): String = {
    val n = Dedup.hashPrefixLen
    val terms = (1 to n).map { i =>
      s"(ascii(substr(rpad($e, $n, '#'), $i, 1)) * CAST(${Dedup.powMod(base, n - i, prime)} AS BIGINT)) % $prime"
    }.mkString(" + ")
    s"(($terms) + (length($e) * $lenMul) % $prime) % $prime"
  }
  /** mirror of Dedup.tokenHash */
  private val sqlTokenHash: String = sqlPolyHash("tok", 31, 2147483647L, 10007L)
  /** mirror of Dedup.shingleId (62-bit combined hash; the second component
    * reads the TRAILING window via reverse — see Dedup.tokenHash2) */
  private def sqlShingleId(e: String): String =
    s"(${sqlPolyHash(e, 31, 2147483647L, 10007L)}) * 2147483648" +
      s" + (${sqlPolyHash(s"reverse($e)", 37, 2147483629L, 10009L)})"
  /** mirror of Dedup.horner3 over a 1-based DuckDB list slice at i..i+2 */
  private def sqlHorner3(arr: String, prime: Long): String =
    s"((($arr[i] * ${Dedup.shingleK} + $arr[i+1]) % $prime) * " +
      s"${Dedup.shingleK} + $arr[i+2]) % $prime"

  /** mirror of Dedup.shingleIdRows as chained CTEs `t, hh, s0` — `s0` is the
    * distinct (doc_id, shingle) table of 62-bit ids from per-token hashes;
    * shared by the ngram_jaccard and minhash oracles. */
  /** threshold-0.05 word-shingle Jaccard pairs (shared by `ngram_jaccard`
    * and the `dedup_clusters` edge source) */
  private def ngramJaccardSql: String =
    s"""WITH $sqlShingleCtes,
       |rare AS (SELECT shingle FROM s0 GROUP BY shingle HAVING count(*) <= 50),
       |s AS (SELECT s0.doc_id, s0.shingle FROM s0 JOIN rare USING (shingle)),
       |cnt AS (SELECT doc_id, count(*) AS n_sh FROM s GROUP BY doc_id),
       |com AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS common
       |        FROM s a JOIN s b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |        GROUP BY 1, 2)
       |SELECT doc_a, doc_b,
       |  round(CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common), 6) AS jaccard
       |FROM com JOIN cnt ca ON ca.doc_id = doc_a JOIN cnt cb ON cb.doc_id = doc_b
       |WHERE CAST(common AS DOUBLE) / (ca.n_sh + cb.n_sh - common) >= 0.05"""
      .stripMargin

  /** mirror of Selection.occRows as chained CTEs `t, hh, occ`: one row per
    * token OCCURRENCE with the 62-bit token id and the 62-bit id of the
    * bigram starting there (NULL on each doc's last token). */
  private def sqlOccCtes: String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w
       |           FROM documents),
       |hh AS (SELECT doc_id,
       |         list_transform(w, tok -> ${sqlPolyHash("tok", 31, 2147483647L, 10007L)}) AS h1,
       |         list_transform(w, tok -> ${sqlPolyHash("reverse(tok)", 37, 2147483629L, 10009L)}) AS h2
       |       FROM t),
       |occ AS (SELECT doc_id, h1[i] * 2147483648 + h2[i] AS uid,
       |         CASE WHEN i < len(h1) THEN
       |           ((h1[i] * ${Dedup.shingleK} + h1[i+1]) % 2147483647) * 2147483648
       |             + (h2[i] * ${Dedup.shingleK} + h2[i+1]) % 2147483629
       |         END AS bid
       |       FROM hh, unnest(range(1, len(h1) + 1)) u(i))""".stripMargin

  /** mirror of Selection.lmBits (add-k bigram LM, k = 0.5) */
  private def lmBitsSql: String =
    s"""WITH $sqlOccCtes,
       |cu AS (SELECT uid AS id, count(*) AS c FROM occ GROUP BY 1),
       |cb AS (SELECT bid AS id, count(*) AS c FROM occ WHERE bid IS NOT NULL GROUP BY 1),
       |v AS (SELECT count(*) AS v FROM cu),
       |p AS (SELECT o.doc_id, (ln(cu.c + 0.5 * v.v) - ln(cb.c + 0.5)) / ln(2) AS bits
       |      FROM occ o JOIN cu ON cu.id = o.uid JOIN cb ON cb.id = o.bid CROSS JOIN v
       |      WHERE o.bid IS NOT NULL),
       |pd AS (SELECT doc_id, count(*) AS nb, round(avg(bits), 6) AS lm_bits FROM p GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(pd.nb, 0) AS BIGINT) AS n_bigrams, pd.lm_bits
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin

  /** mirror of Selection.dsirWeights (B = 4093 buckets, k = 0.5, target =
    * every 97th doc; target features = the raw features of target docs) */
  private def dsirSql: String = {
    val b = 4093
    s"""WITH $sqlOccCtes,
       |fr AS (SELECT doc_id, uid % $b AS bucket FROM occ
       |       UNION ALL SELECT doc_id, bid % $b FROM occ WHERE bid IS NOT NULL),
       |ft AS (SELECT * FROM fr WHERE doc_id % 97 = 0),
       |cr AS (SELECT bucket, count(*) AS c FROM fr GROUP BY 1),
       |ct AS (SELECT bucket, count(*) AS c FROM ft GROUP BY 1),
       |nr AS (SELECT count(*) AS n FROM fr),
       |nt AS (SELECT count(*) AS n FROM ft),
       |dom AS (SELECT u.b AS bucket FROM unnest(range(0, $b)) u(b)),
       |lam AS (SELECT dom.bucket,
       |         ln((coalesce(ct.c, 0) + 0.5) / (nt.n + 0.5 * $b))
       |       - ln((coalesce(cr.c, 0) + 0.5) / (nr.n + 0.5 * $b)) AS lam
       |        FROM dom LEFT JOIN cr USING (bucket) LEFT JOIN ct USING (bucket)
       |        CROSS JOIN nr CROSS JOIN nt),
       |pd AS (SELECT f.doc_id, count(*) AS nf, round(sum(l.lam), 6) AS dsir_logw
       |       FROM fr f JOIN lam l ON l.bucket = f.bucket GROUP BY 1)
       |SELECT d.doc_id, CAST(coalesce(pd.nf, 0) AS BIGINT) AS n_feats, pd.dsir_logw
       |FROM documents d LEFT JOIN pd ON pd.doc_id = d.doc_id""".stripMargin
  }

  private def sqlShingleCtes: String =
    s"""t AS (SELECT doc_id, regexp_split_to_array(trim(text), ' +') AS w
       |           FROM documents),
       |hh AS (SELECT doc_id,
       |         list_transform(w, tok -> ${sqlPolyHash("tok", 31, 2147483647L, 10007L)}) AS h1,
       |         list_transform(w, tok -> ${sqlPolyHash("reverse(tok)", 37, 2147483629L, 10009L)}) AS h2
       |       FROM t),
       |s0 AS (SELECT DISTINCT doc_id,
       |         (${sqlHorner3("h1", 2147483647L)}) * 2147483648
       |           + (${sqlHorner3("h2", 2147483629L)}) AS shingle
       |       FROM hh, unnest(range(1, greatest(len(h1) - 1, 1))) u(i))""".stripMargin

  private val minhashCoefSql: Seq[(Long, Long)] = Seq(
    (1103515245L, 12345L), (69069L, 362437L), (1664525L, 1013904223L),
    (22695477L, 1L), (134775813L, 1L), (214013L, 2531011L),
    (48271L, 0L), (16807L, 0L))

  private def minhashSql: String = {
    val mins = minhashCoefSql.zipWithIndex.map { case ((a, b), i) =>
      s"min((h31 * $a + $b) % 2147483647) AS mh$i"
    }.mkString(", ")
    // shingle-based MinHash (mirrors Dedup.minhashSignatures: 62-bit
    // token-hash shingle ids folded to 31 bits for the permutations)
    s"""WITH $sqlShingleCtes,
       |h AS (SELECT doc_id, shingle % 2147483647 AS h31 FROM s0)
       |SELECT doc_id, $mins FROM h GROUP BY doc_id""".stripMargin
  }

  private def minhashLshSql: String = {
    val bandSelects = (0 until 2).map { bnd =>
      val key = (0 until 4).foldLeft("CAST(0 AS BIGINT)") { (acc, r) =>
        s"(($acc) * 31 + mh${4 * bnd + r}) % 1000000007"
      }
      s"SELECT doc_id, $bnd AS band, $key AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sig AS ($minhashSql),
       |bands AS ($bandSelects)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  AND a.doc_id < b.doc_id""".stripMargin
  }

  private def simhashSql: String =
    s"""WITH tok AS (SELECT doc_id,
       |    unnest(regexp_split_to_array(trim(text), ' +')) AS tok FROM documents),
       |h AS (SELECT doc_id, ${sqlShingleId("tok")} AS h FROM tok),
       |bits AS (SELECT doc_id, h, unnest(range(0, ${Dedup.simhashBits})) AS bit FROM h),
       |bal AS (SELECT doc_id, bit,
       |    sum(((h >> bit) & 1) * 2 - 1) AS bal
       |  FROM bits GROUP BY doc_id, bit)
       |SELECT doc_id,
       |  CAST(sum(CASE WHEN bal > 0 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END)
       |    AS BIGINT) AS simhash
       |FROM bal GROUP BY doc_id""".stripMargin

  /** lshBucketsSql with nBits derived from corpus size (mirrors
    * Similarity.adaptiveBits: 2^nBits ≈ count/64, min 1). */
  private def lshBucketsDynSql: String =
    """WITH nb AS (SELECT greatest(1, CAST(ceil(log2(CAST(count(*) AS DOUBLE)
      |    / 64.0)) AS BIGINT)) AS n FROM embeddings),
      |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |proj AS (
      |  SELECT vec_id, j,
      |    sum(emb[k + 1] * ((((j * 64 + k) * 2654435761 % 2147483647) % 1000)
      |      / 1000.0 - 0.5)) AS p
      |  FROM e, unnest(range(0, (SELECT n FROM nb))) tj(j),
      |       unnest(range(0, len(emb))) tk(k)
      |  GROUP BY vec_id, j)
      |SELECT vec_id,
      |  CAST(sum(CASE WHEN p > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS bucket
      |FROM proj GROUP BY vec_id""".stripMargin

  /** mirror of Dedup.simhashDupPairs: pigeonhole bands (3 bands for ≤2)
    * over the 62-bit signature, exact hamming via bit_count(xor). */
  private def simhashDupPairsSql: String = {
    val maxHamming = 2
    val nBands = maxHamming + 1
    val bandBits = Dedup.simhashBits / nBands
    val bands = (0 until nBands).map { b =>
      val lo = b * bandBits
      val width = if (b == nBands - 1) Dedup.simhashBits - lo else bandBits
      s"SELECT doc_id, simhash, $b AS band, " +
        s"(simhash >> $lo) % ${1L << width} AS key FROM sig"
    }.mkString(" UNION ALL ")
    s"""WITH sig AS ($simhashSql),
       |bands AS ($bands)
       |SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |  CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
       |FROM bands a JOIN bands b ON a.band = b.band AND a.key = b.key
       |  AND a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.simhash, b.simhash)) <= $maxHamming""".stripMargin
  }

  private def lshBucketsSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
      |proj AS (
      |  SELECT vec_id, j,
      |    sum(emb[k + 1] * ((((j * 64 + k) * 2654435761 % 2147483647) % 1000)
      |      / 1000.0 - 0.5)) AS p
      |  FROM e, unnest(range(0, 8)) tj(j), unnest(range(0, len(emb))) tk(k)
      |  GROUP BY vec_id, j)
      |SELECT vec_id,
      |  CAST(sum(CASE WHEN p > 0 THEN CAST(pow(2.0, j) AS BIGINT) ELSE 0 END) AS BIGINT)
      |    AS bucket
      |FROM proj GROUP BY vec_id""".stripMargin
}
