package graft.algos

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.core.Ckpt

/** Whole-graph structural statistics a web-link-graph pipeline reports
  * alongside the reference's algorithm suite: local clustering coefficient
  * (triangle recipe re-used per corner — reference
  * `/root/reference/graphblas/core/matrix.py` masked `plus_pair` square, cf.
  * TriangleCount), degree assortativity, edge reciprocity, and a log2-binned
  * degree histogram.
  *
  * Scale notes: every operator here is one or two hash aggregations over the
  * edge list plus (for lcc, transitivity and generalized degree) the
  * degree-ORIENTED triangle enumeration of `graft.core.Triangles`, whose
  * rows are bounded by O(√E) per vertex — no all-pairs joins, no
  * driver-side iteration, nothing keyed on an unbounded value domain.
  */
object GraphStats {

  /** Per-vertex local clustering coefficient over a symmetric, deduplicated,
    * loop-free edge set: lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), 0 where
    * deg < 2. Triangles are enumerated once at their (deg,id)-min corner
    * on the triangle kernel (KTruss.orientedTriangles) and scattered to all
    * three corners — the per-corner count is exact, not the oriented one.
    * Output (id, deg, lcc), lcc rounded to 6 decimals. */
  def localClustering(edgesSym: DataFrame, numPartitions: Int): DataFrame = {
    // the symmetric input feeds the degrees and the kernel's two reads (its
    // vertex count, whose job materializes the cache, and its build)
    val e = edgesSym.select(col("src"), col("dst")).persist()
    try {
      val (tri, o) = KTruss.orientedTriangles(e, numPartitions)
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
      // one Generate over the triangle rows beats three unionAll branches
      // that would each re-run the intersections
      val corners = tri
        .select(explode(array(col("a"), col("b"), col("c"))).as("id"))
        .groupBy("id").agg(count(lit(1)).as("tri"))
      val out = Ckpt.materialize(
        deg.join(corners, Seq("id"), "left")
          .select(col("id"), col("deg"),
            when(col("deg") < 2, lit(0.0)).otherwise(
              round(coalesce(col("tri"), lit(0L)) * 2.0
                / (col("deg") * (col("deg") - 1)), 6)).as("lcc")))
      o.unpersist()
      out.df // |V| rows — blocks back the returned frame, released with the session
    } finally e.unpersist(false)
  }

  /** Degree assortativity: Pearson r of (deg(src), deg(dst)) over the
    * directed-symmetric edge list. Computed from EXACT integer moment sums
    * (degrees are longs; the five sums fit int64 far past these fixtures)
    * combined in ONE closed-form double expression — bit-stable across
    * partitionings, unlike a floating corr() whose accumulation order is
    * partition-dependent. Output a single (assortativity) row, 6 decimals. */
  def assortativity(edgesSym: DataFrame): DataFrame = {
    val deg = edgesSym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val xy = edgesSym
      .join(deg.select(col("id").as("src"), col("deg").as("x")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("y")), "dst")
    xy.agg(
        count(lit(1)).as("n"),
        sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"),
        sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"))
      .select(
        (col("n") * col("sxy") - col("sx") * col("sy")).cast("double").as("num"),
        (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
          * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double")))
          .as("den"))
      // zero degree variance on either side (e.g. a regular graph or a
      // single self-loop) leaves Pearson r undefined — NaN, the networkx
      // convention, rather than ANSI mode's DIVIDE_BY_ZERO error
      .select(round(when(col("den") === 0.0, lit(Double.NaN))
        .otherwise(col("num") / col("den")), 6).as("assortativity"))
  }

  /** Reciprocity of a DIRECTED edge set: |{(u,v) : (v,u) ∈ E}| / |E|.
    * One semi-join on the reversed set + two scalar counts. */
  def reciprocity(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst")).persist()
    e.count()
    try {
      val rev = e.select(col("dst").as("src"), col("src").as("dst"))
      val m = e.agg(count(lit(1)).as("m"))
      val r = e.join(rev, Seq("src", "dst"), "left_semi")
        .agg(count(lit(1)).as("r"))
      // two single-row frames — the cross join is 1×1
      m.crossJoin(r)
        .select(round(col("r").cast("double") / col("m"), 6).as("reciprocity"))
    } finally e.unpersist(false)
  }

  /** Log2-binned out-degree histogram: bucket = floor(log2(deg)) + 1,
    * computed EXACTLY as the bit length of the binary string (no floating
    * log at power-of-two boundaries). Output (bucket, n_vertices). */
  def degreeHistogram(edges: DataFrame): DataFrame =
    edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .groupBy(length(bin(col("deg"))).as("bucket"))
      .agg(count(lit(1)).as("n_vertices"))

  /** Newman modularity of a vertex partition (Newman & Girvan 2004) over a
    * SYMMETRIC, deduplicated, loop-free edge set — the standard "did the
    * community algorithm find real structure" score for LPA/CC output:
    * Q = Σ_c [ W_c/2m − (D_c/2m)² ], with W_c the directed-symmetric edge
    * count inside community c, D_c its total degree, 2m = |edges|.
    *
    * Like assortativity above, Q is combined from EXACT integer aggregates
    * (Sw = Σ_c W_c via one filtered count; Sd2 = Σ_c D_c² — fits int64 while
    * Σ_c D_c² < 9·10^18, i.e. until a single community's degree mass passes
    * ~3·10^9; past that, recompute with dc cast to double) in ONE closed-form
    * double expression, so the result is bit-stable across partitionings.
    * `labels`: (id, label) covering every edge endpoint. Output a single
    * (modularity) row rounded to 9 decimals. */
  def modularity(edgesSym: DataFrame, labels: DataFrame): DataFrame = {
    val l = labels.select(col("id"), col("label"))
    val deg = edgesSym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    val sd2 = deg.join(l, "id")
      .groupBy("label").agg(sum(col("deg")).as("dc"))
      .agg(sum(col("dc") * col("dc")).as("sd2"))
    val swm = edgesSym
      .join(l.select(col("id").as("src"), col("label").as("cs")), "src")
      .join(l.select(col("id").as("dst"), col("label").as("cd")), "dst")
      .agg(count(lit(1)).as("two_m"),
        count_if(col("cs") === col("cd")).as("sw"))
    // two single-row frames — the cross join is 1×1
    swm.crossJoin(sd2).select(round(
      col("sw").cast("double") / col("two_m")
        - col("sd2").cast("double")
          / (col("two_m").cast("double") * col("two_m")),
      9).as("modularity"))
  }

  /** s-metric (Li, Alderson, Doyle & Willinger 2005; graphblas-algorithms
    * `smetric.py`): s(G) = Σ_{(u,v)∈E} deg(u)·deg(v) over the UNDIRECTED
    * edge set (each edge once — the canonical src < dst half of the
    * symmetric input). High s means hubs attach to hubs. EXACT int64 sum
    * (overflows only past Σ deg·deg ≈ 9·10^18, i.e. ~10^9 edges of
    * degree ~10^5 — recompute in double past that). One degree aggregation
    * + two joins + a scalar sum; output a single (s_metric) row. */
  def sMetric(edgesSym: DataFrame): DataFrame = {
    val deg = edgesSym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    edgesSym.filter(col("src") < col("dst"))
      .join(deg.select(col("id").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("dv")), "dst")
      .agg(sum(col("du") * col("dv")).as("s_metric"))
  }

  /** Global transitivity: 3·|triangles| / |wedges| with wedges counted as
    * Σ_v C(deg(v), 2) — the whole-graph ratio beside [[localClustering]]'s
    * per-vertex coefficient (graphblas-algorithms `cluster.py`
    * transitivity; reference kernels: the same masked `plus_pair` square,
    * here the triangle kernel through KTruss.orientedTriangles). Both
    * counts are EXACT int64 aggregates combined in one closed-form double,
    * so the result is bit-stable across partitionings. Wedge-free
    * graphs (max degree < 2) yield 0. Output a single (transitivity) row,
    * 9 decimals. */
  def transitivity(edgesSym: DataFrame, numPartitions: Int): DataFrame = {
    val e = edgesSym.select(col("src"), col("dst")).persist()
    try {
      val (tri, o) = KTruss.orientedTriangles(e, numPartitions)
      // 2·wedges as an EXACT int64 (deg·(deg−1) is even; halving folds into
      // the final ratio so no long→double division happens mid-aggregate)
      val wedges2 = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .agg(sum(col("deg") * (col("deg") - 1)).as("w2"))
      val nt = tri.agg(count(lit(1)).as("t"))
      // materialize the 1-row result before freeing the kernel it scans
      // (same discipline as localClustering's output)
      val out = Ckpt.materialize(nt.crossJoin(wedges2).select(
        when(col("w2") === 0, lit(0.0)).otherwise(
          round(col("t") * 6.0 / col("w2"), 9)).as("transitivity")))
      o.unpersist()
      out.df
    } finally e.unpersist(false)
  }

  /** Square (C4) clustering coefficient (Lind, González & Herrmann 2005;
    * graphblas-algorithms `cluster.py` square_clustering): the fraction of
    * possible squares through each vertex,
    *
    *   C4(v) = Σ_{u<w ∈ N(v)} q_v(u,w) / Σ_{u<w ∈ N(v)} (k_u + k_w − q_v(u,w) − 2 − 2θ_uw)
    *
    * with q_v(u,w) = |N(u)∩N(w)| − 1 (common neighbors besides v) and
    * θ_uw = 1 iff u~w. The denominator is NetworkX's
    * (k_u − degm) + (k_w − degm) + q with degm = q + 1 + θ, expanded so
    * every per-pair term is exact int64 and the only float op is the final
    * ratio.
    *
    * Relational shape: ONE wedge table (c, u<w) — the self-join of the
    * neighbor list on the center — serves both sides: q comes from the
    * wedge-pair multiplicity (cn(u,w) = #wedges between u and w counts
    * exactly the common neighbors), θ from a left join against the
    * canonical edge set, degrees from one aggregation. No 4-path
    * enumeration: squares are never materialized, only counted through cn.
    *
    * Scale: the wedge table is Σ_v C(deg v, 2) rows — inherent to the
    * definition (every pair at distance 2 must be inspected). Unlike the
    * triangle kernels there is NO orientation trick (wedges are needed at
    * every center), so hub vertices dominate the cost quadratically: at web
    * scale ONE 10⁶-degree hub is 10¹² wedge rows from a single key.
    *
    * Scale guard (`maxCenterDeg`): centers with deg > cap are dropped from
    * wedge generation BEFORE the self-join — the same df-cap contract as
    * [[LinkPrediction.adamicAdar]]. Documented bias: a capped hub (a) gets
    * score 0 itself (no wedges at that center) and (b) stops counting as a
    * common neighbor in q for the pairs it connects (cn is the wedge-pair
    * multiplicity, so it only sees surviving centers); ku/kw in the
    * denominator stay UNcapped — the cap bounds the candidate generator,
    * not the degree terms. Capped ≡ uncapped whenever max degree ≤ cap.
    * Output (id, sq) for every vertex with an incident edge (capped hubs
    * included, at 0), 6 decimals; vertices with no valid pair score 0. */
  def squareClustering(edgesSym: DataFrame, numPartitions: Int,
                       maxCenterDeg: Int = Int.MaxValue): DataFrame = {
    val e = edgesSym.select(col("src"), col("dst")).persist()
    e.count()
    try {
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .select(col("src").as("id"), col("deg"))
      val nbrAll = e.select(col("src").as("c"), col("dst").as("u"))
      val nbr =
        if (maxCenterDeg == Int.MaxValue) nbrAll
        else nbrAll.join(
          deg.filter(col("deg") <= maxCenterDeg).select(col("id").as("c")),
          Seq("c"), "left_semi")
      val wedges = nbr.join(nbr.withColumnRenamed("u", "w"), Seq("c"))
        .filter(col("u") < col("w"))
        .repartition(numPartitions, col("u"), col("w")).persist()
      wedges.count() // feeds cn AND the final join — scan the 2-hop set once
      try {
        val cn = wedges.groupBy("u", "w").agg(count(lit(1)).as("cn"))
        val theta = e.filter(col("src") < col("dst"))
          .select(col("src").as("u"), col("dst").as("w"), lit(1L).as("theta"))
        val pairs = cn.join(theta, Seq("u", "w"), "left")
          .select(col("u"), col("w"), (col("cn") - 1).as("q"),
            coalesce(col("theta"), lit(0L)).as("theta"))
        val terms = wedges.join(pairs, Seq("u", "w"))
          .join(deg.select(col("id").as("u"), col("deg").as("ku")), "u")
          .join(deg.select(col("id").as("w"), col("deg").as("kw")), "w")
          .groupBy(col("c").as("id")).agg(
            sum(col("q")).as("num"),
            sum(col("ku") + col("kw") - col("q") - 2 - col("theta") * 2)
              .as("den"))
        val out = Ckpt.materialize(deg
          .join(terms, Seq("id"), "left")
          .select(col("id"),
            when(coalesce(col("den"), lit(0L)) === 0, lit(0.0))
              .otherwise(round(col("num").cast("double") / col("den"), 6))
              .as("sq")))
        out.df
      } finally wedges.unpersist(false)
    } finally e.unpersist(false)
  }

  /** Generalized degree (Jiao et al.; NetworkX/graphblas-algorithms
    * `cluster.py` generalized_degree): per vertex, the histogram of how
    * many triangles each incident edge sits on — (id, t, n_edges) rows
    * meaning "v has n_edges edges that each close exactly t triangles".
    * Σ_t n_edges = deg(v) and Σ_t t·n_edges = 2·tri(v). Per-edge triangle
    * support comes from the shared oriented enumeration on the triangle
    * kernel (KTruss.supportCanon — O(√E) oriented rows), scattered to both
    * endpoints; support-0 edges join back via the full edge list. */
  def generalizedDegree(edgesSym: DataFrame, numPartitions: Int): DataFrame = {
    val e = edgesSym.select(col("src"), col("dst")).persist()
    try {
      // the kernel's vertex count materializes the cached input
      val supC = KTruss.supportCanon(e, numPartitions)
      // Scatter the canonical support rows to BOTH endpoints directly and
      // derive the t = 0 bucket by difference against the degree — the
      // former full-edge-set left join on (least, greatest) expressions
      // (an edge-scale shuffle + sort on derived keys) is gone; only the
      // (much smaller) triangle-edge rows are shuffled, and deg comes from
      // one hash aggregation over the persisted edge list. n_edges(id, 0)
      // = deg(id) − #triangle edges at id, exactly the rows the old join
      // produced for sup-less edges.
      val supSym = supC.df.select(col("src").as("id"), col("sup").as("t"))
        .unionByName(supC.df.select(col("dst").as("id"), col("sup").as("t")))
      // (id, t ≥ 1) histogram — materialized once, feeds the t=0 difference
      val pos = Ckpt.materialize(
        supSym.groupBy("id", "t").agg(count(lit(1)).as("n_edges")))
      val deg = e.groupBy(col("src").as("id")).agg(count(lit(1)).as("deg"))
      val npos = pos.df.groupBy("id").agg(sum(col("n_edges")).as("npos"))
      val zero = deg.join(npos, Seq("id"), "left")
        .select(col("id"), lit(0L).as("t"),
          (col("deg") - coalesce(col("npos"), lit(0L))).as("n_edges"))
        .filter(col("n_edges") > 0)
      val out = Ckpt.materialize(pos.df.unionByName(zero))
      supC.release()
      pos.release()
      out.df
    } finally e.unpersist(false)
  }

  /** Rich-club coefficient (Colizza et al. 2006; NetworkX
    * `rich_club_coefficient(normalized=False)`): for every degree threshold
    * k, φ(k) = 2·E_k / (N_k·(N_k−1)) where N_k vertices and E_k undirected
    * edges survive the deg > k filter. Computed WITHOUT per-k passes over
    * the graph: one degree histogram and one per-edge min-endpoint-degree
    * histogram, then a (k × distinct-degree) theta-join suffix sum — both
    * histograms are O(max_deg) rows, so the join is bounded by the DEGREE
    * DOMAIN, never |V| or |E|, and scales independently of the graph size.
    * Rows with N_k < 2 are dropped (φ undefined). Output (k, n_k, e_k,
    * phi), phi rounded to 6 decimals, k ∈ [0, max_deg). */
  def richClub(edgesSym: DataFrame): DataFrame = {
    val deg = edgesSym.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("id"), col("deg"))
    // vertex-degree histogram and per-canonical-edge min-degree histogram
    val dh = deg.groupBy("deg").agg(count(lit(1)).as("n"))
    val mh = edgesSym.filter(col("src") < col("dst"))
      .join(deg.select(col("id").as("src"), col("deg").as("du")), "src")
      .join(deg.select(col("id").as("dst"), col("deg").as("dv")), "dst")
      .groupBy(least(col("du"), col("dv")).as("m")).agg(count(lit(1)).as("n"))
    val ks = dh.agg(max(col("deg")).as("mx"))
      .select(explode(sequence(lit(0L), col("mx") - 1)).as("k"))
    val nk = ks.join(dh, dh("deg") > ks("k"))
      .groupBy("k").agg(sum(col("n")).as("n_k"))
    val ek = ks.join(mh, mh("m") > ks("k"))
      .groupBy("k").agg(sum(col("n")).as("e_k"))
    nk.join(ek, Seq("k"), "left")
      .filter(col("n_k") >= 2)
      .select(col("k"), col("n_k"), coalesce(col("e_k"), lit(0L)).as("e_k"),
        round(coalesce(col("e_k"), lit(0L)) * 2.0
          / (col("n_k") * (col("n_k") - 1)), 6).as("phi"))
  }
}
