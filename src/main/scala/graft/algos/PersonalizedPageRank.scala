package graft.algos

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Ckpt
import graft.graph.Adjacency

/** Personalized (topic-sensitive) PageRank: identical recurrence to
  * `PageRank.run` (the reference's `pagerank_3f`,
  * `/root/reference/notebooks/Pagerank Demo.ipynb` — sinks drop out, no
  * redistribution), except the uniform teleport scalar becomes a teleport
  * VECTOR concentrated on a seed set S:
  *
  *   r0 = e_S / |S| ;  tp = (1-damping) · e_S / |S|
  *   loop: r = tp + damping · Aᵀ(r/d_out)
  *
  * Spark-first shape: the per-vertex teleport is carried as a third state
  * column (`tp`) through a zero-exchange Catalyst loop — the seed set is
  * broadcast-joined exactly ONCE at init, after which each iteration is a
  * join(adjacency)→explode→partial-agg→left-outer-completion plan with
  * `col("tp")` as the teleport term. No extra join, shuffle, or job per
  * iteration.
  */
object PersonalizedPageRank {

  /** @param seeds single-column (`id`) DataFrame of teleport targets;
    *              assumed small (broadcast) and within [0, numVertices). */
  def run(spark: SparkSession, adj: Adjacency, seeds: DataFrame,
          damping: Double = 0.85, tol: Double = 1e-4,
          maxIter: Int = 100): PageRankResult = {
    val n = adj.numVertices
    val p = adj.numPartitions
    val sd = seeds.select(col("id").as("_sid")).distinct()
    val nSeeds = sd.count()
    require(nSeeds > 0, "personalized PageRank needs a non-empty seed set")

    val init = spark.range(n).repartition(p, col("id"))
      .join(broadcast(sd), col("id") === col("_sid"), "left_outer")
      .select(col("id"),
        when(col("_sid").isNotNull, lit(1.0 / nSeeds)).otherwise(lit(0.0)).as("v"),
        when(col("_sid").isNotNull, lit((1.0 - damping) / nSeeds))
          .otherwise(lit(0.0)).as("tp"))

    var state = Ckpt.materialize(init)
    var t = state.df
    var iter = 0
    var rdiff = Double.NaN

    // One PPR step as a plan. The completion universe is (id, tp) from the
    // CACHED state — `tp` never changes across iterations, so reading it
    // from `t` (instead of `prev`) keeps `prev` referenced exactly once and
    // lets steps chain without subtree recomputation.
    def stepPlan(prev: DataFrame): DataFrame = {
      val contrib = adj.rows.alias("a")
        .join(prev.alias("s"), col("a.src") === col("s.id"))
        .select(col("a.dsts").as("_ds"), (col("s.v") * damping / col("a.deg")).as("c"))
        .select(explode(col("_ds")).as("_dn"), col("c"))
        .select(col("_dn").cast("long").as("dst"), col("c"))
      val g = contrib.groupBy("dst").agg(sum(col("c")).as("g"))
      t.select(col("id"), col("tp")).alias("u")
        .join(g.alias("g"), col("u.id") === col("g.dst"), "left_outer")
        .select(col("u.id").as("id"),
          (col("u.tp") + coalesce(col("g.g"), lit(0.0))).as("v"),
          col("u.tp").as("tp"))
    }

    // Exact-iteration fast path (tol == 0): two chained steps per
    // materialized job — same scores, half the state materializations
    // (the state-cache write and the job round-trip are paid half as often).
    // `finalRdiff` stays NaN when the last round was such a pair.
    val exactIters = tol == 0.0
    while (exactIters && maxIter - iter >= 2) {
      val newState = Ckpt.materialize(stepPlan(stepPlan(t)))
      state.release()
      state = newState
      t = newState.df
      iter += 2
    }

    while (iter < maxIter && !(rdiff <= tol)) {
      // the pagerank_3f gather: per-source factor projected BELOW the
      // explode (once per source, not once per generated edge row)
      val contrib = adj.rows
        .join(t, adj.rows("src") === t("id"))
        .select(col("dsts"), (col("v") * damping / col("deg")).as("c"))
        .select(explode(col("dsts")).as("_dn"), col("c"))
        .select(col("_dn").cast("long").as("dst"), col("c"))
      val gathered = contrib.groupBy("dst").agg(sum(col("c")).as("g"))
      val steppedPlan = t.select(col("id"), col("tp"), col("v").as("_ov"))
        .join(gathered, col("id") === gathered("dst"), "left_outer")
        .select(col("id"),
          (col("tp") + coalesce(col("g"), lit(0.0))).as("v"),
          col("tp"),
          abs(col("tp") + coalesce(col("g"), lit(0.0)) - col("_ov")).as("_d"))
      val (newState, d) = Ckpt.materializeWithSum(steppedPlan, "_d")
      rdiff = d
      state.release()
      state = newState
      t = newState.df.select(col("id"), col("v"), col("tp"))
      iter += 1
    }
    PageRankResult(t.select(col("id"), col("v")), iter,
      adj.numEdges * iter.toLong, rdiff)
  }
}
