package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning, PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** Package-private-bridging shim (the standard iterative-algorithm plan
  * truncation used by e.g. GraphFrames' AggregateMessages.getCachedDataFrame):
  * materialize a DataFrame to an InternalRow RDD and rewrap it as a brand-new
  * flat DataFrame.
  *
  * Why not `Dataset.localCheckpoint`? Spark's checkpoint carries the origin
  * plan's Statistics into the new LogicalRDD (`rewriteStatsAndConstraints`).
  * In an iterative loop where the previous state enters the next plan through
  * TWO branches (gather + convergence diff), the carried `sizeInBytes`
  * squares every iteration — BigInt digits double per round and driver-side
  * stats computation goes exponential (observed: iteration 21+ of a 5-node
  * PageRank taking minutes). Rewrapping resets stats to the default and
  * keeps per-iteration planning cost O(1).
  *
  * Unlike a plain `internalCreateDataFrame`, the rewrap PRESERVES the
  * executed plan's hash partitioning and sort order (what
  * `LogicalRDD.fromDataset` does, minus the stats): the next iteration's
  * sort-merge join against the pre-partitioned, pre-sorted adjacency then
  * needs NO exchange and NO sort on either side — the score-vector shuffle
  * that would otherwise run every round disappears.
  */
object GraftSqlShims {

  /** Test hook (package-private bridge): is Spark's CacheManager empty?
    * Used to assert the pipeline operators' unpersist discipline. */
  def cacheManagerIsEmpty(spark: SparkSession): Boolean =
    spark.asInstanceOf[classic.SparkSession].sharedState.cacheManager.isEmpty

  /** Column ↔ Expression bridges for graft's custom Catalyst expressions
    * (ExpressionUtils is private[sql]). */
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Rewrite physical output attrs to the analyzed output (positional, the
    * same correspondence fromDataset uses); drop anything that references
    * non-output attrs. */
  private def rewrite[E <: Expression](
      e: E, mapping: Map[Attribute, Attribute]): E =
    e.transform { case a: Attribute => mapping.getOrElse(a, a) }.asInstanceOf[E]

  private def usableHash(p: Partitioning,
                         mapping: Map[Attribute, Attribute],
                         out: AttributeSet,
                         expectedParts: Int): Partitioning = p match {
    case c: PartitioningCollection =>
      c.partitionings.map(usableHash(_, mapping, out, expectedParts))
        .find(_.isInstanceOf[HashPartitioning]).getOrElse(UnknownPartitioning(0))
    case h: HashPartitioning if h.numPartitions == expectedParts =>
      // a partition count diverging from spark.sql.shuffle.partitions (e.g.
      // AQE-coalesced) could bait EnsureRequirements into re-shuffling the
      // BIG side of the next join to match — only declare the standard count
      val r = rewrite(h, mapping)
      if (r.references.subsetOf(out)) r else UnknownPartitioning(0)
    case _ => UnknownPartitioning(0)
  }

  /** Materialize `df` into a persisted InternalRow RDD and return a fresh
    * DataFrame over it (no lineage, no carried stats; partitioning/ordering
    * metadata preserved) plus the RDD handle for later release. */
  def cachedDataFrame(df: DataFrame,
                      level: StorageLevel = StorageLevel.MEMORY_AND_DISK,
                      sumColumn: Option[String] = None)
      : (DataFrame, RDD[InternalRow], Double, Long) = {
    val spark = df.sparkSession.asInstanceOf[classic.SparkSession]
    val cdf = df.asInstanceOf[classic.DataFrame]
    // optional fused aggregation: sum a double column DURING materialization
    // (saves iterative algorithms one full job + driver round-trip per round).
    // The accumulator updates inside a transformation, and Spark only
    // guarantees exactly-once accumulation for updates in ACTIONS — a
    // cluster-side task retry or speculative duplicate can OVER-count. That
    // is safe for every consumer in this engine: the sum is a convergence
    // metric compared against `> tol` / `> 0`, updates are non-negative
    // (|diffs|), and the RDD is persisted by this very pass so the plan is
    // computed exactly once per partition in the common case — over-counting
    // can only delay convergence by an extra iteration, never terminate it
    // early or corrupt a result. Consumers needing an exact sum must rerun
    // an agg over the returned (materialized) DataFrame instead.
    val sumAcc = spark.sparkContext.doubleAccumulator("ckptSum")
    val rdd = sumColumn match {
      case Some(name) =>
        val idx = df.schema.fieldIndex(name)
        cdf.queryExecution.toRdd.map { r => sumAcc.add(r.getDouble(idx)); r.copy() }
          .persist(level)
      case None => cdf.queryExecution.toRdd.map(_.copy()).persist(level)
    }
    // RDD-level localCheckpoint: truncates the RDD lineage chain too (task
    // closures would otherwise serialize a per-iteration-growing RDD DAG)
    rdd.localCheckpoint()
    // eager materialization (also fixes AQE's final plan); the count is
    // returned so loop drivers get their size-based stop check for free
    val n = rdd.count()
    // AdaptiveSparkPlanExec reports UnknownPartitioning itself — read the
    // FINAL physical plan (fixed once the RDD has executed)
    val exec = cdf.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val out = cdf.queryExecution.analyzed.output
    val mapping = exec.output.zip(out).toMap
    val outSet = AttributeSet(out)
    val expectedParts = spark.sessionState.conf.numShufflePartitions
    val part = usableHash(exec.outputPartitioning, mapping, outSet, expectedParts)
    val order =
      if (part.isInstanceOf[HashPartitioning])
        exec.outputOrdering.map(rewrite(_, mapping))
          .filter(_.references.subsetOf(outSet))
      else Seq.empty[SortOrder]
    val plan = LogicalRDD(out, rdd, part, order, isStreaming = false)(spark)
    (classic.Dataset.ofRows(spark, plan), rdd, sumAcc.value, n)
  }
}
