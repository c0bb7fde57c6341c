package graft.tools

import org.apache.spark.JobCounts
import org.apache.spark.sql.functions._
import graft.GraftSession

/** Memory-headroom stress leg (VERDICT r5 item 4): run the three
  * representative heavy operators — pagerank, connected_components,
  * dedup_exact — on a 10× bench-scale input (sf1-shaped: 6M lineitem rows,
  * 50k documents) and record per-query wall time, PEAK task execution
  * memory, and total memory/disk spill. This is a separate dev main
  * (Bench.scala is frozen); its numbers are cited in BENCH/BASELINE.md.
  *
  * The input is synthesized DETERMINISTICALLY from the sf0.1 fixtures: ten
  * copies of every column, so any query over lineitem or documents can read
  * them, copy i with its join keys shifted by i·10⁷ (lineitem) / doc_id
  * shifted by i·10⁶ and text prefixed "c<i>|" (documents) — so the derived
  * graph keeps the fixture's degree shape at 10× the rows and the dedup
  * corpus keeps the intra-copy duplicate structure. The dir is named
  * `.../sf1` so SparkEntry's scale parsing derives the sf1 vertex modulus
  * (31536) and input-sized partition counts, exactly as a real sf1 input
  * would. Synthesized under target/ and reused if present (fixture data,
  * not result caching — every measured query recomputes from parquet).
  *
  * Usage: StressLeg [baseSfDir] [outDir]
  */
object StressLeg {

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/stress/sf1"
    val spark = GraftSession()

    if (!new java.io.File(out + "/_DONE").exists()) {
      spark.sparkContext.setJobDescription("stress: synthesize sf1 input")
      val li = spark.read.parquet(s"$base/lineitem.parquet")
      val docs = spark.read.parquet(s"$base/documents.parquet")
      val li10 = (0 until 10).map { i =>
        li.select(li.columns.map {
          case c @ ("l_orderkey" | "l_partkey") => (col(c) + lit(i * 10000000L)).as(c)
          case c => col(c)
        }.toSeq: _*)
      }.reduce(_ union _)
      li10.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")
      val docs10 = (0 until 10).map { i =>
        docs.select(docs.columns.map {
          case "doc_id" => (col("doc_id") + lit(i * 1000000L)).as("doc_id")
          case "text" => concat(lit(s"c$i|"), col("text")).as("text")
          case c => col(c)
        }.toSeq: _*)
      }.reduce(_ union _)
      docs10.repartition(8).write.mode("overwrite").parquet(s"$out/documents.parquet")
      new java.io.File(out + "/_DONE").createNewFile()
    }

    val heapMax = Runtime.getRuntime.maxMemory() / 1e9
    println(f"[stress] input=$out cpus=${GraftSession.cpus} heapMax=$heapMax%.1fGB")
    Seq("pagerank", "connected_components", "dedup_exact").foreach { q =>
      spark.sparkContext.setJobDescription(s"stress: $q @ sf1")
      val ((rows, sec), c) = JobCounts(spark) {
        val t0 = System.nanoTime()
        val rows = graft.SparkEntry.queries(q)(spark, out).count()
        (rows, (System.nanoTime() - t0) / 1e9)
      }
      val usedHeap = (Runtime.getRuntime.totalMemory() -
        Runtime.getRuntime.freeMemory()) / 1e9
      println(f"[stress] $q%-22s sec=$sec%7.2f rows=$rows%8d " +
        f"peakTaskExecMem=${c.peakExecMemory.get / 1e6}%8.1fMB " +
        f"memSpill=${c.memorySpillBytes.get / 1e6}%8.1fMB " +
        f"diskSpill=${c.diskSpillBytes.get / 1e6}%8.1fMB " +
        f"shufWrite=${c.shuffleWriteBytes.get / 1e6}%8.1fMB " +
        f"heapUsed=$usedHeap%5.1fGB")
    }
    spark.stop()
  }
}
