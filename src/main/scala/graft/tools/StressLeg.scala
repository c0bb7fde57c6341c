package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicLong

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

  final class MemSpillProbe extends SparkListener {
    val peakExecMem = new AtomicLong
    val memSpill = new AtomicLong
    val diskSpill = new AtomicLong
    val shuffleWrite = new AtomicLong
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      val m = t.taskMetrics
      if (m != null) {
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, Math.max(_, _))
        memSpill.addAndGet(m.memoryBytesSpilled)
        diskSpill.addAndGet(m.diskBytesSpilled)
        shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      }
    }
    def reset(): Unit = { peakExecMem.set(0); memSpill.set(0)
      diskSpill.set(0); shuffleWrite.set(0) }
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "/root/repo/target/stress/sf1"
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    new java.io.File("/dev/shm/graft-spark").mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", "/dev/shm/graft-spark")
      .config("spark.driver.maxResultSize", "4g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

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

    val probe = new MemSpillProbe
    spark.sparkContext.addSparkListener(probe)
    val heapMax = Runtime.getRuntime.maxMemory() / 1e9
    println(f"[stress] input=$out cpus=$cpus heapMax=$heapMax%.1fGB")
    Seq("pagerank", "connected_components", "dedup_exact").foreach { q =>
      Thread.sleep(300)
      probe.reset()
      spark.sparkContext.setJobDescription(s"stress: $q @ sf1")
      val t0 = System.nanoTime()
      val rows = graft.SparkEntry.queries(q)(spark, out).count()
      val sec = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // drain listener queue
      val usedHeap = (Runtime.getRuntime.totalMemory() -
        Runtime.getRuntime.freeMemory()) / 1e9
      println(f"[stress] $q%-22s sec=$sec%7.2f rows=$rows%8d " +
        f"peakTaskExecMem=${probe.peakExecMem.get / 1e6}%8.1fMB " +
        f"memSpill=${probe.memSpill.get / 1e6}%8.1fMB " +
        f"diskSpill=${probe.diskSpill.get / 1e6}%8.1fMB " +
        f"shufWrite=${probe.shuffleWrite.get / 1e6}%8.1fMB " +
        f"heapUsed=$usedHeap%5.1fGB")
    }
    spark.stop()
  }
}
