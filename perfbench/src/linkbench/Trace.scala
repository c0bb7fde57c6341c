package linkbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** Interval arithmetic for spans and Spark job intervals (milliseconds). */
object Intervals {

  /** Length of the union of `intervals`, each clipped to [lo, hi]:
    * overlapping intervals (concurrent jobs) are counted once. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals
      .map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
    var total = 0L
    var open = false
    var cs = 0L
    var ce = 0L
    clipped.foreach { case (s, e) =>
      if (open && s <= ce) ce = math.max(ce, e)
      else {
        if (open) total += ce - cs
        cs = s; ce = e; open = true
      }
    }
    if (open) total += ce - cs
    total
  }
}

/** One benchmark call into a layer. `seconds` is the nanosecond-clock wall
  * time; `startMs`/`endMs` are on the clock Spark stamps job events with. */
final case class Span(name: String, startMs: Long, endMs: Long, seconds: Double)

/** Times each call into a layer as a span, tags the Spark jobs it starts
  * with `setJobGroup(<span name>)`, and samples Spark storage at every
  * span boundary. Spans are recorded whether or not a listener is
  * attached, so traced and untraced runs do the same driver work. */
final class Recorder(spark: SparkSession) {
  val spans = mutable.ArrayBuffer[Span]()
  private var peakStorageBytes = 0L

  def storagePeakMb: Double = peakStorageBytes / 1e6

  /** Bytes of cached Datasets and persisted RDDs, in memory or on disk;
    * broadcast blocks are left out, as their clean-up timing varies. */
  private def sampleStorage(): Unit = {
    val used = spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    peakStorageBytes = math.max(peakStorageBytes, used)
  }

  def apply[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sampleStorage()
    sc.setJobGroup(name, name, interruptOnCancel = false)
    val ms0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val s = (System.nanoTime() - t0) / 1e9
      spans += Span(name, ms0, System.currentTimeMillis(), s)
      sc.clearJobGroup()
      sampleStorage()
    }
  }
}

/** Work counted for the jobs of one span. */
final class Counters {
  var jobs = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleWriteRecords = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
}

/** Counts each span's Spark work. A job belongs to the span named by its
  * job group; a task belongs to the span of the first job that listed its
  * stage. Completed job intervals are kept for the driver-gap arithmetic. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, String]()
  private val counters = mutable.Map[String, Counters]()
  private val jobStartMs = mutable.Map[Int, Long]()
  private val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()

  private def of(span: String) = counters.getOrElseUpdate(span, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("untagged")
    of(span).jobs += 1
    jobStartMs(e.jobId) = e.time
    e.stageIds.foreach(id => stageSpan.getOrElseUpdate(id, span))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStartMs.remove(e.jobId).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrElse(e.stageId, "untagged"))
      c.tasks += 1
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleWriteRecords += m.shuffleWriteMetrics.recordsWritten
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.spillBytes += m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized {
    stageSpan.clear(); counters.clear(); jobStartMs.clear(); jobIntervals.clear()
  }

  def counter(span: String): Counters = synchronized(counters.getOrElse(span, new Counters))
  def jobs: Seq[(Long, Long)] = synchronized(jobIntervals.toList)
}

object SpanStats {
  /** Spans that report the full set of work counters. */
  val full = Seq("ingest.text_check", "ingest.edges", "graph.build", "algos.pagerank",
    "algos.pagerank_ncore", "algos.pagerank_1core", "algos.cc", "algos.lp",
    "algos.triangle_count", "core.mxm_masked")
  /** Spans that report only wall time and job count. */
  val light = Seq("graph.load", "runtime.ckpt_read", "output.topk")
  val fullFields = Seq("s", "jobs", "tasks", "task_cpu_s", "driver_gap_s",
    "shuffle_write_mb", "shuffle_fetch_wait_s", "spill_mb", "gc_s")

  /** Seconds of [lo, hi] (ms) that none of `children` covers. */
  def selfSeconds(lo: Long, hi: Long, children: Seq[Span]): Double =
    (hi - lo - Intervals.covered(children.map(s => (s.startMs, s.endMs)), lo, hi)) / 1e3

  /** Per-span metrics of one traced pass. `driver_gap_s` is the part of the
    * span during which no Spark job was running. Spans a pass did not run
    * are absent. The listener must be drained first. */
  def of(spans: Seq[Span], l: SpanListener): Map[String, Double] = {
    val jobs = l.jobs
    spans.groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      val c = l.counter(name)
      val gapMs = ss.map(s =>
        (s.endMs - s.startMs) - Intervals.covered(jobs, s.startMs, s.endMs)).sum
      val wall = ss.map(_.seconds).sum
      if (light.contains(name)) Seq(s"$name.s" -> wall, s"$name.jobs" -> c.jobs.toDouble)
      else Seq(
        s"$name.s" -> wall,
        s"$name.jobs" -> c.jobs.toDouble,
        s"$name.tasks" -> c.tasks.toDouble,
        s"$name.task_cpu_s" -> c.cpuNs / 1e9,
        s"$name.driver_gap_s" -> gapMs / 1e3,
        s"$name.shuffle_write_mb" -> c.shuffleWriteBytes / 1e6,
        s"$name.shuffle_fetch_wait_s" -> c.fetchWaitMs / 1e3,
        s"$name.spill_mb" -> c.spillBytes / 1e6,
        s"$name.gc_s" -> c.gcMs / 1e3,
        s"$name.shuffle_records" -> c.shuffleWriteRecords.toDouble)
    }.toMap
  }
}
