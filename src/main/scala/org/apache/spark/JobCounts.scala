package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The jobs a body launches, the stages that ran for them (a stage whose
  * output already exists is skipped and not counted), and what their tasks
  * did: run, CPU and GC time, shuffle records and bytes written and read,
  * spill, and the peak execution memory of one task. It also keeps each
  * job's interval, so the time spent outside every job (the driver gap) is
  * the body's wall time less [[jobMs]]. It lives in Spark's package to read
  * the job group and the listener bus. */
final class JobCounts(group: String) extends SparkListener {
  val jobs = new AtomicInteger
  val shuffleStages = new AtomicInteger
  val shuffleRecords = new AtomicLong
  val shuffleReadRecords = new AtomicLong
  val tasks = new AtomicInteger
  val taskRunMs = new AtomicLong
  val taskCpuNanos = new AtomicLong
  val gcMs = new AtomicLong
  val shuffleWriteBytes = new AtomicLong
  val shuffleReadBytes = new AtomicLong
  val memorySpillBytes = new AtomicLong
  val diskSpillBytes = new AtomicLong
  val peakExecMemory = new AtomicLong
  private val stageIds = ConcurrentHashMap.newKeySet[Int]()
  private val started = mutable.Map.empty[Int, Long]
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def mine(p: java.util.Properties): Boolean =
    p != null && p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group

  /** Stages that ran for the body's jobs. */
  def stages: Int = stageIds.size

  /** Milliseconds during which at least one of the body's jobs ran: the
    * union of their [start, end] intervals. */
  def jobMs: Long = synchronized {
    var covered, end = 0L
    intervals.sortBy(_._1).foreach { case (s, e) =>
      if (e > end) { covered += e - math.max(s, end); end = e }
    }
    covered
  }

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (mine(j.properties)) {
      jobs.incrementAndGet()
      synchronized(started(j.jobId) = j.time)
    }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = synchronized {
    started.remove(j.jobId).foreach(s => intervals += ((s, j.time)))
  }

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (mine(s.properties)) {
      stageIds.add(s.stageInfo.stageId)
      if (s.stageInfo.shuffleDepId.isDefined) shuffleStages.incrementAndGet()
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (stageIds.contains(t.stageId) && t.taskMetrics != null) {
      val m = t.taskMetrics
      tasks.incrementAndGet()
      taskRunMs.addAndGet(m.executorRunTime)
      taskCpuNanos.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      shuffleReadRecords.addAndGet(m.shuffleReadMetrics.recordsRead)
      shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleReadBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      memorySpillBytes.addAndGet(m.memoryBytesSpilled)
      diskSpillBytes.addAndGet(m.diskBytesSpilled)
      peakExecMemory.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
}

object JobCounts {
  private val seq = new AtomicInteger

  def apply[T](spark: SparkSession)(body: => T): (T, JobCounts) = {
    val sc = spark.sparkContext
    val group = s"job-counts-${seq.incrementAndGet()}"
    val counts = new JobCounts(group)
    sc.listenerBus.waitUntilEmpty()
    sc.addSparkListener(counts)
    sc.setJobGroup(group, group)
    try (body, counts)
    finally {
      sc.clearJobGroup()
      sc.listenerBus.waitUntilEmpty()
      sc.removeSparkListener(counts)
    }
  }
}
