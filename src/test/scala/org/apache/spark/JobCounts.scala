package org.apache.spark

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageSubmitted,
  SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** The jobs a body launches, the shuffle-map stages that ran for them (a
  * stage whose output already exists is skipped and not counted), and the
  * shuffle records their tasks wrote. It lives in Spark's package to read
  * the job group and the listener bus. */
final class JobCounts(group: String) extends SparkListener {
  val jobs = new AtomicInteger
  val shuffleStages = new AtomicInteger
  val shuffleRecords = new AtomicLong
  private val stages = ConcurrentHashMap.newKeySet[Int]()

  private def mine(p: java.util.Properties): Boolean =
    p != null && p.getProperty(SparkContext.SPARK_JOB_GROUP_ID) == group

  override def onJobStart(j: SparkListenerJobStart): Unit =
    if (mine(j.properties)) jobs.incrementAndGet()

  override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
    if (mine(s.properties)) {
      stages.add(s.stageInfo.stageId)
      if (s.stageInfo.shuffleDepId.isDefined) shuffleStages.incrementAndGet()
    }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
    if (stages.contains(t.stageId) && t.taskMetrics != null)
      shuffleRecords.addAndGet(t.taskMetrics.shuffleWriteMetrics.recordsWritten)
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
