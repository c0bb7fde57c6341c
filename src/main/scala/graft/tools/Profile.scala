package graft.tools

import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.JobCounts
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FormattedMode
import graft.{GraftSession, SparkEntry}

/** Where a query's wall time goes, read from the engine's own listener.
  * Each named `SparkEntry` query runs three passes in one JVM; a pass is a
  * `count()` under [[JobCounts]], then the noop sink, which computes every
  * column that `count()` lets Catalyst prune. One JSON line per query:
  *
  *  - `query`, `rows`;
  *  - `count_s`, `noop_s`: the three passes' wall times in order (the first
  *    is cold);
  *  - from the last count pass: `jobs`, `stages`, `tasks`, `task_run_s`,
  *    `task_cpu_s`, `gc_s`, `shuffle_read_mb`, `shuffle_write_mb`,
  *    `spill_mb` (bytes spilled to disk), `peak_exec_mem_mb` (the largest
  *    one task used) and `driver_gap_s`: the wall time outside every job
  *    (planning, driver-side loop logic, scheduling);
  *  - `plan`: the query's formatted physical plan.
  *
  * A query that throws gets `{"query", "error"}` and the run goes on.
  *
  *   SPARK_GRAFT_CPUS=4 tools/run_verify.sh graft.tools.Profile \
  *     /root/testdata/sf0.1 pagerank bowtie ...
  */
object Profile {
  val Passes = 3

  def main(args: Array[String]): Unit = {
    val spark = GraftSession()
    try args.drop(1).foreach(q => println(profile(spark, args(0), q)))
    finally spark.stop()
  }

  private val json = new ObjectMapper

  private def mb(bytes: Long): Double = math.round(bytes / 1e3) / 1e3

  /** The JSON record of one query at `sfDir`. */
  def profile(spark: SparkSession, sfDir: String, query: String): String = {
    val rec = new java.util.LinkedHashMap[String, Any]
    rec.put("query", query)
    try {
      val run = SparkEntry.queries(query)
      val passes = (1 to Passes).map { _ =>
        val ((df, rows, countMs), counts) = JobCounts(spark) {
          val t0 = System.currentTimeMillis()
          val df = run(spark, sfDir)
          val rows = df.count()
          (df, rows, System.currentTimeMillis() - t0)
        }
        val t0 = System.currentTimeMillis()
        run(spark, sfDir).write.format("noop").mode("overwrite").save()
        (df, rows, countMs, counts, System.currentTimeMillis() - t0)
      }
      val (df, rows, countMs, c, _) = passes.last
      rec.put("rows", rows)
      rec.put("count_s", passes.map(_._3 / 1e3).toArray)
      rec.put("noop_s", passes.map(_._5 / 1e3).toArray)
      rec.put("jobs", c.jobs.get)
      rec.put("stages", c.stages)
      rec.put("tasks", c.tasks.get)
      rec.put("task_run_s", c.taskRunMs.get / 1e3)
      rec.put("task_cpu_s", math.round(c.taskCpuNanos.get / 1e6) / 1e3)
      rec.put("gc_s", c.gcMs.get / 1e3)
      rec.put("shuffle_read_mb", mb(c.shuffleReadBytes.get))
      rec.put("shuffle_write_mb", mb(c.shuffleWriteBytes.get))
      rec.put("spill_mb", mb(c.diskSpillBytes.get))
      rec.put("peak_exec_mem_mb", mb(c.peakExecMemory.get))
      rec.put("driver_gap_s", (countMs - c.jobMs) / 1e3)
      rec.put("plan", df.queryExecution.explainString(FormattedMode))
    } catch {
      case NonFatal(e) =>
        rec.clear()
        rec.put("query", query)
        rec.put("error", s"${e.getClass.getName}: ${e.getMessage}")
    }
    json.writeValueAsString(rec)
  }
}
