package graft

import org.apache.spark.sql.SparkSession

/** The local session the tool mains run on, with Bench's conf: one task slot
  * and one shuffle partition per core, UTC, no UI, shuffle files on tmpfs
  * (the host's shared disk has bursty IO wait from other tenants; see
  * BENCH/BASELINE.md), and log level ERROR. `SPARK_GRAFT_CPUS` sets the
  * core count; the default is every processor the JVM sees. */
object GraftSession {
  private val LocalDir = "/dev/shm/graft-spark"

  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def apply(): SparkSession = {
    new java.io.File(LocalDir).mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", LocalDir)
      .config("spark.driver.maxResultSize", "2g")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }
}
