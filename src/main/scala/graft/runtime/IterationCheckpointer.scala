package graft.runtime

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._

/** Resumable iteration state: per-iteration parquet snapshot of the
  * score/frontier vector plus a JSON manifest recording iteration number,
  * algorithm metrics, and per-partition lineage (partition id → rows) —
  * the north_rule's "checkpoints frontier/score state per partition with
  * lineage and metrics for resumable runs".
  *
  * The reference's only persistence surface is `ss.serialize/deserialize`
  * blobs (`graphblas/core/ss/matrix.py:4050`); at cluster scale the
  * equivalent durable snapshot is partitioned parquet + manifest.
  *
  * Layout: `<dir>/iter=N/` (parquet) + `<dir>/manifest_N.json`. The
  * manifest is written last, to a temp name that is then renamed
  * atomically, so a save killed at any point leaves no manifest for its
  * iteration and `latest` resumes from the previous complete one. A save
  * is one Spark job, the write: the manifest's row counts come from the
  * written files' parquet footers.
  */
final class IterationCheckpointer(dir: String, every: Int = 1) {

  def save(scores: DataFrame, iteration: Int, metrics: Map[String, String]): Unit = {
    if (iteration % every != 0) return
    val path = s"$dir/iter=$iteration"
    scores.write.mode("overwrite").parquet(path)
    val perPart = IterationCheckpointer.rowsPerPartition(scores.sparkSession, path)
      .map { case (pid, rows) => s"""{"partition":$pid,"rows":$rows}""" }
      .mkString("[", ",", "]")
    val met = metrics.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val json =
      s"""{"iteration":$iteration,"path":"$path","metrics":$met,"partitions":$perPart}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Files.writeString(Paths.get(s"$dir/manifest_$iteration.json.tmp"), json)
    Files.move(tmp, Paths.get(s"$dir/manifest_$iteration.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  /** Latest snapshot, or None if no checkpoint exists yet. */
  def latest(spark: SparkSession): Option[(Int, DataFrame)] = {
    val d = Paths.get(dir)
    if (!Files.isDirectory(d)) return None
    val iters = Files.list(d).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case IterationCheckpointer.Manifest(it) => it.toInt }
      .toSeq
    if (iters.isEmpty) None
    else {
      val it = iters.max
      Some((it, spark.read.parquet(s"$dir/iter=$it")))
    }
  }
}

object IterationCheckpointer {
  /** A complete manifest's file name; a save's temp file does not match. */
  private val Manifest = """manifest_(\d+)\.json""".r
  /** A data file of a parquet write, named after the partition its task wrote. */
  private val PartFile = """part-(\d+)-.*\.parquet""".r

  /** The non-zero row count of each partition a parquet write at `path`
    * wrote, summed from its files' footers on the driver (no Spark job). */
  private def rowsPerPartition(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new Path(path)
    dir.getFileSystem(conf).listStatus(dir).toSeq.flatMap { f =>
      f.getPath.getName match {
        case PartFile(pid) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try Some(pid.toInt -> reader.getRecordCount) finally reader.close()
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq.filter(_._2 > 0).sorted
  }
}
