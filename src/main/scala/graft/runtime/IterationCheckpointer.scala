package graft.runtime

import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
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
  * iteration and `latest` resumes from the previous complete one.
  */
final class IterationCheckpointer(dir: String, every: Int = 1) {

  def save(scores: DataFrame, iteration: Int, metrics: Map[String, String]): Unit = {
    if (iteration % every != 0) return
    val path = s"$dir/iter=$iteration"
    scores.write.mode("overwrite").parquet(path)
    val perPart = scores.groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("rows")).collect()
      .map(r => s"""{"partition":${r.getInt(0)},"rows":${r.getLong(1)}}""")
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
}
