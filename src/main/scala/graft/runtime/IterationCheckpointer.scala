package graft.runtime

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{Comparator, UUID}
import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.io.api.RecordConsumer
import org.apache.parquet.schema.Types
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, DoubleType, LongType}
import scala.jdk.CollectionConverters._
import scala.util.Using

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
  * Layout: `<dir>/iter=N/` (parquet) + `<dir>/manifest_N.json`. A save
  * first deletes iteration N's manifest and then its snapshot (`begin`),
  * and writes the manifest last, to a temp name that is then renamed
  * atomically (`commit`). So a save killed at any point leaves no manifest
  * for its iteration, `latest` resumes from the previous complete one, and
  * no file of an earlier save of N can be read back with the new one.
  * Snapshots and manifests are written with `java.nio`, so `dir` is a local
  * or shared-mount path.
  *
  * The vertex loops (`graft.core.VertexLoop.iterate`) save a round in the
  * job that computes it: each task writes its partition with `writePart`,
  * and the driver commits the row counts the tasks return. `save` writes
  * a DataFrame in one Spark job of its own and reads the row counts from
  * the written files' parquet footers; the Catalyst loops (BFS, SSSP) use it.
  */
final class IterationCheckpointer(dir: String, every: Int = 1) {

  /** Whether the stride saves `iteration`. */
  private[graft] def saves(iteration: Int): Boolean = iteration % every == 0

  /** Starts a save of `iteration`: deletes its manifest, then its snapshot
    * directory, and returns that directory's path. */
  private[graft] def begin(iteration: Int): String = {
    Files.deleteIfExists(Paths.get(s"$dir/manifest_$iteration.json"))
    val snapshot = Paths.get(s"$dir/iter=$iteration")
    if (Files.exists(snapshot))
      Using.resource(Files.walk(snapshot))(_.sorted(Comparator.reverseOrder[Path]()).forEach(Files.delete(_)))
    snapshot.toString
  }

  /** Ends a save of `iteration`: the manifest lists the partitions of
    * `rows` (partition, row count) that hold any row, in partition order. */
  private[graft] def commit(iteration: Int, metrics: Map[String, String], rows: Seq[(Int, Long)]): Unit = {
    val perPart = rows.filter(_._2 > 0).sorted
      .map { case (pid, n) => s"""{"partition":$pid,"rows":$n}""" }
      .mkString("[", ",", "]")
    val met = metrics.map { case (k, v) => s""""$k":"$v"""" }.mkString("{", ",", "}")
    val json =
      s"""{"iteration":$iteration,"path":"$dir/iter=$iteration","metrics":$met,"partitions":$perPart}"""
    Files.createDirectories(Paths.get(dir))
    val tmp = Files.writeString(Paths.get(s"$dir/manifest_$iteration.json.tmp"), json)
    Files.move(tmp, Paths.get(s"$dir/manifest_$iteration.json"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
  }

  def save(scores: DataFrame, iteration: Int, metrics: Map[String, String]): Unit = {
    if (!saves(iteration)) return
    val path = begin(iteration)
    scores.write.parquet(path)
    commit(iteration, metrics, IterationCheckpointer.rowsPerPartition(scores.sparkSession, path))
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

  /** Writes partition `part` of the snapshot at `path` (a directory that
    * `begin` returned) as one snappy parquet file of `rows` (id bigint,
    * `name` `dataType`), `dataType` a `LongType` or a `DoubleType`, and
    * returns its row count. The file is written under a hidden name unique
    * to this call and then renamed over `part-<part>-c000.snappy.parquet`,
    * so a retried or speculative task replaces its partition's file and
    * never adds a second one. Runs in a task, with no Spark job. */
  private[graft] def writePart(path: String, part: Int, name: String, dataType: DataType)(
      rows: Iterator[(Long, Any)]): Long = {
    val dir = Files.createDirectories(Paths.get(path))
    val tmp = dir.resolve(f".part-$part%05d-${UUID.randomUUID}.tmp")
    val writer = new PairWriterBuilder(new LocalOutputFile(tmp), new PairWriteSupport(name, dataType))
      .withConf(new Configuration(false))
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .build()
    var n = 0L
    try rows.foreach { r => writer.write(r); n += 1 } finally writer.close()
    Files.move(tmp, dir.resolve(f"part-$part%05d-c000.snappy.parquet"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    n
  }

  /** The non-zero row count of each partition a parquet write at `path`
    * wrote, summed from its files' footers on the driver (no Spark job). */
  private def rowsPerPartition(spark: SparkSession, path: String): Seq[(Int, Long)] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dir = new org.apache.hadoop.fs.Path(path)
    dir.getFileSystem(conf).listStatus(dir).toSeq.flatMap { f =>
      f.getPath.getName match {
        case PartFile(pid) =>
          val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
          try Some(pid.toInt -> reader.getRecordCount) finally reader.close()
        case _ => None
      }
    }.groupMapReduce(_._1)(_._2)(_ + _).toSeq
  }

  /** Writes (id, value) pairs as required columns, which Spark reads as
    * non-nullable ones. */
  private final class PairWriteSupport(name: String, dataType: DataType)
      extends WriteSupport[(Long, Any)] {
    private[this] val valueType = dataType match {
      case LongType => PrimitiveTypeName.INT64
      case DoubleType => PrimitiveTypeName.DOUBLE
      case t => throw new IllegalArgumentException(s"a snapshot holds longs or doubles, not $t")
    }
    private[this] var out: RecordConsumer = _

    def init(conf: Configuration): WriteSupport.WriteContext = {
      val schema = Types.buildMessage()
        .addField(Types.required(PrimitiveTypeName.INT64).named("id"))
        .addField(Types.required(valueType).named(name))
        .named("spark_schema")
      new WriteSupport.WriteContext(schema, java.util.Map.of[String, String]())
    }

    def prepareForWrite(consumer: RecordConsumer): Unit = out = consumer

    def write(r: (Long, Any)): Unit = {
      out.startMessage()
      out.startField("id", 0)
      out.addLong(r._1)
      out.endField("id", 0)
      out.startField(name, 1)
      if (valueType == PrimitiveTypeName.INT64) out.addLong(r._2.asInstanceOf[Long])
      else out.addDouble(r._2.asInstanceOf[Double])
      out.endField(name, 1)
      out.endMessage()
    }
  }

  private final class PairWriterBuilder(file: LocalOutputFile, support: PairWriteSupport)
      extends ParquetWriter.Builder[(Long, Any), PairWriterBuilder](file) {
    protected def self(): PairWriterBuilder = this
    protected def getWriteSupport(conf: Configuration): WriteSupport[(Long, Any)] = support
  }
}
