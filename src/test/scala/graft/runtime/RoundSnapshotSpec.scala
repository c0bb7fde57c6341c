package graft.runtime

import java.nio.file.{Files, Path}
import org.apache.spark.JobCounts
import org.apache.spark.sql.functions.{col, lit, raise_error, when}
import org.apache.spark.sql.types.DoubleType
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._
import graft.SparkTest
import graft.algos.{ConnectedComponents, LabelPropagation, PageRank}
import graft.graph.Adjacency

/** The vertex loops' checkpoint saves: written by the tasks of each round's
  * own job, one file per partition, with the manifest committed last. */
class RoundSnapshotSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private def pairs(df: org.apache.spark.sql.DataFrame): Seq[(Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq.sorted

  private def files(dir: Path): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  private val edges = (0 until 400).map(i => ((i % 57).toLong, ((i * 13 + 5) % 57).toLong))
    .filter { case (s, d) => s != d }.distinct

  test("with a checkpointer, PageRank, CC and LP run one job per round") {
    val adj = Adjacency.build(edges.toDF("src", "dst"), 57, 4)
    val path = (0L until 40L).map(i => (i, i + 1))
    val sym = (path ++ path.map(_.swap)).toDF("src", "dst").persist()
    try {
      sym.count()
      val prDir = Files.createTempDirectory("graft-round-pr")
      val (pr, prJobs) = JobCounts(spark)(PageRank.run(spark, adj, tol = 0.0, maxIter = 3,
        checkpointer = Some(new IterationCheckpointer(prDir.toString))))
      assert(pr.iterations == 3 && prJobs.jobs.get == 3)
      val (it, saved) = new IterationCheckpointer(prDir.toString).latest(spark).get
      assert(it == 3 && pairs(saved) == pairs(pr.scores))
      assert(files(prDir).filter(_.startsWith("manifest_")) ==
        Seq("manifest_1.json", "manifest_2.json", "manifest_3.json"))

      val ccDir = Files.createTempDirectory("graft-round-cc")
      val (cc, ccJobs) = JobCounts(spark)(ConnectedComponents.run(spark, sym, 45, 4,
        checkpointer = Some(new IterationCheckpointer(ccDir.toString))))
      assert(cc.converged && cc.iterations > 1 && ccJobs.jobs.get == cc.iterations)
      val ccSaved = new IterationCheckpointer(ccDir.toString).latest(spark).get
      assert(ccSaved._1 == cc.iterations)
      assert(ccSaved._2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        cc.components.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)

      val lpDir = Files.createTempDirectory("graft-round-lp")
      val (lp, lpJobs) = JobCounts(spark)(LabelPropagation.run(spark, sym, 45, 4, maxIter = 5,
        checkpointer = Some(new IterationCheckpointer(lpDir.toString))))
      assert(lp.iterations == 5 && lpJobs.jobs.get == 5)
      val lpSaved = new IterationCheckpointer(lpDir.toString).latest(spark).get
      assert(lpSaved._1 == 5 && lpSaved._2.columns.toSeq == Seq("id", "lbl"))
      assert(lpSaved._2.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
        lp.labels.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    } finally { adj.unpersist(); sym.unpersist() }
  }

  test("the manifest lists each non-empty partition's rows when n < p") {
    // 3 vertices over 5 partitions: partitions 3 and 4 hold no vertex
    val adj = Adjacency.build(Seq((0L, 1L), (1L, 2L), (2L, 0L)).toDF("src", "dst"), 3, 5)
    try {
      val dir = Files.createTempDirectory("graft-round-small")
      PageRank.run(spark, adj, tol = 0.0, maxIter = 2,
        checkpointer = Some(new IterationCheckpointer(dir.toString)))
      val json = Files.readString(dir.resolve("manifest_2.json"))
      assert(json.startsWith(s"""{"iteration":2,"path":"$dir/iter=2","metrics":{"rdiff":"""), json)
      assert(json.endsWith(""""partitions":[{"partition":0,"rows":1},""" +
        """{"partition":1,"rows":1},{"partition":2,"rows":1}]}"""), json)
      val (_, saved) = new IterationCheckpointer(dir.toString).latest(spark).get
      assert(pairs(saved).map(_._1) == Seq(0L, 1L, 2L))
    } finally adj.unpersist()
  }

  test("writing one partition twice, as a retried task does, leaves one file") {
    val dir = Files.createTempDirectory("graft-round-retry")
    val ck = new IterationCheckpointer(dir.toString)
    val path = ck.begin(1)
    val first = IterationCheckpointer.writePart(path, 0, "v", DoubleType)(
      Iterator((0L, 1.0), (2L, 3.0)))
    val retry = IterationCheckpointer.writePart(path, 0, "v", DoubleType)(
      Iterator((0L, 5.0), (2L, 7.0)))
    assert(first == 2 && retry == 2)
    ck.commit(1, Map.empty, Seq(0 -> retry))
    assert(files(dir.resolve("iter=1")) == Seq("part-00000-c000.snappy.parquet"))
    assert(pairs(ck.latest(spark).get._2) == Seq((0L, 5.0), (2L, 7.0)))
  }

  test("a re-save at fewer partitions after a killed save reads back only its own rows") {
    val rnd = new scala.util.Random(3)
    val n = 40
    val es = (0 until 160).map(_ => (rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (s, d) => s != d }.distinct.toDF("src", "dst")
    val at4 = Adjacency.build(es, n, 4)
    val at3 = Adjacency.build(es, n, 3)
    try {
      val dir = Files.createTempDirectory("graft-round-killed")
      PageRank.run(spark, at4, tol = 0.0, maxIter = 2,
        checkpointer = Some(new IterationCheckpointer(dir.toString)))
      // killed after its tasks wrote iteration 2, before the manifest
      Files.delete(dir.resolve("manifest_2.json"))
      assert(files(dir.resolve("iter=2")).size == 4)
      val resumed = PageRank.run(spark, at3, tol = 0.0, maxIter = 2,
        checkpointer = Some(new IterationCheckpointer(dir.toString)))
      assert(resumed.iterations == 2)
      assert(files(dir.resolve("iter=2")).size == 3)
      val (it, saved) = new IterationCheckpointer(dir.toString).latest(spark).get
      assert(it == 2 && pairs(saved) == pairs(resumed.scores) && pairs(saved).size == n)
    } finally { at4.unpersist(); at3.unpersist() }
  }

  test("a failed re-save leaves no manifest for its iteration: latest is the one before") {
    val dir = Files.createTempDirectory("graft-round-stale")
    val ck = new IterationCheckpointer(dir.toString)
    ck.save(Seq((0L, 0.25), (1L, 0.75)).toDF("id", "v"), 1, Map.empty)
    ck.save(Seq((0L, 0.5), (1L, 0.5)).toDF("id", "v"), 2, Map.empty)
    // re-entering iteration 2, the write fails part-way
    val failing = spark.range(0, 4, 1, 2).select(col("id"),
      when(col("id") === 3, raise_error(lit("killed"))).otherwise(col("id") * 0.5).as("v"))
    intercept[Exception](ck.save(failing, 2, Map.empty))
    assert(!Files.exists(dir.resolve("manifest_2.json")))
    val (it, df) = ck.latest(spark).get
    assert(it == 1 && pairs(df) == Seq((0L, 0.25), (1L, 0.75)))
  }
}
