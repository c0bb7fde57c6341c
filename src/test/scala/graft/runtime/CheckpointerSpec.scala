package graft.runtime

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest

class CheckpointerSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  test("a killed save's leftovers are ignored: latest is the previous complete iteration") {
    val dir = Files.createTempDirectory("graft-ckpt-killed")
    val ck = new IterationCheckpointer(dir.toString)
    ck.save(Seq((0L, 0.25), (1L, 0.75)).toDF("id", "v"), 3, Map("rdiff" -> "0.5"))
    // a save of iteration 4 killed after its snapshot, while writing the
    // manifest: a partial snapshot and a truncated temp manifest remain
    Seq((0L, 9.0)).toDF("id", "v").write.parquet(dir.resolve("iter=4").toString)
    Files.writeString(dir.resolve("manifest_4.json.tmp"), """{"iteration":4,"pa""")
    val (it, df) = ck.latest(spark).get
    assert(it == 3)
    assert(df.collect().map(r => (r.getLong(0), r.getDouble(1))).sorted.toSeq ==
      Seq((0L, 0.25), (1L, 0.75)))
    // a completed save leaves no temp file behind
    ck.save(Seq((0L, 0.5)).toDF("id", "v"), 5, Map.empty)
    assert(Files.exists(dir.resolve("manifest_5.json")))
    assert(!Files.exists(dir.resolve("manifest_5.json.tmp")))
    assert(ck.latest(spark).get._1 == 5)
  }

  test("a save is one job; the manifest lists each non-empty partition's rows") {
    val dir = Files.createTempDirectory("graft-ckpt-jobs")
    val ck = new IterationCheckpointer(dir.toString)
    // range splits 10 rows over 4 partitions as 2, 3, 2, 3; the filter
    // empties partition 2 (ids 5 and 6)
    val scores = spark.range(0, 10, 1, 4).filter($"id" < 5 || $"id" > 6)
      .select($"id", ($"id" * 0.5).as("v"))
    val (_, counts) = org.apache.spark.JobCounts(spark)(ck.save(scores, 1, Map.empty))
    assert(counts.jobs.get == 1)
    val json = Files.readString(dir.resolve("manifest_1.json"))
    assert(json.contains(""""partitions":[{"partition":0,"rows":2},""" +
      """{"partition":1,"rows":3},{"partition":3,"rows":3}]"""), json)
  }
}
