package graft.tools

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkEntry, SparkTest}

/** Profile's records parse as JSON and agree with the query they describe:
  * the row count, three timed passes, at least one job, a driver gap inside
  * the pass's wall time, and an `error` record for a name that is no query. */
class ProfileSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"

  test("one JSON record per query: a Catalyst query, a kernel query and an unknown name") {
    val names = Seq("q1_agg", "connected_components", "no_such_query")
    val lines = names.map(Profile.profile(spark, dir, _))
    val recs = spark.read.json(lines.toDS).collect()
      .map(r => r.getAs[String]("query") -> r).toMap
    assert(recs.keySet == names.toSet)
    for (q <- names.init) {
      val r = recs(q)
      assert(r.isNullAt(r.fieldIndex("error")), q)
      assert(r.getAs[Long]("rows") == SparkEntry.queries(q)(spark, dir).count(), q)
      assert(r.getAs[Long]("jobs") >= 1, q)
      val countS = r.getSeq[Double](r.fieldIndex("count_s"))
      assert(countS.size == Profile.Passes, q)
      assert(r.getSeq[Double](r.fieldIndex("noop_s")).size == Profile.Passes, q)
      val gap = r.getAs[Double]("driver_gap_s")
      assert(gap >= 0.0 && gap <= countS.last, s"$q: gap $gap, pass ${countS.last}")
      assert(r.getAs[String]("plan").contains("Physical Plan"), q)
    }
    val bad = recs("no_such_query")
    assert(!bad.isNullAt(bad.fieldIndex("error")))
    assert(bad.isNullAt(bad.fieldIndex("rows")))
  }
}
