package graft

import java.io.File
import org.scalatest.funsuite.AnyFunSuite

/** The query map and its oracle map name the same queries, and the queries
  * that write files of their own reuse one directory per input instead of
  * leaving a new one behind on every call. */
class SparkEntrySpec extends AnyFunSuite with SparkTest {

  private val dir = "/root/testdata/sf0.001"

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet == SparkEntry.oracleSql.keySet)
  }

  test("pagerank_resume and lm_bits_reloaded give the same rows on a repeat call and leak no directory") {
    def scratch(): Int = new File(System.getProperty("java.io.tmpdir")).list()
      .count(n => n.startsWith("graft-resume") || n.startsWith("graft-lm-reload"))
    def rows(q: String) = SparkEntry.queries(q)(spark, dir).collect().map(_.toString).sorted.toSeq
    val first = Seq("pagerank_resume", "lm_bits_reloaded").map(rows)
    val dirs = scratch()
    val second = Seq("pagerank_resume", "lm_bits_reloaded").map(rows)
    assert(first.map(_.nonEmpty) == Seq(true, true))
    assert(second == first)
    assert(scratch() == dirs)
  }
}
