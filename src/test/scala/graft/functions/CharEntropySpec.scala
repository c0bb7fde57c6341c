package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest

/** The one-pass codegen entropy expression vs the composable
  * replace-and-diff formulation it replaces (same values, both eval paths,
  * including multibyte inputs where byte-counting must not miscount). */
class CharEntropySpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  /** the 27 per-character counts of the replace-and-diff formulation
    * charEntropy used before the native expression */
  private def charCounts(textCol: org.apache.spark.sql.Column) = {
    val t = lower(textCol)
    graft.pipeline.TextOps.entropyChars.map { c =>
      (length(t) - length(replace(t, lit(c.toString), lit("")))).cast("double")
    }
  }

  /** the entropy of those counts, given their sum */
  private def entropyOf(counts: Seq[org.apache.spark.sql.Column],
                        total: org.apache.spark.sql.Column) = {
    val terms = counts.map { cnt =>
      when(cnt > 0.0, -(cnt / total) * log2(cnt / total)).otherwise(lit(0.0))
    }
    when(total > 0.0, terms.reduce(_ + _)).otherwise(lit(0.0))
  }

  private def composedEntropy(textCol: org.apache.spark.sql.Column) = {
    val counts = charCounts(textCol).toSeq
    entropyOf(counts, counts.reduce(_ + _))
  }

  test("graft_char_entropy agrees with the replace-and-diff form on the corpus") {
    // The counts and their sum are projected before the entropy, and the
    // two values are compared on the driver: the composed form as one
    // expression, or a filter on it, generates a Java method past the
    // JVM's 64 KB limit.
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val n = charCounts(col("text")).indices.map(i => col(s"n$i"))
    val rows = docs
      .select(CharEntropy(col("text")).as("fast") +:
        charCounts(col("text")).zipWithIndex.map { case (c, i) => c.as(s"n$i") }.toSeq: _*)
      .withColumn("total", n.reduce(_ + _))
      .select(col("fast"), entropyOf(n, col("total")).as("slow"))
      .collect()
    assert(rows.nonEmpty)
    val bad = rows.count(r => !(math.abs(r.getDouble(0) - r.getDouble(1)) <= 1e-12))
    assert(bad === 0)
  }

  test("graft_char_entropy: multibyte text counts only ASCII universe bytes") {
    // é (2 bytes), 中 (3 bytes), emoji (4 bytes) must contribute nothing;
    // 'a' and ' ' still count — byte-scan equals char-scan on UTF-8
    val df = Seq((1L, "aéa 中😀a")).toDF("doc_id", "text")
    val got = df.select(CharEntropy(col("text")),
      composedEntropy(col("text"))).collect()(0)
    // counts: a=3, space=1 -> H = 3/4,1/4 distribution
    val expected = -(0.75 * math.log(0.75) + 0.25 * math.log(0.25)) / math.log(2.0)
    assert(math.abs(got.getDouble(0) - expected) < 1e-12)
    assert(math.abs(got.getDouble(0) - got.getDouble(1)) < 1e-12)
    // null propagates null at the expression level
    assert(df.select(CharEntropy(lit(null).cast("string"))).collect()(0).isNullAt(0))
  }
}
