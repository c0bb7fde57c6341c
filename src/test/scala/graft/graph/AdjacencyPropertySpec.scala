package graft.graph

import org.scalacheck.{Gen, Properties, Test}
import org.scalacheck.Prop.forAll
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.SparkTestSession
import graft.core.CsrGraph

/** ScalaCheck guards for the adjacency's two layouts — the CSR blocks every
  * iterative kernel reads each round, so a packing bug corrupts every
  * algorithm at once, and the packed parquet rows a bench caches. Random
  * deduplicated edge lists with a forced hub (so the chunk-salting path is
  * always exercised) against driver-side invariants:
  *   1. exploding the packed rows recovers EXACTLY the input edge set;
  *   2. `deg` is the FULL out-degree on every chunk row and on every block
  *      row (PageRank divides by it without a join — a chunk-length value
  *      here silently inflates hub contributions);
  *   3. per-src chunk count ≤ ceil(deg/maxChunk) and the chunk partition of
  *      each hub's neighbors is the documented `dst % nChunks` arithmetic;
  *   4. packed neighbor arrays are sorted ascending;
  *   5. the blocks hold `Int` targets exactly when the ids fit, and `Long`
  *      targets NEVER change the recovered edge content;
  *   6. the blocks are partitioning-independent (2 vs 5 partitions). */
object AdjacencyPropertySpec extends Properties("AdjacencyProps") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(8)

  lazy val spark = SparkTestSession.spark

  /** deduplicated edges over vertices 0..19, plus a hub at vertex 0 with
    * 9-17 distinct out-neighbors so ceil(deg/maxChunk) > 1 for small chunks */
  val genEdges: Gen[Set[(Long, Long)]] = for {
    n <- Gen.chooseNum(0, 40)
    es <- Gen.listOfN(n, Gen.zip(Gen.chooseNum(0L, 19L), Gen.chooseNum(0L, 19L)))
    hubDeg <- Gen.chooseNum(9, 17)
  } yield es.toSet ++ (1L to hubDeg).map(d => (0L, d))

  val genMaxChunk: Gen[Int] = Gen.oneOf(1, 2, 3, 5, 8, 4096)

  private def outDeg(es: Set[(Long, Long)]): Map[Long, Long] =
    es.groupBy(_._1).map { case (s, g) => (s, g.size.toLong) }

  property("pack: explode == input edges, full deg per chunk, dst%nChunks salting, sorted arrays") =
    forAll(genEdges, genMaxChunk) { (es, maxChunk) =>
      import spark.implicits._
      val packed = Adjacency.pack(es.toSeq.toDF("src", "dst"), maxChunk)
      val rows = packed.collect()
      val deg = outDeg(es)
      val dstsOf = (r: org.apache.spark.sql.Row) => r.getSeq[Long](2)
      val recovered = rows.flatMap(r => dstsOf(r).map(d => (r.getLong(0), d)))
      packed.schema("src").dataType == LongType &&
        recovered.toSet == es && recovered.length == es.size &&
        rows.forall { r => // full degree + sortedness on every chunk row
          val ds = dstsOf(r)
          r.getLong(1) == deg(r.getLong(0)) && ds == ds.sorted
        } &&
        rows.groupBy(_.getLong(0)).forall { case (s, g) =>
          val nChunks = (deg(s) + maxChunk - 1) / maxChunk
          // rows are exactly the non-empty residue classes of dst % nChunks
          val want = es.filter(_._1 == s).map(_._2).groupBy(d =>
            java.lang.Math.floorMod(d, nChunks))
          g.length == want.size &&
            g.map(r => dstsOf(r).toSet).toSet == want.values.map(_.toSet).toSet
        }
    }

  property("long-path (numVertices > Int.MaxValue) keeps array<long> and identical content") =
    forAll(genEdges, Gen.oneOf(1, 2, 3, 5, 8)) { (es, cap) =>
      // one partition's (slot, target) message packed with Int targets, and
      // with Long ones shifted past Int.MaxValue: the same rows, degrees and
      // targets, checked without a >2^31 layout's slot arrays
      val far = Int.MaxValue.toLong + 1
      def blocks(shift: Long, narrow: Boolean) = CsrGraph.pack(
        Array(es.toArray.flatMap { case (s, d) => Array(s, d + shift) }), 20, cap, narrow).toSeq
      def content(bs: Seq[graft.core.CsrBlock], shift: Long) = bs.flatMap { b =>
        val out = Seq.newBuilder[(Long, Long, Long)]
        b.foreachEdge((r, d) => out += ((b.src(r).toLong, b.deg(r), d - shift)))
        out.result()
      }
      val wide = blocks(far, narrow = false)
      val narrow = blocks(0L, narrow = true)
      val deg = outDeg(es)
      wide.forall(b => !b.narrow && b.edges <= cap) && narrow.forall(_.narrow) &&
        content(wide, far) == content(narrow, 0L) &&
        content(narrow, 0L).map(e => (e._1, e._3)).sorted == es.toSeq.sorted &&
        content(narrow, 0L).forall(e => e._2 == deg(e._1))
    }

  property("layout is partitioning-independent: 2 vs 5 partitions recover the same rows") =
    forAll(genEdges) { es =>
      import spark.implicits._
      val packed = Adjacency.pack(es.toSeq.toDF("src", "dst"), maxChunk = 3)
      val a2 = Adjacency.fromPacked(packed, 20L, numPartitions = 2)
      val a5 = Adjacency.fromPacked(packed, 20L, numPartitions = 5)
      try {
        val deg = outDeg(es)
        val flat = AdjacencySpec.edges(a2).sorted
        a2.numEdges == es.size && a5.numEdges == es.size &&
          flat == AdjacencySpec.edges(a5).sorted &&
          flat.map(e => (e._1, e._3)) == es.toSeq.sorted &&
          flat.forall(e => e._2 == deg(e._1)) &&
          Seq(a2, a5).forall(_.graph.blocks.collect().forall(_.narrow))
      } finally { a2.unpersist(); a5.unpersist() }
    }
}
