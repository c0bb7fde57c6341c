package graft.pipeline

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTest

/** Scale-safety properties of the dedup/ANN operators (round-2 VERDICT items
  * 2 and 8): LSH must PRUNE (candidate ratio ≪ all-pairs), the shingle
  * df-cap must defuse hot-shingle join bombs, and ANN bucket occupancy must
  * stay bounded as the corpus grows. */
class DedupSimSpec extends AnyFunSuite with SparkTest {
  import spark.implicits._

  private val docsPath = "/root/testdata/sf0.001/documents.parquet"

  test("minhash LSH candidate ratio is < 5% of all pairs on the test corpus") {
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val allPairs = n * (n - 1) / 2.0
    val cand = Dedup.minhashLshCandidates(docs).count()
    val ratio = cand / allPairs
    assert(ratio < 0.05, f"LSH is not pruning: $cand of $allPairs%.0f pairs ($ratio%.3f)")
  }

  test("minhash LSH finds planted exact duplicates") {
    val docs = spark.read.parquet(docsPath).limit(100)
    val dup = docs.filter(col("doc_id") === 0)
      .withColumn("doc_id", lit(100000L))
    val cand = Dedup.minhashLshCandidates(docs.unionByName(dup))
    assert(cand.filter(col("doc_a") === 0 && col("doc_b") === 100000L).count() === 1)
  }

  test("shingleIdRows honors arbitrary w again (ADVICE r4): counts and dedup") {
    val docs = Seq((1L, "a b c d e"), (2L, "a b c d e"), (3L, "x y")).toDF("doc_id", "text")
    // a doc with t tokens yields t-w+1 shingle occurrences (w > t → none)
    Seq(1, 2, 3, 4, 5).foreach { w =>
      val rows = Dedup.shingleIdRows(docs, w)
      val perDoc = rows.groupBy("doc_id").count().collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(perDoc.getOrElse(1L, 0L) === math.max(0, 5 - w + 1), s"w=$w doc1")
      assert(perDoc.getOrElse(3L, 0L) === math.max(0, 2 - w + 1), s"w=$w doc3")
      // identical docs produce identical shingle id sets at every w
      val s1 = rows.filter(col("doc_id") === 1).select("shingle").collect().map(_.getLong(0)).sorted
      val s2 = rows.filter(col("doc_id") === 2).select("shingle").collect().map(_.getLong(0)).sorted
      assert(s1.sameElements(s2), s"w=$w")
    }
    // w=2: docs 1/2 share 4 bigrams, doc 3 adds 1 → 5 distinct ids
    val w2 = Dedup.shingleIdRows(docs, 2).select("shingle").distinct().count()
    assert(w2 === 5)
  }

  test("decontaminate flags exactly the docs sharing a shingle with the benchmark") {
    val docs = Seq(
      (0L, "a b c d"),   // shingles [a b c], [b c d]
      (1L, "x y z w"),   // disjoint
      (2L, "q a b c"),   // shares [a b c]
      (3L, "u v")        // too short for w=3: no shingles at all
    ).toDF("doc_id", "text")
    val bench = Seq((100L, "a b c d")).toDF("doc_id", "text")
    val got = Dedup.decontaminate(docs, bench).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got === Map(
      0L -> ((2L, 1L)), 1L -> ((0L, 0L)), 2L -> ((1L, 1L)), 3L -> ((0L, 0L))))
    // repeated contaminated shingles count once (distinct semantics)
    val rep = Seq((5L, "a b c a b c a b c")).toDF("doc_id", "text")
    val g2 = Dedup.decontaminate(rep, bench).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g2(5L) === 1L)
  }

  test("IVF ANN: nprobe = nlist degenerates to EXACT brute force; " +
    "probing more lists never hurts a query's best neighbor") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").limit(200)
    // full probe = exhaustive search: identical (query, cand, rank) triples
    // to the brute-force baseline for the shared query set
    val full = Similarity.annTopKIvf(emb, nlist = 8, nprobe = 8, k = 5)
      .filter(col("query_id") < 5)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong, r.getLong(2))).toSet
    val bf = Similarity.bruteForceTopK(emb, nQueries = 5, k = 5)
      .select("query_id", "cand_id", "rank").collect()
      .map(r => (r.get(0).toString.toLong, r.get(1).toString.toLong, r.getLong(2))).toSet
    assert(full == bf, "full-probe IVF must equal exhaustive search")
    // monotonicity: per-query best sim at nprobe=3 >= best at nprobe=1
    def best(nprobe: Int): Map[Long, Double] =
      Similarity.annTopKIvf(emb, nlist = 8, nprobe = nprobe, k = 1).collect()
        .map(r => r.get(0).toString.toLong -> r.getDouble(2)).toMap
    val b1 = best(1); val b3 = best(3)
    b1.foreach { case (q, s1) =>
      assert(b3.getOrElse(q, Double.NegativeInfinity) >= s1, s"query $q regressed")
    }
  }

  test("IVF ANN seeds centroids from the LOWEST ids, so an offset/sparse " +
    "id space still builds a working index") {
    // ids start at 1000: a `vec_id < nlist` quantizer would select zero
    // centroids and silently return an empty result
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50).withColumn("vec_id", col("vec_id") + 1000L)
    val got = Similarity.annTopKIvf(emb, nlist = 4, nprobe = 4, k = 3)
    assert(got.count() > 0, "offset id space must still produce neighbors")
    assert(got.agg(min(col("query_id"))).collect()(0).getLong(0) >= 1000L)
  }

  test("dedupClusters: empty corpus returns empty (no driver NPE); sparse " +
    "ids surface NO phantom documents") {
    val empty = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.dedupClusters(spark, empty).count() == 0)
    // two near-dup docs with far-apart sparse ids: output must contain
    // EXACTLY the two real ids (the CC range-seed rows must not leak)
    val docs = Seq(
      (5L, "alpha beta gamma delta epsilon"),
      (90000L, "alpha beta gamma delta epsilon zeta")
    ).toDF("doc_id", "text")
    val rows = Dedup.dedupClusters(spark, docs, threshold = 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows === Set((5L, 5L, 1L), (90000L, 5L, 0L)))
  }

  test("dedupClusters counts its pairs in the job that materializes them") {
    import org.apache.spark.JobCounts
    val docs = spark.read.parquet(docsPath)
    val (_, pairs) = JobCounts(spark)(Dedup.ngramJaccardPairs(docs, threshold = 0.3))
    val (_, clusters) = JobCounts(spark)(Dedup.dedupClusters(spark, docs, threshold = 0.3))
    // besides the pair plan's stages, only the max(doc_id) aggregate
    // shuffles: no count job runs over the materialized pairs
    assert(clusters.shuffleStages.get == pairs.shuffleStages.get + 1)
  }

  test("shingle df-cap defuses a hot-shingle candidate bomb") {
    val hot = "the quick brown fox jumps over"
    val docs = (0 until 60)
      .map(i => (i.toLong, s"$hot unique$i tail$i words$i here$i"))
      .toDF("doc_id", "text")
    // without a meaningful cap every pair shares the 6 hot-phrase shingles
    val loose = Dedup.ngramJaccardPairs(docs, threshold = 0.01, maxDf = 1000).count()
    assert(loose > 1000, s"expected a candidate bomb without the cap, got $loose")
    // shingles shared by >50 of the 60 docs are dropped before the self-join
    val capped = Dedup.ngramJaccardPairs(docs, threshold = 0.01, maxDf = 50).count()
    assert(capped === 0, s"df-cap did not prune the hot shingles: $capped pairs")
  }

  test("62-bit simhash dup pairs: finds planted dups, prunes same-domain noise") {
    val docs = spark.read.parquet(docsPath)
    val n = docs.count()
    val dup = docs.filter(col("doc_id") === 3).withColumn("doc_id", lit(200000L))
    val pairs = Dedup.simhashDupPairs(docs.unionByName(dup), maxHamming = 2).persist()
    // exact duplicate → identical signature → hamming 0
    assert(pairs.filter(col("doc_a") === 3 && col("doc_b") === 200000L
      && col("hamming") === 0).count() === 1)
    // selectivity: wide simhash must not degenerate toward all-pairs on a
    // same-vocabulary corpus (16-bit did: 22% of all pairs within hamming 2)
    val ratio = pairs.count().toDouble / (n * (n + 1) / 2.0)
    assert(ratio < 0.01, f"simhash not selective: $ratio%.4f")
    pairs.unpersist()
  }

  test("pipeline operators leave no cached relations behind (unpersist)") {
    import org.apache.spark.sql.GraftSqlShims
    spark.catalog.clearCache()
    val docs = spark.read.parquet(docsPath)
    // each of these persisted intermediates in round 2 and never released
    // them; they now materialize their (small) result and unpersist before
    // returning
    Dedup.ngramJaccardPairs(docs, threshold = 0.05).count()
    Dedup.minhashLshCandidates(docs).count()
    Dedup.simhashDupPairs(docs).count()
    assert(GraftSqlShims.cacheManagerIsEmpty(spark),
      "a pipeline operator leaked a cached relation")
  }

  test("multi-probe ANN: per-query best neighbor never worse than single-probe") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val sp = Similarity.annTopKAdaptive(emb, k = 1, targetOcc = 64)
      .select(col("query_id"), col("sim").as("sp_sim"))
    val mp = Similarity.annTopKMultiProbe(emb, k = 1, targetOcc = 64)
      .select(col("query_id"), col("sim").as("mp_sim"))
    // the probe set contains the own bucket, so multi-probe's candidate pool
    // is a superset: its best similarity can never be lower
    val worse = sp.join(mp, "query_id").filter(col("mp_sim") < col("sp_sim")).count()
    assert(worse === 0)
    // and it must actually widen the pool (hamming-1 probes hit real buckets)
    assert(Similarity.annTopKMultiProbe(emb, k = 10, 64).count() >=
      Similarity.annTopKAdaptive(emb, k = 10, 64).count())
  }

  test("adaptive ANN: bucket count grows with N, occupancy stays bounded") {
    def synthEmb(n: Int) = spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(15)),
        k => (pmod(col("id") * 31 + k.cast("long") * 7, lit(97)).cast("double")
          / 97.0 - 0.5).cast("float")).as("embedding"))
    val bitsSmall = Similarity.adaptiveBits(512, targetOcc = 64)
    val bitsBig = Similarity.adaptiveBits(8192, targetOcc = 64)
    assert(bitsSmall === 3 && bitsBig === 7, s"$bitsSmall, $bitsBig")
    // with 4x the corpus, bucket count grows 4x → per-bucket join work and
    // avg occupancy stay of the same order instead of growing with N²
    for (n <- Seq(512, 2048)) {
      val b = Similarity.lshBuckets(synthEmb(n), Similarity.adaptiveBits(n, 64))
      val buckets = b.groupBy("bucket").count()
      val nBuckets = buckets.count()
      val maxOcc = buckets.agg(max("count")).collect()(0).getLong(0)
      assert(nBuckets >= 2, s"n=$n: all vectors in one bucket")
      assert(maxOcc <= n / 2, s"n=$n: a single bucket holds $maxOcc of $n")
    }
  }

  test("dedupSpans keeps first occurrence per span, drops all-dup docs") {
    // k=2 spans; doc 0 owns "a b" and "c d"; doc 1 repeats "a b" and adds
    // "x y"; doc 2 is entirely made of earlier spans → drops
    val docs = Seq(
      (0L, "a b c d"),
      (1L, "a b x y"),
      (2L, "c d a b"),
      (3L, "q r")).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(docs, k = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out == Map(0L -> "a b c d", 1L -> "x y", 3L -> "q r"))
    // within-doc repeats collapse too (span text equal, min span wins)
    val rep = Seq((7L, "u v u v u v")).toDF("doc_id", "text")
    val o2 = Dedup.dedupSpans(rep, k = 2).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(o2 == Map(7L -> "u v"))
    // tail span shorter than k survives as its own (shorter) span text
    val tail = Seq((9L, "a b c")).toDF("doc_id", "text")
    assert(Dedup.dedupSpans(tail, k = 2).collect()
      .map(_.getString(1)).toSeq == Seq("a b c"))
  }
}
