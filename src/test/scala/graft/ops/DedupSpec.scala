package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class DedupSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different words entirely here now"),
    (4L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (5L, "tiny"), // < 2 tokens → empty shingle set
  ).toDF("doc_id", "text")

  // 100 docs: "hot hot" appears in all (df=100 → df²=10⁴ dominates),
  // 7 unique bigrams each → vocab 701, Σdf²=10700 > 10·Σdf
  private def hotCorpus = (0 until 100).map { i =>
    (i.toLong, s"hot hot a$i b$i c$i d$i e$i f$i g$i")
  }.toDF("doc_id", "text")

  test("exact dedup groups identical text, keeps min id") {
    val out = Dedup.exact(docs).orderBy("keep_doc_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.contains((1L, 2L))) // docs 1+4 merged, survivor 1
    assert(out.length == 4)
  }

  test("bigram jaccard finds the near-dup pair and the exact pair only") {
    val pairs = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.5)
      .orderBy("d1", "d2")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    // doc1⋈doc2: 8 bigrams each, 7 shared → 7/9 ≈ 0.778
    // doc1⋈doc4: identical → 1.0 ; doc2⋈doc4 same as 1⋈2
    assert(pairs.map(p => (p._1, p._2)).toSeq == Seq((1L, 2L), (1L, 4L), (2L, 4L)))
    val j12 = pairs.find(p => p._1 == 1 && p._2 == 2).get._3
    assert(math.abs(j12 - 7.0 / 9.0) < 1e-12)
    assert(pairs.find(p => p._1 == 1 && p._2 == 4).get._3 == 1.0)
  }

  test("hot-shingle cap prunes candidate generation but keeps distinct pairs") {
    val capped = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.9,
      maxShingleBucket = Some(10))
    assert(capped.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 4L)))
  }

  test("cap prunes candidates but surviving pairs report EXACT jaccard") {
    // cap=2 drops the 3-doc bigrams (shared by 1,2,4) from candidate
    // generation; the pair (1,4) still qualifies via rarer shingles and
    // must report jaccard 1.0 — counting only uncapped join rows would
    // understate it
    val capped = Dedup.ngramJaccardPairs(docs, n = 2, threshold = 0.9,
      maxShingleBucket = Some(2))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(5)))
    capped.foreach { case (d1, d2, j) =>
      assert(j == 1.0, s"pair ($d1,$d2) reported $j, expected exact 1.0")
    }
  }

  test("sf0.01 documents: 25 planted near-dup pairs at jaccard ≥ 0.5") {
    val d = spark.read.parquet(s"${graft.TestSpark.Sf001}/documents.parquet")
    assert(Dedup.ngramJaccardPairs(d, 2, 0.5).count() == 25L)
  }

  test("prefix-filtered variant is lossless: identical output to full index") {
    val d = spark.read.parquet(s"${graft.TestSpark.Sf001}/documents.parquet")
    val full = Dedup.ngramJaccardPairs(d, 2, 0.5)
    val pref = Dedup.ngramJaccardPairs(d, 2, 0.5,
      strategy = Dedup.JaccardStrategy.PrefixFilter)
    assert(full.exceptAll(pref).isEmpty && pref.exceptAll(full).isEmpty)
  }

  test("bitmap strategy is exact: identical output to full index") {
    val d = spark.read.parquet(s"${graft.TestSpark.Sf001}/documents.parquet")
    val full = Dedup.ngramJaccardPairs(d, 2, 0.5)
    val bm = Dedup.ngramJaccardPairs(d, 2, 0.5,
      strategy = Dedup.JaccardStrategy.Bitmap)
    assert(full.exceptAll(bm).isEmpty && bm.exceptAll(full).isEmpty)
    // and on the tiny literal corpus, including the empty-shingle doc
    val bmTiny = Dedup.ngramJaccardPairs(docs, 2, 0.5,
      strategy = Dedup.JaccardStrategy.Bitmap)
    val fullTiny = Dedup.ngramJaccardPairs(docs, 2, 0.5)
    assert(fullTiny.exceptAll(bmTiny).isEmpty && bmTiny.exceptAll(fullTiny).isEmpty)
    // the contract holds at threshold 0 too: bitmap must not add the
    // disjoint jaccard-0 pairs the inverted index can never generate
    val bm0 = Dedup.ngramJaccardPairs(docs, 2, 0.0,
      strategy = Dedup.JaccardStrategy.Bitmap)
    val full0 = Dedup.ngramJaccardPairs(docs, 2, 0.0)
    assert(full0.exceptAll(bm0).isEmpty && bm0.exceptAll(full0).isEmpty)
  }

  test("Auto resolves Bitmap on the testdata corpus shape") {
    // measured sf0.01 shape: 500 docs, ~916-bigram vocabulary, hot
    // shingles (Σdf² ≈ 730k) → dense index beats the inverted join
    import Dedup.JaccardStrategy._
    assert(Dedup.chooseJaccardStrategy(nDocs = 500, vocab = 916,
      sumDf = 25500, sumDf2 = 730000, maxVocab = 1 << 16) == Bitmap)
    // and end to end: the Auto-gated query equals the full-index output
    val d = spark.read.parquet(s"${graft.TestSpark.Sf001}/documents.parquet")
    val auto = Dedup.ngramJaccardPairs(d, 2, 0.5, strategy = Auto)
    val full = Dedup.ngramJaccardPairs(d, 2, 0.5)
    assert(full.exceptAll(auto).isEmpty && auto.exceptAll(full).isEmpty)
  }

  test("Auto resolves PrefixFilter on a hot-tailed large-vocab corpus") {
    import Dedup.JaccardStrategy._
    // vocabulary over maxVocab rules out Bitmap; Σdf² ≫ Σdf (hot
    // shingles) rules out CountJoin → PPJoin prefix filtering
    assert(Dedup.chooseJaccardStrategy(nDocs = 1000000, vocab = 50000000,
      sumDf = 300000000, sumDf2 = 90000000000L, maxVocab = 1 << 16) == PrefixFilter)
    // near-uniform rare shingles → the inverted join is linear-ish
    assert(Dedup.chooseJaccardStrategy(nDocs = 1000000, vocab = 50000000,
      sumDf = 60000000, sumDf2 = 80000000, maxVocab = 1 << 16) == CountJoin)
    // end to end on the hot-tailed synthetic corpus; maxVocab forced
    // low so the dense index is out — Auto must take the PrefixFilter
    // path and still match the full-index output exactly
    val auto = Dedup.ngramJaccardPairs(hotCorpus, 2, 0.5, strategy = Auto, maxVocab = 16)
    val full = Dedup.ngramJaccardPairs(hotCorpus, 2, 0.5)
    assert(full.exceptAll(auto).isEmpty && auto.exceptAll(full).isEmpty)
  }

  test("forced Bitmap over a vocabulary past maxVocab fails naming the bound") {
    // 701 distinct bigrams against a bound of 16: the bounded fetch
    // stops at 17 rows and the strategy refuses before any bitmap work
    val ex = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(hotCorpus, 2, 0.5,
        strategy = Dedup.JaccardStrategy.Bitmap, maxVocab = 16)
    }
    assert(ex.getMessage.contains("vocabulary ≤ 16"), ex.getMessage)
  }

  // ---- sampled exact-tier neighbor profiles (r20) ----------------------

  test("jaccard neighbor profile fingerprints each sampled doc's exact " +
      "neighbor set, zeros for no-candidate and no-shingle docs") {
    // mod = 1 samples everyone; hand-derived on the fixture:
    // doc1/2/4 share 7-8 of 8 bigrams; doc3 shares none; doc5 has no
    // shingles at all — both of the latter must still emit a row
    val out = Dedup.jaccardNeighborProfile(docs, n = 2, threshold = 0.5,
        mod = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5)))
    assert(out.length == 5)
    assert(out(0) == ((1L, 2L, 2L, 6L, 15L, 1.0)))          // nbrs {2,4}
    assert(out(1)._1 == 2L && out(1)._2 == 2L && out(1)._3 == 2L &&
      out(1)._4 == 5L && out(1)._5 == 14L &&
      math.abs(out(1)._6 - 7.0 / 9.0) < 1e-12)              // nbrs {1,4}
    assert(out(2) == ((3L, 0L, 0L, 0L, 0L, 0.0)))           // no candidates
    assert(out(3) == ((4L, 2L, 2L, 3L, 15L, 1.0)))          // nbrs {1,2}
    assert(out(4) == ((5L, 0L, 0L, 0L, 0L, 0.0)))           // no shingles
  }

  test("containment neighbor profile counts both directions and the " +
      "sample modulus restricts the rows") {
    val all = Dedup.containmentNeighborProfile(docs, n = 2,
        threshold = 0.8, mod = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6)))
    // doc1: contained in 2 (7/8) and 4 (8/8); contains both back
    assert(all(0) == ((1L, 2L, 2L, 2L, 6L, 6L, 1.0)))
    assert(all(2) == ((3L, 0L, 0L, 0L, 0L, 0L, 0.0)))
    assert(all(4) == ((5L, 0L, 0L, 0L, 0L, 0L, 0.0)))
    // mod = 2 keeps exactly the even ids
    val even = Dedup.containmentNeighborProfile(docs, n = 2,
        threshold = 0.8, mod = 2)
      .orderBy("doc_id").collect().map(_.getLong(0)).toSeq
    assert(even == Seq(2L, 4L))
  }
}
