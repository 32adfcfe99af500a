package graft.ops

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Recall gates for the approximate operators, measured against their
  * exact baselines on the sf0.01 tables (fixed data + deterministic
  * hashing ⇒ these are exact assertions, not flaky statistics).
  */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def emb = spark.read.parquet(s"${TestSpark.Sf001}/embeddings.parquet")
  private def docs = spark.read.parquet(s"${TestSpark.Sf001}/documents.parquet")

  test("quantized cosine top-k is sane: scores in [-1,1], k rows per query") {
    val out = Similarity.topKCosine(emb.where(col("vec_id") < 10), emb, 5)
    val rows = out.collect()
    assert(rows.length == 50)
    assert(rows.forall(r => math.abs(r.getDouble(3)) <= 1.0))
  }

  test("IVF ANN recall ≥ 0.8 vs brute force at nProbe=6/32") {
    val exact = Similarity.topKCosine(emb.where(col("vec_id") < 10), emb, 5)
      .select("q_id", "n_id")
    val ann = Similarity.ivfTopKCosine(emb.where(col("vec_id") < 10), emb, 5)
      .select("q_id", "n_id")
    val hits = ann.join(exact, Seq("q_id", "n_id")).count()
    assert(hits >= 40, s"IVF recall $hits/50 < 0.8")
  }

  test("ivfTopKCosineSweep equals independent ivfTopKCosine calls per depth") {
    // r20: the sweep shares one persisted corpus assignment across
    // depths — this pin keeps it value-identical to the composed-
    // operator spelling it replaced in sim_ann_nprobe_sweep
    val qs = emb.where(col("vec_id") < 10)
    val swept = Similarity.ivfTopKCosineSweep(qs, emb, k = 5, nCells = 32,
      nProbes = Seq(1, 4))
    for ((np, frame) <- swept) {
      val got = frame.orderBy("q_id", "n_id").collect().toSeq
      val want = Similarity.ivfTopKCosine(qs, emb, 5, nProbe = np)
        .orderBy("q_id", "n_id").collect().toSeq
      assert(got == want, s"sweep diverged from ivfTopKCosine at nProbe=$np")
    }
  }

  test("PQ/ADC: rescored hits are EXACT and recall is the measured floor") {
    val exact = Similarity.topKCosine(emb.where(col("vec_id") < 10), emb, 5)
    val pq = Similarity.pqTopKCosine(emb.where(col("vec_id") < 10), emb, 5)
    // every pair PQ returns that brute force also returns must carry
    // the IDENTICAL exact score — the rerank stage rescores with the
    // same quantized cosine, so lossy ADC ranking never leaks into
    // emitted scores
    val joined = pq.as("p").join(exact.as("e"), Seq("q_id", "n_id"))
    val hits = joined.count()
    assert(joined.where(col("p.cos_sim") =!= col("e.cos_sim")).isEmpty,
      "rescored PQ scores must equal brute-force scores")
    // measured on this corpus (moderate cosines, no high-sim structure
    // — the regime where NO sketch is lossless; see the cosineNearDup
    // scaladoc): 24/50 at m=8, ks=16, rerank 4. Deterministic, so an
    // exact floor, not a flaky statistic; meaningful recall needs the
    // corpus to HAVE near neighbors, which dedup-shaped corpora do.
    assert(hits >= 24, s"PQ recall $hits/50 regressed below the measured floor")
  }

  test("blocked near-dup self-join equals the naive all-pairs join") {
    // the production spelling (blocked equi-join, no nested loop) must
    // reproduce the naive quadratic join bit-for-bit — same quantized
    // scores, same pair set
    val naiveA = emb.select(col("vec_id").as("d1"),
      Similarity.quantize(col("embedding")).as("v1"))
      .withColumn("n1s", sqrt(Similarity.normQ(col("v1")).cast("double")))
    val naiveB = emb.select(col("vec_id").as("d2"),
      Similarity.quantize(col("embedding")).as("v2"))
      .withColumn("n2s", sqrt(Similarity.normQ(col("v2")).cast("double")))
    val naive = naiveA.join(naiveB, col("d1") < col("d2"))
      .withColumn("cos_sim", Similarity.cosineFrom(
        Similarity.dotQ(col("v1"), col("v2")), col("n1s"), col("n2s")))
      .where(col("cos_sim") >= 0.4)
      .select("d1", "d2", "cos_sim")
    val blocked = Similarity.cosineNearDupPairs(emb, 0.4)
    assert(naive.exceptAll(blocked).isEmpty && blocked.exceptAll(naive).isEmpty)
    // and the nested loop is actually gone from the production plan
    val plan = blocked.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(20).mkString("\n"))
  }

  test("native best-cell expression equals the interpreted argmax fold") {
    // round 1 assigned IVF cells with an aggregate() HOF fold; the native
    // codegen expression that replaced it must keep bit-identical
    // semantics (−2.0 seed, strict >, zero-norm → −1)
    val cents = emb.orderBy("vec_id").limit(8)
      .select(Similarity.quantize(col("embedding")).as("qv"))
      .collect().map(_.getSeq[Long](0).toArray)
    val centsLit = array(cents.zipWithIndex.map { case (cv, i) =>
      struct(lit(i).as("i"), array(cv.map(lit).toIndexedSeq: _*).as("v"),
        lit(math.sqrt(cv.map(x => x.toDouble * x).sum)).as("nrm"))
    }.toIndexedSeq: _*)
    val base = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("cv"))
      .withColumn("cn", sqrt(Similarity.normQ(col("cv")).cast("double")))
    val viaFold = base.withColumn("cell",
      aggregate(centsLit, struct(lit(-2.0).as("s"), lit(-1).as("i")),
        (best, c) => {
          val s = coalesce(
            Similarity.cosineFrom(Similarity.dotQ(col("cv"), c.getField("v")),
              col("cn"), c.getField("nrm")), lit(-2.0))
          when(s > best.getField("s"),
            struct(s.as("s"), c.getField("i").as("i"))).otherwise(best)
        }).getField("i")).select("vec_id", "cell")
    val centsMatrix = array(cents.map(cv =>
      array(cv.map(lit).toIndexedSeq: _*)).toIndexedSeq: _*)
    val centNorms = array(cents.map(cv =>
      lit(math.sqrt(cv.map(x => x.toDouble * x).sum))).toIndexedSeq: _*)
    val viaExpr = base.withColumn("cell",
      graft.functions.LongArrayBestCell.bestCell(col("cv"), centsMatrix, centNorms))
      .select("vec_id", "cell")
    assert(viaFold.exceptAll(viaExpr).isEmpty && viaExpr.exceptAll(viaFold).isEmpty)
  }

  test("native RHP signature equals the interpreted fold spelling") {
    val base = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
    val viaFold = base.select(col("vec_id"),
      Similarity.rhpSignature(col("qv"), 16).as("sig"))
    val viaNative = base.select(col("vec_id"),
      graft.functions.LongArrayRhpSig.rhpSig(col("qv"), 16).as("sig"))
    assert(viaFold.exceptAll(viaNative).isEmpty &&
      viaNative.exceptAll(viaFold).isEmpty)
  }

  test("IVF on an empty corpus returns an empty frame, not an analysis error") {
    val empty = emb.where(col("vec_id") < 0)
    val out = Similarity.ivfTopKCosine(emb.where(col("vec_id") < 3), empty, 5)
    assert(out.count() == 0L)
    assert(out.columns.toSeq == Seq("q_id", "n_id", "dot_q", "cos_sim"))
  }

  test("minhash LSH output equals exact jaccard output at the 0.7 gate") {
    // 0.7 is inside the banding scheme's guaranteed-recall region
    // (p≈0.9998 at j=0.7 with r=4/b=32); at 0.5 the sketch is allowed to
    // miss (p≈0.87) — the gate contract matches the query's threshold
    val exact = Dedup.ngramJaccardPairs(docs, 2, 0.7).select("d1", "d2")
    val mh = MinHashDedup.nearDupPairs(docs, 2, 0.7).select("d1", "d2")
    assert(exact.exceptAll(mh).isEmpty && mh.exceptAll(exact).isEmpty)
  }

  test("incremental index dedup equals full rerun on batch-touching pairs") {
    // the index-reuse invariant: band the prior corpus once, dedup the
    // new batch against the persisted index, and the result must be
    // EXACTLY the batch-touching subset of a full-corpus rerun — no
    // pair lost to index staleness, none invented. Split 90/10 like
    // the gate; also pin that a batch with no near-dups yields empty.
    val prior = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    val index = MinHashDedup.bandIndex(prior)
    val inc = MinHashDedup
      .incrementalNearDupPairs(batch, index, prior, threshold = 0.7)
      .select("d1", "d2")
    val full = MinHashDedup.nearDupPairs(docs, 2, 0.7)
      .where(col("d1") % 10 === 0 || col("d2") % 10 === 0)
      .select("d1", "d2")
    assert(full.exceptAll(inc).isEmpty && inc.exceptAll(full).isEmpty)
    assert(inc.count() > 0, "split must actually exercise cross pairs")
    import spark.implicits._
    val loner = Seq((1000001L, "completely unrelated singleton text"))
      .toDF("doc_id", "text")
    assert(MinHashDedup
      .incrementalNearDupPairs(loner, index, prior, threshold = 0.7)
      .count() == 0)
  }

  test("native PQ encode/ADC kernels equal the interpreted spellings") {
    import org.apache.spark.sql.functions._
    val (m, ks) = (8, 16)
    val sample = emb.orderBy("vec_id").limit(ks)
      .select(Similarity.quantize(col("embedding")).as("qv"))
      .collect().map(_.getSeq[Long](0).toArray)
    val dim = sample.head.length
    val sub = dim / m
    val cb = Similarity.pqCodebookLit(sample, m, sub)
    val base = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
    // encode: the codegen'd argmin loop vs the array_min struct fold —
    // including the lowest-code tie-break and ragged zero-pad contract
    val nat = base.select(col("vec_id"),
      graft.functions.LongArrayPq.pqEncode(col("qv"), cb).as("codes"))
    val int = base.select(col("vec_id"),
      Similarity.pqCodesInterpreted(col("qv"), cb, m, sub).as("codes"))
    assert(nat.exceptAll(int).isEmpty && int.exceptAll(nat).isEmpty)
    // ADC: table lookups over a real query table, both spellings
    val qrow = base.limit(1)
      .select(Similarity.pqTableOf(col("qv"), cb, m, sub).as("qtab"))
    val joined = nat.crossJoin(qrow)
    val natDot = joined.select(col("vec_id"),
      graft.functions.LongArrayPq.pqAdc(col("codes"), col("qtab")).as("d"))
    val intDot = joined.select(col("vec_id"),
      Similarity.pqAdcInterpreted(col("codes"), col("qtab"), m).as("d"))
    assert(natDot.exceptAll(intDot).isEmpty && intDot.exceptAll(natDot).isEmpty)
  }

  test("minhash containment equals exact containment at the 0.8 gate") {
    // the sketch sibling must reproduce the exact operator's output on
    // this corpus (verification removes all false positives; recall is
    // 1.0 here under the DEFAULT bands=32 / r=4 banding because this
    // corpus's docs are near-equal-size — C ≥ 0.8 forces J ≥ ~0.67,
    // well above the r=4 survival knee, the scaladoc's near-equal-size
    // argument; the wide bands=64 config is exercised by the embedded
    // small-doc test below, where it is actually load-bearing)
    val exact = Dedup.containmentPairs(docs, 2, 0.8)
      .select("d1", "d2", "intersect_size", "n1", "n2")
    val mh = MinHashDedup.containmentPairs(docs, 2, 0.8)
      .select("d1", "d2", "intersect_size", "n1", "n2")
    assert(exact.exceptAll(mh).isEmpty && mh.exceptAll(exact).isEmpty)
    assert(exact.count() > 0) // a trivially-empty equality proves nothing
  }

  test("minhash containment catches a small doc embedded in a large one") {
    import spark.implicits._
    // C(A,B) = 1.0 but J ≈ 0.21: symmetric Jaccard banding (r=4) sits
    // at survival ≈ 1-(1-0.21^4)^32 ≈ 6% — this pair is exactly what
    // the wide containment banding exists to catch. Deterministic:
    // fixed permutation constants, fixed corpus.
    val small = (1 to 12).map(i => s"tok$i").mkString(" ")
    val big = (1 to 58).map(i => s"tok$i").mkString(" ")
    val two = Seq((1L, small), (2L, big)).toDF("doc_id", "text")
    // bands=64: the WIDE config for asymmetric corpora (the gated
    // default b=32 targets near-equal sizes — see the scaladoc's
    // width-vs-ratio tradeoff)
    val out = MinHashDedup.containmentPairs(two, 2, 0.9, bands = 64)
      .select("d1", "d2", "containment").collect()
    assert(out.length == 1, s"expected exactly the embedded pair, got ${out.toSeq}")
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(out.head.getDouble(2) == 1.0)
  }

  test("explode-agg minhash signatures equal the array-fold spelling") {
    import org.apache.spark.sql.functions._
    // two spellings of the same permutations must never drift: the
    // interpreted array fold (API/reference form) vs the codegen'd
    // explode+aggregate path used by nearDupPairs
    val sh = Dedup.shingles(docs.limit(50), 2)
      .where(size(col("shingle_set")) > 0)
    val viaArray = sh.select(col("doc_id"),
      MinHashDedup.signature(col("shingle_set"), 16).as("sig"))
    val ex = sh.select(col("doc_id"), explode(col("shingle_set")).as("g"))
      .withColumn("h", pmod(xxhash64(col("g")), lit(2147483647L)))
    val viaAgg = ex.groupBy("doc_id")
      .agg(MinHashDedup.aggMinCols(16).head, MinHashDedup.aggMinCols(16).tail: _*)
      .select(col("doc_id"),
        array((0 until 16).map(i => col(s"m$i")): _*).as("sig"))
    assert(viaArray.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaArray).isEmpty)
    // and the native-expression spelling (the production path) matches both
    val viaNative = sh.select(col("doc_id"),
      MinHashDedup.signatureNative(col("shingle_set"), 16).as("sig"))
    assert(viaArray.exceptAll(viaNative).isEmpty && viaNative.exceptAll(viaArray).isEmpty)
  }

  test("neutral simhash: native kernel equals the built-in vote spelling") {
    import org.apache.spark.sql.functions._
    val toks = docs.limit(100)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .where(size(col("toks")) > 0)
    val viaNative = toks.select(col("doc_id"),
      graft.functions.StringArraySimHash.simhash(col("toks")).as("sim"))
    val ex = toks.select(col("doc_id"), explode(col("toks")).as("t"))
      .withColumn("h", TextOps.polyTokenHash(col("t")))
    val viaAgg = ex.groupBy("doc_id")
      .agg(SimHashDedup.neutralVoteCols.head, SimHashDedup.neutralVoteCols.tail: _*)
      .select(col("doc_id"), SimHashDedup.simFromVotes.as("sim"))
    assert(viaNative.exceptAll(viaAgg).isEmpty && viaAgg.exceptAll(viaNative).isEmpty)
  }

  test("neutral simhash pairs cover all planted near-dups (the gated config)") {
    val planted = Dedup.ngramJaccardPairs(docs, 2, 0.5).select("d1", "d2")
    val sh = SimHashDedup.nearDupPairsNeutral(docs, maxHamming = 6, bands = 8)
      .select("d1", "d2")
    assert(planted.exceptAll(sh).isEmpty,
      "a jaccard≥0.5 pair is missing from neutral-simhash hamming≤6 pairs")
  }

  test("gram matrix: diagonal equals the per-dim sum of squares, full triangle") {
    val g = Similarity.gramMatrix(emb)
    // d=64 ⇒ d(d+1)/2 = 2080 pairs, every one populated (no ragged rows
    // in this corpus), each from all n rows
    val n = emb.count()
    val rows = g.collect()
    assert(rows.length == 64 * 65 / 2)
    assert(rows.forall(_.getLong(2) == n), "every pair must see every row")
    // independent diagonal spelling: Σ x_d² via the quantized norms path
    val diag = emb
      .select(posexplode(Similarity.quantize(col("embedding"))).as(Seq("d", "x")))
      .groupBy(col("d").cast("long").as("dim_i"))
      .agg(sum(col("x") * col("x")).as("s2"))
    val mismatch = g.where(col("dim_i") === col("dim_j"))
      .join(diag, "dim_i")
      .where(col("s") =!= col("s2"))
    assert(mismatch.isEmpty, "diagonal must equal the sum of squares")
  }

  test("kmeans step: per-cell sums equal a brute-force assignment recount") {
    val step = Similarity.kmeansStep(emb)
    // brute assignment: argmax cosine over the same 32 seed centroids,
    // spelled as a cross join + window rank instead of the native kernel
    val q = emb.select(col("vec_id"),
      Similarity.quantize(col("embedding")).as("qv"))
      .withColumn("nrm", sqrt(Similarity.normQ(col("qv")).cast("double")))
    val cents = q.orderBy("vec_id").limit(32).collect()
      .zipWithIndex.map { case (r, i) => (i, r.getSeq[Long](1).toArray) }
    val centDf = spark.createDataFrame(cents.toSeq.map { case (i, v) =>
      (i.toLong, v.toSeq, math.sqrt(v.map(x => x.toDouble * x).sum))
    }).toDF("ci", "cv", "cnrm")
    val scored = q.crossJoin(broadcast(centDf))
      .withColumn("sc", when(col("nrm") > 0 && col("cnrm") > 0,
        graft.functions.LongArrayDot.dotQ(col("qv"), col("cv")).cast("double") /
          (col("nrm") * col("cnrm"))).otherwise(lit(-2.0)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("vec_id").orderBy(desc("sc"), asc("ci"))
    val assigned = scored.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1 && col("sc") > -2.0)
      .select(col("vec_id"), col("ci").as("cell"), col("qv"))
    val brute = assigned
      .select(col("cell"), posexplode(col("qv")).as(Seq("dim", "x")))
      .groupBy(col("cell"), col("dim").cast("long").as("dim"))
      .agg(count(lit(1)).as("n"), sum("x").as("s"))
    val joined = step.as("a").join(brute.as("b"), Seq("cell", "dim"), "full")
    assert(joined.where(col("a.n").isNull || col("b.n").isNull ||
      col("a.n") =!= col("b.n") || col("a.s") =!= col("b.s")).isEmpty,
      "kernel-assigned Lloyd sums must equal the brute-force recount")
  }

  test("rp_reduce projection equals a direct dense matvec per vector") {
    // the explode→8-conditional-sums aggregate must compute exactly
    // sign(j,i)·qv[j] summed — pin it against a plain Scala matvec
    // over the same quantized vectors and the same hash-derived signs
    import org.apache.spark.sql.Row
    val got = graft.queries.SimilarityQueries
      .simRpReduce(spark, TestSpark.Sf001)
      .collect().map(r => r.getLong(0) -> (1 to 8).map(r.getLong).toSeq).toMap
    val want = emb.select(col("vec_id"), col("embedding")).collect().map {
      // scala.collection.Seq, not the default immutable Seq: the row's
      // array column materializes as a mutable ArraySeq wrapper
      case Row(id: Long, e: scala.collection.Seq[_]) =>
        val qv = e.map(x => math.round(x.asInstanceOf[Float].toDouble * 10000.0))
        id -> (0 until 8).map { i =>
          qv.zipWithIndex.map { case (x, j) =>
            if ((j * 1315423911L + i * 2654435761L) % 1000003L % 2L == 0L) x else -x
          }.sum
        }
    }.toMap
    assert(got.nonEmpty && got == want)
  }

  test("kmeans step and gram matrix: empty corpus yields empty with schema") {
    val empty = emb.where(col("vec_id") < 0)
    assert(Similarity.kmeansStep(empty).isEmpty)
    assert(Similarity.kmeansStep(empty).columns.toSeq ==
      Seq("cell", "dim", "n", "s", "centroid_q"))
    assert(Similarity.gramMatrix(empty).isEmpty)
  }

  test("ANN recall report equals a driver-side set intersection") {
    val exact = graft.queries.SimilarityQueries.simTopK(spark, TestSpark.Sf001)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val ann = graft.queries.SimilarityQueries.simAnnLsh(spark, TestSpark.Sf001)
      .select("q_id", "n_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val rows = graft.queries.SimilarityQueries.simAnnRecall(spark, TestSpark.Sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val q = r.getAs[Long]("q_id")
      val hits = (exact(q) intersect ann.getOrElse(q, Set.empty)).size.toLong
      assert(r.getAs[Long]("k") == exact(q).size.toLong)
      assert(r.getAs[Long]("hits") == hits, s"q$q")
      assert(r.getAs[Long]("recall_ppm") == hits * 1000000L / exact(q).size)
    }
  }

  test("MMR picks match a driver-side greedy recomputation") {
    val got = graft.queries.SimilarityQueries
      .simMmrDiversify(spark, TestSpark.Sf001).collect()
      .map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("pick_order")) ->
        ((r.getAs[Long]("n_id"), r.getAs[Long]("mmr_score")))).toMap
    // independent greedy MMR in plain Scala over the quantized vectors
    val vecs = emb.selectExpr("vec_id",
      "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS LONG)) AS v")
      .collect()
      .map(r => r.getAs[Long]("vec_id") ->
        r.getAs[Seq[Long]]("v").toArray).toMap
    def dot(a: Array[Long], b: Array[Long]): Long =
      a.zip(b).map { case (x, y) => x * y }.sum
    val want = (0L until 3L).flatMap { qid =>
      val qv = vecs(qid)
      val pool = vecs.toSeq.filter(_._1 != qid)
        .map { case (id, v) => (id, v, dot(qv, v)) }
        .sortBy { case (id, _, rel) => (-rel, id) }.take(20)
      var selected = Vector.empty[(Long, Long)] // (n_id, score)
      for (r <- 1 to 5) {
        val cand = pool.filterNot(p => selected.exists(_._1 == p._1))
          .map { case (id, v, rel) =>
            val pen = if (selected.isEmpty) 0L
            else selected.map(s => dot(v, pool.find(_._1 == s._1).get._2)).max
            (id, if (r == 1) rel * 7 else rel * 7 - pen * 3)
          }
        val best = cand.minBy { case (id, s) => (-s, id) }
        selected :+= best
      }
      selected.zipWithIndex.map { case ((id, s), i) =>
        (qid, (i + 1).toLong) -> ((id, s))
      }
    }.toMap
    assert(got == want)
  }

  test("cosine neighbor profile fingerprints the sampled vectors' " +
      "exact neighbor sets (r20 sampled exact tier)") {
    import spark.implicits._
    // hand geometry: v1 == v2 (cos 1), v3 orthogonal to both,
    // v4 = v1 scaled (cos 1 with v1/v2, 0 with v3)
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f)), (2L, Array(1.0f, 0.0f)),
      (3L, Array(0.0f, 1.0f)), (4L, Array(0.5f, 0.0f))
    ).toDF("vec_id", "embedding")
    // mod = 1: every vector sampled; threshold 0.5
    val out = Similarity.cosineNeighborProfile(vecs, 0.5, mod = 1)
      .orderBy("vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    // quantized dots: v1·v2 = 10000² = 1e8; v1·v4 = 10000·5000 = 5e7
    assert(out(0) == ((1L, 2L, 6L, 150000000L, 1.0)))   // nbrs {2,4}
    assert(out(1) == ((2L, 2L, 5L, 150000000L, 1.0)))   // nbrs {1,4}
    assert(out(2) == ((3L, 0L, 0L, 0L, 0.0)))           // orthogonal
    assert(out(3) == ((4L, 2L, 3L, 100000000L, 1.0)))   // nbrs {1,2}
    // mod = 2 restricts the rows to the even ids
    val even = Similarity.cosineNeighborProfile(vecs, 0.5, mod = 2)
      .orderBy("vec_id").collect().map(_.getLong(0)).toSeq
    assert(even == Seq(2L, 4L))
  }
}
