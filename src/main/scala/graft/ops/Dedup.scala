package graft.ops

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines.
  *
  * Persistence: the pairwise operators persist their shingle frame for
  * reuse within one invocation via [[Persist.intermediate]] — on
  * static executors (and `local[n]`) a `localCheckpoint(false)`, never
  * `cache()`. The blocks are owned by
  * the checkpointed RDD — the ContextCleaner frees them once the
  * returned plan's frames are garbage-collected — so long-lived
  * sessions accumulate nothing and owe no `clearCache()` (the capHubs
  * doctrine, r14; `cache()` entries lived in the session CacheManager
  * until an explicit clear). The hygiene is NOT free: a locally
  * checkpointed frame has no lineage to recompute from, so an
  * executor loss — and in particular a dynamic-allocation
  * decommission, which Spark's docs call out as unsafe with
  * localCheckpoint — fails the query instead of recomputing. That is
  * why the mechanism follows the session, not a constant: under
  * `spark.dynamicAllocation.enabled` it switches to reliable
  * `checkpoint()` (when `spark.checkpoint.dir` is set) or to
  * lineage-preserving `cache()` — see [[Persist]] for the full
  * contract. Every reuse-purpose persist in the engine routes through
  * that one helper; in-loop lineage TRUNCATION sites (iterative
  * operators) route through the sibling [[Persist.truncate]], which
  * has no cache leg (caching never cuts the per-round plan growth)
  * and honors `spark.checkpoint.dir` under dynamic allocation — the
  * conf-only loss-safety contract PORTING.md documents.
  *
  * Exact dedup is a hash aggregate on the content key — one shuffle,
  * map-side combined, AQE-skew-safe. N-gram Jaccard is the exact
  * pairwise baseline: inverted-index self-join on distinct shingles, so
  * only docs sharing ≥1 shingle ever meet (never the naive n² cross
  * join). Its scale hazard is hot shingles (a shingle shared by B docs
  * contributes B² pair rows), so `maxShingleBucket` can drop
  * super-common shingles from candidate generation — the standard
  * indexing trick; at 100 TB you'd set it and/or move to MinHash LSH
  * (see MinHashDedup) which replaces the full inverted index with
  * banded signatures.
  */
object Dedup {
  /** THE deterministic sample modulus for the r20 sampled exact-tier
    * profiles (jaccard/containment here, cosine in [[Similarity]]) —
    * single-sourced in the ops layer so the operator defaults, the
    * query layer (TextQueries.ExactSampleMod aliases this), and the
    * interpolated DuckDB twins can never drift apart. 199: prime,
    * coprime to every documents/embeddings replica stride
    * (5000/50000 and 2000/20000 at the sf1/sf10 rungs), so the
    * sample walks ALL copies instead of pinning one offset per copy.
    */
  val ExactSampleMod = 199


  /** Candidate-generation strategy for exact pairwise n-gram Jaccard —
    * all three produce IDENTICAL output (spec-asserted); they differ
    * only in how the quadratic candidate space is navigated, and the
    * right one depends on corpus shape:
    *
    *   - `CountJoin`: full inverted-index self-join; intersection sizes
    *     fall out of the join's pair counts. Join output is Σ_g df(g)²
    *     rows — best when shingle document-frequencies are LOW (web-like
    *     large vocabulary), degenerate when hot shingles dominate
    *     (measured on the testdata corpus: 931-shingle vocabulary over
    *     5 k docs ⇒ 73 M join rows at sf0.1, 27 s).
    *   - `PrefixFilter`: PPJoin prefix filtering (Chaudhuri ICDE'06,
    *     Xiao WWW'08) — index each doc's globally-rarest
    *     (|s|−⌈t·|s|⌉+1) shingles, verify candidates with
    *     array_intersect. Lossless and the right call on LARGE-vocabulary
    *     corpora; on the small-vocabulary testdata it is strictly worse
    *     than CountJoin (the "rarest" prefix shingles still have df in
    *     the hundreds, and the per-candidate string-set intersect is
    *     expensive: measured 110 s at sf0.1).
    *   - `Bitmap`: when the vocabulary is small enough to index densely
    *     (≤ `maxVocab`), encode each doc's shingle set as a packed
    *     64-bit-word bitmap and score ALL pairs via the blocked
    *     self-join (see Similarity.cosineNearDupPairs) with a native
    *     AND+POPCNT kernel — n²/2 pair evaluations at ~(vocab/64) long
    *     ops each, no inverted-index blowup, no string compares on the
    *     hot path. The vocabulary is a bounded model artifact (like IVF
    *     centroids), collected and broadcast.
    *
    * At 100 TB: web-scale text has a huge vocabulary ⇒ PrefixFilter (or
    * MinHashDedup for the sketch path); narrow-domain corpora (logs,
    * templates, DNA k-mers) have small vocabularies ⇒ Bitmap.
    */
  sealed trait JaccardStrategy
  object JaccardStrategy {
    case object CountJoin extends JaccardStrategy
    case object PrefixFilter extends JaccardStrategy
    case object Bitmap extends JaccardStrategy

    /** Measure the corpus and pick: one cheap aggregate over the shingle
      * index (df per shingle → vocab size, Σdf, Σdf²), then the
      * selection rule the strategy scaladocs state, with the measured
      * round-2 numbers as calibration (see chooseJaccardStrategy).
      */
    case object Auto extends JaccardStrategy
  }

  /** Resolve [[JaccardStrategy.Auto]] from corpus shape. Inputs are the
    * three numbers one df-aggregate yields:
    *
    *   - `CountJoin` emits Σdf² pair rows; `Bitmap` does n²/2 pair
    *     scores at nWords (=⌈vocab/64⌉) long-word ops each. Calibrating
    *     on the measured corpus (sf0.1: Σdf² = 73 M rows → 27 s vs
    *     187 M word-ops → 3.3 s) a join-row emission costs roughly an
    *     order of magnitude more than a word-op, so Bitmap wins when
    *     `8·Σdf² > n²/2·nWords` — and is only legal at all when the
    *     vocabulary fits the dense index (≤ maxVocab).
    *   - Otherwise the shingle df distribution decides: near-uniform
    *     rare shingles (Σdf² close to Σdf) make the inverted-index join
    *     linear-ish → `CountJoin`; a heavy tail (Σdf² ≫ Σdf — hot
    *     shingles contribute df² each) is exactly what PPJoin's
    *     rarest-prefix indexing avoids → `PrefixFilter`.
    */
  def chooseJaccardStrategy(nDocs: Long, vocab: Long, sumDf: Long,
      sumDf2: Long, maxVocab: Int): JaccardStrategy = {
    import JaccardStrategy._
    if (nDocs == 0 || vocab == 0) return CountJoin
    val nWords = (vocab + 63) / 64
    val bitmapWordOps = nDocs.toDouble * nDocs / 2 * nWords
    if (vocab <= maxVocab && 8.0 * sumDf2 > bitmapWordOps) Bitmap
    else if (sumDf2 > 10L * sumDf) PrefixFilter
    else CountJoin
  }

  /** Exact dedup: group by the content column, keep the smallest id.
    * Output: one row per distinct content with the survivor id and copy
    * count.
    */
  def exact(docs: DataFrame, keyCol: String = "text", idCol: String = "doc_id"): DataFrame =
    docs.groupBy(col(keyCol))
      .agg(min(col(idCol)).as("keep_doc_id"), count(lit(1)).as("n_copies"))

  /** Word-n-gram shingle arrays (distinct), lowercased whitespace tokens.
    * Docs with fewer than n tokens get an empty shingle set.
    *
    * Built by zipping n shifted slices of the token array and joining
    * each struct — NOT by indexing `element_at(toks, i)` inside a
    * `transform` lambda: a lambda body re-evaluates captured non-trivial
    * subtrees per element, which turns per-doc work quadratic
    * (re-tokenize once per shingle). The zip shape touches the token
    * array a constant number of times per row.
    */
  def shingles(docs: DataFrame, n: Int = 2): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val m = greatest(size(toks) - (n - 1), lit(0))
    val zipped = arrays_zip((0 until n).map(k => slice(toks, lit(k + 1), m)): _*)
    val grams = when(size(toks) >= n,
      transform(zipped,
        s => concat_ws(" ", (0 until n).map(k => s.getField(k.toString)): _*))
    ).otherwise(array().cast("array<string>"))
    docs.select(col("doc_id"), array_distinct(grams).as("shingle_set"))
  }

  /** Exact pairwise n-gram Jaccard ≥ threshold via inverted-index
    * self-join. Output: (d1, d2, intersect_size, n1, n2, jaccard) with
    * d1 < d2. Jaccard = |A∩B| / (|A|+|B|-|A∩B|), exact integer-derived
    * double.
    *
    * Strategy selection: see [[JaccardStrategy]] — all strategies are
    * exact and output-identical; pick by corpus vocabulary shape.
    *
    * `maxShingleBucket` drops postings longer than the cap from
    * candidate generation (hot-key guard; a documented approximation;
    * applies to the inverted-index strategies — Bitmap has no postings).
    */
  def ngramJaccardPairs(
      docs: DataFrame,
      n: Int = 2,
      threshold: Double = 0.5,
      maxShingleBucket: Option[Int] = None,
      strategy: JaccardStrategy = JaccardStrategy.CountJoin,
      blocks: Int = 8,
      maxVocab: Int = 1 << 16): DataFrame = {
    import JaccardStrategy._
    val sh = shingles(docs, n).persistHotIntermediate
    val exploded = sh.select(col("doc_id"), explode(col("shingle_set")).as("g"))
    val strategy0 = strategy match {
      case Auto =>
        // one df-aggregate + the (persisted) doc count; resolution is a
        // driver-side formula over four numbers
        val st = exploded.groupBy("g").agg(count(lit(1)).as("df"))
          .agg(count(lit(1)).as("vocab"), sum(col("df")).as("sum_df"),
            sum(col("df") * col("df")).as("sum_df2"))
          .head
        if (st.isNullAt(1)) CountJoin // empty index
        else chooseJaccardStrategy(sh.count(), st.getLong(0), st.getLong(1),
          st.getLong(2), maxVocab)
      case s => s
    }
    def capped(index: DataFrame): DataFrame = maxShingleBucket match {
      case Some(cap) =>
        val hot = index.groupBy("g").count().where(col("count") > cap).select("g")
        index.join(hot, Seq("g"), "left_anti")
      case None => index
    }
    val jaccardCols = Seq(
      col("intersect_size"), col("n1"), col("n2"),
      (col("intersect_size").cast("double") /
        (col("n1") + col("n2") - col("intersect_size"))).as("jaccard"))

    if (strategy0 == Bitmap) {
      val vocab = vocabAtMost(exploded, maxVocab).getOrElse(
        throw new IllegalArgumentException(
          s"Bitmap strategy needs vocabulary ≤ $maxVocab (this corpus has " +
            "more); use PrefixFilter for large-vocabulary corpora"))
      bitmapPairIntersections(sh, exploded, blocks, vocab)
        .select(col("d1") +: col("d2") +: jaccardCols: _*)
        .where(col("jaccard") >= threshold)
    } else if (strategy0 == CountJoin && maxShingleBucket.isEmpty) {
      // full index, no cap: the join's pair counts ARE the intersection
      // sizes — cheapest exact spelling on small-vocabulary corpora
      postingPairIntersections(sh, exploded)
        .select(col("d1") +: col("d2") +: jaccardCols: _*)
        .where(col("jaccard") >= threshold)
    } else {
      // shared verify tail for the candidate-generating strategies:
      // candidate ids → exact set Jaccard from the full shingle sets
      // (cap/prefix prune CANDIDATE GENERATION only — join counts would
      // undercount for pairs sharing pruned shingles)
      def verifyCandidates(idx: DataFrame): DataFrame = {
        val cands = idx.as("a").join(idx.as("b"),
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
          .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
          .dropDuplicates("d1", "d2")
        cands
          .join(sh.select(col("doc_id").as("d1"), col("shingle_set").as("s1")), "d1")
          .join(sh.select(col("doc_id").as("d2"), col("shingle_set").as("s2")), "d2")
          .withColumn("intersect_size", size(array_intersect(col("s1"), col("s2"))))
          .withColumn("n1", size(col("s1")))
          .withColumn("n2", size(col("s2")))
          .select(col("d1") +: col("d2") +: jaccardCols: _*)
          .where(col("jaccard") >= threshold)
      }
      if (strategy0 == CountJoin) verifyCandidates(capped(exploded))
      else {
        val freq = exploded.groupBy("g").agg(count(lit(1)).as("df"))
        // prefix length |s| − ⌈t·|s|⌉ + 1 with an EXACT ceiling: double
        // multiplication can overshoot the true product (e.g.
        // 100·0.07 = 7.000000000000001, ceil → 8 instead of 7), which
        // would shorten the prefix and silently drop qualifying pairs
        // from a documented-lossless operator. DECIMAL multiply is
        // exact over the threshold's decimal representation.
        val tDec = lit(new java.math.BigDecimal(threshold.toString))
        val prefixLen = (size(col("shingle_set")) -
          ceil(size(col("shingle_set")) * tDec).cast("int") + 1)
        val prefixIndex = exploded.join(freq, "g")
          .groupBy("doc_id")
          .agg(sort_array(collect_list(struct(col("df"), col("g")))).as("by_rarity"))
          .join(sh, "doc_id")
          .select(col("doc_id"),
            explode(slice(transform(col("by_rarity"), s => s.getField("g")),
              lit(1), prefixLen)).as("g"))
        verifyCandidates(capped(prefixIndex))
      }
    }
  }

  /** The sorted shingle vocabulary when it has at most `maxVocab`
    * entries: one bounded fetch ([[Bounded.rowsAtMost]]), so at most
    * maxVocab + 1 shingles reach the driver and an overflow row proves
    * the vocabulary does not fit without counting it.
    */
  private def vocabAtMost(exploded: DataFrame,
      maxVocab: Int): Option[Array[String]] =
    Bounded.rowsAtMost(exploded.select("g").distinct().orderBy("g"), maxVocab)
      .map(_.map(_.getString(0)))

  /** (d1, d2, intersect_size, n1, n2) for every unordered pair
    * (d1 < d2) sharing ≥ 1 shingle, from the full posting-list
    * self-join: its pair counts ARE the intersection sizes.
    */
  private def postingPairIntersections(sh: DataFrame,
      exploded: DataFrame): DataFrame = {
    val sizes = sh.select(col("doc_id"), size(col("shingle_set")).as("n_sh"))
    exploded.as("a")
      .join(exploded.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("intersect_size"))
      .join(sizes.select(col("doc_id").as("d1"), col("n_sh").as("n1")), "d1")
      .join(sizes.select(col("doc_id").as("d2"), col("n_sh").as("n2")), "d2")
  }

  /** Shared exact pair-intersection core of the Bitmap strategy:
    * (d1, d2, intersect_size, n1, n2) for every UNORDERED pair
    * (d1 < d2) sharing ≥ 1 shingle. Set-similarity measures (Jaccard,
    * containment, overlap, dice) are all functions of these three
    * integers, so the callers differ only in their final filter.
    *
    * Vocabulary = bounded model artifact (like IVF centroids):
    * fetched sorted under maxVocab by the caller ([[vocabAtMost]]) for
    * a deterministic id assignment, broadcast back. Docs with empty
    * shingle sets never join the index — same exclusion as the
    * inverted-index strategies (an empty set can't
    * reach any positive threshold). Per-doc bitmaps pack with the
    * codegen'd explode→bit_or aggregate (NOT a per-doc interpreted
    * fold); the pair scan is a blocked all-pairs equi-join — n²
    * scoring spread over blocks² key groups, nothing corpus-sized
    * broadcast, no nested loop (same shape as
    * Similarity.cosineNearDupPairs) — scored by the native AND+POPCNT
    * kernel.
    *
    * The intersect ≥ 1 filter keeps the contract aligned with the
    * inverted-index strategies at EVERY threshold: they can only emit
    * pairs sharing a shingle, so an unfiltered bitmap scan would add
    * disjoint similarity-0 pairs they cannot produce.
    */
  private def bitmapPairIntersections(sh: DataFrame, exploded: DataFrame,
      blocks: Int, vocab: Array[String]): DataFrame = {
    val spark = sh.sparkSession
    import spark.implicits._
    val nWords = math.max(1, (vocab.length + 63) / 64)
    val vocabDf = vocab.zipWithIndex.toSeq.toDF("g", "id")
    // persisted: BOTH sides of the self-join scan it — unpersisted it would
    // be built twice (two groupBy shuffles each)
    val packed = exploded.join(broadcast(vocabDf), "g")
      .withColumn("word", (col("id") / lit(64)).cast("int"))
      .withColumn("mask",
        expr("shiftleft(CAST(1 AS BIGINT), CAST(pmod(id, 64) AS INT))"))
      .groupBy("doc_id", "word").agg(bit_or(col("mask")).as("m"))
      .groupBy("doc_id")
      .agg(map_from_entries(collect_list(struct(col("word"), col("m")))).as("wm"))
      .select(col("doc_id"),
        transform(sequence(lit(0), lit(nWords - 1)),
          w => coalesce(element_at(col("wm"), w), lit(0L))).as("bm"))
      .join(sh.select(col("doc_id"), size(col("shingle_set")).as("n_sh")), "doc_id")
      .persistHotIntermediate
    val base = packed
      .withColumn("blk", pmod(hash(col("doc_id")), lit(blocks)))
    val partners = array((0 until blocks).map(lit): _*)
    val a = base.select(col("doc_id").as("d1"), col("bm").as("bm1"),
      col("n_sh").as("n1"), col("blk").as("b1"), explode(partners).as("b2"))
    val b = base.select(col("doc_id").as("d2"), col("bm").as("bm2"),
      col("n_sh").as("n2"), col("blk").as("b2"), explode(partners).as("b1"))
    a.join(b, Seq("b1", "b2"))
      .where(col("d1") < col("d2"))
      .withColumn("intersect_size",
        graft.functions.LongArrayAndPopcount.popcountAnd(col("bm1"), col("bm2")))
      .where(col("intersect_size") >= 1)
      .select(col("d1"), col("d2"), col("intersect_size"), col("n1"), col("n2"))
  }

  /** Exact pairwise shingle CONTAINMENT ≥ threshold: C(A,B) =
    * |A∩B| / |A| — the asymmetric cousin of Jaccard that catches a
    * document wholly embedded in a larger one (quote-with-commentary,
    * boilerplate-wrapped reposts), which symmetric Jaccard misses
    * because the union is dominated by the big document. Output:
    * (d1, d2, intersect_size, n1, n2, containment) — one row per
    * ORDERED pair with C(d1 ⊂ d2) over the threshold, so a doc pair
    * can legitimately appear in both directions.
    *
    * Same inverted-index candidate generation as
    * [[ngramJaccardPairs]]'s CountJoin (only docs sharing a shingle
    * ever meet; hot shingles are the hazard and the same bucket cap
    * applies). Containment is a single float division over exact
    * integers — deterministic IEEE, engine-stable. At corpus scale the
    * sketch analogue is MinHash CONTAINMENT (|A∩B|/|A| estimated from
    * A's signature against the band buckets of B) — the exact spelling
    * here is the correctness baseline, quadratic in colliding docs by
    * contract like its Jaccard sibling.
    *
    * Strategy: intersection sizes are symmetric, so the pair counts
    * come from the same machinery as Jaccard — the blocked-bitmap
    * AND+POPCNT core when the vocabulary fits (this corpus: every
    * posting list is df-hundreds, so an inverted-index join explodes
    * into ~40× the bitmap's runtime — measured 47 s vs 2 s at sf0.1),
    * the posting-list join otherwise. Each unordered pair then fans
    * out to its two directed containment rows before the filter.
    */
  def containmentPairs(
      docs: DataFrame,
      n: Int = 2,
      threshold: Double = 0.9,
      blocks: Int = 8,
      maxVocab: Int = 1 << 16): DataFrame = {
    val sh = shingles(docs, n).persistHotIntermediate
    val exploded = sh.select(col("doc_id"), explode(col("shingle_set")).as("g"))
    // ONE bounded vocabulary fetch decides the spelling AND feeds the
    // bitmap id assignment
    val unordered = vocabAtMost(exploded, maxVocab) match {
      case Some(vocab) => bitmapPairIntersections(sh, exploded, blocks, vocab)
      case None => postingPairIntersections(sh, exploded)
    }
    val both = unordered.select(col("d1"), col("d2"), col("intersect_size"),
        col("n1"), col("n2"))
      .unionByName(unordered.select(col("d2").as("d1"), col("d1").as("d2"),
        col("intersect_size"), col("n2").as("n1"), col("n1").as("n2")))
    val contain = col("intersect_size").cast("double") / col("n1")
    both
      .where(contain >= threshold)
      .select(col("d1"), col("d2"), col("intersect_size"),
        col("n1").cast("long").as("n1"), col("n2").cast("long").as("n2"),
        contain.as("containment"))
  }

  /** Shared core of the SAMPLED exact-tier profiles (r20): for every
    * doc in the deterministic sample (doc_id % mod == 0), the exact
    * (sample, other, intersect, n_s, n_o) stats against the WHOLE
    * corpus, via the inverted-index count-join restricted to the
    * sample on one side. Returns (sample of ALL sampled doc ids,
    * per-candidate stats) — callers aggregate the stats into per-doc
    * fingerprints and left-join onto the sample so docs with no
    * candidates (or no shingles) still emit a zeros row.
    *
    * Why this exists: the full exact tier is quadratic BY DESIGN
    * (hours at sf10), so its twins are sf1-certified only. Restricting
    * one join side to ~1/mod of the corpus makes the same
    * tokenize→shingle→count arithmetic LINEAR in the corpus (sample ×
    * same-shingle partners), cheap enough for a full DuckDB twin at
    * sf10 — the 1000x spot-evidence for the exact tier's semantics.
    * The AND+POPCNT kernel itself stays sf1-certified by the canary's
    * cadenced exact tier; what this path re-proves at 1000x is the
    * shared substrate (TextOps.tokens, shingles(), the exact integer
    * intersections and IEEE measure arithmetic).
    *
    * The join counts ARE the intersections (CountJoin's no-cap
    * argument at ngramJaccardPairs): both sides explode DISTINCT
    * shingle sets, so pair rows per (s, o) = |S_s ∩ S_o| exactly.
    */
  private def sampledPairStats(docs: DataFrame, n: Int,
      mod: Int): (DataFrame, DataFrame) = {
    require(mod >= 1, s"sample modulus must be >= 1 (got $mod)")
    val sample = docs.select(col("doc_id"))
      .where(pmod(col("doc_id"), lit(mod)) === 0)
    val sh = shingles(docs, n).persistIntermediate
    val ex = sh.select(col("doc_id"), explode(col("shingle_set")).as("g"))
    val exS = ex.where(pmod(col("doc_id"), lit(mod)) === 0)
    val sizes = sh.select(col("doc_id"), size(col("shingle_set")).as("n_sh"))
    val stats = exS.as("a")
      .join(ex.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") =!= col("b.doc_id"))
      .groupBy(col("a.doc_id").as("s"), col("b.doc_id").as("o"))
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("s"), col("n_sh").as("ns")), "s")
      .join(sizes.select(col("doc_id").as("o"), col("n_sh").as("no")), "o")
    (sample, stats)
  }

  /** SAMPLED exact-Jaccard neighbor fingerprint (r20): one row per
    * sampled doc (doc_id % mod == 0) with its exact candidate count
    * (docs sharing ≥ 1 shingle), qualifying-neighbor count (Jaccard ≥
    * threshold, same formula as [[ngramJaccardPairs]]), the qualifying
    * neighbors' id and intersect-size sums (a set fingerprint: any
    * single wrong/missing neighbor moves the count or a sum), and the
    * max Jaccard over all candidates (0.0 when none — a candidate's
    * Jaccard is always > 0, so the sentinel is unambiguous).
    *
    * Row count is closed-form (⌊(max doc_id)/mod⌋ + 1 on contiguous
    * ids), which doubles as the ladder's replica-linearity assert.
    */
  def jaccardNeighborProfile(docs: DataFrame, n: Int = 2,
      threshold: Double = 0.5, mod: Int = ExactSampleMod): DataFrame = {
    val (sample, stats) = sampledPairStats(docs, n, mod)
    val jac = col("i").cast("double") / (col("ns") + col("no") - col("i"))
    val qual = jac >= threshold
    val prof = stats.groupBy(col("s").as("doc_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(qual, 1L).otherwise(0L)).as("n_qualifying"),
        sum(when(qual, col("o")).otherwise(0L)).as("nbr_id_sum"),
        sum(when(qual, col("i")).otherwise(0L)).as("nbr_intersect_sum"),
        max(jac).as("max_jaccard"))
    sample.join(prof, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_qualifying", "nbr_id_sum",
        "nbr_intersect_sum"))
      .na.fill(0.0, Seq("max_jaccard"))
  }

  /** SAMPLED exact-containment neighbor fingerprint (r20): the
    * directional sibling of [[jaccardNeighborProfile]] — per sampled
    * doc, counts and id-sums of the docs it is ≥-threshold CONTAINED
    * IN (C(s⊂o) = |∩|/|S_s|, [[containmentPairs]]'s d1-side) and of
    * the docs it CONTAINS (C(o⊂s) = |∩|/|S_o|), plus the max
    * containment of s in any candidate.
    */
  def containmentNeighborProfile(docs: DataFrame, n: Int = 2,
      threshold: Double = 0.8, mod: Int = ExactSampleMod): DataFrame = {
    val (sample, stats) = sampledPairStats(docs, n, mod)
    val containedIn = col("i").cast("double") / col("ns") >= threshold
    val contains = col("i").cast("double") / col("no") >= threshold
    val prof = stats.groupBy(col("s").as("doc_id"))
      .agg(
        count(lit(1)).as("n_candidates"),
        sum(when(containedIn, 1L).otherwise(0L)).as("n_contained_in"),
        sum(when(contains, 1L).otherwise(0L)).as("n_contains"),
        sum(when(containedIn, col("o")).otherwise(0L))
          .as("contained_id_sum"),
        sum(when(contains, col("o")).otherwise(0L)).as("contains_id_sum"),
        max(col("i").cast("double") / col("ns")).as("max_containment"))
    sample.join(prof, Seq("doc_id"), "left")
      .na.fill(0L, Seq("n_candidates", "n_contained_in", "n_contains",
        "contained_id_sum", "contains_id_sum"))
      .na.fill(0.0, Seq("max_containment"))
  }
}
