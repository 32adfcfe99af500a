package graft.queries

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{Curation, Dedup, TextOps}

/** Oracle-gated queries for the text-analysis and dedup operators over the
  * `documents` table. The Spark side runs the production operators
  * (TextOps / Dedup); oracle SQL restates them with DuckDB list/lambda
  * functions. All outputs are integer-derived or exact-division doubles —
  * deterministic across engines and shuffle orders.
  */
object TextQueries {
  import RefQueries.table

  private[queries] def docs(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents")

  /** Shared DuckDB tokenizer CTE (mirrors TextOps.tokens).
    * MATERIALIZED: nearly every text twin references `d` 2-7 times
    * (and the bpe chain feeds it into a 6-round unroll) — DuckDB
    * inlines CTEs by default, re-running the regex tokenization per
    * reference (the GraphQueries.EdgeCtes doctrine).
    */
  private[queries] val DuckToks =
    """WITH d AS MATERIALIZED (
      |  SELECT doc_id, text, lang,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
      |  FROM documents
      |)""".stripMargin

  // ---- token counting -------------------------------------------------

  def textTokens(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.analyze(docs(spark, sfDir))
      .select("doc_id", "n_chars", "n_tokens", "n_tokens_bpe")
      .transform(RefQueries.gateSort(_, "doc_id"))

  val textTokensSql: String = DuckToks +
    """
      |SELECT doc_id, length(text) AS n_chars, len(toks) AS n_tokens,
      |       len(regexp_extract_all(lower(text), '[a-z]+|[0-9]|[^a-z0-9\s]')) AS n_tokens_bpe
      |FROM d ORDER BY doc_id""".stripMargin

  // ---- quality scoring ------------------------------------------------

  def textQuality(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.analyze(docs(spark, sfDir))
      .select("doc_id", "avg_token_len", "punct_ratio", "stopword_ratio")
      .transform(RefQueries.gateSort(_, "doc_id"))

  /** `text_lexical_diversity` — type–token ratio per document
    * (distinct tokens ÷ tokens, the classic lexical-richness signal;
    * template/boilerplate text scores low, natural prose high — a
    * corpus-quality filter sibling of text_repetition). Scored as
    * TTR·1e6 by integral division so the gate hashes integers; docs
    * with no tokens are excluded (the ratio is undefined, and both
    * engines would otherwise have to agree on a NULL spelling).
    *
    * Scale: narrow per-row map (tokenize + one distinct count inside
    * the row), no shuffle before the gate sort.
    */
  def textLexicalDiversity(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
      .withColumn("n_tokens", size(col("toks")).cast("long"))
      .withColumn("n_types", size(array_distinct(col("toks"))).cast("long"))
      .where(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        expr("(n_types * 1000000L) DIV n_tokens").as("ttr_1e6"))
      .transform(RefQueries.gateSort(_, "doc_id"))

  val textLexicalDiversitySql: String = DuckToks +
    """
      |SELECT doc_id,
      |       CAST(len(toks) AS BIGINT) AS n_tokens,
      |       CAST(len(list_distinct(toks)) AS BIGINT) AS n_types,
      |       CAST(len(list_distinct(toks)) AS BIGINT) * 1000000
      |         // CAST(len(toks) AS BIGINT) AS ttr_1e6
      |FROM d WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin

  val textQualitySql: String = DuckToks +
    """
      |SELECT doc_id,
      |       CAST(list_sum(list_transform(toks, t -> length(t))) AS DOUBLE) / len(toks) AS avg_token_len,
      |       CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / length(text) AS punct_ratio,
      |       CAST(len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is'])) AS DOUBLE) / len(toks) AS stopword_ratio
      |FROM d ORDER BY doc_id""".stripMargin

  /** `corpus_gopher_rules` — the Gopher quality-rule battery (Rae et
    * al. 2021, Table A1, the rules a Chinchilla-style pipeline applies
    * verbatim) as ABSOLUTE per-document flags, complementing
    * `corpus_quality_ensemble`'s corpus-relative percentile filter:
    * word count in [50, 100k], mean word length in [3, 10],
    * symbol-to-word ratio (# and ellipsis) ≤ 0.1, ≥80% of words
    * containing a letter, and ≥2 distinct Gopher stopwords present.
    * All ratios are integer cross-multiplications — no division at
    * all, so no rounding spelling to align.
    *
    * Scale: narrow per-row map (tokenize + counting inside the row),
    * zero shuffles before the gate sort — the cheapest possible
    * filter pass at 100 TB.
    */
  def corpusGopherRules(spark: SparkSession, sfDir: String): DataFrame = {
    val stop = Seq("the", "be", "to", "of", "and", "that", "have", "with")
    docs(spark, sfDir)
      .withColumn("toks", graft.ops.TextOps.tokens(col("text")))
      .withColumn("n_words", size(col("toks")).cast("long"))
      .where(col("n_words") > 0)
      .withColumn("char_sum",
        aggregate(transform(col("toks"), t => length(t).cast("long")),
          lit(0L), (a, x) => a + x))
      .withColumn("sym_count",
        regexp_count(col("text"), lit("#|\\.\\.\\.")).cast("long"))
      .withColumn("alpha_words",
        size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("long"))
      .withColumn("stop_hits",
        size(array_intersect(array_distinct(col("toks")),
          array(stop.map(lit): _*))).cast("long"))
      .withColumn("r1_wordcount",
        (col("n_words") >= 50 && col("n_words") <= 100000L).cast("long"))
      .withColumn("r2_wordlen",
        (col("char_sum") >= col("n_words") * 3 &&
          col("char_sum") <= col("n_words") * 10).cast("long"))
      .withColumn("r3_symbols",
        (col("sym_count") * 10 <= col("n_words")).cast("long"))
      .withColumn("r4_alpha",
        (col("alpha_words") * 5 >= col("n_words") * 4).cast("long"))
      .withColumn("r5_stopwords", (col("stop_hits") >= 2).cast("long"))
      .withColumn("keep",
        (col("r1_wordcount") + col("r2_wordlen") + col("r3_symbols") +
          col("r4_alpha") + col("r5_stopwords") === 5).cast("long"))
      .select("doc_id", "n_words", "char_sum", "sym_count", "alpha_words",
        "stop_hits", "r1_wordcount", "r2_wordlen", "r3_symbols", "r4_alpha",
        "r5_stopwords", "keep")
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val corpusGopherRulesSql: String = DuckToks +
    """, g AS MATERIALIZED (
      |  SELECT doc_id,
      |         CAST(len(toks) AS BIGINT) AS n_words,
      |         CAST(list_sum(list_transform(toks, t -> length(t)))
      |              AS BIGINT) AS char_sum,
      |         CAST(len(regexp_extract_all(text, '#|\.\.\.'))
      |              AS BIGINT) AS sym_count,
      |         CAST(len(list_filter(toks, t -> regexp_matches(t, '[a-z]')))
      |              AS BIGINT) AS alpha_words,
      |         CAST(len(list_intersect(list_distinct(toks),
      |              ['the','be','to','of','and','that','have','with']))
      |              AS BIGINT) AS stop_hits
      |  FROM d WHERE len(toks) > 0
      |)
      |SELECT doc_id, n_words, char_sum, sym_count, alpha_words, stop_hits,
      |       CAST(CASE WHEN n_words >= 50 AND n_words <= 100000
      |                 THEN 1 ELSE 0 END AS BIGINT) AS r1_wordcount,
      |       CAST(CASE WHEN char_sum >= 3 * n_words
      |                  AND char_sum <= 10 * n_words
      |                 THEN 1 ELSE 0 END AS BIGINT) AS r2_wordlen,
      |       CAST(CASE WHEN sym_count * 10 <= n_words
      |                 THEN 1 ELSE 0 END AS BIGINT) AS r3_symbols,
      |       CAST(CASE WHEN alpha_words * 5 >= n_words * 4
      |                 THEN 1 ELSE 0 END AS BIGINT) AS r4_alpha,
      |       CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS BIGINT)
      |         AS r5_stopwords,
      |       CAST(CASE WHEN (CASE WHEN n_words >= 50 AND n_words <= 100000
      |                            THEN 1 ELSE 0 END)
      |                    + (CASE WHEN char_sum >= 3 * n_words
      |                             AND char_sum <= 10 * n_words
      |                            THEN 1 ELSE 0 END)
      |                    + (CASE WHEN sym_count * 10 <= n_words
      |                            THEN 1 ELSE 0 END)
      |                    + (CASE WHEN alpha_words * 5 >= n_words * 4
      |                            THEN 1 ELSE 0 END)
      |                    + (CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END)
      |                    = 5 THEN 1 ELSE 0 END AS BIGINT) AS keep
      |FROM g ORDER BY doc_id""".stripMargin

  // ---- language ID ----------------------------------------------------

  def textLangid(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.analyze(docs(spark, sfDir))
      .select("doc_id", "score_en", "score_de", "score_es", "score_fr",
        "predicted_lang", "lang")
      .transform(RefQueries.gateSort(_, "doc_id"))

  val textLangidSql: String = DuckToks +
    """
      |, scored AS MATERIALIZED (
      |  SELECT doc_id, lang,
      |         len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is'])) AS score_en,
      |         len(list_intersect(list_distinct(toks), ['der','die','das','und','ist'])) AS score_de,
      |         len(list_intersect(list_distinct(toks), ['el','la','de','los','y'])) AS score_es,
      |         len(list_intersect(list_distinct(toks), ['le','les','et','est','un'])) AS score_fr
      |  FROM d
      |)
      |SELECT doc_id, score_en, score_de, score_es, score_fr,
      |       CASE WHEN score_en >= greatest(score_en, score_de, score_es, score_fr) THEN 'en'
      |            WHEN score_de >= greatest(score_en, score_de, score_es, score_fr) THEN 'de'
      |            WHEN score_es >= greatest(score_en, score_de, score_es, score_fr) THEN 'es'
      |            WHEN score_fr >= greatest(score_en, score_de, score_es, score_fr) THEN 'fr'
      |            ELSE 'und' END AS predicted_lang,
      |       lang
      |FROM scored ORDER BY doc_id""".stripMargin

  // ---- fingerprinting -------------------------------------------------

  def textFingerprint(spark: SparkSession, sfDir: String): DataFrame =
    TextOps.analyze(docs(spark, sfDir))
      .select("doc_id", "fingerprint")
      .transform(RefQueries.gateSort(_, "doc_id"))

  val textFingerprintSql: String = DuckToks +
    """
      |SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(toks, t ->
      |      list_reduce(list_prepend(CAST(0 AS BIGINT),
      |        list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |        (a, c) -> (a * 131 + c) % 1000000007))),
      |    (acc, h) -> (acc * 31 + h) % 1000000007) AS fingerprint
      |FROM d ORDER BY doc_id""".stripMargin

  /** `dedup_bloom_eval` — Bloom-filter membership dedup with MEASURED
    * error: the PRIOR corpus's content fingerprints populate a deliberately TIGHT 1024-bit
    * / 4-hash Bloom filter (~83% fill at fixture scale, so the FP
    * path is actually exercised, not vacuously zero) (engine-neutral LCG bit positions — no
    * engine hash), the NEW batch probes it, and the report counts
    * exact duplicates, Bloom hits, false positives, and the realized
    * FPR in ppm against exact membership. THE streaming-ingest dedup
    * design tool: a Bloom probe is O(k) bits per doc where the exact
    * anti-join shuffles the corpus — this row says what that speed
    * costs in wrongly-dropped fresh documents at a given m/k/n. No
    * false NEGATIVES by construction (every inserted key's bits are
    * set), which the spec pins.
    *
    * Scale: the filter is m = 1024 bits REGARDLESS of corpus size (the
    * fixed-memory sketch contract); build and probe are narrow maps +
    * one distinct over (i, bit) ≤ m·k rows; the exact side here is the
    * oracle-gated yardstick, not the scale path.
    */
  def dedupBloomEval(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.TextOps
    val as = Seq(1315423911L, 2654435761L, 2246822519L, 3266489917L)
    val bs = Seq(97L, 193L, 389L, 769L)
    val f = TextOps.analyze(docs(spark, sfDir))
      .select(col("doc_id"), col("fingerprint").as("key"))
      .truncateLineage(true)
    val prior = f.where(col("doc_id") % 10 =!= 0)
    val batch = f.where(col("doc_id") % 10 === 0)
    def bits(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("key"),
        posexplode(array((0 until 4).map(i =>
          (col("key") * as(i) + bs(i)) % 2147483647L % 1024L): _*))
          .as(Seq("i", "bit")))
    val bloomBits = bits(prior).select("i", "bit").distinct()
      .withColumn("hit", lit(1L))
    val probed = bits(batch)
      .join(bloomBits, Seq("i", "bit"), "left")
      .groupBy("doc_id", "key")
      .agg(sum(coalesce(col("hit"), lit(0L))).as("nbits"))
      .withColumn("bloom_hit", (col("nbits") === 4).cast("long"))
    val exact = prior.select("key").distinct().withColumn("present", lit(1L))
    probed.join(exact, Seq("key"), "left")
      .withColumn("exact_dup",
        when(col("present").isNotNull, 1L).otherwise(0L))
      .agg(count(lit(1)).as("n_batch"),
        sum("exact_dup").as("n_exact_dup"),
        sum("bloom_hit").as("n_bloom_hits"),
        sum(when(col("bloom_hit") === 1 && col("exact_dup") === 0, 1L)
          .otherwise(0L)).as("n_false_pos"))
      .withColumn("fpr_ppm",
        expr("n_false_pos * 1000000L div greatest(n_batch - n_exact_dup, 1L)"))
  }

  val dedupBloomEvalSql: String = {
    val fpExpr =
      """list_reduce(list_prepend(CAST(0 AS BIGINT),
        |    list_transform(toks, t ->
        |      list_reduce(list_prepend(CAST(0 AS BIGINT),
        |        list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
        |        (a, c) -> (a * 131 + c) % 1000000007))),
        |    (acc, h) -> (acc * 31 + h) % 1000000007)""".stripMargin
    DuckToks +
      s""", f AS MATERIALIZED (
         |  SELECT doc_id, $fpExpr AS key FROM d
         |), prior AS MATERIALIZED (SELECT * FROM f WHERE doc_id % 10 <> 0
         |), batch AS (SELECT * FROM f WHERE doc_id % 10 = 0
         |), cfg AS MATERIALIZED (
         |  SELECT i,
         |         CASE i WHEN 0 THEN 1315423911 WHEN 1 THEN 2654435761
         |                WHEN 2 THEN 2246822519 ELSE 3266489917 END AS a,
         |         CASE i WHEN 0 THEN 97 WHEN 1 THEN 193
         |                WHEN 2 THEN 389 ELSE 769 END AS b
         |  FROM range(0, 4) r(i)
         |), pbits AS (
         |  SELECT DISTINCT c.i,
         |         (p.key * c.a + c.b) % 2147483647 % 1024 AS bit
         |  FROM prior p, cfg c
         |), probe AS (
         |  SELECT bt.doc_id, bt.key,
         |         CAST(SUM(CASE WHEN pb.bit IS NOT NULL THEN 1 ELSE 0 END)
         |              AS BIGINT) AS nbits
         |  FROM batch bt CROSS JOIN cfg c
         |  LEFT JOIN pbits pb ON pb.i = c.i
         |    AND pb.bit = (bt.key * c.a + c.b) % 2147483647 % 1024
         |  GROUP BY bt.doc_id, bt.key
         |), ex AS MATERIALIZED (SELECT DISTINCT key FROM prior)
         |SELECT COUNT(*) AS n_batch,
         |       CAST(SUM(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_exact_dup,
         |       CAST(SUM(CASE WHEN p.nbits = 4 THEN 1 ELSE 0 END)
         |            AS BIGINT) AS n_bloom_hits,
         |       CAST(SUM(CASE WHEN p.nbits = 4 AND e.key IS NULL
         |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
         |       CAST(SUM(CASE WHEN p.nbits = 4 AND e.key IS NULL
         |                     THEN 1 ELSE 0 END) * 1000000
         |            // greatest(COUNT(*)
         |                - SUM(CASE WHEN e.key IS NOT NULL THEN 1 ELSE 0 END),
         |                1) AS BIGINT) AS fpr_ppm
         |FROM probe p LEFT JOIN ex e ON e.key = p.key""".stripMargin
  }

  /** `text_burstiness` — the index of dispersion (variance-to-mean
    * ratio) of the corpus's most frequent token's per-document counts,
    * ZEROS INCLUDED: Church & Gale's burstiness — a token spread
    * evenly across documents (function word) scores ≈1 like a Poisson
    * process, a bursty topical term ≫1 — the signal that separates
    * the two when raw frequency cannot. The top token picks
    * deterministically (max count, then lexicographic); sufficient
    * statistics are exact BIGINTs; D = (n·Σx²−(Σx)²)/(n·Σx) is one
    * fixed double sequence.
    *
    * Scale: one token-count aggregate, one argmax, one per-doc count
    * left-joined against the doc spine (zeros preserved — dropping
    * them silently inflates D, the classic mistake), one rollup.
    */
  def textBurstiness(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.TextOps
    val d = docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
    val tokCounts = d.select(explode(col("toks")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
    val top = tokCounts.orderBy(desc("cnt"), col("tok")).limit(1)
      .select(col("tok").as("top_tok"), col("cnt").as("total_occurrences"))
    val perDoc = d.crossJoin(broadcast(top))
      .select(col("doc_id"), col("top_tok"), col("total_occurrences"),
        size(filter(col("toks"), t => t === col("top_tok"))).cast("long")
          .as("x"))
    perDoc.groupBy("top_tok", "total_occurrences")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("x") > 0, 1L).otherwise(0L)).as("n_docs_with"),
        sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"))
      .withColumn("dispersion",
        (col("n_docs").cast("double") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx").cast("double")) /
          (col("n_docs").cast("double") * col("sx").cast("double")))
      .select(col("top_tok").as("token"), col("n_docs"), col("n_docs_with"),
        col("total_occurrences"), col("dispersion"))
  }

  val textBurstinessSql: String = DuckToks +
    """, tc AS (
      |  SELECT unnest(toks) AS tok FROM d
      |), top AS (
      |  SELECT tok AS top_tok, COUNT(*) AS total_occurrences
      |  FROM tc GROUP BY tok
      |  ORDER BY total_occurrences DESC, tok LIMIT 1
      |), pd AS (
      |  SELECT d.doc_id, t.top_tok, t.total_occurrences,
      |         CAST(len(list_filter(d.toks, x -> x = t.top_tok))
      |              AS BIGINT) AS x
      |  FROM d CROSS JOIN top t
      |), s AS MATERIALIZED (
      |  SELECT top_tok, total_occurrences, COUNT(*) AS n_docs,
      |         CAST(SUM(CASE WHEN x > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |           AS n_docs_with,
      |         CAST(SUM(x) AS BIGINT) AS sx,
      |         CAST(SUM(x * x) AS BIGINT) AS sxx
      |  FROM pd GROUP BY top_tok, total_occurrences
      |)
      |SELECT top_tok AS token, n_docs, n_docs_with, total_occurrences,
      |       (CAST(n_docs AS DOUBLE) * CAST(sxx AS DOUBLE)
      |        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       / (CAST(n_docs AS DOUBLE) * CAST(sx AS DOUBLE)) AS dispersion
      |FROM s""".stripMargin

  // ---- dedup ----------------------------------------------------------

  def dedupExact(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.exact(docs(spark, sfDir))
      .orderBy("keep_doc_id")

  val dedupExactSql: String =
    """SELECT text, min(doc_id) AS keep_doc_id, count(*) AS n_copies
      |FROM documents GROUP BY text ORDER BY keep_doc_id""".stripMargin

  /** Gated spelling is strategy AUTO, which resolves to BITMAP on this
    * corpus — exact (same output and
    * oracle as the inverted-index count-join) and the right strategy for
    * this corpus's shape: a 931-shingle vocabulary over 5 k docs makes
    * the inverted-index join emit Σ df² ≈ 73 M rows at sf0.1 (27 s in
    * round 1), and PPJoin prefix filtering is WORSE here (measured
    * 110 s — "rare" shingles still have df in the hundreds and the
    * per-candidate string intersect dominates). The bitmap path scores
    * all pairs through a blocked equi-join with a native AND+POPCNT
    * kernel instead. See Dedup.JaccardStrategy for the selection rule.
    */
  def dedupNgramJaccard(spark: SparkSession, sfDir: String): DataFrame =
    // Auto measures the corpus and resolves to Bitmap here (spec-pinned
    // in DedupSpec — the selection rule is chooseJaccardStrategy)
    Dedup.ngramJaccardPairs(docs(spark, sfDir), n = 2, threshold = 0.5,
        strategy = Dedup.JaccardStrategy.Auto)
      .orderBy("d1", "d2")

  /** Exact-Jaccard oracle at an arbitrary threshold (shared by the exact
    * query at 0.5 and the MinHash gate at 0.7 — see SimilarityQueries).
    */
  /** Exact-Jaccard pair oracle at `threshold`; `pairWhere` optionally
    * restricts which (d1, d2) pairs qualify (e.g. the incremental-index
    * gate keeps only pairs touching the new batch).
    */
  def dedupNgramJaccardSqlAt(threshold: Double,
      pairWhere: String = ""): String = DuckToks +
    s"""
      |, sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS s
      |  FROM d
      |), ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS intersect_size
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), sizes AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM sh)
      |SELECT d1, d2, intersect_size, s1.n AS n1, s2.n AS n2,
      |       CAST(intersect_size AS DOUBLE) / (s1.n + s2.n - intersect_size) AS jaccard
      |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE CAST(intersect_size AS DOUBLE) / (s1.n + s2.n - intersect_size) >= $threshold
      |${if (pairWhere.nonEmpty) s"  AND ($pairWhere)" else ""}
      |ORDER BY d1, d2""".stripMargin

  // same text as the parameterized oracle at 0.5 — aliasing (instead of
  // a duplicated literal) keeps the exact-Jaccard gate and the MinHash
  // gate on the SAME shared SQL, so a fix to one can't silently skip
  // the other
  val dedupNgramJaccardSql: String = dedupNgramJaccardSqlAt(0.5)

  // ---- composed curation pipeline -------------------------------------

  /** Quality filter → exact dedup → minhash near-dup removal, as one
    * gated query (see ops.Curation). The oracle restates each stage in
    * DuckDB, with the near-dup stage as EXACT Jaccard at 0.7 — sound
    * because the minhash banding's recall ≈ 1 there (the same contract
    * dedup_minhash_lsh is gated on).
    */
  def corpusCurate(spark: SparkSession, sfDir: String): DataFrame =
    RefQueries.gateSort(Curation.curate(docs(spark, sfDir)), "doc_id")

  val corpusCurateSql: String = DuckToks +
    """
      |, scored AS MATERIALIZED (
      |  SELECT doc_id, text, toks, length(text) AS n_chars, len(toks) AS n_tokens,
      |         CAST(len(regexp_extract_all(text, '[^A-Za-z0-9\s]')) AS DOUBLE) / length(text) AS punct_ratio,
      |         len(list_intersect(list_distinct(toks), ['the','a','of','and','to','in','is'])) AS score_en,
      |         len(list_intersect(list_distinct(toks), ['der','die','das','und','ist'])) AS score_de,
      |         len(list_intersect(list_distinct(toks), ['el','la','de','los','y'])) AS score_es,
      |         len(list_intersect(list_distinct(toks), ['le','les','et','est','un'])) AS score_fr
      |  FROM d
      |), quality AS MATERIALIZED (
      |  SELECT * FROM scored
      |  WHERE n_tokens >= 30 AND punct_ratio <= 0.5 AND score_en >= 1
      |    AND score_en >= greatest(score_en, score_de, score_es, score_fr)
      |), keepx AS MATERIALIZED (
      |  SELECT min(doc_id) AS doc_id FROM quality GROUP BY text
      |), kept AS MATERIALIZED (
      |  SELECT q.* FROM quality q JOIN keepx k ON q.doc_id = k.doc_id
      |), sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS s
      |  FROM kept
      |), ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS intersect_size
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2
      |), sizes AS MATERIALIZED (SELECT doc_id, len(s) AS n FROM sh),
      |losers AS MATERIALIZED (
      |  SELECT DISTINCT d2 FROM pairs
      |  JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |  WHERE CAST(intersect_size AS DOUBLE) / (s1.n + s2.n - intersect_size) >= 0.7
      |)
      |SELECT doc_id, n_chars, n_tokens FROM kept
      |WHERE doc_id NOT IN (SELECT d2 FROM losers)
      |ORDER BY doc_id""".stripMargin

  /** `corpus_pipeline_manifest` — the END of the curation line as one
    * gated artifact: the shard manifest a training run actually
    * consumes. Survivors of the composed quality→exact-dedup→near-dup
    * pipeline ([[graft.ops.Curation.curate]]) carry provenance (lang,
    * source), BOTH token accountings (whitespace + BPE-ish pre-token
    * count — the budget currency), a PII-pattern count (the redaction
    * workload estimate), and a deterministic shard id (doc_id mod 8 —
    * never a hash an oracle can't restate). Composition is the point:
    * the gate proves the stages plug together end to end, not just
    * one at a time.
    *
    * Scale: Curation.curate's three stages (map-only quality, one
    * content shuffle, banded near-dup) plus one broadcast-shaped join
    * back to the docs for provenance and two narrow regex counts —
    * nothing new shuffles.
    */
  def corpusPipelineManifest(spark: SparkSession, sfDir: String): DataFrame = {
    val survivors = Curation.curate(docs(spark, sfDir))
    survivors
      .join(docs(spark, sfDir).select("doc_id", "lang", "source", "text"),
        "doc_id")
      .select(col("doc_id"), col("lang"), col("source"), col("n_chars"),
        col("n_tokens"),
        TextOps.bpeishCount(col("text")).cast("long").as("n_tokens_bpe"),
        size(expr("regexp_extract_all(text, '[0-9]{4,}', 0)")).cast("long")
          .as("n_pii"),
        (col("doc_id") % 8).as("shard"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val corpusPipelineManifestSql: String =
    s"""WITH curated AS (
       |$corpusCurateSql
       |)
       |SELECT c.doc_id, d.lang, d.source, c.n_chars, c.n_tokens,
       |       CAST(len(regexp_extract_all(lower(d.text), '[a-z]+|[0-9]|[^a-z0-9\\s]')) AS BIGINT) AS n_tokens_bpe,
       |       CAST(len(regexp_extract_all(d.text, '[0-9]{4,}')) AS BIGINT) AS n_pii,
       |       c.doc_id % 8 AS shard
       |FROM curated c JOIN documents d USING (doc_id)
       |ORDER BY c.doc_id""".stripMargin

  /** `text_term_freq` — corpus-level vocabulary statistics: per-token
    * total term frequency and document frequency in ONE aggregate
    * (explode → groupBy token with count + countDistinct), top-50 by df.
    * The shape behind IDF tables and stopword discovery at corpus
    * scale: one shuffle on the token, partial counts map-side, and the
    * top-k is TakeOrderedAndProject — no global sort.
    */
  def textTermFreq(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    docs(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("term_freq"),
        countDistinct(col("doc_id")).as("doc_freq"))
      .orderBy(desc("doc_freq"), desc("term_freq"), asc("tok"))
      .limit(50)
  }

  val textTermFreqSql: String = DuckToks +
    """
      |, t AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok FROM d)
      |SELECT tok, COUNT(*) AS term_freq, COUNT(DISTINCT doc_id) AS doc_freq
      |FROM t GROUP BY tok
      |ORDER BY doc_freq DESC, term_freq DESC, tok LIMIT 50""".stripMargin

  /** `text_tfidf` — the top-3 most distinctive terms per document,
    * scored tf·(N/df). The classic idf uses ln(N/df); the ratio spelling
    * keeps the score a single float division over exact integers
    * (tf·N is exact, one fp op), so the gate never depends on two
    * engines' libm — and it is rank-equivalent to ln for fixed tf
    * (ln is monotone). Two aggregates (per-term df, per-doc-term tf)
    * and a rank filter; df for the join comes from the SAME aggregate
    * a 100 TB run would broadcast (the vocabulary is tiny next to the
    * corpus).
    */
  def textTfidf(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val d = docs(spark, sfDir)
    // N as a broadcast 1-row aggregate, not a driver-side count():
    // keeps the whole query one lazy plan (no extra eager job) — the
    // tradeEdges scalar-total pattern
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val terms = d.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
    // tf has exactly one row per (doc, term), so df falls out of tf by
    // a second aggregate — persisted, the tokenize+explode runs ONCE
    // instead of once per branch (tf, df are separate plan branches and
    // Spark does no cross-branch common-subexpression elimination)
    val tf = terms.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")).persistIntermediate
    val df_ = tf.groupBy("tok").agg(count(lit(1)).as("df"))
    val ranked = Window.partitionBy("doc_id")
      .orderBy(col("score").desc, col("tok"))
    tf.join(broadcast(df_), "tok")
      .crossJoin(broadcast(nDocs))
      .withColumn("score", (col("tf") * col("n_docs")).cast("double") / col("df"))
      .withColumn("rn", row_number().over(ranked))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("rn").as("term_rank"), col("tok"),
        col("tf"), col("df"), col("score"))
      .orderBy("doc_id", "term_rank")
  }

  val textTfidfSql: String = DuckToks +
    """
      |, t AS MATERIALIZED (SELECT doc_id, unnest(toks) AS tok FROM d),
      |tf AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS tf FROM t GROUP BY doc_id, tok),
      |df AS MATERIALIZED (SELECT tok, COUNT(DISTINCT doc_id) AS df FROM t GROUP BY tok),
      |n AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM d),
      |scored AS MATERIALIZED (
      |  SELECT tf.doc_id, tf.tok, tf.tf, df.df,
      |         CAST(tf.tf * n.n_docs AS DOUBLE) / df.df AS score
      |  FROM tf JOIN df USING (tok) CROSS JOIN n
      |), ranked AS (
      |  SELECT *, CAST(row_number() OVER (PARTITION BY doc_id
      |                                    ORDER BY score DESC, tok) AS INTEGER) AS term_rank
      |  FROM scored
      |)
      |SELECT doc_id, term_rank, tok, tf, df, score
      |FROM ranked WHERE term_rank <= 3
      |ORDER BY doc_id, term_rank""".stripMargin

  /** `sim_sparse_cosine` — TF-weighted cosine between documents over an
    * INVERTED-INDEX (posting-list) self-join: the sparse-vector sibling
    * of the dense-embedding ANN family, and the shape text similarity
    * actually takes at 100 TB — a dense 31-token bag-of-words here would
    * make every pair a candidate (Σdf² = 448 M rows at sf0.1, measured),
    * so terms are word TRIGRAMS (vocabulary grows with the corpus, dfs
    * stay small) with a df ≤ N/10 stopword guard: boilerplate shingles
    * shared by >10 % of docs are dropped from candidate generation, the
    * same hot-posting cap Dedup.ngramJaccardPairs documents. After
    * pruning, Σdf² is 54 k at sf0.01 — candidate pairs ∝ rare-term
    * co-occurrence, never n².
    *
    * Determinism doctrine: weights are integer term frequencies, so dot
    * and norms are EXACT integer sums (order-proof); only the final
    * cos = dot / (√na·√nb) touches floats — one correctly-rounded sqrt
    * and division per engine, identical spelling both sides.
    *
    * Plan notes: df-filter and self-join are all equi-joins on `tok`, so
    * ONE hash partitioning by term serves the df join and the pair
    * generation (no broadcast: the rare-shingle vocabulary is
    * corpus-sized at scale, unlike the 31-token unigram vocab — AQE can
    * still downgrade to broadcast at this SF). The tf aggregate is
    * persisted: tf, df and both self-join sides read it, and Spark does no
    * cross-branch common-subexpression elimination.
    */
  def simSparseCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val toks = TextOps.tokens(col("text"))
    // word trigrams via the zipped-slices shape (see Dedup.shingles for
    // why NOT element_at inside a transform lambda), multiset — tf
    // weighting needs repeats, so no array_distinct
    val m = greatest(size(toks) - 2, lit(0))
    val zipped = arrays_zip(
      slice(toks, lit(1), m), slice(toks, lit(2), m), slice(toks, lit(3), m))
    val grams = when(size(toks) >= 3,
      transform(zipped, s =>
        concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2")))
    ).otherwise(array().cast("array<string>"))
    val tf = d.select(col("doc_id"), explode(grams).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf")).persistIntermediate
    val nDocs = d.agg(count(lit(1)).as("n_docs"))
    val rare = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      .crossJoin(broadcast(nDocs))
      .where(col("df") * 10 <= col("n_docs"))
      .select("tok")
    // persisted: norms and BOTH self-join sides scan it — unpersisted, the
    // df-aggregate + stopword join would recompute once per consumer
    val kept = tf.join(rare, "tok").persistHotIntermediate
    val norms = kept.groupBy("doc_id").agg(sum(col("tf") * col("tf")).as("n2"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.tok") === col("b.tok") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .agg(sum(col("a.tf") * col("b.tf")).as("dot"))
    pairs
      .join(norms.select(col("doc_id").as("doc_a"), col("n2").as("na")), "doc_a")
      .join(norms.select(col("doc_id").as("doc_b"), col("n2").as("nb")), "doc_b")
      .withColumn("cos_sim",
        col("dot").cast("double") / (sqrt(col("na")) * sqrt(col("nb"))))
      .where(col("cos_sim") >= 0.5)
      .select("doc_a", "doc_b", "dot", "cos_sim")
      .transform(RefQueries.gateSort(_, "doc_a", "doc_b"))
  }

  val simSparseCosineSql: String = DuckToks +
    """
      |, sh AS MATERIALIZED (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(toks) - 1),
      |                i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS tok
      |  FROM d WHERE len(toks) >= 3
      |), tf AS MATERIALIZED (SELECT doc_id, tok, COUNT(*) AS tf FROM sh GROUP BY doc_id, tok),
      |n AS MATERIALIZED (SELECT COUNT(*) AS n_docs FROM documents),
      |rare AS (
      |  SELECT tok FROM tf CROSS JOIN n GROUP BY tok, n.n_docs
      |  HAVING COUNT(*) * 10 <= n.n_docs
      |), kept AS MATERIALIZED (SELECT tf.* FROM tf JOIN rare USING (tok)),
      |norms AS MATERIALIZED (SELECT doc_id, SUM(tf * tf) AS n2 FROM kept GROUP BY doc_id),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         CAST(SUM(a.tf * b.tf) AS BIGINT) AS dot
      |  FROM kept a JOIN kept b ON a.tok = b.tok AND a.doc_id < b.doc_id
      |  GROUP BY a.doc_id, b.doc_id
      |), c AS (
      |  SELECT doc_a, doc_b, dot,
      |         CAST(dot AS DOUBLE) / (sqrt(na.n2) * sqrt(nb.n2)) AS cos_sim
      |  FROM pairs
      |  JOIN norms na ON na.doc_id = doc_a
      |  JOIN norms nb ON nb.doc_id = doc_b
      |)
      |SELECT doc_a, doc_b, dot, cos_sim FROM c
      |WHERE cos_sim >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** `text_chunk` — overlapping context windows (30 tokens, stride 20),
    * the chunking stage in front of any fixed-context trainer or
    * embedder. Explode of per-doc start offsets + an array slice: a
    * narrow map (no shuffle at all until the gate's ORDER BY); output
    * grows by the overlap factor, not quadratically.
    */
  def textChunk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(20))))
      .where(col("start") < size(col("toks")))
      .select(
        col("doc_id"),
        (col("start") / 20).cast("long").as("chunk_seq"),
        size(slice(col("toks"), col("start") + 1, lit(30))).as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("start") + 1, lit(30)), " ").as("chunk_text"))
      .orderBy("doc_id", "chunk_seq")
  }

  val textChunkSql: String = DuckToks +
    """
      |, starts AS (
      |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 20)) AS start
      |  FROM d
      |), w AS MATERIALIZED (SELECT * FROM starts WHERE start < len(toks))
      |SELECT doc_id, start // 20 AS chunk_seq,
      |       len(toks[start+1 : start+30]) AS n_chunk_tokens,
      |       array_to_string(toks[start+1 : start+30], ' ') AS chunk_text
      |FROM w ORDER BY doc_id, chunk_seq""".stripMargin

  /** `text_pack_sequences` — sequence packing for a fixed token budget
    * (512 here): documents are packed shard-locally by running token
    * offset, bin = floor(offset/512). Packing is inherently sequential,
    * so the SCALABLE spelling shards first (doc_id mod 8 — any key
    * works) and runs the cumulative window WITHIN shards: 100 TB packs
    * as 1000s of independent partitions, never one global cumsum. The
    * gate reports per-(shard, bin) fill statistics.
    */
  def textPackSequences(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs(spark, sfDir)
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .withColumn("offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin", (col("offset") / 512).cast("long"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("bin_tokens"))
      .orderBy("shard", "bin")
  }

  val textPackSequencesSql: String = DuckToks +
    """
      |, sized AS MATERIALIZED (
      |  SELECT doc_id, doc_id % 8 AS shard, CAST(len(toks) AS BIGINT) AS n_tokens
      |  FROM d
      |), placed AS (
      |  SELECT shard,
      |         CAST((CAST(SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens) // 512
      |              AS BIGINT) AS bin,
      |         n_tokens
      |  FROM sized
      |)
      |SELECT shard, bin, COUNT(*) AS n_docs,
      |       CAST(SUM(n_tokens) AS BIGINT) AS bin_tokens
      |FROM placed GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  // ---- fuzzy (edit-distance) dedup -------------------------------------

  /** `dedup_fuzzy_edit` — classic record-linkage fuzzy matching:
    * candidate pairs by BLOCKING on the first 16 characters (the
    * standard blocking-key design — candidates are only generated
    * within a block, never all-pairs), refined by Levenshtein distance
    * at most 20% of the longer text (`dist * 5 <= maxlen`, integer
    * compare). Spark's `levenshtein` and DuckDB's agree exactly
    * (unit-cost edit distance), so the refined pairs gate cross-engine.
    *
    * Scale: the blocking join is a hash shuffle on the 16-char key —
    * work is Σ(block²) not n², and the expensive O(len²) distance runs
    * only on block-mates. A skewed block (boilerplate prefix) gets a
    * longer key or a secondary key, same as any blocking scheme; the
    * sketch-based dedups (minhash/simhash) remain the first choice when
    * edits can hit the prefix.
    *
    * Plan-shape pitfall (measured 12.8 s → ~1 s at sf0.1): writing the
    * distance bound as a post-projection `.where` on the aliased `dist`
    * collapses into the join condition with the levenshtein conjunct
    * FIRST — it then runs for every hash-bucket probe pair (both
    * orderings AND self-pairs, ~9× the candidates) before the cheap
    * doc_id ordering check ever fires. Catalyst preserves the authored
    * conjunct order and codegen short-circuits And left-to-right, so
    * the fix is to author the WHOLE condition in the join, cheap
    * conjuncts first: doc_id ordering, then a length-difference
    * prefilter (dist >= |len₁−len₂| always, so |len₁−len₂|·5 <= maxlen
    * is a free necessary condition — halves the candidates), and the
    * O(len²) distance bound last. The projection recomputes levenshtein
    * only for the pairs that pass everything.
    */
  def dedupFuzzyEdit(spark: SparkSession, sfDir: String): DataFrame = {
    // self-join input hot-persisted: both sides re-run the scan otherwise
    val blocked = docs(spark, sfDir)
      .select(col("doc_id"), col("text"), substring(col("text"), 1, 16).as("pre"),
        length(col("text")).as("len"))
      .persistHotIntermediate
    blocked.as("a").join(blocked.as("c"),
        col("a.pre") === col("c.pre") &&
          col("a.doc_id") < col("c.doc_id") &&
          abs(col("a.len") - col("c.len")) * 5 <= greatest(col("a.len"), col("c.len")) &&
          levenshtein(col("a.text"), col("c.text")) * 5 <=
            greatest(col("a.len"), col("c.len")))
      .select(
        col("a.doc_id").as("d1"), col("c.doc_id").as("d2"),
        levenshtein(col("a.text"), col("c.text")).cast("long").as("dist"))
      .orderBy("d1", "d2")
  }

  val dedupFuzzyEditSql: String =
    """WITH b AS MATERIALIZED (
      |  SELECT doc_id, text, substr(text, 1, 16) AS pre FROM documents
      |)
      |SELECT a.doc_id AS d1, c.doc_id AS d2,
      |       CAST(levenshtein(a.text, c.text) AS BIGINT) AS dist
      |FROM b a JOIN b c ON a.pre = c.pre AND a.doc_id < c.doc_id
      |WHERE levenshtein(a.text, c.text) * 5
      |        <= greatest(length(a.text), length(c.text))
      |ORDER BY d1, d2""".stripMargin

  // ---- train/eval contamination ---------------------------------------

  /** `text_contamination` — benchmark-leakage check: does an eval
    * document share any word 8-gram with the training corpus? (The
    * standard decontamination primitive — GPT-3 used 13-gram overlap,
    * most open pipelines 8–10; Brown et al. 2020 app. C.) Documents
    * split train/eval by doc_id parity; per eval doc: its distinct
    * 8-gram count, how many of those appear anywhere in train, and a
    * 0/1 contaminated flag (any overlap).
    *
    * Scale: explode to (doc, gram), dedup, one LEFT SEMI join against
    * the distinct train-gram set — gram strings hash-partition evenly
    * (no hot keys: an 8-gram's df is tiny), so this is two shuffles
    * over data proportional to corpus token count, the same shape the
    * real decontamination runs use. The gram SET could be sketched
    * (bloom) for a cheap first pass; exact is affordable here and the
    * gate wants exactness.
    */
  def textContamination(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    // persisted: three consumers below (train set, per-doc gram counts,
    // overlap join) would each re-run the corpus-wide tokenize+explode
    val grams = d
      .where(size(col("toks")) >= 8)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(toks) - 8)," +
          " i -> array_join(slice(toks, i + 1, 8), ' '))")).as("gram"))
      .persistIntermediate
    val train = grams.where(col("doc_id") % 2 === 0).select("gram").distinct()
    val evalG = grams.where(col("doc_id") % 2 === 1)
      .select("doc_id", "gram").distinct()
    val nGrams = evalG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val overlap = evalG.join(train, Seq("gram"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_overlap"))
    docs(spark, sfDir).where(col("doc_id") % 2 === 1).select("doc_id")
      .join(nGrams, Seq("doc_id"), "left")
      .join(overlap, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_overlap"), lit(0L)).as("n_overlap"),
        when(coalesce(col("n_overlap"), lit(0L)) > 0, 1L).otherwise(0L)
          .as("contaminated"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textContaminationSql: String =
    """WITH d AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
      |  FROM documents
      |), g AS MATERIALIZED (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(toks) - 6),
      |                i -> array_to_string(toks[i:i+7], ' '))) AS gram
      |  FROM d WHERE len(toks) >= 8
      |), train AS (
      |  SELECT DISTINCT gram FROM g WHERE doc_id % 2 = 0
      |), ev AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, gram FROM g WHERE doc_id % 2 = 1
      |), ng AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n_grams FROM ev GROUP BY doc_id
      |), ov AS MATERIALIZED (
      |  SELECT doc_id, COUNT(*) AS n_overlap FROM ev
      |  WHERE gram IN (SELECT gram FROM train) GROUP BY doc_id
      |)
      |SELECT b.doc_id,
      |       CAST(COALESCE(ng.n_grams, 0) AS BIGINT) AS n_grams,
      |       CAST(COALESCE(ov.n_overlap, 0) AS BIGINT) AS n_overlap,
      |       CAST(CASE WHEN COALESCE(ov.n_overlap, 0) > 0 THEN 1 ELSE 0 END
      |            AS BIGINT) AS contaminated
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 2 = 1) b
      |LEFT JOIN ng USING (doc_id)
      |LEFT JOIN ov USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  // ---- corpus-level repeated-segment removal ---------------------------

  /** `dedup_lines` — line-level corpus dedup (the RefinedWeb/CCNet
    * primitive: a line appearing verbatim in many pages is boilerplate —
    * nav bars, cookie banners — and is stripped from EVERY document, not
    * deduped to one survivor). The gated corpus is single-line word
    * soup, so "lines" here are fixed 5-token segments (same segmentation
    * machinery as text_chunk); the banned set is any segment appearing
    * in >= 3 distinct documents (2.4% of segments on this corpus —
    * measured, not assumed). Output per doc: total segments, removed
    * count, and the cleaned text reassembled in original order.
    *
    * Scale: three keyed shuffles, nothing quadratic — (1) hash-agg on
    * segment for the distinct-doc count (map-side partial first),
    * (2) LEFT ANTI join of segments against the banned set (segment df
    * is bounded by doc count, and the 100 TB spelling would join on
    * xxhash64(segment) to shrink shuffle width — kept as the raw string
    * here so the DuckDB twin restates it verbatim), (3) re-assembly
    * grouped by doc_id with an in-group sort_array, NOT a global window.
    */
  def dedupLines(spark: SparkSession, sfDir: String): DataFrame = {
    val segLen = 5
    val minDocs = 3
    val segs = docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("start",
        explode(sequence(lit(0), greatest(size(col("toks")) - 1, lit(0)), lit(segLen))))
      .where(col("start") < size(col("toks")))
      .select(col("doc_id"), (col("start") / segLen).cast("long").as("seg_seq"),
        array_join(slice(col("toks"), col("start") + 1, lit(segLen)), " ").as("seg"))
      // persisted: the banned-set agg, the anti-join probe, and the per-doc
      // totals would each re-run tokenize+explode over the corpus
      .persistIntermediate
    val banned = segs.groupBy("seg")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= minDocs).select("seg")
    val kept = segs.join(banned, Seq("seg"), "left_anti")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_kept"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("seg_seq"), col("seg")))),
            x => x.getField("seg")),
          " ").as("cleaned_text"))
    segs.groupBy("doc_id").agg(count(lit(1)).as("n_segs"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_segs"),
        (col("n_segs") - coalesce(col("n_kept"), lit(0L))).as("n_removed"),
        coalesce(col("cleaned_text"), lit("")).as("cleaned_text"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  /** `dedup_repeated_spans` — EXACT cross-document substring-repetition
    * detection at token-span granularity (the "exact substring dedup"
    * signal of Lee et al. 2022, Deduplicating Training Data Makes
    * Language Models Better — memorization studies draw the leakage
    * line at spans of this order): every OVERLAPPING 15-token window,
    * reported per distinct span appearing in ≥ 2 DISTINCT documents,
    * with its document count, total occurrence count, and first
    * (lowest) doc id. [[dedupLines]] is the complementary
    * NON-overlapping boilerplate primitive; overlapping windows catch
    * spans that straddle segment boundaries — quotes and templates
    * embedded mid-document, the actual memorization shape.
    *
    * Scale — the two-phase shape [[dedupLines]]' scaladoc only
    * promises, implemented for real here: the window list is LINEAR in
    * corpus tokens (each token starts at most one window). Phase 1
    * aggregates on `xxhash64(span)` — an 8-byte shuffle key instead of
    * a ~100-byte string, map-side combined — and keeps hashes seen
    * ≥ 2 times, a pure SUPERSET of the answer (a span in two documents
    * occurs twice, so its hash count is ≥ 2; a hash seen once cannot
    * hide one). Phase 2 semi-joins the survivors and groups on the
    * ACTUAL span string, so a hash collision can never merge two
    * distinct spans — exactness lives entirely in phase 2; phase 1 is
    * only pruning. The DuckDB twin restates the direct single-phase
    * group-by, which is value-identical BECAUSE the prefilter is a
    * superset — the property Round17OpsSpec pins by running both
    * spellings. (Cross-engine hashes never need to agree: the hash
    * exists only inside phase 1.)
    */
  def dedupRepeatedSpans(spark: SparkSession, sfDir: String): DataFrame =
    repeatedSpans(docs(spark, sfDir), spanLen = 15)
      .transform(RefQueries.gateSort(_, "span"))

  /** (doc_id, span): every overlapping `spanLen`-token window of each
    * document, joined by single spaces; documents shorter than one
    * window contribute none.
    */
  private def spanWindows(docsDf: DataFrame, spanLen: Int): DataFrame =
    docsDf
      .withColumn("toks", TextOps.tokens(col("text")))
      .where(size(col("toks")) >= spanLen)
      .select(col("doc_id"),
        explode(expr(s"transform(sequence(1, size(toks) - ${spanLen - 1})," +
          s" i -> array_join(slice(toks, i, $spanLen), ' '))")).as("span"))

  /** The two-phase core of [[dedupRepeatedSpans]], factored on a docs
    * frame so the spec can feed fixtures and pin phase-equivalence.
    */
  private[graft] def repeatedSpans(docsDf: DataFrame,
      spanLen: Int): DataFrame = {
    val wins = spanWindows(docsDf, spanLen)
      .withColumn("h", xxhash64(col("span")))
      // persisted: the phase-1 hash aggregate AND the phase-2 probe
      // both scan the exploded window frame
      .persistIntermediate
    val hot = wins.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("h")
    wins.join(hot, Seq("h"), "left_semi")
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)
  }

  /** Single-phase reference spelling (direct group-by on the span
    * string, no hash prefilter) — what the DuckDB twin restates;
    * Round17OpsSpec pins it row-identical to [[repeatedSpans]].
    */
  private[graft] def repeatedSpansDirect(docsDf: DataFrame,
      spanLen: Int): DataFrame =
    spanWindows(docsDf, spanLen)
      .groupBy("span")
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occurrences"),
        min(col("doc_id")).as("first_doc"))
      .where(col("n_docs") >= 2)

  /** `text_dup_span_fraction` — the per-DOCUMENT rollup of
    * [[dedupRepeatedSpans]] and the form a curation pipeline actually
    * filters on (the RefinedWeb/Gopher "duplicated n-gram fraction"
    * rule): for every document, how many of its overlapping 15-token
    * windows are CROSS-DOCUMENT duplicated text, as an exact ppm.
    * Documents shorter than one window report zero spans and 0 ppm
    * (the honest value: nothing measurable is duplicated), so the
    * output stays one row per document — filterable downstream without
    * an existence join.
    *
    * Scale: the same linear window frame and hash-prefiltered shared
    * set as [[dedupRepeatedSpans]] (see there for the two-phase
    * exactness argument), plus one doc-keyed count each side — nothing
    * quadratic anywhere. The ppm is integer arithmetic: per-doc window
    * counts are bounded by the document's own token count, far inside
    * the overflow auditor's row-count headroom.
    */
  def textDupSpanFraction(spark: SparkSession, sfDir: String): DataFrame =
    dupSpanFraction(docs(spark, sfDir), spanLen = 15)
      .transform(RefQueries.gateSort(_, "doc_id"))

  /** Core of [[textDupSpanFraction]], factored for fixture specs. */
  private[graft] def dupSpanFraction(docsDf: DataFrame,
      spanLen: Int): DataFrame = {
    val wins = spanWindows(docsDf, spanLen)
      .withColumn("h", xxhash64(col("span")))
      // persisted: the hash prefilter, the shared-set group, and both
      // per-doc counts all scan the exploded window frame
      .persistIntermediate
    val hot = wins.groupBy("h").agg(count(lit(1)).as("n"))
      .where(col("n") >= 2).select("h")
    val shared = wins.join(hot, Seq("h"), "left_semi")
      .groupBy("span").agg(countDistinct(col("doc_id")).as("nd"))
      .where(col("nd") >= 2).select("span")
    val perDoc = wins.groupBy("doc_id").agg(count(lit(1)).as("n_spans"))
    val dup = wins.join(shared, Seq("span"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_dup_spans"))
    docsDf.select("doc_id")
      .join(perDoc, Seq("doc_id"), "left")
      .join(dup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"))
      .withColumn("dup_ppm",
        expr("CASE WHEN n_spans = 0 THEN CAST(0 AS BIGINT)" +
          " ELSE n_dup_spans * 1000000L DIV n_spans END"))
  }

  val textDupSpanFractionSql: String = DuckToks +
    """
      |, w AS MATERIALIZED (
      |  SELECT doc_id, array_to_string(toks[i : i+14], ' ') AS span
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 13)) AS i
      |        FROM d WHERE len(toks) >= 15)
      |), shared AS MATERIALIZED (
      |  SELECT span FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
      |), per_doc AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_spans FROM w GROUP BY doc_id
      |), dup AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_dup_spans FROM w
      |  WHERE span IN (SELECT span FROM shared) GROUP BY doc_id
      |)
      |SELECT d.doc_id,
      |       CAST(COALESCE(p.n_spans, 0) AS BIGINT) AS n_spans,
      |       CAST(COALESCE(u.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
      |       CAST(CASE WHEN COALESCE(p.n_spans, 0) = 0 THEN 0
      |                 ELSE COALESCE(u.n_dup_spans, 0) * 1000000
      |                      // p.n_spans END AS BIGINT) AS dup_ppm
      |FROM d LEFT JOIN per_doc p USING (doc_id)
      |LEFT JOIN dup u USING (doc_id)
      |ORDER BY d.doc_id""".stripMargin

  val dedupRepeatedSpansSql: String = DuckToks +
    """
      |, w AS (
      |  SELECT doc_id, array_to_string(toks[i : i+14], ' ') AS span
      |  FROM (SELECT doc_id, toks, unnest(range(1, len(toks) - 13)) AS i
      |        FROM d WHERE len(toks) >= 15)
      |)
      |SELECT span, CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
      |       CAST(count(*) AS BIGINT) AS n_occurrences,
      |       CAST(min(doc_id) AS BIGINT) AS first_doc
      |FROM w GROUP BY span HAVING count(DISTINCT doc_id) >= 2
      |ORDER BY span""".stripMargin

  val dedupLinesSql: String = DuckToks +
    """
      |, starts AS (
      |  SELECT doc_id, toks, unnest(range(0, greatest(len(toks), 1), 5)) AS start
      |  FROM d
      |), segs AS MATERIALIZED (
      |  SELECT doc_id, start // 5 AS seg_seq,
      |         array_to_string(toks[start+1 : start+5], ' ') AS seg
      |  FROM starts WHERE start < len(toks)
      |), banned AS (
      |  SELECT seg FROM segs GROUP BY seg HAVING count(DISTINCT doc_id) >= 3
      |), kept AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_kept,
      |         string_agg(seg, ' ' ORDER BY seg_seq) AS cleaned_text
      |  FROM segs WHERE seg NOT IN (SELECT seg FROM banned)
      |  GROUP BY doc_id
      |), tot AS MATERIALIZED (
      |  SELECT doc_id, count(*) AS n_segs FROM segs GROUP BY doc_id
      |)
      |SELECT tot.doc_id AS doc_id, n_segs,
      |       n_segs - COALESCE(n_kept, 0) AS n_removed,
      |       COALESCE(cleaned_text, '') AS cleaned_text
      |FROM tot LEFT JOIN kept ON tot.doc_id = kept.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- within-document repetition signals ------------------------------

  /** `text_repetition` — Gopher-style repetition quality signals (Rae
    * et al. 2021 §A1.1: heavily self-repeating documents are low-value
    * training data): per doc, the duplicate-token fraction, the fraction
    * of bigram occurrences belonging to a bigram seen more than once in
    * the doc, and the share of the single most frequent bigram.
    *
    * Scale: dup_token_frac is a pure narrow map (array_distinct inside
    * the row). The bigram stats explode to (doc_id, bigram) and hash-agg
    * twice — both aggregations are keyed by doc_id(+bigram), so the
    * work is proportional to token count and partitions evenly; no
    * global state, no window.
    */
  def textRepetition(spark: SparkSession, sfDir: String): DataFrame = {
    val base = docs(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        (lit(1.0) - size(array_distinct(col("toks"))).cast("double") / size(col("toks")))
          .as("dup_token_frac"))
    val bi = base.where(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1)," +
          " i -> concat(toks[i - 1], ' ', toks[i]))")).as("bigram"))
      .groupBy("doc_id", "bigram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("total_bi"),
        max(col("cnt")).as("top_bi"),
        sum(when(col("cnt") > 1, col("cnt")).otherwise(0L)).as("dup_bi"))
    base.join(bi, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("dup_token_frac"),
        coalesce(col("top_bi").cast("double") / col("total_bi"), lit(0.0))
          .as("top_bigram_frac"),
        coalesce(col("dup_bi").cast("double") / col("total_bi"), lit(0.0))
          .as("dup_bigram_frac"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textRepetitionSql: String = DuckToks +
    """
      |, base AS MATERIALIZED (
      |  SELECT doc_id, toks, CAST(len(toks) AS BIGINT) AS n_tokens,
      |         1.0 - CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks) AS dup_token_frac
      |  FROM d
      |), bg AS MATERIALIZED (
      |  SELECT doc_id,
      |         unnest(list_transform(range(1, len(toks)),
      |                i -> toks[i] || ' ' || toks[i+1])) AS bigram
      |  FROM d WHERE len(toks) >= 2
      |), cnts AS (
      |  SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY doc_id, bigram
      |), bi AS MATERIALIZED (
      |  SELECT doc_id, sum(cnt) AS total_bi, max(cnt) AS top_bi,
      |         sum(CASE WHEN cnt > 1 THEN cnt ELSE 0 END) AS dup_bi
      |  FROM cnts GROUP BY doc_id
      |)
      |SELECT base.doc_id AS doc_id, n_tokens, dup_token_frac,
      |       COALESCE(CAST(top_bi AS DOUBLE) / total_bi, 0.0) AS top_bigram_frac,
      |       COALESCE(CAST(dup_bi AS DOUBLE) / total_bi, 0.0) AS dup_bigram_frac
      |FROM base LEFT JOIN bi ON base.doc_id = bi.doc_id
      |ORDER BY doc_id""".stripMargin

  // ---- vocabulary induction + id encoding ------------------------------

  /** `text_vocab_encode` — tokenizer-style vocabulary induction and
    * corpus encoding: build a frequency-ranked vocab (top 20 tokens,
    * rank = id, ties broken lexicographically), then re-encode every
    * document as its id sequence with OOV -> 0, reporting per-doc token
    * and OOV counts plus the encoded sequence (JSON, both engines print
    * bigint lists identically).
    *
    * Scale: token counting is one hash-agg shuffle (map-side partial
    * combine does the heavy lifting — there are far fewer distinct
    * tokens than occurrences). A top-k over the AGGREGATED token table
    * keeps the vocab, and the rank window runs on those k rows, never
    * on occurrences; the vocab then broadcasts into a narrow encode
    * join. Reassembly is one doc-keyed shuffle with in-group sort —
    * same shape as dedup_lines.
    */
  def textVocabEncode(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val vocabSize = 20
    val toks = docs(spark, sfDir)
      .select(col("doc_id"), posexplode(TextOps.tokens(col("text"))))
      .withColumnRenamed("col", "tok").withColumnRenamed("pos", "pos")
    val counts = toks.groupBy("tok").agg(count(lit(1)).as("c"))
    // the top-k comes first (TakeOrderedAndProject), so the rank is a
    // plain window over vocabSize rows (TwoPassWindow's size rule) —
    // the same ids as ranking the whole vocabulary and keeping id ≤ k
    val vocab = counts.orderBy(desc("c"), asc("tok")).limit(vocabSize)
      .select(col("tok"), row_number().over(
        Window.orderBy(desc("c"), asc("tok"))).cast("long").as("id"))
    toks.join(broadcast(vocab), Seq("tok"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_tokens"),
        sum(when(col("id").isNull, 1L).otherwise(0L)).as("n_oov"),
        to_json(
          transform(
            array_sort(collect_list(struct(col("pos"),
              coalesce(col("id"), lit(0L)).as("id")))),
            x => x.getField("id"))).as("ids_json"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textVocabEncodeSql: String = DuckToks +
    """
      |, pts AS (
      |  SELECT doc_id, toks, unnest(range(1, len(toks) + 1)) AS pos FROM d
      |), e AS MATERIALIZED (
      |  SELECT doc_id, pos, toks[pos] AS tok FROM pts
      |), cnt AS MATERIALIZED (
      |  SELECT tok, count(*) AS c FROM e GROUP BY tok
      |), vocab AS MATERIALIZED (
      |  SELECT tok, CAST(row_number() OVER (ORDER BY c DESC, tok) AS BIGINT) AS id
      |  FROM cnt QUALIFY id <= 20
      |), enc AS (
      |  SELECT doc_id, pos, COALESCE(v.id, 0) AS id
      |  FROM e LEFT JOIN vocab v USING (tok)
      |)
      |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
      |       CAST(sum(CASE WHEN id = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
      |       CAST(to_json(list(id ORDER BY pos)) AS VARCHAR) AS ids_json
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  // ---- temperature-weighted corpus mixing ------------------------------

  /** `corpus_mix_temperature` — multi-source mixture sampling with
    * temperature alpha = 0.5 (the multilingual-rebalancing rule from
    * XLM-R / mT5: sample source s with probability proportional to
    * count^alpha, which up-weights low-resource groups). Per lang, the
    * keep RATE is min(1, target * w_s / sum(w) / n_s); selection is a
    * stateless engine-neutral LCG threshold test on doc_id — no window,
    * no per-stratum rank (etl_stratified_sample owns the exact-quota
    * spelling; THIS is the 100 TB spelling: a pure narrow map per row
    * once the 5-row rate table is broadcast).
    *
    * Cross-engine determinism: weights are quantized to integers
    * (floor(sqrt(n)*1e6)) before summing, so the only floating-point
    * steps are single divisions in a fixed order — no accumulation-order
    * sensitivity between Spark's and DuckDB's aggregate plans.
    */
  def corpusMixTemperature(spark: SparkSession, sfDir: String): DataFrame = {
    val target = 250L
    val m = 1000003L
    val d = docs(spark, sfDir).select(col("doc_id"), col("lang"), col("source"))
    val weights = d.groupBy("lang").agg(count(lit(1)).as("n_docs"))
      .withColumn("wq", floor(sqrt(col("n_docs")) * 1e6).cast("long"))
    val rates = weights
      .crossJoin(broadcast(weights.agg(sum(col("wq")).as("w_sum"))))
      .withColumn("rate",
        least(lit(1.0), lit(target.toDouble) * col("wq") / col("w_sum") / col("n_docs")))
      .withColumn("cut", floor(col("rate") * m).cast("long"))
      .select("lang", "cut")
    d.join(broadcast(rates), Seq("lang"))
      .where(pmod(pmod(col("doc_id"), lit(m)) * 2654435761L, lit(m)) < col("cut"))
      .select("doc_id", "lang", "source")
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val corpusMixTemperatureSql: String =
    """WITH w AS MATERIALIZED (
      |  SELECT lang, count(*) AS n_docs,
      |         CAST(floor(sqrt(count(*)) * 1e6) AS BIGINT) AS wq
      |  FROM documents GROUP BY lang
      |), tot AS MATERIALIZED (SELECT sum(wq) AS w_sum FROM w),
      |rates AS MATERIALIZED (
      |  SELECT lang,
      |         CAST(floor(least(1.0, 250.0 * wq / w_sum / n_docs) * 1000003) AS BIGINT) AS cut
      |  FROM w, tot
      |)
      |SELECT d.doc_id AS doc_id, d.lang AS lang, d.source AS source
      |FROM documents d JOIN rates ON d.lang = rates.lang
      |WHERE ((d.doc_id % 1000003) * 2654435761) % 1000003 < cut
      |ORDER BY doc_id""".stripMargin

  /** `dedup_containment` — asymmetric shingle containment (see
    * [[graft.ops.Dedup.containmentPairs]]): flags documents ≥80%
    * covered by another document's shingles, the doc-inside-doc case
    * (boilerplate wraps, quote-reposts) that symmetric Jaccard's
    * union denominator hides. Ordered pairs — containment is
    * directional by definition.
    */
  def dedupContainment(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.containmentPairs(docs(spark, sfDir), n = 2, threshold = 0.8)
      .orderBy("d1", "d2")

  val dedupContainmentSql: String = DuckToks +
    """
      |, sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS s
      |  FROM d
      |), ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
      |pairs AS MATERIALIZED (
      |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS intersect_size
      |  FROM ex a JOIN ex b ON a.g = b.g AND a.doc_id != b.doc_id
      |  GROUP BY 1, 2
      |), sizes AS MATERIALIZED (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh)
      |SELECT d1, d2, intersect_size, s1.n AS n1, s2.n AS n2,
      |       CAST(intersect_size AS DOUBLE) / s1.n AS containment
      |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE CAST(intersect_size AS DOUBLE) / s1.n >= 0.8
      |ORDER BY d1, d2""".stripMargin

  /** Deterministic sample modulus shared by the two sampled exact-tier
    * profiles and their twins (one Scala definition; the twins
    * interpolate it). 199: prime, coprime to every documents replica
    * stride (5000/50000 at the sf1/sf10 rungs), so the sample walks
    * ALL copies instead of pinning one offset per copy — the same
    * argument as the ladder's DBSCAN_SAMPLE_MOD. ~1/199 of the corpus:
    * 3 docs at the sf0.01 gate (non-vacuous — every doc has same-copy
    * shingle-sharing candidates), 2,513 at sf10 (where the sampled
    * inverted-index join stays linear in the corpus). Aliases the
    * ops-layer definition so operator defaults and twins share one
    * number.
    */
  val ExactSampleMod: Int = Dedup.ExactSampleMod

  /** Shared twin scaffold for the sampled exact-tier profiles: the
    * parent exact twins' shingle CTEs with ONE side of the
    * inverted-index join restricted to the sample, plus the sample
    * list itself for the zeros left-join.
    */
  private def sampledStatsCtes(mod: Int): String = DuckToks +
    s"""
      |, sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS s
      |  FROM d
      |), ex AS MATERIALIZED (SELECT doc_id, unnest(s) AS g FROM sh),
      |exs AS MATERIALIZED (
      |  SELECT doc_id, g FROM ex WHERE doc_id % $mod = 0
      |), stats AS MATERIALIZED (
      |  SELECT a.doc_id AS sd, b.doc_id AS o, count(*) AS i
      |  FROM exs a JOIN ex b ON a.g = b.g AND a.doc_id <> b.doc_id
      |  GROUP BY 1, 2
      |), sized AS MATERIALIZED (
      |  SELECT st.sd, st.o, st.i, len(s1.s) AS ns, len(s2.s) AS no
      |  FROM stats st JOIN sh s1 ON st.sd = s1.doc_id
      |                JOIN sh s2 ON st.o = s2.doc_id
      |), samp AS MATERIALIZED (
      |  SELECT doc_id FROM documents WHERE doc_id % $mod = 0
      |)""".stripMargin

  /** `dedup_jaccard_sampled` — the exact-Jaccard tier's SAMPLED
    * 1000x value point (see [[graft.ops.Dedup.jaccardNeighborProfile]]
    * for why the full tier can't carry a twin past sf1). One
    * fingerprint row per sampled doc; same tokenizer, shingles,
    * integer intersections and IEEE measure as `dedup_ngram_jaccard`.
    */
  def dedupJaccardSampled(spark: SparkSession, sfDir: String): DataFrame =
    Dedup.jaccardNeighborProfile(docs(spark, sfDir), n = 2,
        threshold = 0.5, mod = ExactSampleMod)
      .orderBy("doc_id")

  val dedupJaccardSampledSql: String = sampledStatsCtes(ExactSampleMod) +
    """
      |, prof AS MATERIALIZED (
      |  SELECT sd AS doc_id, COUNT(*) AS n_candidates,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / (ns + no - i) >= 0.5
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_qualifying,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / (ns + no - i) >= 0.5
      |                       THEN o ELSE 0 END) AS BIGINT) AS nbr_id_sum,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / (ns + no - i) >= 0.5
      |                       THEN i ELSE 0 END) AS BIGINT) AS nbr_intersect_sum,
      |         MAX(CAST(i AS DOUBLE) / (ns + no - i)) AS max_jaccard
      |  FROM sized GROUP BY sd
      |)
      |SELECT samp.doc_id,
      |       COALESCE(n_candidates, 0) AS n_candidates,
      |       COALESCE(n_qualifying, 0) AS n_qualifying,
      |       COALESCE(nbr_id_sum, 0) AS nbr_id_sum,
      |       COALESCE(nbr_intersect_sum, 0) AS nbr_intersect_sum,
      |       COALESCE(max_jaccard, 0.0) AS max_jaccard
      |FROM samp LEFT JOIN prof USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** `dedup_containment_sampled` — directional sibling of
    * `dedup_jaccard_sampled` (see
    * [[graft.ops.Dedup.containmentNeighborProfile]]).
    */
  def dedupContainmentSampled(spark: SparkSession,
      sfDir: String): DataFrame =
    Dedup.containmentNeighborProfile(docs(spark, sfDir), n = 2,
        threshold = 0.8, mod = ExactSampleMod)
      .orderBy("doc_id")

  val dedupContainmentSampledSql: String =
    sampledStatsCtes(ExactSampleMod) +
    """
      |, prof AS MATERIALIZED (
      |  SELECT sd AS doc_id, COUNT(*) AS n_candidates,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / ns >= 0.8
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_contained_in,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / no >= 0.8
      |                       THEN 1 ELSE 0 END) AS BIGINT) AS n_contains,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / ns >= 0.8
      |                       THEN o ELSE 0 END) AS BIGINT) AS contained_id_sum,
      |         CAST(SUM(CASE WHEN CAST(i AS DOUBLE) / no >= 0.8
      |                       THEN o ELSE 0 END) AS BIGINT) AS contains_id_sum,
      |         MAX(CAST(i AS DOUBLE) / ns) AS max_containment
      |  FROM sized GROUP BY sd
      |)
      |SELECT samp.doc_id,
      |       COALESCE(n_candidates, 0) AS n_candidates,
      |       COALESCE(n_contained_in, 0) AS n_contained_in,
      |       COALESCE(n_contains, 0) AS n_contains,
      |       COALESCE(contained_id_sum, 0) AS contained_id_sum,
      |       COALESCE(contains_id_sum, 0) AS contains_id_sum,
      |       COALESCE(max_containment, 0.0) AS max_containment
      |FROM samp LEFT JOIN prof USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** `text_bigram_score` — corpus-conditional fluency proxy: each
    * document scored by how common its bigrams are in the whole
    * corpus (sum and count of corpus bigram frequencies, exact
    * integers; high-frequency bigrams ≈ in-distribution text). This is
    * the n-gram language-model scoring shape — train counts on the
    * corpus, score each doc against them — with the log-prob replaced
    * by integer frequency mass so the gate never touches libm.
    *
    * Scale: bigram extraction is a narrow map; the count table is one
    * hash aggregate keyed by bigram (map-side combined), and scoring
    * joins docs' bigrams back against it. The bigram vocabulary here
    * is tiny so the count table broadcasts; at web scale it's a
    * shuffle join whose skew (stop-bigrams) is the standard hot-key
    * story — cap or salt the head of the distribution.
    */
  def textBigramScore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val toks = TextOps.tokens(col("text"))
    val m = greatest(size(toks) - 1, lit(0))
    val zipped = arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m))
    val grams = when(size(toks) >= 2,
      transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1")))
    ).otherwise(array().cast("array<string>"))
    val bg = docs(spark, sfDir)
      .select(col("doc_id"), explode(grams).as("g"))
      .persistIntermediate // scored against counts derived from ITSELF — one extraction
    val counts = bg.groupBy("g").agg(count(lit(1)).as("cf"))
    bg.join(broadcast(counts), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"), sum(col("cf")).as("freq_mass"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textBigramScoreSql: String = DuckToks +
    """
      |, bg AS MATERIALIZED (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS g
      |  FROM d
      |), counts AS MATERIALIZED (SELECT g, COUNT(*) AS cf FROM bg GROUP BY g)
      |SELECT bg.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM(counts.cf) AS BIGINT) AS freq_mass
      |FROM bg JOIN counts ON bg.g = counts.g
      |GROUP BY bg.doc_id
      |ORDER BY doc_id""".stripMargin

  /** `text_lm_score` — bigram language-model likelihood per document:
    * the mean add-1-smoothed conditional probability
    * P(w₂|w₁) = (c(w₁w₂)+1)/(c(w₁·)+V), trained on the corpus itself —
    * the linear-domain spelling of the KenLM-style "score the corpus
    * with its own LM to find garbage" filter (log-domain perplexity
    * needs ln, whose cross-engine bit stability the determinism
    * doctrine excludes; the linear mean ranks documents the same way
    * for filtering). Distinct from text_bigram_score, which sums RAW
    * bigram frequencies: conditioning on the prefix count means a doc
    * of common-but-incoherent word pairs scores low here.
    *
    * Determinism: every term is the integral floor
    * (c+1)·1e6 DIV (c₁+V), summed as BIGINT, then one floor mean —
    * the per-term-floor doctrine of analytics_hhi.
    *
    * Scale: the bigram/prefix count tables broadcast here (tiny
    * vocabulary); at web scale they are shuffle joins whose
    * stop-bigram skew takes the standard cap/salt treatment, and V is
    * a broadcast scalar either way.
    */
  def textLmScore(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val toks = TextOps.tokens(col("text"))
    val m = greatest(size(toks) - 1, lit(0))
    val zipped = arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m))
    val grams = when(size(toks) >= 2,
      transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1")))
    ).otherwise(array().cast("array<string>"))
    val d = docs(spark, sfDir)
    // r21 (§2.3): no w1 here — since the r20 per-type respelling the
    // occurrence frame only feeds groupBy(g) and the final g-probe, so
    // the per-occurrence split_part was computed and CHECKPOINTED dead
    val bg = d.select(col("doc_id"), explode(grams).as("g"))
      .persistIntermediate // feeds the bigram counts and scoring
    val cnt = bg.groupBy("g").agg(count(lit(1)).as("cg"))
    // prefix counts re-aggregate the BIGRAM-TYPE table (c₁(w₁) = Σ over
    // its bigrams of cg), not the token-mass bg — one fewer full pass
    val pre = cnt
      .withColumn("w1", split_part(col("g"), lit(" "), lit(1)))
      .groupBy("w1").agg(sum(col("cg")).as("c1"))
    val vocab = d.select(explode(toks).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    // r20: the per-occurrence term depends only on the bigram TYPE —
    // score the |types| table once (the joins + integer arithmetic run
    // per TYPE) and attach the finished term to occurrences with ONE
    // broadcast hash probe, instead of two broadcast joins + the
    // arithmetic per OCCURRENCE (guide §1.2; the r19 fertility-twin
    // per-type respelling, applied to the Spark side). Σterm per doc
    // is the same integers in a different order — exact, order-free.
    val scored = cnt
      .withColumn("w1", split_part(col("g"), lit(" "), lit(1)))
      .join(broadcast(pre), "w1")
      .crossJoin(broadcast(vocab))
      .withColumn("term", expr("((cg + 1) * 1000000L) DIV (c1 + v)"))
      .select("g", "term")
    bg.join(broadcast(scored), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        expr("sum(term) DIV count(1)").as("lm_score_1e6"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textLmScoreSql: String = DuckToks +
    """
      |, bg AS MATERIALIZED (
      |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS g
      |  FROM d
      |), bgw AS MATERIALIZED (
      |  SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM bg
      |), cnt AS MATERIALIZED (SELECT g, COUNT(*) AS cg FROM bgw GROUP BY g),
      |pre AS MATERIALIZED (SELECT split_part(g, ' ', 1) AS w1,
      |        CAST(SUM(cg) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
      |vocab AS MATERIALIZED (
      |  SELECT COUNT(DISTINCT t) AS v
      |  FROM (SELECT unnest(toks) AS t FROM d)
      |)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |       CAST(SUM((c.cg + 1) * 1000000 // (p.c1 + vocab.v))
      |            // COUNT(*) AS BIGINT) AS lm_score_1e6
      |FROM bgw b JOIN cnt c USING (g) JOIN pre p USING (w1), vocab
      |GROUP BY b.doc_id
      |ORDER BY doc_id""".stripMargin

  /** `text_perplexity` — the LOG-DOMAIN sibling of text_lm_score: per
    * document, total add-1-smoothed bigram log2-likelihood and the
    * perplexity exponent (−LL/N, i.e. log2 of perplexity), both as
    * 1e6-scaled BIGINTs via the native IntegerLog2 kernel
    * (functions.IntegerLog2 — bit-length + shared mantissa table, the
    * integer spelling that makes log-domain scores hash-gateable where
    * IEEE `ln` would drift cross-engine in the last ulp). This is the
    * reporting-grade score the linear mean can't provide: likelihoods
    * multiply, so only the log sum ranks documents the way the LM
    * actually scores them.
    *
    * Scale: identical shape to text_lm_score — one bigram-type hash
    * aggregate, broadcast count tables, then a narrow per-token map
    * (the kernel is codegen'd) into one per-doc aggregate.
    */
  def textPerplexity(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.IntegerLog2
    val toks = TextOps.tokens(col("text"))
    val m = greatest(size(toks) - 1, lit(0))
    val zipped = arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m))
    val grams = when(size(toks) >= 2,
      transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1")))
    ).otherwise(array().cast("array<string>"))
    val d = docs(spark, sfDir)
    // r21 (§2.3): no w1 — dead in the checkpoint since the r20
    // per-type respelling (see textLmScore)
    val bg = d.select(col("doc_id"), explode(grams).as("g"))
      .persistIntermediate
    val cnt = bg.groupBy("g").agg(count(lit(1)).as("cg"))
    val pre = cnt
      .withColumn("w1", split_part(col("g"), lit(" "), lit(1)))
      .groupBy("w1").agg(sum(col("cg")).as("c1"))
    val vocab = d.select(explode(toks).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    // r20: ll depends only on the bigram TYPE — run the joins and the
    // two IntegerLog2 kernels per TYPE (the lm_score respelling; see
    // [[textLmScore]]), then attach via one broadcast hash probe.
    // Σll per doc sums the same integers in a different order — exact.
    val scored = cnt
      .withColumn("w1", split_part(col("g"), lit(" "), lit(1)))
      .join(broadcast(pre), "w1")
      .crossJoin(broadcast(vocab))
      // P = (cg+1)/(c1+v) ≤ 1, so ll ≤ 0 and −Σll ≥ 0: the DIV below
      // floors non-negatives, where DuckDB's // agrees with Spark
      .withColumn("ll",
        IntegerLog2.log2s(col("cg") + 1) -
          IntegerLog2.log2s(col("c1") + col("v")))
      .select("g", "ll")
    bg.join(broadcast(scored), "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("ll")).as("ll_sum_1e6"),
        expr("(-sum(ll)) DIV count(1)").as("ppl_log2_1e6"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textPerplexitySql: String = {
    import graft.functions.IntegerLog2.log2Sql
    DuckToks +
      s"""
        |, bg AS MATERIALIZED (
        |  SELECT doc_id, unnest(CASE WHEN len(toks) >= 2
        |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
        |    ELSE [] END) AS g
        |  FROM d
        |), bgw AS MATERIALIZED (
        |  SELECT doc_id, g, split_part(g, ' ', 1) AS w1 FROM bg
        |), cnt AS MATERIALIZED (SELECT g, COUNT(*) AS cg FROM bgw GROUP BY g),
        |pre AS MATERIALIZED (SELECT split_part(g, ' ', 1) AS w1,
        |        CAST(SUM(cg) AS BIGINT) AS c1 FROM cnt GROUP BY 1),
        |vocab AS MATERIALIZED (
        |  SELECT COUNT(DISTINCT t) AS v
        |  FROM (SELECT unnest(toks) AS t FROM d)
        |), terms AS (
        |  SELECT b.doc_id, CAST(c.cg + 1 AS BIGINT) AS num,
        |         CAST(p.c1 + vocab.v AS BIGINT) AS den
        |  FROM bgw b JOIN cnt c USING (g) JOIN pre p USING (w1), vocab
        |), ll AS MATERIALIZED (
        |  SELECT doc_id, ${log2Sql("num")} - ${log2Sql("den")} AS ll
        |  FROM terms
        |)
        |SELECT doc_id, COUNT(*) AS n_bigrams,
        |       CAST(SUM(ll) AS BIGINT) AS ll_sum_1e6,
        |       CAST((-SUM(ll)) // COUNT(*) AS BIGINT) AS ppl_log2_1e6
        |FROM ll GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** `text_entropy` — per-document unigram Shannon entropy, the other
    * standard log-domain quality signal (low entropy ⇒ repetitive /
    * template text; the Gopher/C4-family filters threshold on it).
    * H = Σ_t −p_t·log2 p_t restated in pure integers via IntegerLog2:
    * with c_t the token's count and n the doc length,
    * n·H = Σ_t c_t·(log2 n − log2 c_t), so the gate emits
    * ent_num_1e6 = Σ c_t·(log2s(n) − log2s(c_t)) exactly and
    * ent_1e6 = ent_num_1e6 DIV n (both non-negative — log2 is
    * monotone, c_t ≤ n — so floor division agrees cross-engine).
    *
    * Scale: one narrow explode + per-(doc, token) count + per-doc sum —
    * two hash aggregates keyed by doc_id, no joins, no windows.
    */
  def textEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import graft.functions.IntegerLog2
    docs(spark, sfDir)
      .select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("t"))
      .groupBy("doc_id", "t").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n"), count(lit(1)).as("n_distinct"),
        // Σ c·log2s(c); combined with n below — log2s(n) is constant
        // per doc so Σ c·(log2s n − log2s c) = n·log2s(n) − Σ c·log2s(c)
        sum(col("c") * IntegerLog2.log2s(col("c"))).as("clg"))
      .select(col("doc_id"), col("n").as("n_tokens"), col("n_distinct"),
        (col("n") * IntegerLog2.log2s(col("n")) - col("clg"))
          .as("ent_num_1e6"))
      .withColumn("ent_1e6", expr("ent_num_1e6 DIV n_tokens"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textEntropySql: String = {
    import graft.functions.IntegerLog2.log2Sql
    DuckToks +
      s"""
        |, tc AS (
        |  SELECT doc_id, t, COUNT(*) AS c
        |  FROM (SELECT doc_id, unnest(toks) AS t FROM d)
        |  GROUP BY doc_id, t
        |), agg AS (
        |  SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n,
        |         COUNT(*) AS n_distinct,
        |         CAST(SUM(c * ${log2Sql("c")}) AS BIGINT) AS clg
        |  FROM tc GROUP BY doc_id
        |)
        |SELECT doc_id, n AS n_tokens, n_distinct,
        |       CAST(n * ${log2Sql("n")} - clg AS BIGINT) AS ent_num_1e6,
        |       CAST((n * ${log2Sql("n")} - clg) // n AS BIGINT) AS ent_1e6
        |FROM agg ORDER BY doc_id""".stripMargin
  }

  // ---- token normalization (stopwords + light stemming) ---------------

  /** `text_normalize` — the tokenizer-prep normalization pass: stopword
    * removal plus a rule-based light stemmer (strip -ing/-ed/-s with
    * length guards, first rule wins), reported per document as token
    * counts and the normalized character mass. Pure narrow map over
    * materialized token arrays — no shuffle until the final tiny
    * ORDER BY, the same per-row cost at any corpus size.
    */
  def textNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.Column
    val stopwords = Seq("the", "a", "of", "and", "to", "in", "is")
    def stem(t: Column): Column =
      when(length(t) > 5 && t.endsWith("ing"), t.substr(lit(1), length(t) - 3))
        .when(length(t) > 4 && t.endsWith("ed"), t.substr(lit(1), length(t) - 2))
        .when(length(t) > 3 && t.endsWith("s") && !t.endsWith("ss"),
          t.substr(lit(1), length(t) - 1))
        .otherwise(t)
    docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("content",
        filter(col("toks"), t => !t.isInCollection(stopwords)))
      .withColumn("stemmed", transform(col("content"), t => stem(t)))
      .select(
        col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(col("content")).cast("long").as("n_content"),
        size(filter(transform(col("content"), t => stem(t) =!= t),
          b => b)).cast("long").as("n_stemmed"),
        aggregate(col("stemmed"), lit(0L),
          (acc, t) => acc + length(t).cast("long")).as("norm_chars"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textNormalizeSql: String = DuckToks +
    """
      |, n AS MATERIALIZED (
      |  SELECT doc_id, toks,
      |         list_filter(toks, t -> t NOT IN ('the','a','of','and','to','in','is')) AS content
      |  FROM d
      |), s AS MATERIALIZED (
      |  SELECT doc_id, toks, content,
      |         list_transform(content, t ->
      |           CASE WHEN length(t) > 5 AND t LIKE '%ing'
      |                  THEN substr(t, 1, length(t) - 3)
      |                WHEN length(t) > 4 AND t LIKE '%ed'
      |                  THEN substr(t, 1, length(t) - 2)
      |                WHEN length(t) > 3 AND t LIKE '%s' AND t NOT LIKE '%ss'
      |                  THEN substr(t, 1, length(t) - 1)
      |                ELSE t END) AS stemmed
      |  FROM n
      |)
      |SELECT doc_id,
      |       CAST(len(toks) AS BIGINT) AS n_tokens,
      |       CAST(len(content) AS BIGINT) AS n_content,
      |       CAST(len(list_filter(range(1, len(content)+1),
      |              i -> stemmed[i] != content[i])) AS BIGINT) AS n_stemmed,
      |       CAST(list_sum(list_prepend(0, list_transform(stemmed, t -> length(t)))) AS BIGINT) AS norm_chars
      |FROM s ORDER BY doc_id""".stripMargin

  // ---- PMI keyphrase extraction ---------------------------------------

  /** `text_keyphrases` — top-3 keyphrases (bigrams) per document by
    * pointwise mutual information, in the RATIO spelling
    * (P(w1w2)/(P(w1)·P(w2)) — rank-equivalent to PMI's log, which
    * stays out of the hash path; same doctrine as tf-idf/BM25).
    * Corpus unigram/bigram statistics are broadcast-sized; the per-doc
    * candidate set is the doc's own distinct bigrams with corpus count
    * ≥ 3 (rarer pairs are noise at this corpus size). One tokenize
    * pass, two tiny stat aggregates, one rank window.
    */
  def textKeyphrases(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toked = docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .where(size(col("toks")) >= 2)
      .persistIntermediate
    val uni = toked.select(explode(col("toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cw"))
    val uniTot = uni.agg(sum("cw").as("n_uni"))
    val docBigrams = toked.select(col("doc_id"), explode(
        transform(sequence(lit(1), size(col("toks")) - 1), i =>
          struct(element_at(col("toks"), i).as("w1"),
            element_at(col("toks"), i + 1).as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1"), col("bg.w2"))
    // r21 (§2.3/§5): ONE grouped pass over the exploded occurrences
    // serves both consumers — the old spelling exploded the frame twice
    // (corpus counts via groupBy, candidates via distinct), each a full
    // shuffle of the occurrence stream. The per-doc count frame IS the
    // distinct set (its keys), and the corpus bigram count is the exact
    // sum of per-doc counts.
    val perDoc = docBigrams.groupBy("doc_id", "w1", "w2")
      .agg(count(lit(1)).as("c")).persistIntermediate
    val bi = perDoc.groupBy("w1", "w2").agg(sum("c").as("cb"))
    val biTot = bi.agg(sum("cb").as("n_bi"))
    val candidates = perDoc.select("doc_id", "w1", "w2")
      .join(broadcast(bi.where(col("cb") >= 3)), Seq("w1", "w2"))
      .join(broadcast(uni.withColumnRenamed("w", "w1")
        .withColumnRenamed("cw", "c1")), "w1")
      .join(broadcast(uni.withColumnRenamed("w", "w2")
        .withColumnRenamed("cw", "c2")), "w2")
      .crossJoin(broadcast(uniTot)).crossJoin(broadcast(biTot))
      .withColumn("pmi_ratio",
        (col("cb").cast("double") / col("n_bi").cast("double")) /
          ((col("c1").cast("double") / col("n_uni").cast("double")) *
            (col("c2").cast("double") / col("n_uni").cast("double"))))
    val w = Window.partitionBy("doc_id")
      .orderBy(desc("pmi_ratio"), asc("w1"), asc("w2"))
    candidates.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 3)
      .select(col("doc_id"), col("rn").as("phrase_rank"),
        concat_ws(" ", col("w1"), col("w2")).as("phrase"),
        col("cb"), col("pmi_ratio"))
      .orderBy("doc_id", "phrase_rank")
  }

  val textKeyphrasesSql: String = DuckToks +
    """
      |, toked AS MATERIALIZED (SELECT doc_id, toks FROM d WHERE len(toks) >= 2),
      |uni AS MATERIALIZED (
      |  SELECT w, COUNT(*) AS cw
      |  FROM (SELECT unnest(toks) AS w FROM toked) GROUP BY w
      |), unitot AS MATERIALIZED (SELECT CAST(SUM(cw) AS BIGINT) AS n_uni FROM uni),
      |docbg AS MATERIALIZED (
      |  SELECT doc_id, bg['w1'] AS w1, bg['w2'] AS w2 FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(toks)), i ->
      |             {'w1': toks[i], 'w2': toks[i+1]})) AS bg
      |    FROM toked)
      |), bi AS MATERIALIZED (SELECT w1, w2, COUNT(*) AS cb FROM docbg GROUP BY w1, w2),
      |bitot AS MATERIALIZED (SELECT CAST(SUM(cb) AS BIGINT) AS n_bi FROM bi),
      |cand AS (
      |  SELECT db.doc_id, db.w1, db.w2, bi.cb,
      |         (CAST(bi.cb AS DOUBLE) / CAST(bitot.n_bi AS DOUBLE)) /
      |         ((CAST(u1.cw AS DOUBLE) / CAST(unitot.n_uni AS DOUBLE)) *
      |          (CAST(u2.cw AS DOUBLE) / CAST(unitot.n_uni AS DOUBLE))) AS pmi_ratio
      |  FROM (SELECT DISTINCT doc_id, w1, w2 FROM docbg) db
      |  JOIN bi ON db.w1 = bi.w1 AND db.w2 = bi.w2 AND bi.cb >= 3
      |  JOIN uni u1 ON db.w1 = u1.w
      |  JOIN uni u2 ON db.w2 = u2.w
      |  CROSS JOIN unitot CROSS JOIN bitot
      |)
      |SELECT doc_id, CAST(rn AS INTEGER) AS phrase_rank,
      |       w1 || ' ' || w2 AS phrase, cb, pmi_ratio
      |FROM (
      |  SELECT *, row_number() OVER (PARTITION BY doc_id
      |            ORDER BY pmi_ratio DESC, w1, w2) AS rn
      |  FROM cand
      |)
      |WHERE rn <= 3 ORDER BY doc_id, phrase_rank""".stripMargin

  // ---- cross-document exact substring duplication ---------------------

  /** `dedup_substring` — the exact-substring duplication detector (Lee
    * et al., "Deduplicating Training Data Makes Language Models
    * Better"): every 20-token rolling window is fingerprinted, windows
    * shared verbatim by ≥2 documents mark a duplicated span, and
    * document pairs sharing ≥3 windows are reported with their shared
    * span mass. Two-level hashing keeps it linear in corpus tokens:
    * per-token polynomial hashes once, then each window hash folds 20
    * LONGS (not 20 tokens' characters). The pair join runs only on the
    * tiny duplicated-window set (windows with >1 doc), never all
    * windows — Σ df² over a set that's empty on a clean corpus. This is
    * the primitive `dedup_lines` (segment removal) and
    * `dedup_containment` (shingle-set overlap) both approximate from
    * different angles; here the match is EXACT and positional.
    */
  def dedupSubstring(spark: SparkSession, sfDir: String): DataFrame = {
    val w = 20
    val minShared = 3
    val hashed = docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .where(size(col("toks")) >= w)
      // per-token hashes in one native call per row (the interpreted
      // transform-fold spelling is spec-pinned value-identical)...
      .withColumn("th",
        graft.functions.StringArrayTokenHashes.tokenHashes(col("toks")))
      // ...then ALL window hashes in one native codegen'd pass (the
      // interpreted aggregate-over-slice spelling measured 2.9 s at
      // sf0.1; the kernel is value-identical — spec-pinned)
      .select(col("doc_id"), explode(
        graft.functions.LongArrayRollingHash.rollingHash(col("th"), w))
        .as("wh"))
    val dupWindows = hashed.groupBy("wh")
      .agg(countDistinct("doc_id").as("nd"))
      .where(col("nd") >= 2)
      .select("wh")
    val dupHits = hashed.join(dupWindows, "wh")
      .select(col("wh"), col("doc_id")).distinct()
    dupHits.as("a")
      .join(dupHits.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .agg(count(lit(1)).as("n_shared_windows"))
      .where(col("n_shared_windows") >= minShared)
      .orderBy("d1", "d2")
  }

  val dedupSubstringSql: String = DuckToks +
    """
      |, th AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_transform(toks, t ->
      |           list_reduce(list_prepend(CAST(0 AS BIGINT),
      |             list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |             (a, c) -> (a * 131 + c) % 1000000007)) AS th
      |  FROM d WHERE len(toks) >= 20
      |), wins AS MATERIALIZED (
      |  SELECT doc_id, unnest(list_transform(range(1, len(th) - 18), i ->
      |           list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+19]),
      |             (acc, h) -> (acc * 131 + h) % 1000000007))) AS wh
      |  FROM th
      |), dup AS (
      |  SELECT wh FROM wins GROUP BY wh HAVING COUNT(DISTINCT doc_id) >= 2
      |), hits AS MATERIALIZED (
      |  SELECT DISTINCT w.wh, w.doc_id FROM wins w JOIN dup USING (wh)
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2, COUNT(*) AS n_shared_windows
      |FROM hits a JOIN hits b ON a.wh = b.wh AND a.doc_id < b.doc_id
      |GROUP BY a.doc_id, b.doc_id
      |HAVING COUNT(*) >= 3
      |ORDER BY d1, d2""".stripMargin

  // ---- readability ----------------------------------------------------

  /** `text_readability` — Flesch reading-ease per document with the
    * standard cheap syllable proxy (vowel-group runs per word, floored
    * at 1 — the heuristic every readability library uses when no
    * dictionary is at hand) and sentence count from terminal-punctuation
    * runs (floored at 1 for unpunctuated text). Scored in integral
    * millipoints: flesch_1e3 = 206835 − (1015·words) DIV sentences −
    * (84600·syllables) DIV words — the classic 206.835 − 1.015·ASL −
    * 84.6·ASW with every division integral, so the gate hashes BIGINTs
    * and the two engines cannot drift on float order.
    *
    * Scale: a narrow per-row map (tokenize + two regexp counts + one
    * bounded per-token fold); no shuffle before the gate sort.
    */
  def textReadability(spark: SparkSession, sfDir: String): DataFrame =
    docs(spark, sfDir)
      .withColumn("toks", TextOps.tokens(col("text")))
      .where(size(col("toks")) > 0)
      .withColumn("n_words", size(col("toks")).cast("long"))
      .withColumn("n_sentences",
        greatest(regexp_count(col("text"), lit("[.!?]+")), lit(1)).cast("long"))
      .withColumn("n_syllables",
        aggregate(
          transform(col("toks"),
            t => greatest(regexp_count(t, lit("[aeiouy]+")), lit(1)).cast("long")),
          lit(0L), (acc, x) => acc + x))
      .select(col("doc_id"), col("n_words"), col("n_sentences"),
        col("n_syllables"),
        expr("206835L - (1015L * n_words) DIV n_sentences" +
          " - (84600L * n_syllables) DIV n_words").as("flesch_1e3"))
      .transform(RefQueries.gateSort(_, "doc_id"))

  val textReadabilitySql: String = DuckToks +
    """
      |SELECT doc_id,
      |       CAST(len(toks) AS BIGINT) AS n_words,
      |       CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT) AS n_sentences,
      |       CAST(list_sum(list_transform(toks,
      |              t -> GREATEST(len(regexp_extract_all(t, '[aeiouy]+')), 1))) AS BIGINT) AS n_syllables,
      |       206835 - (1015 * CAST(len(toks) AS BIGINT))
      |         // CAST(GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
      |         - (84600 * CAST(list_sum(list_transform(toks,
      |              t -> GREATEST(len(regexp_extract_all(t, '[aeiouy]+')), 1))) AS BIGINT))
      |         // CAST(len(toks) AS BIGINT) AS flesch_1e3
      |FROM d WHERE len(toks) > 0 ORDER BY doc_id""".stripMargin

  // ---- Zipf rank-frequency fit ---------------------------------------

  private val ZipfTopN = 100

  /** `text_zipf_fit` — Zipf's-law health check for the corpus: OLS
    * slope of log₂(freq) against log₂(rank) over the top-[[ZipfTopN]]
    * tokens (natural corpora sit near −1; template-heavy or synthetic
    * corpora flatten toward 0 — a cheap distribution-level quality
    * signal next to the per-doc filters). Logs come from the
    * [[graft.functions.IntegerLog2]] kernel DIV 10 (1e5 scale): at 1e6
    * scale the Σxy sufficient statistic brushes 2^53, where the
    * BIGINT→DOUBLE cast stops being exact — at 1e5 every sum is exactly
    * representable, both engines cast identically, and the scale
    * cancels in the slope. The final slope/intercept ratios are one
    * fixed IEEE op sequence (the [[StatQueries]] doctrine).
    *
    * Scale: one explode + hash agg to the term-frequency table, a
    * top-k (TakeOrderedAndProject-shaped), then O(k) math — no
    * quadratic anything.
    */
  def textZipfFit(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.types.DoubleType
    val topTf = docs(spark, sfDir)
      .select(explode(TextOps.tokens(col("text"))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy(desc("freq"), col("tok")).limit(ZipfTopN)
    // the rank over the top-k frame is a plain window (TwoPassWindow's
    // size rule)
    val tf = topTf.withColumn("rank", row_number().over(
      Window.orderBy(desc("freq"), col("tok"))).cast("long"))
    val lg = graft.functions.IntegerLog2.log2s _
    val scaled = tf
      .select(lg(col("rank")).as("lgr"), lg(col("freq")).as("lgf"))
      .select(expr("lgr DIV 10").as("x"), expr("lgf DIV 10").as("y"))
    val stats = scaled.agg(
      count(lit(1)).as("n_ranks"),
      sum("x").cast(DoubleType).as("sx"),
      sum("y").cast(DoubleType).as("sy"),
      sum(col("x") * col("y")).cast(DoubleType).as("sxy"),
      sum(col("x") * col("x")).cast(DoubleType).as("sxx"))
    val nD = col("n_ranks").cast(DoubleType)
    stats
      .withColumn("slope",
        (nD * col("sxy") - col("sx") * col("sy")) /
          (nD * col("sxx") - col("sx") * col("sx")))
      .withColumn("intercept_log2",
        ((col("sy") - col("slope") * col("sx")) / nD) / lit(100000.0d))
      .select(col("n_ranks"), col("slope"), col("intercept_log2"))
  }

  val textZipfFitSql: String = {
    val lgRank = graft.functions.IntegerLog2.log2Sql("rank")
    val lgFreq = graft.functions.IntegerLog2.log2Sql("freq")
    DuckToks +
      s""", tf AS MATERIALIZED (
         |  SELECT tok, COUNT(*) AS freq
         |  FROM (SELECT unnest(toks) AS tok FROM d)
         |  GROUP BY tok ORDER BY freq DESC, tok LIMIT $ZipfTopN
         |), ranked AS (
         |  SELECT CAST(row_number() OVER (ORDER BY freq DESC, tok) AS BIGINT) AS rank,
         |         freq
         |  FROM tf
         |), scaled AS (
         |  SELECT $lgRank // 10 AS x, $lgFreq // 10 AS y FROM ranked
         |), s AS MATERIALIZED (
         |  SELECT COUNT(*) AS n_ranks,
         |         CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
         |         CAST(SUM(x * y) AS DOUBLE) AS sxy,
         |         CAST(SUM(x * x) AS DOUBLE) AS sxx
         |  FROM scaled
         |)
         |SELECT CAST(n_ranks AS BIGINT) AS n_ranks,
         |       (CAST(n_ranks AS DOUBLE) * sxy - sx * sy) /
         |       (CAST(n_ranks AS DOUBLE) * sxx - sx * sx) AS slope,
         |       ((sy - ((CAST(n_ranks AS DOUBLE) * sxy - sx * sy) /
         |               (CAST(n_ranks AS DOUBLE) * sxx - sx * sx)) * sx)
         |        / CAST(n_ranks AS DOUBLE)) / 100000.0 AS intercept_log2
         |FROM s""".stripMargin
  }

  // ---- novelty curve --------------------------------------------------

  /** `text_ngram_novelty` — per-document novelty against everything
    * BEFORE it in corpus order: the fraction of a document's distinct
    * 3-grams whose FIRST occurrence (min doc_id) is the document
    * itself. The curation signal behind "is the crawl still adding new
    * content?" — novelty decays as a corpus saturates, and per-source
    * novelty curves tell you which feeds have gone stale. ppm-integral.
    *
    * Scale: one explode to distinct (doc, gram) pairs, one gram-keyed
    * min aggregate (the global first-seen table), one broadcast-shaped
    * join back, one doc rollup — the dedup_lines shuffle family,
    * nothing quadratic.
    */
  def textNgramNovelty(spark: SparkSession, sfDir: String): DataFrame = {
    // BIND the token array to a column first, then build 3-grams as a
    // zip of three slices: the old `element_at(toks, i)` inside the
    // position-sequence transform captured the raw tokenize EXPRESSION,
    // which Catalyst re-evaluates per lambda element — the whole
    // split+filter re-ran per n-gram, O(L²) per document (measured
    // 10.3 s → ~1 s at sf0.1; the plan-shape pitfall ARCHITECTURE.md
    // documents for exactly this transform family).
    val m = greatest(size(col("toks")) - 2, lit(0))
    val zipped = arrays_zip(
      slice(col("toks"), lit(1), m),
      slice(col("toks"), lit(2), m),
      slice(col("toks"), lit(3), m))
    val grams3 = when(size(col("toks")) >= 3,
      transform(zipped, s =>
        concat_ws(" ", s.getField("0"), s.getField("1"), s.getField("2")))
    ).otherwise(array().cast("array<string>"))
    val pairs = docs(spark, sfDir)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), explode(array_distinct(grams3)).as("g"))
      .persistIntermediate
    val first = pairs.groupBy("g").agg(min("doc_id").as("first_doc"))
    pairs.join(first, "g")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        expr("n_novel * 1000000L DIV n_grams").as("novelty_ppm"))
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val textNgramNoveltySql: String = DuckToks +
    """
      |, pairs AS MATERIALIZED (
      |  SELECT DISTINCT doc_id, g FROM (
      |    SELECT doc_id,
      |           unnest(CASE WHEN len(toks) >= 3
      |             THEN list_transform(range(1, len(toks) - 1), i ->
      |                    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      |             ELSE [] END) AS g
      |    FROM d
      |  )
      |), first AS (
      |  SELECT g, MIN(doc_id) AS first_doc FROM pairs GROUP BY g
      |)
      |SELECT p.doc_id, COUNT(*) AS n_grams,
      |       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
      |            AS BIGINT) AS n_novel,
      |       CAST(SUM(CASE WHEN f.first_doc = p.doc_id THEN 1 ELSE 0 END)
      |            * 1000000 // COUNT(*) AS BIGINT) AS novelty_ppm
      |FROM pairs p JOIN first f USING (g)
      |GROUP BY p.doc_id ORDER BY p.doc_id""".stripMargin

  // ---- multi-signal quality ensemble ---------------------------------

  /** `corpus_quality_ensemble` — the FineWeb/Gopher-style multi-filter
    * verdict: five independent integer quality signals (unigram
    * entropy, type–token ratio, Flesch readability, bigram LM score,
    * bigram perplexity) are each banded to the corpus's own
    * [p10, p90] — the band form drops outliers in BOTH directions
    * without caring which way each signal points — and a document is
    * KEPT when ≥ 4 of 5 signals sit in band. Real pretraining filters
    * are ensembles exactly like this: no single heuristic is trusted
    * alone.
    *
    * Determinism: every signal is an existing gated integer score; the
    * ten thresholds are exact interpolated percentiles of integers
    * (olap_percentile doctrine); flags and the vote are pure integer
    * compares. Docs too short to have bigrams carry no LM/perplexity
    * signal and drop from the ensemble by the inner join — by contract.
    *
    * Scale: five doc-keyed narrow aggregates zipper-joined on doc_id
    * (co-partitioned one shuffle each), one 10-value aggregate
    * broadcast back. Nothing quadratic, nothing driver-side.
    */
  def corpusQualityEnsemble(spark: SparkSession, sfDir: String): DataFrame = {
    val sigs = Seq(
      textEntropy(spark, sfDir).select(col("doc_id"), col("ent_1e6").as("s1")),
      textLexicalDiversity(spark, sfDir)
        .select(col("doc_id"), col("ttr_1e6").as("s2")),
      textReadability(spark, sfDir)
        .select(col("doc_id"), col("flesch_1e3").as("s3")),
      textLmScore(spark, sfDir)
        .select(col("doc_id"), col("lm_score_1e6").as("s4")),
      textPerplexity(spark, sfDir)
        .select(col("doc_id"), col("ppl_log2_1e6").as("s5")))
    // persisted: the threshold aggregate AND the final flag projection both
    // consume the full five-pipeline join — unpersisted, every signal's
    // tokenize/score pipeline would run twice (measured ~2× wall-clock)
    val joined = sigs.reduce(_.join(_, "doc_id")).persistHotIntermediate
    val thExprs = (1 to 5).flatMap(i => Seq(
      percentile(col(s"s$i"), lit(0.1)).as(s"lo$i"),
      percentile(col(s"s$i"), lit(0.9)).as(s"hi$i")))
    val th = joined.agg(thExprs.head, thExprs.tail: _*)
    val flagged = (1 to 5).foldLeft(joined.crossJoin(broadcast(th))) {
      case (df, i) => df.withColumn(s"pass$i",
        (col(s"s$i") >= col(s"lo$i") && col(s"s$i") <= col(s"hi$i"))
          .cast("long"))
    }
    flagged
      .withColumn("n_pass",
        (1 to 5).map(i => col(s"pass$i")).reduce(_ + _))
      .select(col("doc_id") +: (1 to 5).map(i => col(s"pass$i")) :+
        col("n_pass") :+ (col("n_pass") >= 4).cast("long").as("keep"): _*)
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val corpusQualityEnsembleSql: String = {
    val flags = (1 to 5).map(i =>
      s"CASE WHEN j.s$i >= t.lo$i AND j.s$i <= t.hi$i THEN 1 ELSE 0 END AS pass$i")
      .mkString(",\n       ")
    val passCols = (1 to 5).map(i => s"pass$i").mkString(" + ")
    s"""WITH e1 AS MATERIALIZED (
       |$textEntropySql
       |), e2 AS MATERIALIZED (
       |$textLexicalDiversitySql
       |), e3 AS MATERIALIZED (
       |$textReadabilitySql
       |), e4 AS MATERIALIZED (
       |$textLmScoreSql
       |), e5 AS MATERIALIZED (
       |$textPerplexitySql
       |), j AS MATERIALIZED (
       |  SELECT e1.doc_id, e1.ent_1e6 AS s1, e2.ttr_1e6 AS s2,
       |         e3.flesch_1e3 AS s3, e4.lm_score_1e6 AS s4,
       |         e5.ppl_log2_1e6 AS s5
       |  FROM e1
       |  JOIN e2 USING (doc_id) JOIN e3 USING (doc_id)
       |  JOIN e4 USING (doc_id) JOIN e5 USING (doc_id)
       |), t AS MATERIALIZED (
       |  SELECT quantile_cont(s1, 0.1) AS lo1, quantile_cont(s1, 0.9) AS hi1,
       |         quantile_cont(s2, 0.1) AS lo2, quantile_cont(s2, 0.9) AS hi2,
       |         quantile_cont(s3, 0.1) AS lo3, quantile_cont(s3, 0.9) AS hi3,
       |         quantile_cont(s4, 0.1) AS lo4, quantile_cont(s4, 0.9) AS hi4,
       |         quantile_cont(s5, 0.1) AS lo5, quantile_cont(s5, 0.9) AS hi5
       |  FROM j
       |), f AS MATERIALIZED (
       |  SELECT j.doc_id,
       |       $flags
       |  FROM j CROSS JOIN t
       |)
       |SELECT doc_id, CAST(pass1 AS BIGINT) AS pass1,
       |       CAST(pass2 AS BIGINT) AS pass2, CAST(pass3 AS BIGINT) AS pass3,
       |       CAST(pass4 AS BIGINT) AS pass4, CAST(pass5 AS BIGINT) AS pass5,
       |       CAST($passCols AS BIGINT) AS n_pass,
       |       CAST(CASE WHEN $passCols >= 4 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM f ORDER BY doc_id""".stripMargin
  }

  // ---- DSIR importance selection -------------------------------------

  private val DsirTopK = 100

  /** `corpus_dsir_select` — data selection by importance resampling
    * (DSIR, Xie et al. 2023): score every document by how much more
    * likely its tokens are under the TARGET domain's unigram LM (here:
    * the English slice) than under the raw-corpus LM, and keep the
    * top-[[DsirTopK]] — the modern recipe for skimming a web-scale
    * crawl toward a target distribution without training a classifier.
    * Add-1 smoothing on both models; the per-token log-ratio collapses
    * to log2(c_t+1) − log2(c_r+1) plus a per-token constant
    * log2(N_r+V) − log2(N_t+V), all on the shared integer log2 kernel,
    * so the score is BIGINT-exact: dsir_1e6 ≈ 10⁶·log₂ likelihood
    * ratio.
    *
    * Scale: the two count tables are token-keyed hash aggregates (the
    * text_lm_score shape), broadcast back over one explode — types-
    * sized, not mass-sized; the final top-k is TakeOrderedAndProject.
    */
  def corpusDsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    val tok = docs(spark, sfDir)
      .select(col("doc_id"), col("lang"),
        explode(TextOps.tokens(col("text"))).as("t"))
      .persistIntermediate
    val rawCnt = tok.groupBy("t").agg(count(lit(1)).as("cr"))
    val tgtCnt = tok.where(col("lang") === "en")
      .groupBy("t").agg(count(lit(1)).as("ct"))
    val consts = tok
      .agg(count(lit(1)).as("nr"),
        sum(when(col("lang") === "en", 1L).otherwise(0L)).as("nt"))
      .crossJoin(rawCnt.agg(count(lit(1)).as("v")))
      .select(IntegerLog2.log2s(col("nt") + col("v")).as("c1"),
        IntegerLog2.log2s(col("nr") + col("v")).as("c2"))
    tok.join(broadcast(rawCnt), "t")
      .join(broadcast(tgtCnt), Seq("t"), "left")
      .withColumn("term",
        IntegerLog2.log2s(coalesce(col("ct"), lit(0L)) + 1) -
          IntegerLog2.log2s(col("cr") + 1))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum("term").as("tsum"))
      .crossJoin(broadcast(consts))
      .select(col("doc_id"), col("n_tokens"),
        (col("tsum") + col("n_tokens") * (col("c2") - col("c1")))
          .as("dsir_1e6"))
      .orderBy(desc("dsir_1e6"), col("doc_id"))
      .limit(DsirTopK)
  }

  val corpusDsirSelectSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    DuckToks +
      s"""
         |, tok AS MATERIALIZED (
         |  SELECT doc_id, lang, unnest(toks) AS t FROM d
         |), raw AS MATERIALIZED (
         |  SELECT t, COUNT(*) AS cr FROM tok GROUP BY t
         |), tgt AS (
         |  SELECT t, COUNT(*) AS ct FROM tok WHERE lang = 'en' GROUP BY t
         |), consts AS (
         |  SELECT ${log2Sql("ntv")} AS c1, ${log2Sql("nrv")} AS c2 FROM (
         |    SELECT CAST((SELECT COUNT(*) FROM tok WHERE lang = 'en')
         |                + (SELECT COUNT(*) FROM raw) AS BIGINT) AS ntv,
         |           CAST((SELECT COUNT(*) FROM tok)
         |                + (SELECT COUNT(*) FROM raw) AS BIGINT) AS nrv
         |  )
         |), scored AS MATERIALIZED (
         |  SELECT doc_id, COUNT(*) AS n_tokens,
         |         SUM(${log2Sql("ctp")} - ${log2Sql("crp")}) AS tsum
         |  FROM (
         |    SELECT tok.doc_id,
         |           CAST(COALESCE(tg.ct, 0) + 1 AS BIGINT) AS ctp,
         |           CAST(r.cr + 1 AS BIGINT) AS crp
         |    FROM tok
         |    JOIN raw r ON r.t = tok.t
         |    LEFT JOIN tgt tg ON tg.t = tok.t
         |  ) GROUP BY doc_id
         |)
         |SELECT s.doc_id, s.n_tokens,
         |       CAST(s.tsum + s.n_tokens * (c.c2 - c.c1) AS BIGINT) AS dsir_1e6
         |FROM scored s CROSS JOIN consts c
         |ORDER BY dsir_1e6 DESC, s.doc_id LIMIT $DsirTopK""".stripMargin
  }

  // ---- CCNet-style perplexity banding --------------------------------

  /** `corpus_perplexity_filter` — the CCNet head/middle/tail split
    * (Wenzek et al. 2020): score every document with the corpus bigram
    * LM ([[textPerplexity]]'s integer log2 cross-entropy), then bucket
    * by the corpus's own 33rd/67th percentiles — "head" (most fluent
    * third) is what LM pretraining keeps first, "tail" what it drops or
    * down-weights. The canonical LM-based quality filter, here as one
    * gateable operator.
    *
    * Determinism: scores are BIGINTs; the two thresholds are the exact
    * interpolated percentiles of those integers (exact doubles ≪ 2^52,
    * identical interpolation in both engines — the olap_percentile
    * doctrine); bucket comparison is integer-vs-exact-double.
    *
    * Scale: inherits the LM scorer's shape (broadcast count tables,
    * one doc-keyed aggregate); the threshold pass is one 2-value
    * aggregate broadcast back — nothing new shuffles.
    */
  def corpusPerplexityFilter(spark: SparkSession, sfDir: String): DataFrame = {
    // r21 (§5): persisted — the threshold aggregate AND the output scan
    // ppl; unpersisted, the whole LM-scoring tail ran twice
    val ppl = textPerplexity(spark, sfDir)
      .select("doc_id", "ppl_log2_1e6")
      .persistIntermediate
    val th = ppl.agg(
      percentile(col("ppl_log2_1e6"), lit(0.33)).as("p33"),
      percentile(col("ppl_log2_1e6"), lit(0.67)).as("p67"))
    ppl.crossJoin(broadcast(th))
      .withColumn("bucket",
        when(col("ppl_log2_1e6") <= col("p33"), "head")
          .when(col("ppl_log2_1e6") <= col("p67"), "middle")
          .otherwise("tail"))
      .select("doc_id", "ppl_log2_1e6", "bucket")
      .transform(RefQueries.gateSort(_, "doc_id"))
  }

  val corpusPerplexityFilterSql: String =
    s"""WITH p AS MATERIALIZED (
       |$textPerplexitySql
       |), th AS MATERIALIZED (
       |  SELECT quantile_cont(ppl_log2_1e6, 0.33) AS p33,
       |         quantile_cont(ppl_log2_1e6, 0.67) AS p67
       |  FROM p
       |)
       |SELECT p.doc_id, p.ppl_log2_1e6,
       |       CASE WHEN p.ppl_log2_1e6 <= th.p33 THEN 'head'
       |            WHEN p.ppl_log2_1e6 <= th.p67 THEN 'middle'
       |            ELSE 'tail' END AS bucket
       |FROM p CROSS JOIN th ORDER BY p.doc_id""".stripMargin

  // ---- sequence-length histogram --------------------------------------

  /** `corpus_token_histogram` — document length distribution in
    * power-of-two token buckets (bucket = ⌊log2 n_tokens⌋ via the
    * IntegerLog2 exponent): the first thing a packing/batching planner
    * reads — `text_pack_sequences`' bin efficiency and truncation loss
    * are both functions of this histogram. Per bucket: doc count, token
    * mass, and the min/max lengths, all exact integers.
    *
    * Scale: one narrow map + one hash aggregate over ≤ 64 buckets.
    */
  def corpusTokenHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    docs(spark, sfDir)
      .select(size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
      .where(col("n_tokens") >= 1)
      // fractional divide + truncating cast == floor here: operands are
      // non-negative and ≪ 2^53, so the correctly-rounded quotient can
      // never land on the wrong side of an integer boundary (exact-k
      // multiples divide exactly; others are ~1e-16 off, not ~1)
      .withColumn("bucket",
        (IntegerLog2.log2s(col("n_tokens")) / lit(1000000L)).cast("long"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        min("n_tokens").as("min_tokens"),
        max("n_tokens").as("max_tokens"))
      .orderBy("bucket")
  }

  val corpusTokenHistogramSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    DuckToks +
      s"""
         |, n AS MATERIALIZED (
         |  SELECT CAST(len(toks) AS BIGINT) AS n_tokens FROM d
         |  WHERE len(toks) >= 1
         |), b AS MATERIALIZED (
         |  SELECT n_tokens, ${log2Sql("n_tokens")} // 1000000 AS bucket FROM n
         |)
         |SELECT bucket, COUNT(*) AS n_docs,
         |       CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
         |       CAST(MIN(n_tokens) AS BIGINT) AS min_tokens,
         |       CAST(MAX(n_tokens) AS BIGINT) AS max_tokens
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
  }

  // ---- keyword-in-context concordance ---------------------------------

  /** `text_kwic` — keyword-in-context concordance for `spark`: every
    * occurrence with 20 characters of context each side, the corpus-
    * linguistics inspection tool (and the "show me the hit in situ"
    * step after any search operator). Occurrence positions come from a
    * filtered position sequence (ALL occurrences, not just the first —
    * `instr` alone can't do this); context slicing is pure 1-based
    * substring arithmetic, identical in both engines.
    *
    * Scale: narrow per-row position scan (O(L·|kw|)) + explode —
    * no shuffle at all until the gate sort; at 100 TB this is a map
    * stage, usually fused downstream of the index-assisted candidate
    * search (`text_substring_search`) rather than run corpus-wide.
    */
  def textKwic(spark: SparkSession, sfDir: String): DataFrame = {
    val kw = "spark"
    val L = kw.length
    // r21 (§2.3 filter early): docs without the keyword can't emit a
    // row (explode of an empty position array), so the codegen'd
    // contains() skips the per-position lambda scan for them entirely
    val d = docs(spark, sfDir).select(col("doc_id"),
      lower(col("text")).as("ltext"))
      .where(col("ltext").contains(kw))
    d.select(col("doc_id"), col("ltext"),
        explode(expr(
          s"CASE WHEN length(ltext) >= $L THEN " +
            s"filter(sequence(1, length(ltext) - ${L - 1}), " +
            s"i -> substring(ltext, i, $L) = '$kw') " +
            "ELSE CAST(array() AS array<int>) END")).as("pos"))
      .select(col("doc_id"), col("pos").cast("long").as("pos"),
        expr("substring(ltext, greatest(pos - 20, 1), pos - greatest(pos - 20, 1))")
          .as("left_ctx"),
        expr(s"substring(ltext, pos + $L, 20)").as("right_ctx"))
      .transform(RefQueries.gateSort(_, "doc_id", "pos"))
  }

  val textKwicSql: String =
    """WITH d AS MATERIALIZED (
      |  SELECT doc_id, lower(text) AS ltext FROM documents
      |), occ AS (
      |  SELECT doc_id, ltext,
      |         unnest(CASE WHEN length(ltext) >= 5
      |           THEN list_filter(range(1, length(ltext) - 3),
      |                            i -> substr(ltext, i, 5) = 'spark')
      |           ELSE [] END) AS pos
      |  FROM d
      |)
      |SELECT doc_id, CAST(pos AS BIGINT) AS pos,
      |       substr(ltext, greatest(pos - 20, 1),
      |              pos - greatest(pos - 20, 1)) AS left_ctx,
      |       substr(ltext, pos + 5, 20) AS right_ctx
      |FROM occ ORDER BY doc_id, pos""".stripMargin

  // ---- trigram-index substring search ---------------------------------

  /** `text_substring_search` — index-assisted substring (LIKE
    * '%pat%') search: the classic character-TRIGRAM inverted index
    * (pg_trgm / Google Code Search): candidates are documents
    * containing EVERY trigram of the pattern (an all-present count
    * join over posting lists), verified with one `contains` over the
    * candidates only. Exact by construction — a true match contains
    * all its pattern's trigrams, so candidates ⊇ matches and the
    * verify step removes nothing true. Patterns include a cross-token
    * phrase and an absent literal so both the hit and miss paths gate.
    *
    * Scale: THIS is how substring search survives 100 TB — a LIKE scan
    * touches every byte of every document per query; the trigram join
    * touches |pattern trigrams| posting lists and verifies a
    * candidate set that shrinks multiplicatively with pattern length.
    * The index build is one explode + distinct (shuffle keyed by
    * trigram) and amortizes across every query against it. The oracle
    * restates the SEMANTICS (a contains scan) — fine at oracle scale,
    * linear-in-corpus at engine scale, which is the point.
    */
  def textSubstringSearch(spark: SparkSession, sfDir: String): DataFrame = {
    val patterns = Seq("spark", "window agg", "key value", "warehouse zzz")
    def tris(s: String): Seq[String] =
      (0 to s.length - 3).map(i => s.substring(i, i + 3)).distinct
    import spark.implicits._
    val patTris = patterns.flatMap(p => tris(p).map(t => (p, t)))
      .toDF("pattern", "tri")
    val patN = patterns.map(p => (p, tris(p).size.toLong))
      .toDF("pattern", "n_tris")
    val d = docs(spark, sfDir).select(col("doc_id"),
      lower(col("text")).as("ltext"))
    // posting-list PROBE, not a full index build (r20): a query only
    // ever reads ITS OWN trigrams' posting lists, so the exploded rows
    // are restricted to the patterns' ~20 distinct trigrams up front —
    // the old spelling exploded EVERY position of every document
    // (≈ |corpus chars| rows, ~8 M at sf0.1) through the broadcast
    // join and aggregate to then discard all but the pattern hits
    // (guide §2.3, project/filter before the exchange; same-window r20
    // probe 2.45 → 0.60 s at sf0.1/16 cpus). Candidate semantics unchanged:
    // filter(contains) emits exactly the distinct pattern-trigrams
    // present in the doc — the same (doc, tri) posting rows the full
    // index would serve for these patterns.
    val allPatTris = patterns.flatMap(tris).distinct
    val index = d.select(col("doc_id"), explode(filter(
      typedLit(allPatTris),
      t => col("ltext").contains(t))).as("tri"))
    val cands = index.join(broadcast(patTris), "tri")
      .groupBy("pattern", "doc_id").agg(count(lit(1)).as("hit"))
      .join(broadcast(patN), "pattern")
      .where(col("hit") === col("n_tris"))
      .select("pattern", "doc_id")
    cands.join(d, "doc_id")
      .where(expr("instr(ltext, pattern) > 0"))
      .select("pattern", "doc_id")
      .transform(RefQueries.gateSort(_, "pattern", "doc_id"))
  }

  val textSubstringSearchSql: String =
    """WITH pats(pattern) AS (
      |  VALUES ('spark'), ('window agg'), ('key value'), ('warehouse zzz')
      |)
      |SELECT p.pattern, d.doc_id
      |FROM documents d CROSS JOIN pats p
      |WHERE contains(lower(d.text), p.pattern)
      |ORDER BY p.pattern, d.doc_id""".stripMargin

  // ---- feature hashing -------------------------------------------------

  /** `text_feature_hashing` — the hashing-trick vectorizer (Weinberger
    * et al. 2009): every token maps to bucket `polyhash(token) mod 64`
    * and the document's sparse feature vector is the per-bucket count —
    * fixed dimensionality with NO vocabulary table, which is the whole
    * point at corpus scale (a 100 TB vectorize pass needs no broadcast
    * dictionary, no OOV handling, no driver state — compare
    * `text_vocab_encode`, which must cap and ship its vocab). Uses the
    * shared engine-neutral polynomial hash (131 / 1e9+7 — the
    * fingerprint/simhash source of truth) through the codegen'd
    * [[graft.functions.StringArrayTokenHashes]] kernel.
    *
    * Scale: one narrow hash map per row + one (doc, bucket) counting
    * aggregate keyed by doc_id — map-side combinable, no joins.
    */
  def textFeatureHashing(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    docs(spark, sfDir)
      .select(col("doc_id"),
        explode(graft.functions.StringArrayTokenHashes.tokenHashes(toks))
          .as("h"))
      .select(col("doc_id"), pmod(col("h"), lit(64L)).as("bucket"))
      .groupBy("doc_id", "bucket")
      .agg(count(lit(1)).as("cnt"))
      .transform(RefQueries.gateSort(_, "doc_id", "bucket"))
  }

  val textFeatureHashingSql: String =
    DuckToks +
      """
        |, tok AS MATERIALIZED (
        |  SELECT doc_id, unnest(toks) AS t FROM d
        |), h AS (
        |  SELECT doc_id,
        |         list_reduce(list_prepend(CAST(0 AS BIGINT),
        |           list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
        |           (a, c) -> (a * 131 + c) % 1000000007) % 64 AS bucket
        |  FROM tok
        |)
        |SELECT doc_id, bucket, COUNT(*) AS cnt
        |FROM h GROUP BY doc_id, bucket ORDER BY doc_id, bucket""".stripMargin

  // ---- collocation mining ---------------------------------------------

  /** `text_collocations` — corpus-level collocation mining: bigrams ranked
    * by pointwise mutual information, the classic phrase-discovery
    * signal (Church & Hanks 1990; word2vec's phrase pass uses the same
    * count ratio). With corpus unigram counts c1, c2 (total N) and
    * bigram count cb (total M),
    *   PMI = log2( (cb/M) / ((c1/N)·(c2/N)) )
    *       = log2 cb − log2 M − log2 c1 − log2 c2 + 2·log2 N,
    * restated exactly in scaled integers via the shared [[IntegerLog2]]
    * kernel (every argument is a positive count, so each term is
    * well-defined and the result is a plain BIGINT sum — no floating
    * log, no cross-engine ulp risk). A cb ≥ 3 support floor drops
    * singleton noise; output is the top 100 by (PMI desc, w1, w2) —
    * the full tiebreak makes the cutoff set deterministic.
    *
    * Scale: two hash aggregates (unigrams, bigrams) over one tokenize
    * scan; the count tables are vocabulary-sized, so both joins and the
    * two scalar totals broadcast. Nothing shuffles by doc — the only
    * wide ops are keyed by token/bigram, exactly the cardinality a
    * 100 TB corpus compresses to.
    */
  def textCollocations(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.functions.IntegerLog2
    val toks = TextOps.tokens(col("text"))
    val m = greatest(size(toks) - 1, lit(0))
    val zipped = arrays_zip(slice(toks, lit(1), m), slice(toks, lit(2), m))
    val grams = when(size(toks) >= 2,
      transform(zipped, s => concat_ws(" ", s.getField("0"), s.getField("1")))
    ).otherwise(array().cast("array<string>"))
    val d = docs(spark, sfDir)
    // persisted (Persist.intermediate): the unigram table feeds BOTH
    // broadcast joins plus the N total, the bigram table feeds the main
    // stream plus the M total — unpersisted, each consumer re-runs the
    // corpus tokenize scan (the textPerplexity doctrine; default-mode
    // blocks are ContextCleaner-owned, freed when the query's frames
    // drop)
    val uni = d.select(explode(toks).as("t"))
      .groupBy("t").agg(count(lit(1)).as("c"))
      .persistIntermediate
    val nTot = uni.agg(sum(col("c")).as("n"))
    val bg = d.select(explode(grams).as("g"))
      .groupBy("g").agg(count(lit(1)).as("cb"))
      .persistIntermediate
    val mTot = bg.agg(sum(col("cb")).as("m"))
    bg.where(col("cb") >= 3)
      .withColumn("w1", split_part(col("g"), lit(" "), lit(1)))
      .withColumn("w2", split_part(col("g"), lit(" "), lit(2)))
      .join(broadcast(uni.select(col("t").as("w1"), col("c").as("c1"))), "w1")
      .join(broadcast(uni.select(col("t").as("w2"), col("c").as("c2"))), "w2")
      .crossJoin(broadcast(nTot)).crossJoin(broadcast(mTot))
      .withColumn("pmi_1e6",
        IntegerLog2.log2s(col("cb")) + lit(2) * IntegerLog2.log2s(col("n"))
          - IntegerLog2.log2s(col("m")) - IntegerLog2.log2s(col("c1"))
          - IntegerLog2.log2s(col("c2")))
      .select("w1", "w2", "cb", "c1", "c2", "pmi_1e6")
      .orderBy(col("pmi_1e6").desc, col("w1"), col("w2"))
      .limit(100)
      .transform(RefQueries.gateSort(_, "w1", "w2"))
  }

  val textCollocationsSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    DuckToks +
      s"""
         |, uni AS MATERIALIZED (
         |  SELECT t, COUNT(*) AS c
         |  FROM (SELECT unnest(toks) AS t FROM d) GROUP BY t
         |), ntot AS MATERIALIZED (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
         |bg AS MATERIALIZED (
         |  SELECT unnest(CASE WHEN len(toks) >= 2
         |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
         |    ELSE [] END) AS g
         |  FROM d
         |), cnt AS MATERIALIZED (SELECT g, COUNT(*) AS cb FROM bg GROUP BY g),
         |mtot AS MATERIALIZED (SELECT CAST(SUM(cb) AS BIGINT) AS m FROM cnt),
         |j AS MATERIALIZED (
         |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
         |         cnt.cb, u1.c AS c1, u2.c AS c2, ntot.n, mtot.m
         |  FROM cnt
         |  JOIN uni u1 ON u1.t = split_part(g, ' ', 1)
         |  JOIN uni u2 ON u2.t = split_part(g, ' ', 2), ntot, mtot
         |  WHERE cnt.cb >= 3
         |), sc AS (
         |  SELECT w1, w2, cb, c1, c2,
         |         ${log2Sql("cb")} + 2 * ${log2Sql("n")} - ${log2Sql("m")}
         |           - ${log2Sql("c1")} - ${log2Sql("c2")} AS pmi_1e6
         |  FROM j
         |), top AS (
         |  SELECT * FROM sc ORDER BY pmi_1e6 DESC, w1, w2 LIMIT 100
         |)
         |SELECT w1, w2, cb, c1, c2, pmi_1e6 FROM top ORDER BY w1, w2""".stripMargin
  }
}
