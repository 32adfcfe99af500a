package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Bpe

/** Oracle-gated BPE subword tokenization queries (ops.Bpe).
  *
  * The DuckDB twins unroll the fixed merge rounds as CTE chains (the
  * same unrolled-iteration technique as the pagerank/HITS oracles).
  * The greedy left-to-right merge is restated per round via the
  * ISLAND-PARITY rule: a match position i (syms[i]=pa ∧ syms[i+1]=pb)
  * merges iff its rank inside its maximal run of CONSECUTIVE match
  * positions is odd — exactly the matches the greedy scan takes, since
  * each merge consumes the following overlap. Window functions compute
  * runs (gaps-and-islands), list_transform rebuilds the arrays.
  */
object BpeQueries {
  import RefQueries.table

  /** Fixed merge-round budget shared by the Spark loop and the oracle
    * unroll — enough rounds to learn multi-character units on the test
    * corpus while keeping the generated SQL readable.
    */
  val Rounds = 6

  private def docs(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "documents").select("doc_id", "text")

  /** One learned model per (session, sfDir): the three gates (merges,
    * encode, pack) and repeated bench runs share a single 6-round
    * training pass — the types/merges frames are localCheckpointed, so
    * caching the handles is safe and the re-learn would be pure waste.
    */
  private val modelMemo = new java.util.concurrent.ConcurrentHashMap[
    (SparkSession, String), (DataFrame, DataFrame)]()

  private def learned(spark: SparkSession, sfDir: String): (DataFrame, DataFrame) =
    modelMemo.computeIfAbsent((spark, sfDir),
      _ => Bpe.learn(docs(spark, sfDir), Rounds))

  // ---- Spark sides ---------------------------------------------------

  /** `text_bpe_merges` — the learned merge table itself: (round, pa,
    * pb, cnt), the artifact a production pipeline persists and ships
    * to its tokenizer. Gating the rules (not just the encodings) pins
    * the argmax arithmetic, the tie-break, and the greedy re-merge
    * state every round.
    */
  def textBpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    val (merges, _) = learned(spark, sfDir)
    merges.orderBy("round")
  }

  /** `text_bpe_encode` — per-document subword statistics under the
    * learned segmentation: subword count (the REAL token budget, vs
    * the whitespace proxy in text_tokens), the id-sum checksum, and
    * the first/last subword ids in document order. Scalars rather than
    * the id array keep the gate hash stable while still pinning the
    * full sequence: count + sum + ordered endpoints over dense
    * lexicographic ids leave no room for a wrong segmentation of any
    * document to cancel out across the corpus.
    */
  def textBpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val (_, types) = learned(spark, sfDir)
    val enc = Bpe.encode(d, types, Bpe.vocab(types))
    enc
      .withColumn("ord", col("pos") * 100000 + col("sp"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_subwords"),
        sum(col("id")).as("id_sum"),
        min_by(col("id"), col("ord")).as("first_id"),
        max_by(col("id"), col("ord")).as("last_id"))
      .orderBy("doc_id")
  }

  /** `text_bpe_pack` — text_pack_sequences over SUBWORD counts: the
    * 512-token greedy bin packing that actually matters runs on the
    * tokenizer's units, not whitespace words. Same shard/offset/bin
    * shape as the word-level gate; the only change is the cost model.
    */
  def textBpePack(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = docs(spark, sfDir)
    val (_, types) = learned(spark, sfDir)
    val perDoc = Bpe.encode(d, types, Bpe.vocab(types))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_subwords"))
    val w = Window.partitionBy("shard").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perDoc
      .select(col("doc_id"), (col("doc_id") % 8).as("shard"),
        col("n_subwords"))
      .withColumn("offset", sum(col("n_subwords")).over(w) - col("n_subwords"))
      .withColumn("bin", (col("offset") / 512).cast("long"))
      .groupBy("shard", "bin")
      .agg(count(lit(1)).as("n_docs"), sum(col("n_subwords")).as("bin_tokens"))
      .orderBy("shard", "bin")
  }

  /** `text_unigram_segment` — the unigram-LM (SentencePiece-family)
    * Viterbi segmentation over the word types (ops.UnigramLm): per
    * word, the unique (max log2-likelihood, then min pieces) optimum
    * under the corpus-frequency-scored substring vocabulary. Together
    * with the BPE gates this covers both mainstream subword tokenizer
    * shapes. The vocabulary collect is a bounded artifact IN CODE
    * (MinCount filter + the UnigramLm.MaxVocab top-K cut, inactive at
    * gate scale), the DP a narrow O(L·MaxPiece) fold per types row.
    */
  def textUnigramSegment(spark: SparkSession, sfDir: String): DataFrame = {
    import graft.ops.UnigramLm
    val types = Bpe.wordTypes(docs(spark, sfDir)).select("word", "wcnt")
    val scores = UnigramLm.vocabScores(UnigramLm.pieceCounts(types))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    UnigramLm.segmentTypes(types, scores).orderBy("word")
  }

  val textUnigramSegmentSql: String = {
    import graft.functions.IntegerLog2.log2Sql
    // WITH RECURSIVE applies to the whole CTE chain; `seg` enumerates
    // every segmentation path (bounded: 2^(L-1) over short types
    // words) and the struct max picks the same (cost, -pieces)
    // lexicographic optimum the Spark DP computes.
    TextQueries.DuckToks.replace("WITH d AS", "WITH RECURSIVE d AS") +
      s"""
        |, w AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
        |  FROM (SELECT unnest(toks) AS word FROM d) GROUP BY word
        |), pieces AS MATERIALIZED (
        |  SELECT piece, CAST(SUM(wcnt) AS BIGINT) AS pcnt FROM (
        |    SELECT wcnt, unnest(flatten(list_transform(range(1, length(word)+1), st ->
        |      list_transform(range(1, least(4, length(word)-st+1)+1), ln ->
        |        word[st : st+ln-1])))) AS piece
        |    FROM w)
        |  GROUP BY piece
        |), vocab AS MATERIALIZED (
        |  SELECT piece, pcnt FROM pieces WHERE length(piece) = 1
        |  UNION ALL
        |  SELECT piece, pcnt FROM (
        |    SELECT piece, pcnt FROM pieces
        |    WHERE length(piece) > 1 AND pcnt >= 5
        |    ORDER BY pcnt DESC, piece LIMIT ${graft.ops.UnigramLm.MaxVocab})
        |), tot AS (SELECT CAST(SUM(pcnt) AS BIGINT) AS t FROM vocab),
        |scores AS (
        |  SELECT piece, CAST(${log2Sql("pcnt")} - ${log2Sql("t")} AS BIGINT) AS sc
        |  FROM vocab, tot
        |), seg AS (
        |  SELECT word, 0 AS j, CAST(0 AS BIGINT) AS cost, 0 AS np FROM w
        |  UNION ALL
        |  SELECT s.word, s.j + r.ln AS j, s.cost + sc.sc, s.np + 1
        |  FROM seg s CROSS JOIN range(1, 5) r(ln)
        |  JOIN scores sc ON s.j + r.ln <= length(s.word)
        |    AND sc.piece = s.word[s.j + 1 : s.j + r.ln]
        |), best AS (
        |  SELECT word, max(struct_pack(c := cost, mn := -np)) AS b
        |  FROM seg WHERE j = length(word) GROUP BY word
        |)
        |SELECT w.word, w.wcnt, b.b.c AS cost_1e6,
        |       CAST(-b.b.mn AS BIGINT) AS n_pieces
        |FROM w JOIN best b USING (word) ORDER BY word""".stripMargin
  }

  // ---- DuckDB twins --------------------------------------------------

  /** Shared CTE chain: tokenize → types → `Rounds` unrolled merge
    * rounds, ending in table t`Rounds` (word → final syms).
    */
  private def bpeCtes: String = {
    val rounds = (1 to Rounds).map { r =>
      val prev = s"t${r - 1}"
      // MATERIALIZED on every round CTE: t_{r-1} is referenced THREE
      // times per level (pair counting, match scan, rewrite) and top_r
      // twice — inlined, DuckDB re-derives the whole chain ~3^Rounds
      // times (measured: 23-31 s per bpe twin at sf0.01, 2.6 GB RSS;
      // materialized the family runs in ~2 s). The EdgeCtes doctrine.
      s"""p$r AS MATERIALIZED (
         |  SELECT pa, pb, CAST(SUM(wcnt) AS BIGINT) AS cnt FROM (
         |    SELECT wcnt,
         |           unnest(list_slice(syms, 1, len(syms) - 1)) AS pa,
         |           unnest(list_slice(syms, 2, len(syms))) AS pb
         |    FROM $prev)
         |  GROUP BY pa, pb
         |), top$r AS MATERIALIZED (
         |  SELECT pa, pb, cnt FROM p$r ORDER BY cnt DESC, pa, pb LIMIT 1
         |), mt$r AS MATERIALIZED (
         |  SELECT word, i FROM (
         |    SELECT word, i,
         |           row_number() OVER (PARTITION BY word, grp ORDER BY i) AS rn
         |    FROM (
         |      SELECT word, i,
         |             i - row_number() OVER (PARTITION BY word ORDER BY i) AS grp
         |      FROM (
         |        -- join BEFORE unnest: DuckDB 1.0's binder miscompiles a
         |        -- list subscript on an unnest alias when the unnest's own
         |        -- SELECT contains a join (internal "failed to bind" error)
         |        SELECT y.word, unnest(range(1, len(y.syms))) AS i,
         |               y.syms, y.pa, y.pb
         |        FROM (SELECT t.word, t.syms, x.pa, x.pb
         |              FROM $prev t CROSS JOIN top$r x) y) z
         |      WHERE syms[i] = pa AND syms[i + 1] = pb))
         |  WHERE rn % 2 = 1
         |), mp$r AS MATERIALIZED (
         |  SELECT word, list(i ORDER BY i) AS mpos FROM mt$r GROUP BY word
         |), t$r AS MATERIALIZED (
         |  SELECT t.word, t.wcnt,
         |         CASE WHEN m.mpos IS NULL THEN t.syms ELSE
         |           list_filter(list_transform(range(1, len(t.syms) + 1), j ->
         |             CASE WHEN list_contains(m.mpos, j)
         |                    THEN t.syms[j] || t.syms[j + 1]
         |                  WHEN list_contains(m.mpos, j - 1) THEN NULL
         |                  ELSE t.syms[j] END), x -> x IS NOT NULL)
         |         END AS syms
         |  FROM $prev t LEFT JOIN mp$r m USING (word))""".stripMargin
    }.mkString(", ")
    TextQueries.DuckToks +
      s"""
        |, w AS MATERIALIZED (
        |  SELECT word, CAST(COUNT(*) AS BIGINT) AS wcnt
        |  FROM (SELECT unnest(toks) AS word FROM d) GROUP BY word
        |), t0 AS MATERIALIZED (
        |  SELECT word, wcnt,
        |         list_transform(range(1, length(word) + 1), i -> word[i]) AS syms
        |  FROM w
        |), $rounds""".stripMargin
  }

  val textBpeMergesSql: String = bpeCtes + "\n" +
    (1 to Rounds).map { r =>
      s"SELECT CAST($r AS BIGINT) AS round, pa, pb, cnt FROM top$r"
    }.mkString("", "\nUNION ALL\n", "\nORDER BY round")

  private def encodeCtes: String = bpeCtes +
    s"""
      |, vocab AS MATERIALIZED (
      |  SELECT sym, CAST(row_number() OVER (ORDER BY sym) AS BIGINT) AS id
      |  FROM (SELECT DISTINCT unnest(syms) AS sym FROM t$Rounds)
      |), dt AS MATERIALIZED (
      |  SELECT doc_id, unnest(toks) AS word,
      |         unnest(range(1, len(toks) + 1)) AS pos
      |  FROM d
      |), ds AS MATERIALIZED (
      |  SELECT dt.doc_id, dt.pos, unnest(t.syms) AS sym,
      |         unnest(range(1, len(t.syms) + 1)) AS sp
      |  FROM dt JOIN t$Rounds t USING (word)
      |), enc AS MATERIALIZED (
      |  SELECT ds.doc_id, ds.pos * 100000 + ds.sp AS ord, v.id
      |  FROM ds JOIN vocab v USING (sym)
      |)""".stripMargin

  val textBpeEncodeSql: String = encodeCtes +
    """
      |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_subwords,
      |       CAST(SUM(id) AS BIGINT) AS id_sum,
      |       CAST(min_by(id, ord) AS BIGINT) AS first_id,
      |       CAST(max_by(id, ord) AS BIGINT) AS last_id
      |FROM enc GROUP BY doc_id ORDER BY doc_id""".stripMargin

  val textBpePackSql: String = encodeCtes +
    """
      |, sized AS (
      |  SELECT doc_id, doc_id % 8 AS shard,
      |         CAST(COUNT(*) AS BIGINT) AS n_subwords
      |  FROM enc GROUP BY doc_id
      |), placed AS (
      |  SELECT shard,
      |         CAST((CAST(SUM(n_subwords) OVER (PARTITION BY shard ORDER BY doc_id
      |                ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_subwords) // 512
      |              AS BIGINT) AS bin,
      |         n_subwords
      |  FROM sized
      |)
      |SELECT shard, bin, COUNT(*) AS n_docs,
      |       CAST(SUM(n_subwords) AS BIGINT) AS bin_tokens
      |FROM placed GROUP BY shard, bin ORDER BY shard, bin""".stripMargin

  /** `text_bpe_fertility` — tokenizer FERTILITY per language: subword
    * tokens per whitespace word under the learned BPE model, in ppm.
    * The diagnostic every multilingual tokenizer review reports —
    * languages the merges under-serve (here: everything but the
    * English-heavy majority script) run hotter, directly inflating
    * their training cost per word. Composes the learned encoder; one
    * doc-keyed join and a language rollup on top.
    */
  def textBpeFertility(spark: SparkSession, sfDir: String): DataFrame = {
    val d = docs(spark, sfDir)
    val (_, types) = learned(spark, sfDir)
    val enc = Bpe.encode(d, types, Bpe.vocab(types))
      .groupBy("doc_id").agg(count(lit(1)).as("n_subwords"))
    val words = table(spark, sfDir, "documents")
      .withColumn("n_words",
        size(graft.ops.TextOps.tokens(col("text"))).cast("long"))
      .select("doc_id", "lang", "n_words")
    enc.join(words, "doc_id")
      .groupBy("lang")
      .agg(sum("n_words").as("n_words"), sum("n_subwords").as("n_subwords"))
      .select(col("lang"), col("n_words"), col("n_subwords"),
        // token-count sums beat the row-count ×10⁶ headroom (~10³
        // tokens/doc): n_subwords·10⁶ clears 2⁶³ near a 100 TB corpus,
        // so the ppm scale widens through DECIMAL(38,0) — the
        // analytics_pareto overflow class (GateHygieneSpec)
        expr("CAST(n_subwords AS DECIMAL(38,0)) * 1000000 DIV n_words")
          .as("fertility_ppm"))
      .orderBy("lang")
  }

  /** Fertility twin — LEAN tail, not [[textBpeEncodeSql]]'s: the r18
    * twin reused the full encode chain, which materializes one row per
    * SUBWORD OCCURRENCE (dt → ds → enc: ~10⁹ rows at sf10) only to
    * count rows per doc — the Σ-blowup class the PORTING.md
    * twin-scalability doctrine exists for, measured at 323 s / 40 GB
    * at sf10 (the budget ceiling). Fertility needs only
    * Σ_token len(syms(word)): `slen` collapses the learned model to
    * one (word, subword-count) row per TYPE (small — the merge chain
    * is types-level throughout), and the token stream is a STREAMING
    * unnest hash-joined against it and aggregated per doc — nothing
    * occurrence-level is ever materialized. Same shape as the engine
    * side's count-then-join. The HUGEINT widening on the ppm product
    * is unchanged (the r17 token-count-sum overflow find).
    */
  val textBpeFertilitySql: String = bpeCtes +
    s"""
       |, slen AS (
       |  SELECT word, CAST(len(syms) AS BIGINT) AS n_sub FROM t$Rounds
       |), encdoc AS (
       |  SELECT dt.doc_id, CAST(SUM(s.n_sub) AS BIGINT) AS n_subwords
       |  FROM (SELECT doc_id, unnest(toks) AS word FROM d) dt
       |  JOIN slen s USING (word)
       |  GROUP BY dt.doc_id
       |)
       |SELECT d.lang, CAST(SUM(len(d.toks)) AS BIGINT) AS n_words,
       |       CAST(SUM(e.n_subwords) AS BIGINT) AS n_subwords,
       |       CAST(CAST(SUM(e.n_subwords) AS HUGEINT) * 1000000
       |            // SUM(len(d.toks)) AS BIGINT) AS fertility_ppm
       |FROM encdoc e JOIN d ON d.doc_id = e.doc_id
       |GROUP BY d.lang ORDER BY d.lang""".stripMargin
}
