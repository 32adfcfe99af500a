package graft.ops

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich, Haddow & Birch
  * 2016 — "Neural Machine Translation of Rare Words with Subword
  * Units"): learn a fixed number of greedy merge rules over a corpus,
  * then segment every word with them. This is the tokenizer family
  * (BPE / WordPiece-style) real LLM pipelines budget, pack, and filter
  * by — the word-level `TextOps.tokens` counts the other text operators
  * use are a proxy; these are the real subword units.
  *
  * Training runs on the word-TYPES table — (distinct word, frequency)
  * — not on running text, the standard practice from the reference BPE
  * implementations: pair statistics are identical (an adjacent pair
  * inside a word occurring c times contributes c), but per-round work
  * is O(|vocab|·avg_len), independent of corpus token count. At 100 TB
  * the types table is the only structure the loop touches, and it is a
  * DataFrame throughout: pair counting is one explode + hash aggregate
  * (the round's single shuffle), the argmax pair is a 1-row DataFrame
  * broadcast-joined back (never collected to the driver — the
  * fixed-iteration doctrine shared with pagerank), and the merge
  * application is a narrow per-row fold. Each round ends in
  * [[Persist.truncate]] lineage truncation so the plan doesn't double
  * per iteration.
  *
  * Merge semantics: greedy LEFT-TO-RIGHT non-overlapping replacement
  * of the round's pair (a, b) — "aaa" under (a,a) becomes [aa, a].
  * The oracle restates this as the island-parity rule (a match
  * position merges iff its offset inside its maximal run of
  * consecutive matches is even), which is provably the same selection:
  * greedy takes the 1st, 3rd, 5th… match of every run. Ties on pair
  * count break by (pa, pb) ascending in both engines, so the learned
  * rules are bit-deterministic.
  *
  * No end-of-word marker is appended: merges can never cross word
  * boundaries here because training and encoding both operate within
  * the types table's words (the marker exists in the original to make
  * word-final units distinct; corpora needing that distinction add a
  * sentinel character in a pre-map).
  */
object Bpe {

  /** Greedy left-to-right non-overlapping merge of adjacent (pa, pb)
    * in a symbol array — one linear fold; accumulator carries the
    * output plus the single pending symbol. NULL pa (no merge rule
    * this round, exhausted corpus) passes the array through.
    */
  def mergeAdjacent(syms: Column, pa: Column, pb: Column): Column = {
    val folded = aggregate(
      syms,
      struct(array().cast("array<string>").as("out"),
        lit(null).cast("string").as("pend")),
      (acc, s) => {
        val out = acc.getField("out")
        val pend = acc.getField("pend")
        when(pend.isNull, struct(out.as("out"), s.as("pend")))
          .when(pend === pa && s === pb,
            struct(concat(out, array(concat(pend, s))).as("out"),
              lit(null).cast("string").as("pend")))
          .otherwise(struct(concat(out, array(pend)).as("out"), s.as("pend")))
      },
      acc => when(acc.getField("pend").isNull, acc.getField("out"))
        .otherwise(concat(acc.getField("out"), array(acc.getField("pend")))))
    when(pa.isNull, syms).otherwise(folded)
  }

  /** Word types of a document corpus: (word, wcnt, syms) with syms the
    * word's character sequence — round-0 state of the merge loop.
    */
  def wordTypes(docs: DataFrame): DataFrame =
    docs.select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("wcnt"))
      .withColumn("syms",
        transform(sequence(lit(1), length(col("word"))),
          i => col("word").substr(i, lit(1))))

  /** Adjacent-pair frequencies of the current types state, weighted by
    * word count — the statistic each round maximizes.
    */
  def pairCounts(types: DataFrame): DataFrame =
    types
      .select(col("wcnt"),
        explode(arrays_zip(
          slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1))).as("p"))
      .select(col("p.`0`").as("pa"), col("p.`1`").as("pb"), col("wcnt"))
      .groupBy("pa", "pb").agg(sum("wcnt").as("cnt"))

  /** Learn `rounds` merge rules. Returns (merges, types):
    * merges = (round, pa, pb, cnt) — one row per round that still had
    * an adjacent pair (fewer than `rounds` rows on an exhausted
    * corpus); types = (word, wcnt, syms) with syms the FINAL subword
    * segmentation of every corpus word — the lookup table encoding
    * joins against.
    */
  def learn(docs: DataFrame, rounds: Int): (DataFrame, DataFrame) = {
    require(rounds > 0)
    var types = wordTypes(docs).truncateLineage()
    val merges = Seq.newBuilder[DataFrame]
    for (r <- 1 to rounds) {
      val top = pairCounts(types)
        .orderBy(desc("cnt"), col("pa"), col("pb"))
        .limit(1)
        .truncateLineage() // 1 row, materialized: cuts the loop lineage
      merges += top.select(lit(r.toLong).as("round"),
        col("pa"), col("pb"), col("cnt"))
      // LEFT join on true: an empty top (no pairs left) must be a
      // no-op round, not wipe the types table like a crossJoin would
      types = types.join(broadcast(top.select("pa", "pb")), lit(true), "left")
        .withColumn("syms", mergeAdjacent(col("syms"), col("pa"), col("pb")))
        .select("word", "wcnt", "syms")
        .truncateLineage()
    }
    (merges.result().reduce(_ union _), types)
  }

  /** Subword vocabulary of a learned types table: every distinct final
    * symbol, densely id'd by lexicographic rank — a bounded vocab-sized
    * frame (|base chars| + one per learned merge at most), so the rank
    * is a plain window ([[TwoPassWindow]]'s size rule).
    */
  def vocab(types: DataFrame): DataFrame =
    types.select(explode(col("syms")).as("sym")).distinct()
      .withColumn("id", row_number().over(Window.orderBy("sym")).cast("long"))

  /** Encode documents with a learned segmentation: one row per subword
    * occurrence — (doc_id, pos, sp, sym, id) with pos the word
    * position and sp the subword position inside the word. The types
    * and vocab tables broadcast (vocab-bounded); the corpus side never
    * shuffles until the caller aggregates.
    */
  def encode(docs: DataFrame, types: DataFrame, vocabIds: DataFrame): DataFrame =
    docs
      .select(col("doc_id"),
        posexplode(TextOps.tokens(col("text"))).as(Seq("pos", "word")))
      .join(broadcast(types.select("word", "syms")), "word")
      .select(col("doc_id"), col("pos"),
        posexplode(col("syms")).as(Seq("sp", "sym")))
      .join(broadcast(vocabIds), "sym")
      .select(col("doc_id"), col("pos"), col("sp"), col("sym"), col("id"))
}
