package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** SimHash near-duplicate detection (Charikar 2002; used by Manku et al.
  * WWW'07 for web-scale dedup).
  *
  * 64-bit document signature: bit i is the sign of Σ_tokens (±1 votes
  * from each token's hash). Similar token multisets → small Hamming
  * distance. Candidate generation uses the pigeonhole banding trick: split the 64
  * bits into `bands` chunks; pairs within Hamming distance `maxHamming`
  * must share at least one exact chunk when bands > maxHamming. Verify
  * with bit_count(xor) ≤ maxHamming.
  *
  * Scale: signature is one long per doc (narrow map); the candidate join
  * shuffles O(docs·bands) skinny rows. The signature is the engine-neutral
  * squared-LCG votes of functions.StringArraySimHash (oracle-gated — the
  * whole pipeline restates in DuckDB SQL). [[neutralVoteCols]] and
  * [[simFromVotes]] are its built-in-expression reference spelling,
  * which the specs pin the native kernel against.
  */
object SimHashDedup {

  /** Fold the 64 vote columns into the signature long. */
  def simFromVotes: Column =
    (0 until 64).map(i =>
      when(col(s"v$i") >= 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _)

  /** Engine-neutral bit-vote sums over a base-hash column `h` — the
    * built-in-expression reference spelling of the
    * functions.StringArraySimHash kernel (spec-pinned identical). Bit j
    * votes +1 when `((h·C1+(j+1)·C2) mod P)² mod P` is odd; the square
    * is what de-linearizes the LCG parity (see the kernel's scaladoc).
    */
  def neutralVoteCols: Seq[Column] = {
    import graft.functions.StringArraySimHash.{C1, C2, P}
    (0 until 64).map { j =>
      val y = pmod(col("h") * lit(C1) + lit((j + 1) * C2), lit(P))
      sum(when(pmod(y * y, lit(P)).bitwiseAND(1L) === 1L, 1L)
        .otherwise(-1L)).as(s"v$j")
    }
  }

  /** Near-dup pairs from a precomputed (doc_id, sim) signature frame —
    * the banding + verify half, shared by every signature caller.
    */
  def pairsFromSignatures(sh: DataFrame, maxHamming: Int,
      bands: Int): DataFrame = {
    require(bands > maxHamming, "pigeonhole needs bands > maxHamming")
    require(64 % bands == 0)
    // hot-persisted: BOTH band-join sides scan the signature frame, so
    // unpersisted the whole signature build (tokenize + 64 bit votes —
    // or the image decode chain for phash callers) ran TWICE (r20)
    val sig = graft.ops.Persist.intermediateHot(sh)
    val width = 64 / bands
    val mask = if (width == 64) lit(-1L) else lit((1L << width) - 1)
    val bandRows = sig.select(col("doc_id"), col("sim"),
      explode(array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          shiftright(col("sim"), b * width).bitwiseAND(mask).as("chunk"))): _*))
        .as("bc"))
      .select(col("doc_id"), col("sim"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    val a = bandRows.as("a")
    val b = bandRows.as("b")
    // verify (xor+popcount — two codegen'd ops) BEFORE the pair dedupe:
    // the hamming filter collapses the candidate stream from
    // Σ_band Σ_chunk cnt² join emissions down to the near-dup pairs, so
    // the dropDuplicates shuffle moves hundreds of rows, not millions.
    // (Round 1 deduped first and shuffled every candidate — the bulk of
    // this operator's 12.9 s. Dedupe-after is safe here because the
    // verify is per-pair deterministic: duplicate candidates carry
    // identical sims and hamming.)
    a.join(b,
        col("a.band") === col("b.band") && col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("a.sim").as("sim1"),
        col("b.doc_id").as("d2"), col("b.sim").as("sim2"))
      .withColumn("hamming", bit_count(col("sim1").bitwiseXOR(col("sim2"))))
      .where(col("hamming") <= maxHamming)
      .dropDuplicates("d1", "d2")
      .select("d1", "d2", "sim1", "sim2", "hamming")
  }

  /** Near-dup pairs with the ENGINE-NEUTRAL signature
    * (functions.StringArraySimHash): same banding + verify, but the
    * signature is one narrow-map native kernel call per document — no
    * explode and no 64-column vote aggregate, so the signature build
    * has no shuffle (docs with an empty token array are excluded). Pure
    * integer arithmetic end to end → restatable in DuckDB SQL.
    */
  def nearDupPairsNeutral(docs: DataFrame, maxHamming: Int = 3,
      bands: Int = 4): DataFrame = {
    val toks = TextOps.tokens(col("text"))
    val sh = docs
      .where(size(toks) > 0)
      .select(col("doc_id"),
        graft.functions.StringArraySimHash.simhash(toks).as("sim"))
    pairsFromSignatures(sh, maxHamming, bands)
  }
}
