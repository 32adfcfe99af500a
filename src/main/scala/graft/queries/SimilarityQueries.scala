package graft.queries

import graft.ops.Persist.PersistOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.{MinHashDedup, SimHashDedup, Similarity}

/** Oracle-gated queries for similarity search and sketch-based dedup over
  * the `embeddings` / `documents` tables.
  *
  * - `sim_topk_bruteforce` has a full DuckDB twin thanks to quantized
  *   integer scoring (see Similarity scaladoc).
  * - `dedup_minhash_lsh` is gated against the EXACT Jaccard oracle: the
  *   sketch must reproduce the exact algorithm's output (banding chosen
  *   so recall ≈ 1 above the threshold band; verification removes false
  *   positives).
  * - `sim_ann_lsh` / `sim_ann_ivf` have full DuckDB twins too: the RHP
  *   signature is LCG integer arithmetic and the gated IVF config
  *   (lloydIters=0) is deterministic end to end.
  * - `dedup_simhash` is gated on the ENGINE-NEUTRAL signature
  *   (functions.StringArraySimHash — squared-LCG votes over the
  *   polynomial token hash), so the whole signature+banding+verify
  *   pipeline restates in DuckDB.
  */
object SimilarityQueries {
  import RefQueries.table

  /** Embedding dimensionality of the driver's `embeddings` table (all
    * SFs ship 64; `TESTDATA.md`). The exact-pairwise and DBSCAN twins
    * quantize into DuckDB's FIXED-SIZE `DOUBLE[$EmbeddingDim]` arrays
    * so the ε/cosine tests run through the vectorized
    * `array_inner_product` kernel instead of per-row
    * `list_dot_product` over casted LISTs — the r16 sf1 campaign
    * measured the LIST spelling's exact DBSCAN twin at > 3600 s for
    * 20 k vectors, vs 55 s for the array one (bucketed: 62 s;
    * embedding-cosine 448 s → 45 s), with BIT-IDENTICAL values: every
    * quantized coordinate is an integer ≤ ~6e3 (|x| ≤ 0.58 × 10⁴), so
    * each dot product is an exact integer < 2.2e9 ≪ 2⁵³ in DOUBLE
    * regardless of summation order. The cast fails loudly (not
    * silently truncates) if a future corpus changes dimensionality.
    * FIRST declaration in the object on purpose: object vals
    * initialize in declaration order, and an earlier SQL val
    * interpolating a later-declared Int would silently read 0.
    */
  private val EmbeddingDim = 64

  def simTopK(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    Similarity.topKCosine(emb.where(col("vec_id") < 10), emb, k = 5)
      .orderBy(col("q_id"), desc("cos_sim"), col("n_id"))
  }

  val simTopKSql: String =
    """WITH q AS MATERIALIZED (
      |  SELECT vec_id AS q_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id < 10
      |), c AS MATERIALIZED (
      |  SELECT vec_id AS n_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS cv
      |  FROM embeddings
      |), scored AS MATERIALIZED (
      |  SELECT q_id, n_id,
      |         CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[])) AS BIGINT) AS dot_q,
      |         list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
      |           / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
      |              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))) AS cos_sim
      |  FROM c CROSS JOIN q
      |  WHERE q_id <> n_id
      |)
      |SELECT q_id, n_id, dot_q, cos_sim FROM scored
      |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
      |ORDER BY q_id, cos_sim DESC, n_id""".stripMargin

  def simAnnLsh(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    Similarity.annTopKCosine(emb.where(col("vec_id") < 10), emb, k = 5)
      .orderBy(col("q_id"), desc("cos_sim"), col("n_id"))
  }

  /** Full DuckDB twin of the RHP-LSH ANN pipeline — possible because
    * `rhpSignature` is pure LCG integer arithmetic (engine-neutral, no
    * RNG state): signature bits, 4×4 banding, candidate dedup, exact
    * quantized rescoring and top-k all restated in SQL. `d-1` maps
    * DuckDB's 1-based list index to the 0-based dimension the plane-sign
    * mix uses; casts keep the mix products in BIGINT (DuckDB int
    * literals are INT32).
    */
  val simAnnLshSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), sig AS MATERIALIZED (
      |  SELECT vec_id, qv,
      |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS nrm,
      |         list_sum(list_transform(range(0, 16), i ->
      |           CASE WHEN list_sum(list_transform(range(1, len(qv)+1), d ->
      |                  qv[d] * (CASE WHEN ((CAST(i AS BIGINT)*1315423911 + CAST(d-1 AS BIGINT)*2654435761) % 1000003) % 2 = 0
      |                           THEN 1 ELSE -1 END))) >= 0
      |                THEN CAST(1 AS BIGINT) << i ELSE 0 END)) AS sig
      |  FROM v
      |), banded AS MATERIALIZED (
      |  SELECT vec_id, qv, nrm, b, (sig >> (b*4)) & 15 AS chunk
      |  FROM sig, range(0, 4) r(b)
      |), cands AS (
      |  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS n_id
      |  FROM banded q JOIN banded c ON q.b = c.b AND q.chunk = c.chunk
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      |), scored AS MATERIALIZED (
      |  SELECT cand.q_id, cand.n_id,
      |         CAST(list_dot_product(CAST(qs.qv AS DOUBLE[]), CAST(cs.qv AS DOUBLE[])) AS BIGINT) AS dot_q,
      |         list_dot_product(CAST(qs.qv AS DOUBLE[]), CAST(cs.qv AS DOUBLE[])) / (qs.nrm * cs.nrm) AS cos_sim
      |  FROM cands cand JOIN sig qs ON cand.q_id = qs.vec_id JOIN sig cs ON cand.n_id = cs.vec_id
      |)
      |SELECT q_id, n_id, dot_q, cos_sim FROM scored
      |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
      |ORDER BY q_id, cos_sim DESC, n_id""".stripMargin

  def simAnnIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    Similarity.ivfTopKCosine(emb.where(col("vec_id") < 10), emb, k = 5)
      .orderBy(col("q_id"), desc("cos_sim"), col("n_id"))
  }

  /** Full DuckDB twin of the IVF pipeline — deterministic end to end at
    * the gated configuration (lloydIters=0): centroids are the 32
    * lowest vec_ids, assignment is argmax cosine with seed −2.0 /
    * strict-> / lowest-index ties (restated as a row_number window),
    * probing is the top-8 (score, idx)-sorted cells with the SAME
    * descending-(s, i) tie order as Spark's
    * reverse(array_sort(struct(s,i))), then exact quantized rescoring
    * and top-k.
    */
  /** Shared assignment prefix (quantize → norms → 32 seed centroids →
    * argmax-cosine cell per vector with the kernel's −2.0 seed /
    * strict-> / lowest-index-tie semantics) — one spelling for both the
    * IVF probe oracle and the `sim_kmeans_step` oracle, so the two
    * can't drift on assignment semantics.
    */
  private val IvfAssignSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), vn AS MATERIALIZED (
      |  SELECT vec_id, qv,
      |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS nrm
      |  FROM v
      |), cents AS (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv,
      |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS cnrm
      |  FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 32)
      |), scores AS MATERIALIZED (
      |  SELECT vn.vec_id, vn.nrm, c.ci,
      |         CASE WHEN vn.nrm > 0 AND c.cnrm > 0
      |              THEN list_dot_product(CAST(vn.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) / (vn.nrm * c.cnrm)
      |              ELSE -2.0 END AS s
      |  FROM vn CROSS JOIN cents c
      |), assigned AS MATERIALIZED (
      |  SELECT vec_id, CASE WHEN s > -2.0 THEN ci ELSE -1 END AS cell
      |  FROM (SELECT vec_id, ci, s,
      |               row_number() OVER (PARTITION BY vec_id ORDER BY s DESC, ci) AS rn
      |        FROM scores)
      |  WHERE rn = 1
      |)""".stripMargin

  val simAnnIvfSql: String = IvfAssignSql +
    """, probes AS (
      |  SELECT vec_id, unnest(list_transform(
      |           list_slice(list_reverse(list_sort(list({'s': s, 'i': ci}))), 1, 8), r -> r.i)) AS cell
      |  FROM scores WHERE vec_id < 10 GROUP BY vec_id
      |), cands AS (
      |  SELECT p.vec_id AS q_id, a.vec_id AS n_id
      |  FROM probes p JOIN assigned a ON p.cell = a.cell
      |  WHERE p.vec_id <> a.vec_id
      |), scored AS MATERIALIZED (
      |  SELECT cand.q_id, cand.n_id,
      |         CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.qv AS DOUBLE[])) AS BIGINT) AS dot_q,
      |         list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.qv AS DOUBLE[])) / (q.nrm * c.nrm) AS cos_sim
      |  FROM cands cand JOIN vn q ON cand.q_id = q.vec_id JOIN vn c ON cand.n_id = c.vec_id
      |)
      |SELECT q_id, n_id, dot_q, cos_sim FROM scored
      |QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
      |ORDER BY q_id, cos_sim DESC, n_id""".stripMargin

  /** `sim_ann_nprobe_sweep` — the IVF TUNING TABLE: recall@5 (totaled
    * over the query set) at nProbe ∈ {1, 2, 4, 8} in one report — the
    * measured recall-vs-work curve an operator reads before fixing the
    * production probe count (each probe step costs ~nProbe/nCells of
    * the corpus per query; this table says what each step buys).
    * Composes the gated IVF operator at four parameter points against
    * one shared exact truth set; the oracle unrolls the four probe
    * depths over one shared assignment/scores prefix.
    */
  def simAnnNprobeSweep(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    val exact = simTopK(spark, sfDir).select(col("q_id"), col("n_id"))
      .truncateLineage(true)
    // r20: the four depths share one persisted corpus assignment
    // (Similarity.ivfTopKCosineSweep) instead of re-running the
    // quantize + nearest-centroid kernel over the whole corpus once
    // per depth — adjacent-window A/B at sf0.1/16 cpus: 3.19 → 2.09 s;
    // per-depth results value-identical (spec-pinned + oracle-gated)
    Similarity.ivfTopKCosineSweep(
        emb.where(col("vec_id") < 10), emb, k = 5, nCells = 32,
        nProbes = Seq(1, 2, 4, 8)).map { case (np, annFrame) =>
      val ann = annFrame
        .select(col("q_id").as("q2"), col("n_id").as("n2"))
      exact
        .join(broadcast(ann),
          col("q_id") === col("q2") && col("n_id") === col("n2"), "left")
        .agg(lit(np.toLong).as("nprobe"),
          count(lit(1)).as("total_k"),
          sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("hits"))
    }.reduce(_ unionByName _)
      .withColumn("recall_ppm", expr("hits * 1000000L div total_k"))
      .orderBy("nprobe")
  }

  private def ivfSweepCte(np: Int): String =
    s"""p$np AS MATERIALIZED (
       |  SELECT vec_id, unnest(list_transform(
       |           list_slice(list_reverse(list_sort(list({'s': s, 'i': ci}))), 1, $np), r -> r.i)) AS cell
       |  FROM scores WHERE vec_id < 10 GROUP BY vec_id
       |), t$np AS MATERIALIZED (
       |  SELECT cand.q_id, cand.n_id,
       |         list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(c.qv AS DOUBLE[])) / (q.nrm * c.nrm) AS cos_sim
       |  FROM (SELECT p.vec_id AS q_id, a.vec_id AS n_id
       |        FROM p$np p JOIN assigned a ON p.cell = a.cell
       |        WHERE p.vec_id <> a.vec_id) cand
       |  JOIN vn q ON cand.q_id = q.vec_id
       |  JOIN vn c ON cand.n_id = c.vec_id
       |  QUALIFY row_number() OVER (PARTITION BY cand.q_id
       |                             ORDER BY cos_sim DESC, cand.n_id) <= 5
       |), r$np AS MATERIALIZED (
       |  SELECT CAST($np AS BIGINT) AS nprobe,
       |         COUNT(*) AS total_k,
       |         CAST(SUM(CASE WHEN t.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |              AS BIGINT) AS hits
       |  FROM exact_r e
       |  LEFT JOIN t$np t ON t.q_id = e.q_id AND t.n_id = e.n_id
       |)""".stripMargin

  val simAnnNprobeSweepSql: String = IvfAssignSql +
    s""", exact_r AS MATERIALIZED (
       |$simTopKSql
       |), ${ivfSweepCte(1)}, ${ivfSweepCte(2)}, ${ivfSweepCte(4)}, ${ivfSweepCte(8)}
       |SELECT nprobe, total_k, hits,
       |       CAST(hits * 1000000 // total_k AS BIGINT) AS recall_ppm
       |FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2
       |      UNION ALL SELECT * FROM r4 UNION ALL SELECT * FROM r8)
       |ORDER BY nprobe""".stripMargin

  /** `sim_ivf_balance` — the inverted-list balance report for the IVF
    * family: per-cell vector counts plus the corpus-level imbalance
    * factor (max cell over ideal n/k, floored ppm) — the number that
    * predicts ANN tail latency, because a query probing the heaviest
    * cell scans `imbalance×` the ideal work. The operational sibling
    * of the recall rows: recall says whether the index is right,
    * balance says whether it is fast. Same deterministic 32-seed
    * assignment as every IVF gate (one narrow map + one k-row
    * aggregate).
    */
  def simIvfBalance(spark: SparkSession, sfDir: String): DataFrame = {
    val assigned = Similarity.assignCells(
      table(spark, sfDir, "embeddings"), nCells = 32)
    val cells = assigned.where(col("cell") >= 0)
      .groupBy(col("cell").cast("long").as("cell"))
      .agg(count(lit(1)).as("n_vectors"))
    val tot = cells.agg(sum("n_vectors").as("n_total"),
      count(lit(1)).as("n_cells"), max("n_vectors").as("max_cell"))
    cells.crossJoin(broadcast(tot))
      .select(col("cell"), col("n_vectors"),
        expr("n_vectors * n_cells * 1000000L div n_total")
          .as("load_ppm_of_ideal"),
        expr("max_cell * n_cells * 1000000L div n_total")
          .as("imbalance_ppm"))
      .orderBy("cell")
  }

  val simIvfBalanceSql: String = IvfAssignSql +
    """, cells AS MATERIALIZED (
      |  SELECT CAST(cell AS BIGINT) AS cell, COUNT(*) AS n_vectors
      |  FROM assigned WHERE cell >= 0 GROUP BY cell
      |), tot AS (
      |  SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
      |         COUNT(*) AS n_cells,
      |         CAST(MAX(n_vectors) AS BIGINT) AS max_cell
      |  FROM cells
      |)
      |SELECT c.cell, c.n_vectors,
      |       CAST(c.n_vectors * t.n_cells * 1000000 // t.n_total AS BIGINT)
      |         AS load_ppm_of_ideal,
      |       CAST(t.max_cell * t.n_cells * 1000000 // t.n_total AS BIGINT)
      |         AS imbalance_ppm
      |FROM cells c, tot t
      |ORDER BY c.cell""".stripMargin

  /** `sim_ann_ivfpq` — the COMPOSED IVFADC index
    * ([[graft.ops.Similarity.ivfPqTopKCosine]]): coarse cells prune the
    * scan to nProbe/nCells of the corpus, PQ/ADC table lookups score
    * the survivors at ~32× compression, and the exact quantized cosine
    * reranks the head. The oracle reuses the IVF assignment/probe
    * spelling and the PQ codebook/encode/ADC spelling VERBATIM, joined
    * on the probed cells — the two standalone gates pin the pieces,
    * this one pins their composition.
    */
  def simAnnIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    Similarity.ivfPqTopKCosine(emb.where(col("vec_id") < 10), emb, k = 5)
      .orderBy(col("q_id"), desc("cos_sim"), col("n_id"))
  }

  val simAnnIvfPqSql: String = IvfAssignSql +
    """, cb AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
      |  FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 16)
      |), enc AS (
      |  SELECT c.vec_id, b.b, cb.cid,
      |         list_sum(list_transform(range(1, 9), d ->
      |           (COALESCE(c.qv[b.b*8 + d], 0) - COALESCE(cb.qv[b.b*8 + d], 0))
      |           * (COALESCE(c.qv[b.b*8 + d], 0) - COALESCE(cb.qv[b.b*8 + d], 0)))) AS dist
      |  FROM v c CROSS JOIN range(0, 8) b(b) CROSS JOIN cb
      |), codes AS (
      |  SELECT vec_id, b, cid AS code FROM enc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, cid) = 1
      |), probes AS (
      |  SELECT vec_id, unnest(list_transform(
      |           list_slice(list_reverse(list_sort(list({'s': s, 'i': ci}))), 1, 8), r -> r.i)) AS cell
      |  FROM scores WHERE vec_id < 10 GROUP BY vec_id
      |), qs AS MATERIALIZED (
      |  SELECT vec_id AS q_id, qv, nrm AS qn FROM vn WHERE vec_id < 10
      |), cand0 AS (
      |  SELECT p.vec_id AS q_id, a.vec_id AS n_id
      |  FROM probes p JOIN assigned a ON p.cell = a.cell
      |  WHERE p.vec_id <> a.vec_id
      |), adc AS (
      |  SELECT c0.q_id, co.vec_id AS n_id,
      |         CAST(SUM(list_sum(list_transform(range(1, 9), d ->
      |           COALESCE(q.qv[co.b*8 + d], 0) * COALESCE(cb.qv[co.b*8 + d], 0)))) AS BIGINT) AS approx_dot
      |  FROM cand0 c0
      |  JOIN codes co ON co.vec_id = c0.n_id
      |  JOIN cb ON cb.cid = co.code
      |  JOIN qs q ON q.q_id = c0.q_id
      |  GROUP BY c0.q_id, co.vec_id
      |), cand AS MATERIALIZED (
      |  SELECT q_id, n_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, n_id) <= 20
      |)
      |SELECT c.q_id, c.n_id,
      |       CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(n.qv AS DOUBLE[])) AS BIGINT) AS dot_q,
      |       list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(n.qv AS DOUBLE[]))
      |         / (q.qn * n.nrm) AS cos_sim
      |FROM cand c
      |JOIN qs q ON q.q_id = c.q_id
      |JOIN vn n ON n.vec_id = c.n_id
      |QUALIFY row_number() OVER (PARTITION BY c.q_id ORDER BY cos_sim DESC, c.n_id) <= 5
      |ORDER BY c.q_id, cos_sim DESC, c.n_id""".stripMargin

  /** Gated at threshold 0.7: with r=4 rows × b=32 bands, a true-Jaccard-j
    * pair survives banding with p = 1-(1-j⁴)³² — ≈0.9998 at j=0.7 but
    * only ≈0.87 at j=0.5, so 0.5 would gate the sketch in the band where
    * it is ALLOWED to miss. At 0.7 the exact-output oracle is a sound
    * contract (verification already removes all false positives).
    */
  def dedupMinhash(spark: SparkSession, sfDir: String): DataFrame =
    MinHashDedup.nearDupPairs(table(spark, sfDir, "documents"),
        n = 2, threshold = 0.7)
      .orderBy("d1", "d2")

  /** TWIN-SCALABILITY respell (r18 — the PORTING.md doctrine): the twin
    * must equal the exact inverted-index algorithm's output at 0.7, but
    * the r17 spelling generated pairs with `ex a JOIN ex b ON a.g = b.g`
    * — Σ df² rows, ~73 M per sf0.1-unit on this 931-shingle-vocabulary
    * corpus — and timed out DuckDB-side at sf10 (>1200 s, 57 GB RSS)
    * while the engine's banded path ran in ~60 s. A PPJoin-style exact
    * prefix filter was measured WORSE here (303 s vs 7 s at sf0.1):
    * with a 931-shingle vocabulary even the rarest-first prefixes carry
    * df in the hundreds, so prefix-sharing prunes almost nothing —
    * per-shingle rarity is the wrong pruning axis for small-vocab/
    * high-df corpora; whole-set similarity is the right one. So the
    * twin restates candidate generation through MinHash BANDING with an
    * INDEPENDENT hash family — DuckDB's own `hash()` under its own
    * affine constants ([[bandedShingleCtes]]), sharing nothing with the
    * engine's xxhash64 family — and exact-verifies candidates with one
    * list-intersect per pair. The final threshold predicate is
    * byte-identical to r17's, so the output is identical for ANY
    * sufficient candidate set (false candidates are removed by
    * verification; DuckDB hash-version changes only reshape the
    * superset). The residual risk is a pair BOTH independent families
    * miss: this corpus's qualifying pairs sit at J ≥ 0.818 (min J
    * measured over the full qualifying set at sf0.1 on respell — the
    * replica generator's token bijection preserves within-copy Jaccard
    * exactly, so the floor carries to sf1/sf10), where one r=4×b=32
    * banding misses with p = (1−J⁴)³² ≤ (1−0.818⁴)³² ≈ 1.5e-8 — and a
    * SINGLE miss by EITHER family alone already trips the gate's row
    * diff, so a silent pass needs both families to miss the SAME pair:
    * p² ≈ 2e-16 per pair, ~1e-12 across every pair sf10 holds. Diffed
    * empirically against the exact twin at sf0.01/sf0.1/sf1 on
    * respell.
    */
  val dedupMinhashSql: String = bandedJaccardSql(0.7)

  /** Shared banded-candidate CTE chain for the sf10-scalable MinHash
    * twins: tokenize → 2-shingle sets → per-shingle base hashes under
    * DuckDB's `hash()` mod P (Mersenne 2³¹−1, the standard minhash
    * modulus — also the engine's, though the families differ in both
    * base hash and affine constants) → k=128 affine minhashes folded
    * into b=32 4-row band buckets (band index folded into the bucket
    * hash, so one equi-join on `bucket` is the whole candidate
    * generation) → `bkt` (doc_id, bucket). Affine constants are drawn
    * once from a fixed-seed JVM RNG at twin-construction time — the
    * SQL text is deterministic across runs and sessions.
    *
    * Empty shingle sets are excluded from banding (their list_min is
    * NULL, which would bucket every empty doc together); they cannot
    * reach any positive threshold, and the r17 exact twin dropped them
    * implicitly the same way (no inverted-index rows).
    *
    * Scale: per-doc work is k·|shingles| hash-affine ops over a LIST
    * kernel (one row per doc — no Σ df² blow-up anywhere); the bucket
    * join emits only same-bucket pairs, linear in corpus size for a
    * corpus whose near-dup cluster sizes are bounded.
    */
  private def bandedShingleCtes(): String = {
    val p = 2147483647L
    val k = 128
    val bands = 32
    val r = k / bands
    val rng = new scala.util.Random(0xD10CB5EED1L)
    val ab = Array.fill(k)((1L + rng.nextLong(p - 1), rng.nextLong(p)))
    val bucketExprs = (0 until bands).map { b =>
      val mins = (0 until r).map { j =>
        val (a, c) = ab(b * r + j)
        s"list_min(list_transform(hl, x -> ($a * x + $c) % $p))"
      }
      s"hash($b, ${mins.mkString(", ")})"
    }
    s"""
      |, sh AS MATERIALIZED (
      |  SELECT doc_id, list_distinct(CASE WHEN len(toks) >= 2
      |    THEN list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1])
      |    ELSE [] END) AS s
      |  FROM d
      |), sizes AS MATERIALIZED (SELECT doc_id, CAST(len(s) AS BIGINT) AS n FROM sh),
      |hs AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_transform(s, g -> CAST(hash(g) % $p AS BIGINT)) AS hl
      |  FROM sh WHERE len(s) > 0
      |), bkt AS MATERIALIZED (
      |  SELECT doc_id, unnest([
      |    ${bucketExprs.mkString(",\n      |    ")}
      |  ]) AS bucket
      |  FROM hs
      |)""".stripMargin
  }

  /** Banded-candidate exact-Jaccard twin at `threshold` — candidate
    * pairs from one bucket equi-join, verified by list-intersect; the
    * SELECT tail (and hence the output) is byte-identical to
    * [[TextQueries.dedupNgramJaccardSqlAt]]'s.
    */
  private def bandedJaccardSql(threshold: Double): String =
    TextQueries.DuckToks + bandedShingleCtes() +
    s"""
      |, cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id < b.doc_id
      |), pairs AS MATERIALIZED (
      |  SELECT c.d1, c.d2,
      |         CAST(len(list_intersect(s1.s, s2.s)) AS BIGINT) AS intersect_size
      |  FROM cand c JOIN sh s1 ON c.d1 = s1.doc_id JOIN sh s2 ON c.d2 = s2.doc_id
      |)
      |SELECT d1, d2, intersect_size, s1.n AS n1, s2.n AS n2,
      |       CAST(intersect_size AS DOUBLE) / (s1.n + s2.n - intersect_size) AS jaccard
      |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE CAST(intersect_size AS DOUBLE) / (s1.n + s2.n - intersect_size) >= $threshold
      |ORDER BY d1, d2""".stripMargin

  /** `dedup_cross_source` — the curation REPORT over the near-dup pair
    * list: for every unordered source pair (a ≤ b), how many MinHash
    * near-duplicate pairs at J ≥ 0.7 cross them, the two sources' doc
    * counts, and pairs-per-million-possible — the "which feeds copy
    * which" matrix a corpus owner reads before setting per-source caps
    * (cross-source rows reveal syndication; the diagonal reveals
    * internal redundancy). Source labels ride the banded pair list
    * through two dimension joins; the matrix is O(sources²) rows.
    *
    * Scale: the pair list is the banded MinHash contract
    * (`dedup_minhash_lsh`); the label joins shuffle the PAIR frame
    * (≪ corpus) and the rollup is dimension-sized. The density ppm is
    * floored integer arithmetic (positive DIV, engines agree).
    */
  def dedupCrossSource(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val src = docs.select(col("doc_id"), col("source"))
    val counts = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
    val pairs = MinHashDedup.nearDupPairs(docs, n = 2, threshold = 0.7)
      .join(src.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("source", "s1"), "d1")
      .join(src.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("source", "s2"), "d2")
      .select(least(col("s1"), col("s2")).as("source_a"),
        greatest(col("s1"), col("s2")).as("source_b"))
      .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_pairs"))
    pairs
      .join(broadcast(counts.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_docs", "n_docs_a")), "source_a")
      .join(broadcast(counts.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_docs", "n_docs_b")), "source_b")
      .withColumn("possible",
        when(col("source_a") === col("source_b"),
          expr("n_docs_a * (n_docs_a - 1L) div 2"))
          .otherwise(col("n_docs_a") * col("n_docs_b")))
      .select(col("source_a"), col("source_b"), col("n_pairs"),
        col("n_docs_a"), col("n_docs_b"),
        expr("n_pairs * 1000000L div possible").as("density_ppm"))
      .orderBy("source_a", "source_b")
  }

  val dedupCrossSourceSql: String =
    s"""WITH pr AS MATERIALIZED (
       |  SELECT d1, d2 FROM (${TextQueries.dedupNgramJaccardSqlAt(0.7)}) q
       |), cnt AS MATERIALIZED (
       |  SELECT source, COUNT(*) AS n_docs FROM documents GROUP BY source
       |), lab AS MATERIALIZED (
       |  SELECT least(a.source, b.source) AS source_a,
       |         greatest(a.source, b.source) AS source_b
       |  FROM pr
       |  JOIN documents a ON a.doc_id = pr.d1
       |  JOIN documents b ON b.doc_id = pr.d2
       |), m AS MATERIALIZED (
       |  SELECT source_a, source_b, COUNT(*) AS n_pairs
       |  FROM lab GROUP BY source_a, source_b
       |)
       |SELECT m.source_a, m.source_b, m.n_pairs,
       |       ca.n_docs AS n_docs_a, cb.n_docs AS n_docs_b,
       |       CAST(m.n_pairs * 1000000 // (CASE WHEN m.source_a = m.source_b
       |              THEN ca.n_docs * (ca.n_docs - 1) // 2
       |              ELSE ca.n_docs * cb.n_docs END) AS BIGINT)
       |         AS density_ppm
       |FROM m
       |JOIN cnt ca ON ca.source = m.source_a
       |JOIN cnt cb ON cb.source = m.source_b
       |ORDER BY m.source_a, m.source_b""".stripMargin

  /** `dedup_incremental_index` — cross-snapshot incremental MinHash
    * dedup (MinHashDedup.incrementalNearDupPairs): the PRIOR corpus
    * (doc_id % 10 != 0) is banded once into a persistable LSH index —
    * round-tripped through parquet here to prove the persistence
    * contract — and the NEW batch (doc_id % 10 == 0) dedups against it
    * with batch-sized hashing only: the prior corpus is never
    * re-shingled or re-minhashed (verification touches only matched
    * partners via a semi-join). Gated against the full-corpus EXACT
    * Jaccard oracle restricted to pairs touching the batch — proving
    * index-probe ∪ batch-self equals what a from-scratch rerun would
    * add, the invariant that makes index reuse safe in production.
    * Same 0.7/r=4/b=32 recall contract as dedup_minhash_lsh.
    */
  def dedupIncrementalIndex(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val prior = docs.where(col("doc_id") % 10 =!= 0)
    val batch = docs.where(col("doc_id") % 10 === 0)
    // SourceQueries staging: pid-keyed, overwrite-per-run, cleaned by
    // the shared JVM-exit hook — the index must not leak per process
    val indexDir = SourceQueries.stagingDir("minhash-index")
    MinHashDedup.bandIndex(prior).write.mode("overwrite").parquet(indexDir)
    val index = graft.sources.ParquetRead.read(spark, indexDir)
    MinHashDedup.incrementalNearDupPairs(batch, index, prior, threshold = 0.7)
      .orderBy("d1", "d2")
  }

  val dedupIncrementalIndexSql: String =
    TextQueries.dedupNgramJaccardSqlAt(0.7, "d1 % 10 = 0 OR d2 % 10 = 0")

  /** `dedup_containment_minhash` — the sketch sibling of
    * `dedup_containment` (MinHashDedup.containmentPairs). Gated on the
    * DEFAULT r=4 banding, which is sound for THIS corpus: size ratios
    * are ≤ 1.1, so C ≥ 0.8 implies J ≥ 0.6 — above the r=4 survival
    * knee (and the actual qualifying pairs sit at J ≥ 0.9). Corpora
    * with genuinely embedded docs (ratio ≫ 1) need the WIDE bands=64
    * (r=2) config, which SimilaritySpec gates on a constructed
    * ratio-4.8 pair — see containmentPairs' width-vs-ratio tradeoff
    * scaladoc for why wide banding is not the default. Gated against
    * the SAME exact-containment oracle: every qualifying pair survives
    * banding here, so sketch output ≡ exact output.
    */
  def dedupContainmentMinhash(spark: SparkSession, sfDir: String): DataFrame =
    MinHashDedup.containmentPairs(table(spark, sfDir, "documents"),
        n = 2, threshold = 0.8)
      .orderBy("d1", "d2")

  /** Same twin-scalability respell as [[dedupMinhashSql]], for the
    * DIRECTIONAL containment gate: candidates from the same independent
    * banded-candidate CTEs, both orderings kept (containment is
    * asymmetric), verified with the exact containment predicate —
    * byte-identical tail to the r17 exact twin. Banding on whole-set
    * Jaccard is sufficient for THIS corpus's containment pairs for the
    * same reason the ENGINE's banding is (scaladoc above): size ratios
    * ≤ 1.1 keep qualifying pairs at J ≥ 0.818 measured, so the
    * both-families-miss probability is ~2e-16 per pair; a corpus with
    * genuinely embedded docs would need the wide-band config on BOTH
    * sides of the gate (measured floor here: min J over the
    * containment-qualifying set is the same 0.818 at sf0.1).
    */
  val dedupContainmentMinhashSql: String =
    TextQueries.DuckToks + bandedShingleCtes() +
    """
      |, cand AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
      |  FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.doc_id != b.doc_id
      |), pairs AS MATERIALIZED (
      |  SELECT c.d1, c.d2,
      |         CAST(len(list_intersect(s1.s, s2.s)) AS BIGINT) AS intersect_size
      |  FROM cand c JOIN sh s1 ON c.d1 = s1.doc_id JOIN sh s2 ON c.d2 = s2.doc_id
      |)
      |SELECT d1, d2, intersect_size, s1.n AS n1, s2.n AS n2,
      |       CAST(intersect_size AS DOUBLE) / s1.n AS containment
      |FROM pairs JOIN sizes s1 ON d1 = s1.doc_id JOIN sizes s2 ON d2 = s2.doc_id
      |WHERE CAST(intersect_size AS DOUBLE) / s1.n >= 0.8
      |ORDER BY d1, d2""".stripMargin

  def simAnnPq(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    Similarity.pqTopKCosine(emb.where(col("vec_id") < 10), emb, k = 5)
      .orderBy(col("q_id"), desc("cos_sim"), col("n_id"))
  }

  /** Full DuckDB twin of the PQ/ADC pipeline — deterministic end to
    * end: the 8×16 codebook is the first 16 corpus vectors' block
    * slices, encode is argmin integer L2 (row_number ties → lowest
    * code), ADC is an integer sum of per-block inner products, and the
    * approx top-20 per query rerank with the exact quantized cosine.
    * Block indexing COALESCEs out-of-range elements to 0, mirroring the
    * Spark side's `try_element_at` zero-pad — without it a ragged
    * (short) vector would NULL out whole block distances and the two
    * engines would diverge on non-uniform-dim corpora.
    */
  val simAnnPqSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), cb AS MATERIALIZED (
      |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cid, qv
      |  FROM (SELECT * FROM v ORDER BY vec_id LIMIT 16)
      |), enc AS (
      |  SELECT c.vec_id, b.b, cb.cid,
      |         list_sum(list_transform(range(1, 9), d ->
      |           (COALESCE(c.qv[b.b*8 + d], 0) - COALESCE(cb.qv[b.b*8 + d], 0))
      |           * (COALESCE(c.qv[b.b*8 + d], 0) - COALESCE(cb.qv[b.b*8 + d], 0)))) AS dist
      |  FROM v c CROSS JOIN range(0, 8) b(b) CROSS JOIN cb
      |), codes AS (
      |  SELECT vec_id, b, cid AS code FROM enc
      |  QUALIFY row_number() OVER (PARTITION BY vec_id, b ORDER BY dist, cid) = 1
      |), qs AS MATERIALIZED (
      |  SELECT vec_id AS q_id, qv,
      |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS qn
      |  FROM v WHERE vec_id < 10
      |), adc AS (
      |  SELECT q.q_id, co.vec_id AS n_id,
      |         CAST(SUM(list_sum(list_transform(range(1, 9), d ->
      |           COALESCE(q.qv[co.b*8 + d], 0) * COALESCE(cb.qv[co.b*8 + d], 0)))) AS BIGINT) AS approx_dot
      |  FROM codes co
      |  JOIN cb ON cb.cid = co.code
      |  CROSS JOIN qs q
      |  WHERE q.q_id <> co.vec_id
      |  GROUP BY q.q_id, co.vec_id
      |), cand AS MATERIALIZED (
      |  SELECT q_id, n_id FROM adc
      |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY approx_dot DESC, n_id) <= 20
      |)
      |SELECT c.q_id, c.n_id,
      |       CAST(list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(n.qv AS DOUBLE[])) AS BIGINT) AS dot_q,
      |       list_dot_product(CAST(q.qv AS DOUBLE[]), CAST(n.qv AS DOUBLE[]))
      |         / (q.qn * sqrt(CAST(list_dot_product(CAST(n.qv AS DOUBLE[]), CAST(n.qv AS DOUBLE[])) AS DOUBLE))) AS cos_sim
      |FROM cand c
      |JOIN qs q ON q.q_id = c.q_id
      |JOIN v n ON n.vec_id = c.n_id
      |QUALIFY row_number() OVER (PARTITION BY c.q_id ORDER BY cos_sim DESC, c.n_id) <= 5
      |ORDER BY c.q_id, cos_sim DESC, c.n_id""".stripMargin

  /** `dedup_clusters` — near-dup PAIRS resolved into canonical CLUSTERS
    * via min-label connected components (transitive closure: a~b, b~c
    * puts a,b,c in one cluster even with no a~c edge). The oracle twin
    * reruns the pair pipeline and closes it with a recursive CTE.
    */
  def dedupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.ops.MinHashDedup
      .nearDupPairs(table(spark, sfDir, "documents"), n = 2, threshold = 0.7)
      .select("d1", "d2")
    graft.ops.ConnectedComponents.resolve(pairs, "d1", "d2")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .orderBy("doc_id")
  }

  /** `dedup_clusters_star` — the same cluster resolution through the
    * O(log n)-round large-star/small-star algorithm
    * (ConnectedComponents.resolveStar, Kiveris et al. SoCC'14), the
    * closure `dedup_clusters` runs only above the driver bound; calling
    * it directly keeps that path under the oracle. Same oracle as
    * `dedup_clusters` — the two algorithms are output-identical by
    * contract (also pinned on random graphs by
    * ConnectedComponentsSpec).
    */
  def dedupClustersStar(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val pairs = graft.ops.MinHashDedup
      .nearDupPairs(table(spark, sfDir, "documents"), n = 2, threshold = 0.7)
      .select("d1", "d2")
    graft.ops.ConnectedComponents.resolveStar(pairs, "d1", "d2")
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy("cluster")))
      .orderBy("doc_id")
  }

  val dedupClustersSql: String =
    s"""WITH RECURSIVE pr AS MATERIALIZED (
       |  SELECT d1, d2 FROM (${TextQueries.dedupNgramJaccardSqlAt(0.7)}) q
       |), edges AS MATERIALIZED (
       |  SELECT d1 AS n, d2 AS m FROM pr
       |  UNION
       |  SELECT d2 AS n, d1 AS m FROM pr
       |), reach AS (
       |  SELECT DISTINCT n, n AS m FROM edges
       |  UNION
       |  SELECT r.n, e.m FROM reach r JOIN edges e ON r.m = e.n
       |), lab AS MATERIALIZED (
       |  SELECT n AS doc_id, MIN(m) AS cluster FROM reach GROUP BY n
       |)
       |SELECT l.doc_id, l.cluster, CAST(c.n_members AS BIGINT) AS cluster_size
       |FROM lab l
       |JOIN (SELECT cluster, COUNT(*) AS n_members FROM lab GROUP BY cluster) c
       |  USING (cluster)
       |ORDER BY l.doc_id""".stripMargin

  def dedupEmbeddingCosine(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.cosineNearDupPairs(table(spark, sfDir, "embeddings"), 0.4)
      .orderBy("d1", "d2")

  /** The deliberately-exact pairwise twin on the DBSCAN twins' array
    * kernel (see [[EmbeddingDim]] for the bit-exactness argument:
    * integer dots < 2.2e9 ≪ 2⁵³, and the precomputed per-row
    * `sqrt(|v|²)` multiplies to exactly the old inline
    * `sqrt(a)·sqrt(b)`). The r16 LIST spelling needed a raised 448 s
    * budget at sf1; this one runs the same 2·10⁸ exact dot products
    * in 45 s — the exact-baseline oracle is sf1-checkable in the
    * default budget's neighborhood, not by exception.
    */
  val dedupEmbeddingCosineSql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id,
      |         CAST(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS DOUBLE)) AS DOUBLE[$EmbeddingDim]) AS av
      |  FROM embeddings
      |), en AS MATERIALIZED (
      |  SELECT vec_id, av, sqrt(array_inner_product(av, av)) AS nrm FROM e
      |)
      |SELECT a.vec_id AS d1, b.vec_id AS d2,
      |       array_inner_product(a.av, b.av) / (a.nrm * b.nrm) AS cos_sim
      |FROM en a JOIN en b ON a.vec_id < b.vec_id
      |WHERE array_inner_product(a.av, b.av) / (a.nrm * b.nrm) >= 0.4
      |ORDER BY d1, d2""".stripMargin

  /** `dedup_embedding_cosine_sampled` — the exact cosine tier's
    * SAMPLED 1000x value point (see
    * [[graft.ops.Similarity.cosineNeighborProfile]]): one fingerprint
    * row per vec_id % TextQueries.ExactSampleMod vector, full twin at
    * every rung where the quadratic parent's twin stops at sf1. Same
    * quantization, dot kernel arithmetic (restated on DuckDB array
    * kernels), threshold, and zero-norm NULL guard as the parent.
    */
  def dedupEmbeddingCosineSampled(spark: SparkSession,
      sfDir: String): DataFrame =
    Similarity.cosineNeighborProfile(table(spark, sfDir, "embeddings"),
        threshold = 0.4, mod = TextQueries.ExactSampleMod)
      .orderBy("vec_id")

  val dedupEmbeddingCosineSampledSql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id,
      |         CAST(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS DOUBLE)) AS DOUBLE[$EmbeddingDim]) AS av
      |  FROM embeddings
      |), en AS MATERIALIZED (
      |  SELECT vec_id, av, sqrt(array_inner_product(av, av)) AS nrm FROM e
      |), s AS MATERIALIZED (
      |  SELECT vec_id AS s_id, av AS sav, nrm AS snrm
      |  FROM en WHERE vec_id % ${TextQueries.ExactSampleMod} = 0
      |), scored AS (
      |  SELECT s.s_id, b.vec_id AS o_id,
      |         array_inner_product(s.sav, b.av) AS dot,
      |         CASE WHEN s.snrm > 0 AND b.nrm > 0
      |              THEN array_inner_product(s.sav, b.av) / (s.snrm * b.nrm)
      |              END AS cs
      |  FROM s JOIN en b ON b.vec_id <> s.s_id
      |)
      |SELECT s_id AS vec_id,
      |       CAST(SUM(CASE WHEN cs >= 0.4 THEN 1 ELSE 0 END) AS BIGINT) AS n_qualifying,
      |       CAST(SUM(CASE WHEN cs >= 0.4 THEN o_id ELSE 0 END) AS BIGINT) AS nbr_id_sum,
      |       CAST(SUM(CASE WHEN cs >= 0.4 THEN CAST(dot AS BIGINT) ELSE 0 END) AS BIGINT) AS nbr_dot_sum,
      |       MAX(cs) AS max_cos
      |FROM scored GROUP BY s_id
      |ORDER BY vec_id""".stripMargin

  /** `dedup_semantic` — SemDeDup over the embeddings table: IVF-cell
    * blocking (the deterministic 32-seed coarse quantizer shared with
    * `sim_ann_ivf`) + within-cell cosine ≥ 0.4 domination, keep-smallest-
    * id survivors — see [[graft.ops.Similarity.semDedup]] for the
    * contract and the n²/k scale story. The threshold matches
    * `dedup_embedding_cosine`, so the spec can measure exactly what
    * cell-boundary recall the blocking trades away.
    */
  def dedupSemantic(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.semDedup(table(spark, sfDir, "embeddings"))
      .orderBy("vec_id")

  val dedupSemanticSql: String = IvfAssignSql +
    """, p AS (
      |  SELECT a.vec_id AS d1, b.vec_id AS d2
      |  FROM assigned a
      |  JOIN assigned b ON a.cell = b.cell AND a.vec_id < b.vec_id
      |  JOIN vn x ON x.vec_id = a.vec_id
      |  JOIN vn y ON y.vec_id = b.vec_id
      |  WHERE a.cell >= 0 AND x.nrm > 0 AND y.nrm > 0
      |    AND list_dot_product(CAST(x.qv AS DOUBLE[]), CAST(y.qv AS DOUBLE[]))
      |        / (x.nrm * y.nrm) >= 0.4
      |), reps AS (
      |  SELECT d2 AS vec_id, MIN(d1) AS rep_id FROM p GROUP BY d2
      |)
      |SELECT a.vec_id, CAST(a.cell AS BIGINT) AS cell,
      |       r.vec_id IS NULL AS keep,
      |       COALESCE(r.rep_id, a.vec_id) AS rep_id
      |FROM assigned a LEFT JOIN reps r ON r.vec_id = a.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** Shared DBSCAN-family configuration — ONE definition feeding both
    * the Scala calls and the DuckDB oracle strings, so the two
    * spellings cannot desync (round-11 advice: the bucketed oracle
    * duplicated nProbe / ε² / nCells as magic literals). ε² ≈ the 1st
    * percentile of pairwise quantized distances at the gate SF.
    */
  private val DbscanEps2Q = 145000000L
  private val DbscanMinPts = 8
  private val DbscanNProbe = Similarity.DbscanNProbe
  private val DbscanMinCells = 4 * DbscanNProbe * DbscanNProbe

  /** Fixed round count for the unrolled min-label connected-components
    * closure ([[dbscanClosureSql]]). Label distance covered doubles
    * per round (the pointer-jump term), so 24 rounds converge for any
    * component the gate or the sf1 canary can hold; a [[dbscanClosureSql]]
    * convergence guard `error()`s the whole query — never returns a
    * wrong labeling — if a pathological graph ever needs more.
    */
  private val DbscanCcRounds = 24

  /** Unrolled min-label + pointer-doubling connected-components
    * closure over a MIRRORED core-edge CTE — the r17 replacement for
    * the recursive-CTE reachability closure, whose working set is the
    * full (origin, reached) relation: Σ |cluster|² rows, quadratic in
    * cluster size (the r16 sf1 campaign's > 3600 s oracle hole; a
    * 20 k-vector corpus with a dominant cluster materializes ~10⁸
    * closure rows through the recursive UNION's dedup). This spelling
    * carries one (node, best-label) row per node per round:
    * round t+1's label = MIN(own, neighbors' labels, label-of-label) —
    * the label-of-label term is pointer jumping, so the hop distance
    * the label has traveled doubles per round and [[DbscanCcRounds]]
    * rounds suffice for any component of size < 2²⁴. Convergence is
    * NOT assumed: the final `conv` CTE counts label changes in the
    * last round and the consumer guards on it with DuckDB `error()`,
    * so an unconverged closure fails the gate loudly instead of
    * hash-mismatching. Engine twin: [[graft.ops.ConnectedComponents]]
    * (large-star/small-star — same fixpoint, distributed spelling).
    *
    * Emits `<pfx>lab0 … <pfx>lab$rounds` and `<pfx>conv`; the caller
    * reads labels from `<pfx>lab$rounds` (v, l) under the guard
    * `(SELECT CASE WHEN c > 0 THEN error(…) ELSE 0 END FROM <pfx>conv) = 0`.
    */
  private def dbscanClosureSql(edgesCte: String, seedCte: String,
      pfx: String, rounds: Int = DbscanCcRounds): String = {
    val lab0 =
      s"""${pfx}lab0 AS MATERIALIZED (
         |  SELECT vec_id AS v, vec_id AS l FROM $seedCte
         |)""".stripMargin
    val steps = (1 to rounds).map { t =>
      val prev = s"${pfx}lab${t - 1}"
      s"""${pfx}lab$t AS MATERIALIZED (
         |  SELECT v, MIN(l) AS l FROM (
         |    SELECT v, l FROM $prev
         |    UNION ALL
         |    SELECT c.q AS v, x.l FROM $edgesCte c JOIN $prev x ON x.v = c.p
         |    UNION ALL
         |    SELECT a.v, b.l FROM $prev a JOIN $prev b ON b.v = a.l
         |  ) GROUP BY v
         |)""".stripMargin
    }
    val conv =
      s"""${pfx}conv AS MATERIALIZED (
         |  SELECT COUNT(*) AS c FROM ${pfx}lab$rounds a
         |  JOIN ${pfx}lab${rounds - 1} b ON a.v = b.v AND a.l <> b.l
         |)""".stripMargin
    (lab0 +: steps :+ conv).mkString(", ")
  }

  /** The closure consumers' convergence guard (see [[dbscanClosureSql]]). */
  private def dbscanConvGuard(pfx: String): String =
    s"""(SELECT CASE WHEN c > 0
       |            THEN error('dbscan closure not converged in $DbscanCcRounds rounds')
       |            ELSE 0 END FROM ${pfx}conv) = 0""".stripMargin

  /** `sim_dbscan` — DBSCAN over the embeddings table (ε² = 1.45e8 in
    * quantized units ≈ the 1st percentile of pairwise distances,
    * minPts = 8): exact integer ε test, CC cluster labels, deterministic
    * min-cluster border assignment — see [[graft.ops.Similarity.dbscan]]
    * for the contract. The oracle restates the definition: quadratic
    * ε-pairs (exact, through the vectorized fixed-size-array kernel —
    * see [[EmbeddingDim]] for the measured 65× and the bit-exactness
    * argument), degree threshold, and the unrolled min-label closure
    * of [[dbscanClosureSql]] over the core-core graph (the r16
    * recursive-CTE reach closure was the sf1 campaign's only oracle
    * hole: quadratic-in-cluster-size working set, > 3600 s at 20 k
    * vectors; this twin value-matches it at every gate SF and runs
    * 55 s at sf1).
    *
    * SMALL-DATA CORRECTNESS BASELINE ONLY: the ε-pair generation here
    * is the exact Ω(n²) contract. The production 100 TB spelling is
    * `sim_dbscan_bucketed` (IVF-cell candidate generation, same tail);
    * this exact spelling exists so the bucketed one's boundary-recall
    * trade can be measured (`sim_dbscan_bucketed_agreement`), exactly
    * as `sim_topk` anchors the ANN recall rows.
    */
  def simDbscan(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.dbscan(table(spark, sfDir, "embeddings"),
        eps2Q = DbscanEps2Q, minPts = DbscanMinPts)
      .orderBy("vec_id")

  val simDbscanSql: String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT vec_id,
      |         CAST(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS DOUBLE)) AS DOUBLE[$EmbeddingDim]) AS av
      |  FROM embeddings
      |), en AS MATERIALIZED (
      |  SELECT vec_id, av, array_inner_product(av, av) AS nq FROM e
      |), hp AS MATERIALIZED (
      |  SELECT a.vec_id AS p, b.vec_id AS q
      |  FROM en a JOIN en b ON a.vec_id < b.vec_id
      |  WHERE a.nq + b.nq - 2 * array_inner_product(a.av, b.av) <= $DbscanEps2Q
      |), pairs AS MATERIALIZED (
      |  SELECT p, q FROM hp UNION ALL SELECT q AS p, p AS q FROM hp
      |), deg AS MATERIALIZED (
      |  SELECT e.vec_id, COALESCE(c.nn, 0) AS n_neighbors
      |  FROM e LEFT JOIN (SELECT p, COUNT(*) AS nn FROM pairs GROUP BY p) c
      |    ON c.p = e.vec_id
      |), core AS MATERIALIZED (
      |  SELECT vec_id FROM deg WHERE n_neighbors + 1 >= $DbscanMinPts
      |), cedges AS MATERIALIZED (
      |  SELECT p, q FROM pairs
      |  WHERE p IN (SELECT vec_id FROM core) AND q IN (SELECT vec_id FROM core)
      |), ${dbscanClosureSql("cedges", "core", "")}, corelab AS MATERIALIZED (
      |  SELECT v AS vec_id, l AS cluster FROM lab$DbscanCcRounds
      |  WHERE ${dbscanConvGuard("")}
      |), borderlab AS MATERIALIZED (
      |  SELECT p.p AS vec_id, MIN(cl.cluster) AS bcluster
      |  FROM pairs p JOIN corelab cl ON cl.vec_id = p.q
      |  WHERE p.p NOT IN (SELECT vec_id FROM core)
      |  GROUP BY p.p
      |)
      |SELECT d.vec_id, CAST(d.n_neighbors AS BIGINT) AS n_neighbors,
      |       CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
      |            WHEN bl.vec_id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       CASE WHEN cl.vec_id IS NOT NULL THEN cl.cluster
      |            ELSE bl.bcluster END AS cluster
      |FROM deg d
      |LEFT JOIN corelab cl ON cl.vec_id = d.vec_id
      |LEFT JOIN borderlab bl ON bl.vec_id = d.vec_id
      |ORDER BY d.vec_id""".stripMargin

  /** `sim_dbscan_bucketed` — the PRODUCTION DBSCAN spelling: candidate
    * ε-pairs only within IVF coarse-quantizer cells at the
    * CORPUS-DERIVED geometry (nCells = GREATEST(4·nProbe²,
    * 2·nProbe·⌈√n⌉) — [[graft.ops.Similarity.dbscanNCells]]), identical
    * core/CC/border tail — see [[graft.ops.Similarity.dbscanBucketed]]
    * for the O(n^1.5·nProbe) scale contract and
    * `sim_dbscan_candidate_stats` for the MEASURED pair reduction. Same
    * ε²/minPts as `sim_dbscan` so the agreement row measures exactly
    * what the cell blocking trades away. The oracle composes the
    * dynamic-geometry assign prefix ([[dbscanAssignSql]]) with the same
    * unrolled min-label density tail ([[dbscanClosureSql]]) as the
    * exact oracle (62 s at sf1, vs > 3600 s for the r16 recursive-CTE
    * closure); every shared constant (ε², minPts, nProbe, the cell
    * formula) is interpolated from ONE Scala definition.
    */
  def simDbscanBucketed(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.dbscanBucketed(table(spark, sfDir, "embeddings"),
        eps2Q = DbscanEps2Q, minPts = DbscanMinPts)
      .orderBy("vec_id")

  /** IVF assignment prefix with the CORPUS-DERIVED cell count of
    * [[graft.ops.Similarity.dbscanNCells]] — the DBSCAN-family sibling
    * of the fixed-32 [[IvfAssignSql]]. CTEs: v (quantized into the
    * fixed-size array — see [[EmbeddingDim]] for the exactness
    * argument: the centroid scoring here is the bucketed family's
    * n·nCells hot loop, 34 M dot products at sf1), vn (norms), prm
    * (derived ncells), cents (lowest-id seeds, row_number ≤ ncells),
    * scores (guarded cosine per (vector, centroid) with the −2.0
    * zero-norm sentinel). The multi-probe tie order is the descending
    * (score, index) struct sort of dprob / the probe kernel: equal
    * scores break to the HIGHEST index first — score values are
    * bit-identical to the r16 LIST spelling because every dot product
    * is an exact integer in DOUBLE.
    */
  private def dbscanAssignSql: String =
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id,
       |         CAST(list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS DOUBLE)) AS DOUBLE[$EmbeddingDim]) AS av
       |  FROM embeddings
       |), vn AS MATERIALIZED (
       |  SELECT vec_id, av, sqrt(array_inner_product(av, av)) AS nrm
       |  FROM v
       |), prm AS MATERIALIZED (
       |  SELECT GREATEST($DbscanMinCells, 2 * $DbscanNProbe * CAST(ceil(sqrt(count(*))) AS BIGINT)) AS ncells
       |  FROM v
       |), cents AS (
       |  SELECT rn - 1 AS ci, av AS cav,
       |         sqrt(array_inner_product(av, av)) AS cnrm
       |  FROM (SELECT av, row_number() OVER (ORDER BY vec_id) AS rn FROM v)
       |  WHERE rn <= (SELECT ncells FROM prm)
       |), scores AS MATERIALIZED (
       |  SELECT vn.vec_id, vn.nrm, c.ci,
       |         CASE WHEN vn.nrm > 0 AND c.cnrm > 0
       |              THEN array_inner_product(vn.av, c.cav) / (vn.nrm * c.cnrm)
       |              ELSE -2.0 END AS s
       |  FROM vn CROSS JOIN cents c
       |)""".stripMargin

  /** The shared multi-probe CTE (top-nProbe cells per vector by the
    * descending (s, i) struct sort) — appended after [[dbscanAssignSql]]
    * by both the bucketed oracle and the candidate-stats oracle.
    */
  private def dbscanProbeSql: String =
    s""", dprob AS MATERIALIZED (
       |  SELECT vec_id, unnest(list_transform(
       |           list_slice(list_reverse(list_sort(list({'s': s, 'i': ci}))), 1, $DbscanNProbe), r -> r.i)) AS cell
       |  FROM scores WHERE nrm > 0 GROUP BY vec_id
       |)""".stripMargin

  val simDbscanBucketedSql: String =
    dbscanAssignSql + dbscanProbeSql +
    s""", bpair AS MATERIALIZED (
      |  SELECT DISTINCT px.vec_id AS p, py.vec_id AS q
      |  FROM dprob px
      |  JOIN dprob py ON px.cell = py.cell AND px.vec_id < py.vec_id
      |  JOIN vn x ON x.vec_id = px.vec_id
      |  JOIN vn y ON y.vec_id = py.vec_id
      |  WHERE array_inner_product(x.av, x.av) + array_inner_product(y.av, y.av)
      |      - 2 * array_inner_product(x.av, y.av) <= $DbscanEps2Q
      |), dpairs AS MATERIALIZED (
      |  SELECT p, q FROM bpair UNION ALL SELECT q AS p, p AS q FROM bpair
      |), ddeg AS MATERIALIZED (
      |  SELECT v.vec_id, COALESCE(c.nn, 0) AS n_neighbors
      |  FROM v LEFT JOIN (SELECT p, COUNT(*) AS nn FROM dpairs GROUP BY p) c
      |    ON c.p = v.vec_id
      |), dcore AS MATERIALIZED (
      |  SELECT vec_id FROM ddeg WHERE n_neighbors + 1 >= $DbscanMinPts
      |), dcedges AS MATERIALIZED (
      |  SELECT p, q FROM dpairs
      |  WHERE p IN (SELECT vec_id FROM dcore) AND q IN (SELECT vec_id FROM dcore)
      |), ${dbscanClosureSql("dcedges", "dcore", "d")}, dcorelab AS MATERIALIZED (
      |  SELECT v AS vec_id, l AS cluster FROM dlab$DbscanCcRounds
      |  WHERE ${dbscanConvGuard("d")}
      |), dborderlab AS (
      |  SELECT p.p AS vec_id, MIN(cl.cluster) AS bcluster
      |  FROM dpairs p JOIN dcorelab cl ON cl.vec_id = p.q
      |  WHERE p.p NOT IN (SELECT vec_id FROM dcore)
      |  GROUP BY p.p
      |)
      |SELECT d.vec_id, CAST(d.n_neighbors AS BIGINT) AS n_neighbors,
      |       CASE WHEN cl.vec_id IS NOT NULL THEN 'core'
      |            WHEN bl.vec_id IS NOT NULL THEN 'border'
      |            ELSE 'noise' END AS role,
      |       CASE WHEN cl.vec_id IS NOT NULL THEN cl.cluster
      |            ELSE bl.bcluster END AS cluster
      |FROM ddeg d
      |LEFT JOIN dcorelab cl ON cl.vec_id = d.vec_id
      |LEFT JOIN dborderlab bl ON bl.vec_id = d.vec_id
      |ORDER BY d.vec_id""".stripMargin

  /** `sim_dbscan_bucketed_agreement` — the measured boundary-recall
    * trade: cross-tabulation of the exact vs bucketed DBSCAN role
    * labels (n points per (role_exact, role_bucketed) cell, plus how
    * many agree on the cluster label too). The sketch-evaluation
    * discipline of `sim_ann_recall_ivf` applied to density clustering:
    * the off-diagonal cells ARE the points the cell blocking demoted.
    * Scale: both inputs are per-point label sets — the join and rollup
    * are linear; the expensive side is the exact baseline, which is
    * precisely the thing this report exists to retire at scale.
    *
    * Cost: ONE shared pass
    * ([[graft.ops.Similarity.dbscanAgreementLabels]]) — the exact
    * ε-pairs are generated once and the bucketed side is a semi-join of
    * that cached pair list against the probe assignment (bucketed
    * candidates ⊆ exact ε-pairs, the containment Round11OpsSpec pins).
    * The round-11 spelling recomputed BOTH full pipelines from scratch
    * and was the slowest query in the sweep (13.4 s); the shared pass
    * pays the quadratic scoring once.
    */
  def simDbscanBucketedAgreement(spark: SparkSession,
      sfDir: String): DataFrame =
    Similarity.dbscanAgreementLabels(table(spark, sfDir, "embeddings"),
        eps2Q = DbscanEps2Q, minPts = DbscanMinPts)
      .groupBy("role_exact", "role_bucketed")
      .agg(count(lit(1)).as("n"),
        sum(when(col("cluster_exact") <=> col("cluster_bucketed"), 1L)
          .otherwise(0L)).as("same_cluster"))
      .orderBy("role_exact", "role_bucketed")

  val simDbscanBucketedAgreementSql: String =
    s"""WITH ex AS MATERIALIZED (
       |$simDbscanSql
       |), bk AS MATERIALIZED (
       |$simDbscanBucketedSql
       |)
       |SELECT ex.role AS role_exact, bk.role AS role_bucketed,
       |       CAST(COUNT(*) AS BIGINT) AS n,
       |       CAST(SUM(CASE WHEN ex.cluster IS NOT DISTINCT FROM bk.cluster
       |                     THEN 1 ELSE 0 END) AS BIGINT) AS same_cluster
       |FROM ex JOIN bk ON ex.vec_id = bk.vec_id
       |GROUP BY 1, 2
       |ORDER BY 1, 2""".stripMargin

  /** `sim_dbscan_candidate_stats` — the MEASURED candidate-pair
    * reduction of the bucketed DBSCAN's derived geometry (one row:
    * n_points, n_cells, n_probe, total_pairs = n(n−1)/2,
    * candidate_pairs actually ε-tested, eps_pairs passing) — see
    * [[graft.ops.Similarity.dbscanCandidateStats]]. total_pairs /
    * candidate_pairs is the blocking reduction the round-11 verdict
    * asked to evidence rather than assert; it grows as ~√n/nProbe under
    * the derived geometry. The quadratic side is arithmetic, never
    * materialized — the query itself is linear + per-cell work.
    */
  def simDbscanCandidateStats(spark: SparkSession,
      sfDir: String): DataFrame =
    Similarity.dbscanCandidateStats(table(spark, sfDir, "embeddings"),
      eps2Q = DbscanEps2Q)

  val simDbscanCandidateStatsSql: String =
    dbscanAssignSql + dbscanProbeSql +
    s""", cand AS MATERIALIZED (
       |  SELECT DISTINCT px.vec_id AS p, py.vec_id AS q
       |  FROM dprob px
       |  JOIN dprob py ON px.cell = py.cell AND px.vec_id < py.vec_id
       |), ce AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS candidate_pairs,
       |         CAST(COALESCE(SUM(CASE WHEN
       |             array_inner_product(x.av, x.av) + array_inner_product(y.av, y.av)
       |           - 2 * array_inner_product(x.av, y.av)
       |           <= $DbscanEps2Q THEN 1 ELSE 0 END), 0) AS BIGINT) AS eps_pairs
       |  FROM cand JOIN vn x ON x.vec_id = cand.p JOIN vn y ON y.vec_id = cand.q
       |), np AS MATERIALIZED (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_points FROM v
       |)
       |SELECT np.n_points,
       |       (SELECT CAST(ncells AS BIGINT) FROM prm) AS n_cells,
       |       CAST($DbscanNProbe AS BIGINT) AS n_probe,
       |       CAST(np.n_points * (np.n_points - 1) // 2 AS BIGINT) AS total_pairs,
       |       ce.candidate_pairs, ce.eps_pairs
       |FROM np CROSS JOIN ce""".stripMargin

  def dedupSimhash(spark: SparkSession, sfDir: String): DataFrame =
    // maxHamming=6 covers every planted near-dup at the gate SF with the
    // neutral signature (measured max 6, same as xxhash64's); bands=8 →
    // 8-bit chunks → 256 buckets/band, vs 16 buckets/band at bands=16
    // which made candidate generation quadratic
    SimHashDedup.nearDupPairsNeutral(table(spark, sfDir, "documents"),
        maxHamming = 6, bands = 8)
      .orderBy("d1", "d2")

  /** Full DuckDB twin of the neutral-signature simhash pipeline: token
    * base hash (nested list_reduce poly hash, as text_fingerprint),
    * 64 squared-LCG bit votes (th × range(0,64)), signature assembly
    * (bit 63 via the HUGEINT min-value literal — BIGINT can't shift into
    * the sign bit), 8×8 banding, pair dedup, and bit_count(xor) verify.
    * `>>` sign-extends in both engines; the & masks make the chunks
    * equal. SUM returns HUGEINT in DuckDB → CAST back to BIGINT.
    */
  val dedupSimhashSql: String =
    """WITH d AS (
      |  SELECT doc_id,
      |         list_filter(string_split_regex(lower(text), '\s+'), t -> t != '') AS toks
      |  FROM documents
      |), tok AS (
      |  SELECT doc_id, unnest(toks) AS t FROM d WHERE len(toks) > 0
      |), th AS (
      |  SELECT doc_id,
      |         list_reduce(list_prepend(CAST(0 AS BIGINT),
      |           list_transform(range(1, length(t)+1), i -> CAST(ascii(t[i]) AS BIGINT))),
      |           (a, c) -> (a * 131 + c) % 1000000007) AS h
      |  FROM tok
      |), ys AS (
      |  SELECT doc_id, j, (h * 668265263 + (j+1) * 2654435761) % 1000003 AS y
      |  FROM th, range(0, 64) r(j)
      |), votes AS (
      |  SELECT doc_id, j,
      |         SUM(CASE WHEN ((y * y) % 1000003) % 2 = 1 THEN 1 ELSE -1 END) AS v
      |  FROM ys GROUP BY doc_id, j
      |), sig AS MATERIALIZED (
      |  SELECT doc_id,
      |         CAST(SUM(CASE WHEN v >= 0 THEN
      |                (CASE WHEN j = 63 THEN CAST(-9223372036854775808 AS HUGEINT)
      |                      ELSE CAST(CAST(1 AS BIGINT) << CAST(j AS INTEGER) AS HUGEINT) END)
      |              ELSE 0 END) AS BIGINT) AS sim
      |  FROM votes GROUP BY doc_id
      |), banded AS MATERIALIZED (
      |  SELECT doc_id, sim, b, (sim >> CAST(b*8 AS INTEGER)) & 255 AS chunk
      |  FROM sig, range(0, 8) r(b)
      |), pairs AS MATERIALIZED (
      |  SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2, a.sim AS sim1, b.sim AS sim2
      |  FROM banded a JOIN banded b ON a.b = b.b AND a.chunk = b.chunk
      |                             AND a.doc_id < b.doc_id
      |)
      |SELECT d1, d2, sim1, sim2, bit_count(xor(sim1, sim2)) AS hamming
      |FROM pairs WHERE bit_count(xor(sim1, sim2)) <= 6
      |ORDER BY d1, d2""".stripMargin

  /** `sim_knn_classify` — the classic application OF the similarity
    * search: k-nearest-neighbor label prediction. Every 7th vector is a
    * "query"; its label is predicted as the majority label among its
    * k=5 cosine neighbors (self excluded), ties broken toward the
    * smaller label id. Output carries the true label and a 0/1 hit flag
    * so the gate pins the whole pipeline, not just the vote.
    *
    * Scale: inherits topKCosine's shape (query side broadcast, corpus
    * never shuffles, per-query top-k window); the vote is a tiny keyed
    * agg over k·|queries| rows. Swapping the brute-force scorer for
    * annTopKCosine turns this into the 100 TB spelling unchanged.
    */
  def simKnnClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(spark, sfDir, "embeddings")
    val nbrs = Similarity.topKCosine(
      emb.where(pmod(col("vec_id"), lit(7)) === 3), emb, k = 5)
    val votes = nbrs
      .join(emb.select(col("vec_id").as("n_id"), col("label")), "n_id")
      .groupBy("q_id", "label").agg(count(lit(1)).as("n_votes"))
    val w = Window.partitionBy("q_id").orderBy(desc("n_votes"), asc("label"))
    votes.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("q_id"), col("label").as("pred_label"), col("n_votes"))
      .join(emb.select(col("vec_id").as("q_id"), col("label").as("true_label")),
        "q_id")
      .select(col("q_id"), col("pred_label"), col("n_votes"), col("true_label"),
        when(col("pred_label") === col("true_label"), 1L).otherwise(0L)
          .as("correct"))
      .orderBy("q_id")
  }

  /** DuckDB twin: restates the quantized brute-force scorer (same CTE
    * family as sim_topk_bruteforce), the vote, and the tie-breaks.
    */
  val simKnnClassifySql: String =
    """WITH q AS MATERIALIZED (
      |  SELECT vec_id AS q_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings WHERE vec_id % 7 = 3
      |), c AS MATERIALIZED (
      |  SELECT vec_id AS n_id, label,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS cv
      |  FROM embeddings
      |), scored AS MATERIALIZED (
      |  SELECT q_id, n_id, label,
      |         list_dot_product(CAST(qv AS DOUBLE[]), CAST(cv AS DOUBLE[]))
      |           / (sqrt(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])))
      |              * sqrt(list_dot_product(CAST(cv AS DOUBLE[]), CAST(cv AS DOUBLE[])))) AS cos_sim
      |  FROM c CROSS JOIN q
      |  WHERE q_id <> n_id
      |), nbrs AS (
      |  SELECT q_id, n_id, label FROM scored
      |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY cos_sim DESC, n_id) <= 5
      |), votes AS (
      |  SELECT q_id, label, count(*) AS n_votes FROM nbrs GROUP BY q_id, label
      |), pred AS (
      |  SELECT q_id, label AS pred_label, CAST(n_votes AS BIGINT) AS n_votes
      |  FROM votes
      |  QUALIFY row_number() OVER (PARTITION BY q_id ORDER BY n_votes DESC, label) = 1
      |)
      |SELECT p.q_id AS q_id, pred_label, n_votes, e.label AS true_label,
      |       CAST(CASE WHEN pred_label = e.label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM pred p JOIN embeddings e ON p.q_id = e.vec_id
      |ORDER BY q_id""".stripMargin

  /** `sim_centroid_classify` — nearest-centroid (Rocchio) classifier
    * over the embedding corpus: per-label centroids from the quantized
    * vectors, every vector assigned to its closest centroid by squared
    * L2, scored against the true label. All arithmetic is integer-exact:
    * quantized components are ints, the per-dim centroid is a
    * single correctly-rounded division re-quantized to an int, and the
    * distance sum is a BIGINT — no fp accumulation order anywhere
    * (contrast kNN above, whose integer-valued double dot products are
    * exact for the same reason).
    *
    * Scale: the centroid model is labels × dims rows — broadcast-sized
    * for any real label space — so classification is a narrow
    * map-with-broadcast-join over the corpus; only the centroid
    * aggregate shuffles, keyed on (label, dim), map-side combined.
    */
  def simCentroidClassify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val emb = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("true_label"),
        Similarity.quantize(col("embedding")).as("qv"))
    val dims = emb.select(col("vec_id"), col("true_label"),
        posexplode(col("qv")).as(Seq("pos", "v")))
      .withColumn("dim", col("pos") + 1)
    val cent = dims.groupBy(col("true_label").as("c_label"), col("dim"))
      .agg(round(sum("v").cast("double") / count(lit(1)).cast("double"), 0)
        .cast("long").as("c"))
    val dist = dims.join(broadcast(cent), "dim")
      .groupBy("vec_id", "true_label", "c_label")
      .agg(sum((col("v") - col("c")) * (col("v") - col("c"))).as("dist2"))
    val w = Window.partitionBy("vec_id").orderBy(asc("dist2"), asc("c_label"))
    dist.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
      .select(col("vec_id"), col("c_label").as("pred_label"),
        col("true_label"), col("dist2"),
        when(col("c_label") === col("true_label"), 1L).otherwise(0L)
          .as("correct"))
      .orderBy("vec_id")
  }

  val simCentroidClassifySql: String =
    """WITH q AS MATERIALIZED (
      |  SELECT vec_id, CAST(label AS BIGINT) AS true_label,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), dims AS MATERIALIZED (
      |  -- dim fixed at 64 by the embeddings generator (the PQ oracle
      |  -- hardcodes the same 8x8 layout)
      |  SELECT vec_id, true_label, CAST(r.d AS INTEGER) AS dim, qv[r.d] AS v
      |  FROM q CROSS JOIN range(1, 65) r(d)
      |), cent AS MATERIALIZED (
      |  SELECT true_label AS c_label, dim,
      |         CAST(round(CAST(SUM(v) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)) AS BIGINT) AS c
      |  FROM dims GROUP BY true_label, dim
      |), dist AS (
      |  SELECT dims.vec_id, dims.true_label, cent.c_label,
      |         CAST(SUM((dims.v - cent.c) * (dims.v - cent.c)) AS BIGINT) AS dist2
      |  FROM dims JOIN cent ON dims.dim = cent.dim
      |  GROUP BY dims.vec_id, dims.true_label, cent.c_label
      |)
      |SELECT vec_id, c_label AS pred_label, true_label, dist2,
      |       CAST(CASE WHEN c_label = true_label THEN 1 ELSE 0 END AS BIGINT) AS correct
      |FROM dist
      |QUALIFY row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_label) = 1
      |ORDER BY vec_id""".stripMargin

  // ---- distributed linear algebra ------------------------------------

  /** `sim_rp_reduce` — random-projection dimensionality reduction
    * (Johnson–Lindenstrauss, Achlioptas-style ±1 signs): the 64-dim
    * quantized embedding collapses to 8 components, component i =
    * Σ_j sign(j,i)·qv[j]. The sign matrix is never materialized — each
    * entry derives from a shared integer hash
    * ((j·1315423911 + i·2654435761) mod 1000003 mod 2), so Spark and
    * DuckDB compute the SAME matrix without exchanging state, and the
    * whole projection is exact BIGINT arithmetic (shuffle-order-proof).
    *
    * Scale spelling per the repo doctrine (ARCHITECTURE.md
    * plan-pitfalls): posexplode → ONE codegen'd HashAggregate with 8
    * conditional sums — map-side combine collapses the 64 exploded rows
    * back to one row per vector before the (tiny) shuffle. The array
    * `aggregate()` HOF fold would run interpreted per element; a
    * per-row lambda matvec is the PQ anti-pattern this repo already
    * paid for once.
    */
  def simRpReduce(spark: SparkSession, sfDir: String): DataFrame = {
    val dims = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), Similarity.quantize(col("embedding")).as("qv"))
      .select(col("vec_id"), posexplode(col("qv")).as(Seq("j", "x")))
    val projections = (0 until 8).map { i =>
      val sign = when(
        (col("j") * 1315423911L + lit(i.toLong * 2654435761L)) % 1000003L % 2L === 0L,
        lit(1L)).otherwise(lit(-1L))
      sum(col("x") * sign).as(s"p_$i")
    }
    dims.groupBy("vec_id").agg(projections.head, projections.tail: _*)
      .transform(RefQueries.gateSort(_, "vec_id"))
  }

  val simRpReduceSql: String = {
    val comps = (0 until 8).map { i =>
      s"""       CAST(SUM(CASE WHEN ((r.d - 1) * 1315423911 + ${i.toLong * 2654435761L}) % 1000003 % 2 = 0
         |                     THEN qv[r.d] ELSE -qv[r.d] END) AS BIGINT) AS p_$i""".stripMargin
    }.mkString(",\n")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings
       |)
       |SELECT vec_id,
       |$comps
       |FROM q CROSS JOIN range(1, 65) r(d)
       |GROUP BY vec_id
       |ORDER BY vec_id""".stripMargin
  }

  /** `sim_gram_matrix` — exact integer Gram matrix over the quantized
    * embedding plane (see Similarity.gramMatrix for the d²-groups
    * shuffle shape). The gate pins exactness: BIGINT sums are
    * shuffle-order-proof, so Spark and DuckDB must agree bit for bit.
    */
  def simGramMatrix(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.gramMatrix(table(spark, sfDir, "embeddings"))
      .transform(RefQueries.gateSort(_, "dim_i", "dim_j"))

  val simGramMatrixSql: String =
    """WITH v AS MATERIALIZED (
      |  SELECT vec_id,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), e AS MATERIALIZED (
      |  SELECT vec_id, generate_subscripts(qv, 1) AS p, unnest(qv) AS x
      |  FROM v
      |)
      |SELECT CAST(a.p - 1 AS BIGINT) AS dim_i, CAST(b.p - 1 AS BIGINT) AS dim_j,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(a.x * b.x) AS BIGINT) AS s,
      |       CAST(SUM(a.x * b.x) AS DOUBLE) / COUNT(*) AS mean_prod
      |FROM e a JOIN e b ON a.vec_id = b.vec_id AND b.p >= a.p
      |GROUP BY 1, 2
      |ORDER BY dim_i, dim_j""".stripMargin

  /** `sim_kmeans_step` — one driver-free Lloyd iteration (see
    * Similarity.kmeansStep). The oracle reuses the IVF assignment
    * prefix verbatim, then recomputes the per-(cell, dim) exact sums.
    */
  def simKmeansStep(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kmeansStep(table(spark, sfDir, "embeddings"))
      .transform(RefQueries.gateSort(_, "cell", "dim"))

  val simKmeansStepSql: String = IvfAssignSql +
    """, ex AS MATERIALIZED (
      |  SELECT a.cell, generate_subscripts(v.qv, 1) AS p, unnest(v.qv) AS x
      |  FROM assigned a JOIN v USING (vec_id)
      |  WHERE a.cell >= 0
      |)
      |SELECT CAST(cell AS BIGINT) AS cell, CAST(p - 1 AS BIGINT) AS dim,
      |       CAST(COUNT(*) AS BIGINT) AS n,
      |       CAST(SUM(x) AS BIGINT) AS s,
      |       CAST(SUM(x) AS DOUBLE) / COUNT(*) AS centroid_q
      |FROM ex
      |GROUP BY 1, 2
      |ORDER BY cell, dim""".stripMargin

  /** `sim_topk_dot_int8` — maximum-inner-product top-k over PER-VECTOR
    * int8-quantized embeddings: each vector is scaled by its own
    * max-abs to the [-127,127] int8 range (the standard symmetric
    * int8 compression — 4× smaller than float32, integer SIMD dot),
    * the candidate score is the integer code dot, and the returned
    * score rescales by the two max-abs factors. The ranking runs on
    * the rescaled score — raw code dots are NOT comparable across
    * corpus vectors with different scales, the classic per-channel-
    * quantization trap.
    *
    * Determinism: the quantized codes are integers (round of one
    * correctly-rounded double product and quotient — the
    * FloatArrayQuantize tie analysis applies); the code dot is an
    * exact BIGINT; the rescale is a FIXED sequence of double ops
    * ((dot·aq)·ac)/127², identical in the oracle.
    *
    * Scale: the query side (10 rows) broadcasts; the corpus never
    * shuffles before the per-query top-k (TakeOrderedAndProject shape
    * via the row_number window over q_id — 10 partitions). The dot
    * runs in the codegen'd LongArrayDot kernel, not an interpreted
    * HOF fold.
    */
  def simTopkDotInt8(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = table(spark, sfDir, "embeddings")
    def quantized(idCol: String, vCol: String, aCol: String): DataFrame =
      emb.select(col("vec_id").as(idCol),
          array_max(transform(col("embedding"), x => abs(x))).as(aCol))
        .where(col(aCol) > 0f)
        .join(emb.select(col("vec_id").as(idCol), col("embedding")), idCol)
        .select(col(idCol), col(aCol),
          transform(col("embedding"), x =>
            round(x.cast("double") * lit(127.0) / col(aCol).cast("double"))
              .cast("long")).as(vCol))
    val q = quantized("q_id", "qv", "amax_q").where(col("q_id") < 10)
    val c = quantized("n_id", "cv", "amax_c")
    val scored = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("dot_i8",
        graft.functions.LongArrayDot.dotQ(col("qv"), col("cv")))
      .withColumn("approx_dot",
        col("dot_i8").cast("double") * col("amax_q").cast("double") *
          col("amax_c").cast("double") / lit(16129.0))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("q_id").orderBy(desc("approx_dot"), col("n_id"))
    scored.withColumn("rn", row_number().over(w))
      .where(col("rn") <= 5)
      .select(col("q_id"), col("n_id"), col("dot_i8"), col("approx_dot"))
      .orderBy(col("q_id"), desc("approx_dot"), col("n_id"))
  }

  val simTopkDotInt8Sql: String =
    """WITH base AS (
      |  SELECT vec_id, embedding,
      |         list_max(list_transform(embedding, x -> abs(x))) AS amax
      |  FROM embeddings
      |), quant AS MATERIALIZED (
      |  SELECT vec_id, amax,
      |         list_transform(embedding, x ->
      |           CAST(round(CAST(x AS DOUBLE) * 127.0 / CAST(amax AS DOUBLE))
      |                AS BIGINT)) AS qv
      |  FROM base WHERE amax > 0
      |), scored AS MATERIALIZED (
      |  SELECT q.vec_id AS q_id, c.vec_id AS n_id,
      |         CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
      |                               CAST(c.qv AS DOUBLE[])) AS BIGINT) AS dot_i8,
      |         CAST(list_dot_product(CAST(q.qv AS DOUBLE[]),
      |                               CAST(c.qv AS DOUBLE[])) AS BIGINT)
      |           * CAST(q.amax AS DOUBLE) * CAST(c.amax AS DOUBLE)
      |           / 16129.0 AS approx_dot
      |  FROM quant c CROSS JOIN quant q
      |  WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
      |)
      |SELECT q_id, n_id, dot_i8, approx_dot FROM scored
      |QUALIFY row_number() OVER (PARTITION BY q_id
      |                           ORDER BY approx_dot DESC, n_id) <= 5
      |ORDER BY q_id, approx_dot DESC, n_id""".stripMargin

  /** `sim_fuzzy_names` — record-linkage name matching via the native
    * [[graft.functions.JaroWinkler]] kernel: near-miss pairs of
    * DISTINCT part names (0.85 ≤ jw < 1 — distinct strings can never
    * hit 1.0) with their occurrence counts, blocked on the first name
    * token. The DICTIONARY-level spelling is the scale story: dedupe
    * to the name dictionary BEFORE the quadratic step, so the blocked
    * self-join runs over vocabulary size (constant-ish here, ~10⁵-10⁶
    * in real entity resolution), never over the fact table, and the
    * occurrence counts rejoin the verdicts to row space for free.
    *
    * The jw predicate sits IN the join condition AFTER the cheap
    * conjuncts (block equality, name ordering) — a post-projection
    * filter would collapse into the join ahead of them and run the
    * kernel per raw bucket-probe pair (the plan-shape pitfall
    * ARCHITECTURE.md documents for levenshtein).
    *
    * Determinism: the kernel is pinned bit-for-bit to DuckDB's
    * jaro_winkler_similarity (see its scaladoc), so the double scores
    * hash identically.
    */
  def simFuzzyNames(spark: SparkSession, sfDir: String): DataFrame = {
    val names = table(spark, sfDir, "part")
      .groupBy(col("p_name").as("name"))
      .agg(count(lit(1)).as("n"))
      .withColumn("blk", split_part(col("name"), lit(" "), lit(1)))
    val a = names.select(col("name").as("name1"), col("n").as("n1"), col("blk"))
    val b = names.select(col("name").as("name2"), col("n").as("n2"),
      col("blk").as("blk2"))
    a.join(b,
        col("blk") === col("blk2") && col("name1") < col("name2") &&
          graft.functions.JaroWinkler.jw(col("name1"), col("name2")) >= 0.85)
      .select(col("name1"), col("name2"), col("n1"), col("n2"),
        graft.functions.JaroWinkler.jw(col("name1"), col("name2")).as("jw"))
      .orderBy(desc("jw"), col("name1"), col("name2"))
  }

  val simFuzzyNamesSql: String =
    """WITH names AS MATERIALIZED (
      |  SELECT p_name AS name, COUNT(*) AS n,
      |         split_part(p_name, ' ', 1) AS blk
      |  FROM part GROUP BY p_name
      |)
      |SELECT a.name AS name1, b.name AS name2, a.n AS n1, b.n AS n2,
      |       jaro_winkler_similarity(a.name, b.name) AS jw
      |FROM names a JOIN names b
      |  ON a.blk = b.blk AND a.name < b.name
      | AND jaro_winkler_similarity(a.name, b.name) >= 0.85
      |ORDER BY jw DESC, name1, name2""".stripMargin

  // ---- Lloyd training ------------------------------------------------

  /** `sim_kmeans_train` — the full k-means TRAINING loop as a gated
    * operator (2 Lloyd rounds, 8 cells over the embeddings), reporting
    * per-cell membership and exact integer inertia after the final
    * assignment. Completes the clustering story: sim_kmeans_step is
    * one update; this is the loop a pipeline actually runs, with the
    * floored-integer centroid update (s DIV n) keeping every round
    * bit-replayable in the oracle.
    */
  def simKmeansTrain(spark: SparkSession, sfDir: String): DataFrame =
    Similarity.kmeansTrain(table(spark, sfDir, "embeddings"),
      nCells = 8, iters = 2)
      .orderBy("cell")

  val simKmeansTrainSql: String = {
    def assign(cents: String, out: String): String =
      s"""scores_$out AS MATERIALIZED (
         |  SELECT vn.vec_id, c.ci,
         |         CASE WHEN vn.nrm > 0 AND c.cnrm > 0
         |              THEN list_dot_product(CAST(vn.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[]))
         |                   / (vn.nrm * c.cnrm)
         |              ELSE -2.0 END AS s
         |  FROM vn CROSS JOIN $cents c
         |), $out AS MATERIALIZED (
         |  SELECT vec_id, CASE WHEN s > -2.0 THEN ci ELSE -1 END AS cell
         |  FROM (SELECT vec_id, ci, s,
         |               row_number() OVER (PARTITION BY vec_id
         |                                  ORDER BY s DESC, ci) AS rn
         |        FROM scores_$out)
         |  WHERE rn = 1
         |)""".stripMargin
    def update(r: Int): String =
      s"""sums_$r AS MATERIALIZED (
         |  SELECT a.cell AS ci, t.d,
         |         CAST(CAST(SUM(vn.qv[CAST(t.d AS INTEGER)]) AS BIGINT)
         |              // COUNT(*) AS BIGINT) AS cd
         |  FROM a$r a JOIN vn ON vn.vec_id = a.vec_id, range(1, 65) t(d)
         |  WHERE a.cell >= 0
         |  GROUP BY a.cell, t.d
         |), cents$r AS MATERIALIZED (
         |  SELECT ci, cv,
         |         sqrt(CAST(list_dot_product(CAST(cv AS DOUBLE[]),
         |                                    CAST(cv AS DOUBLE[])) AS DOUBLE)) AS cnrm
         |  FROM (
         |    SELECT ci, list(cd ORDER BY d) AS cv FROM sums_$r GROUP BY ci
         |    UNION ALL
         |    SELECT ci, cv FROM cents${r - 1}
         |    WHERE ci NOT IN (SELECT DISTINCT cell FROM a$r WHERE cell >= 0)
         |  )
         |)""".stripMargin
    s"""WITH v AS MATERIALIZED (
       |  SELECT vec_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings
       |), vn AS MATERIALIZED (
       |  SELECT vec_id, qv,
       |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS nrm
       |  FROM v
       |), cents0 AS MATERIALIZED (
       |  SELECT row_number() OVER (ORDER BY vec_id) - 1 AS ci, qv AS cv,
       |         sqrt(CAST(list_dot_product(CAST(qv AS DOUBLE[]), CAST(qv AS DOUBLE[])) AS DOUBLE)) AS cnrm
       |  FROM (SELECT vec_id, qv FROM v ORDER BY vec_id LIMIT 8)
       |), ${assign("cents0", "a1")}, ${update(1)},
       |${assign("cents1", "a2")}, ${update(2)},
       |${assign("cents2", "af")}
       |SELECT CAST(f.cell AS BIGINT) AS cell, COUNT(*) AS n_points,
       |       CAST(SUM(CAST(list_dot_product(CAST(vn.qv AS DOUBLE[]), CAST(vn.qv AS DOUBLE[])) AS BIGINT)
       |            - 2 * CAST(list_dot_product(CAST(vn.qv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS BIGINT)
       |            + CAST(list_dot_product(CAST(c.cv AS DOUBLE[]), CAST(c.cv AS DOUBLE[])) AS BIGINT))
       |            AS BIGINT) AS inertia
       |FROM af f
       |JOIN vn ON vn.vec_id = f.vec_id
       |JOIN cents2 c ON c.ci = f.cell
       |WHERE f.cell >= 0
       |GROUP BY f.cell ORDER BY cell""".stripMargin
  }

  // ---- ANN quality evaluation ----------------------------------------

  /** `sim_ann_recall` — recall\@k of the RHP-LSH ANN index against the
    * exact brute-force top-k, per query: the evaluation loop every ANN
    * deployment runs before trusting an index (and after every re-index)
    * — here as a first-class operator composing two existing gated
    * queries, so the report itself is oracle-exact.
    *
    * Scale: both sides are top-k result sets (k·|queries| rows); the
    * comparison join and per-query rollup are dimension-sized no matter
    * the corpus. The expensive parts are the underlying searches, whose
    * scale paths are their own operators' contracts.
    */
  def simAnnRecall(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = simTopK(spark, sfDir).select(col("q_id"), col("n_id"))
    val ann = simAnnLsh(spark, sfDir)
      .select(col("q_id").as("q2"), col("n_id").as("n2"))
    exact
      .join(broadcast(ann),
        col("q_id") === col("q2") && col("n_id") === col("n2"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        expr("hits * 1000000L DIV k").as("recall_ppm"))
      .orderBy("q_id")
  }

  val simAnnRecallSql: String =
    s"""WITH exact_r AS MATERIALIZED (
       |$simTopKSql
       |), ann_r AS (
       |$simAnnLshSql
       |)
       |SELECT e.q_id, COUNT(*) AS k,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact_r e
       |LEFT JOIN ann_r a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  // ---- silhouette clustering evaluation -------------------------------

  /** `sim_silhouette` — centroid silhouette of the labeled embedding
    * clustering: per vector, the distance to its OWN label centroid (a)
    * vs the nearest OTHER centroid (b), the (b−a)/max(a,b) score, and
    * a well-clustered flag — the standard "are these clusters real"
    * evaluation (simplified silhouette: centroid distances instead of
    * all-pairs means, the variant that scales).
    *
    * Exactness: centroids are rational (S/c), so distances are kept as
    * the exact BIGINT D2(v,l) = Σ_pos (c_l·x_pos − S_l,pos)² scaled by
    * c². The nearest-other ranking divides once (d2/c² — exact
    * integers in, identical doubles out in both engines, label
    * tiebreak); the well-clustered flag cross-multiplies in
    * DECIMAL(38,0), never trusting a float comparison. The exported
    * doubles (a, b, silhouette) derive from the exact integers through
    * one fixed op sequence.
    *
    * Scale: the vector×centroid distance table is |corpus|·k·d rows in
    * long format — one broadcast join (centroids are k·d rows) + one
    * (vec, label) aggregate; never a vector×vector pair. The same
    * shape as sim_centroid_classify with an exactness upgrade.
    */
  def simSilhouette(spark: SparkSession, sfDir: String): DataFrame = {
    val e = table(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label").cast("long").as("own"),
        Similarity.quantize(col("embedding")).as("qv"))
    val long = e.select(col("vec_id"), col("own"),
      posexplode(col("qv")).as(Seq("pos", "x")))
    val cent = long.groupBy(col("own").as("label"), col("pos"))
      .agg(sum("x").as("s"), count(lit(1)).as("c"))
    val d2 = long.drop("own")
      .join(broadcast(cent), "pos")
      .groupBy("vec_id", "label")
      .agg(first("c", ignoreNulls = true).as("c"),
        sum((col("c") * col("x") - col("s")) * (col("c") * col("x") - col("s")))
          .as("d2"))
    val scored = d2.join(e.select("vec_id", "own"), "vec_id")
    val ownD = scored.where(col("label") === col("own"))
      .select(col("vec_id"), col("own"), col("d2").as("a2"), col("c").as("ca"))
    val otherBest = scored.where(col("label") =!= col("own"))
      // nearest other ranked by the d2/c² double quotient (exact
      // integers in, one division — both engines land on the same
      // doubles bit-for-bit), label tiebreak
      .groupBy("vec_id")
      .agg(min_by(struct(col("d2"), col("c"), col("label")),
        struct((col("d2").cast("double") / (col("c") * col("c")).cast("double"))
          .as("q"), col("label"))).as("best"))
      .select(col("vec_id"), col("best.d2").as("b2"),
        col("best.c").as("cb"), col("best.label").as("nearest_other"))
    // the well-clustered compare cross-multiplies b2·ca² vs a2·cb² —
    // in DECIMAL(38,0): the BIGINT product overflows past ~5e8 rows
    // per cluster-scale d2 (ANSI Spark would error, DuckDB too)
    val big = org.apache.spark.sql.types.DecimalType(38, 0)
    ownD.join(otherBest, "vec_id")
      .withColumn("a", sqrt(col("a2").cast("double")) / col("ca").cast("double"))
      .withColumn("b", sqrt(col("b2").cast("double")) / col("cb").cast("double"))
      .select(col("vec_id"), col("own").as("label"), col("nearest_other"),
        col("a"), col("b"),
        ((col("b") - col("a")) / greatest(col("a"), col("b")))
          .as("silhouette"),
        (col("b2").cast(big) * col("ca") * col("ca") >
          col("a2").cast(big) * col("cb") * col("cb"))
          .as("well_clustered"))
      .transform(RefQueries.gateSort(_, "vec_id"))
  }

  val simSilhouetteSql: String =
    """WITH e AS MATERIALIZED (
      |  SELECT vec_id, CAST(label AS BIGINT) AS own,
      |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
      |  FROM embeddings
      |), long AS MATERIALIZED (
      |  SELECT vec_id, own, i - 1 AS pos, qv[i] AS x
      |  FROM e, UNNEST(range(1, len(qv) + 1)) AS t(i)
      |), cent AS MATERIALIZED (
      |  SELECT own AS label, pos, CAST(SUM(x) AS BIGINT) AS s, COUNT(*) AS c
      |  FROM long GROUP BY own, pos
      |), d2 AS MATERIALIZED (
      |  SELECT l.vec_id, ct.label, any_value(ct.c) AS c,
      |         CAST(SUM((ct.c * l.x - ct.s) * (ct.c * l.x - ct.s)) AS BIGINT) AS d2
      |  FROM long l JOIN cent ct ON ct.pos = l.pos
      |  GROUP BY l.vec_id, ct.label
      |), scored AS MATERIALIZED (
      |  SELECT d.vec_id, d.label, d.c, d.d2, e.own
      |  FROM d2 d JOIN e ON e.vec_id = d.vec_id
      |), own_d AS (
      |  SELECT vec_id, own, d2 AS a2, c AS ca FROM scored WHERE label = own
      |), other_best AS (
      |  SELECT vec_id, d2 AS b2, c AS cb, label AS nearest_other
      |  FROM (
      |    SELECT *, row_number() OVER (
      |      PARTITION BY vec_id
      |      ORDER BY CAST(d2 AS DOUBLE) / CAST(c * c AS DOUBLE), label) AS rn
      |    FROM scored WHERE label <> own
      |  ) WHERE rn = 1
      |)
      |SELECT o.vec_id, o.own AS label, b.nearest_other,
      |       sqrt(CAST(o.a2 AS DOUBLE)) / CAST(o.ca AS DOUBLE) AS a,
      |       sqrt(CAST(b.b2 AS DOUBLE)) / CAST(b.cb AS DOUBLE) AS b,
      |       (sqrt(CAST(b.b2 AS DOUBLE)) / CAST(b.cb AS DOUBLE)
      |        - sqrt(CAST(o.a2 AS DOUBLE)) / CAST(o.ca AS DOUBLE))
      |       / greatest(sqrt(CAST(o.a2 AS DOUBLE)) / CAST(o.ca AS DOUBLE),
      |                  sqrt(CAST(b.b2 AS DOUBLE)) / CAST(b.cb AS DOUBLE)) AS silhouette,
      |       CAST(b.b2 AS DECIMAL(38,0)) * o.ca * o.ca
      |         > CAST(o.a2 AS DECIMAL(38,0)) * b.cb * b.cb AS well_clustered
      |FROM own_d o JOIN other_best b ON b.vec_id = o.vec_id
      |ORDER BY o.vec_id""".stripMargin

  // ---- sketch-vs-exact dedup evaluation -------------------------------

  /** `dedup_sketch_eval` — precision/recall accounting of the SimHash
    * sketch against the exact n-gram Jaccard ≥ 0.7 pair set: the dedup
    * sibling of `sim_ann_recall`, and the evaluation harness a pipeline
    * runs before trusting a cheap sketch at 100 TB. SimHash (hamming ≤ 6
    * over 8 bands) approximates COSINE-ish token-vector similarity, not
    * Jaccard, so unlike the tuned MinHash gate its pair set genuinely
    * diverges from the exact one — both error directions (fp, fn) carry
    * signal here. One summary row: pair counts, the confusion cells,
    * and precision/recall in exact ppm integers.
    *
    * Scale: both pair generators are existing gated operators; the
    * comparison itself is one full-outer join on the pair key + one
    * O(1) aggregate — evaluation never costs more than the candidate
    * generation being evaluated.
    */
  def dedupSketchEval(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = table(spark, sfDir, "documents")
    val exact = graft.ops.Dedup
      .ngramJaccardPairs(docs, n = 2, threshold = 0.7,
        strategy = graft.ops.Dedup.JaccardStrategy.Auto)
      .select(col("d1"), col("d2"), lit(1L).as("ex"))
    val sketch = SimHashDedup
      .nearDupPairsNeutral(docs, maxHamming = 6, bands = 8)
      .select(col("d1"), col("d2"), lit(1L).as("sk"))
    exact.join(sketch, Seq("d1", "d2"), "full_outer")
      .agg(
        sum(coalesce(col("ex"), lit(0L))).as("n_exact"),
        sum(coalesce(col("sk"), lit(0L))).as("n_sketch"),
        sum(when(col("ex").isNotNull && col("sk").isNotNull, 1L)
          .otherwise(0L)).as("tp"),
        sum(when(col("ex").isNull && col("sk").isNotNull, 1L)
          .otherwise(0L)).as("fp"),
        sum(when(col("ex").isNotNull && col("sk").isNull, 1L)
          .otherwise(0L)).as("fn"))
      .select(col("n_exact"), col("n_sketch"), col("tp"), col("fp"),
        col("fn"),
        expr("tp * 1000000L DIV greatest(n_sketch, 1L)").as("precision_ppm"),
        expr("tp * 1000000L DIV greatest(n_exact, 1L)").as("recall_ppm"))
  }

  val dedupSketchEvalSql: String =
    s"""WITH exact_p AS (
       |  SELECT d1, d2 FROM (${TextQueries.dedupNgramJaccardSqlAt(0.7)}) q
       |), sketch_p AS (
       |  SELECT d1, d2 FROM ($dedupSimhashSql) q
       |), j AS (
       |  SELECT COALESCE(e.d1, s.d1) AS d1, COALESCE(e.d2, s.d2) AS d2,
       |         e.d1 IS NOT NULL AS ex, s.d1 IS NOT NULL AS sk
       |  FROM exact_p e FULL OUTER JOIN sketch_p s
       |    ON e.d1 = s.d1 AND e.d2 = s.d2
       |)
       |SELECT CAST(SUM(CASE WHEN ex THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
       |       CAST(SUM(CASE WHEN sk THEN 1 ELSE 0 END) AS BIGINT) AS n_sketch,
       |       CAST(SUM(CASE WHEN ex AND sk THEN 1 ELSE 0 END) AS BIGINT) AS tp,
       |       CAST(SUM(CASE WHEN sk AND NOT ex THEN 1 ELSE 0 END) AS BIGINT) AS fp,
       |       CAST(SUM(CASE WHEN ex AND NOT sk THEN 1 ELSE 0 END) AS BIGINT) AS fn,
       |       CAST(SUM(CASE WHEN ex AND sk THEN 1 ELSE 0 END) * 1000000
       |            // GREATEST(SUM(CASE WHEN sk THEN 1 ELSE 0 END), 1) AS BIGINT)
       |         AS precision_ppm,
       |       CAST(SUM(CASE WHEN ex AND sk THEN 1 ELSE 0 END) * 1000000
       |            // GREATEST(SUM(CASE WHEN ex THEN 1 ELSE 0 END), 1) AS BIGINT)
       |         AS recall_ppm
       |FROM j""".stripMargin

  /** `sim_ann_recall_pq` — the same recall@k report for the PQ+ADC
    * index: completes the evaluation pair so BOTH approximate indexes
    * (LSH banding, PQ re-rank) carry first-class recall accounting —
    * the number that decides which index a 100 TB deployment trusts.
    */
  def simAnnRecallPq(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = simTopK(spark, sfDir).select(col("q_id"), col("n_id"))
    val ann = simAnnPq(spark, sfDir)
      .select(col("q_id").as("q2"), col("n_id").as("n2"))
    exact
      .join(broadcast(ann),
        col("q_id") === col("q2") && col("n_id") === col("n2"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        expr("hits * 1000000L DIV k").as("recall_ppm"))
      .orderBy("q_id")
  }

  val simAnnRecallPqSql: String =
    s"""WITH exact_r AS MATERIALIZED (
       |$simTopKSql
       |), ann_r AS (
       |$simAnnPqSql
       |)
       |SELECT e.q_id, COUNT(*) AS k,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact_r e
       |LEFT JOIN ann_r a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  /** `sim_ann_recall_ivf` — the same recall@k report for the IVF
    * index, completing the per-index evaluation TRIPLE (LSH, PQ, IVF):
    * every approximate index this engine ships now carries first-class
    * recall accounting, so an index choice at deployment scale is a
    * measured decision, not a vibe. Same dimension-sized compare shape
    * as its two siblings.
    */
  def simAnnRecallIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = simTopK(spark, sfDir).select(col("q_id"), col("n_id"))
    val ann = simAnnIvf(spark, sfDir)
      .select(col("q_id").as("q2"), col("n_id").as("n2"))
    exact
      .join(broadcast(ann),
        col("q_id") === col("q2") && col("n_id") === col("n2"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        expr("hits * 1000000L DIV k").as("recall_ppm"))
      .orderBy("q_id")
  }

  val simAnnRecallIvfSql: String =
    s"""WITH exact_r AS MATERIALIZED (
       |$simTopKSql
       |), ann_r AS (
       |$simAnnIvfSql
       |)
       |SELECT e.q_id, COUNT(*) AS k,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact_r e
       |LEFT JOIN ann_r a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  /** `sim_ann_recall_ivfpq` — recall@k for the composed IVFADC index:
    * the evaluation row that tells a deployment what the cell cut AND
    * the PQ compression together cost in recall, directly comparable
    * with the per-stage rows (`sim_ann_recall_ivf` isolates the cell
    * cut, `sim_ann_recall_pq` the compression). Same dimension-sized
    * compare shape as its three siblings.
    */
  def simAnnRecallIvfPq(spark: SparkSession, sfDir: String): DataFrame = {
    val exact = simTopK(spark, sfDir).select(col("q_id"), col("n_id"))
    val ann = simAnnIvfPq(spark, sfDir)
      .select(col("q_id").as("q2"), col("n_id").as("n2"))
    exact
      .join(broadcast(ann),
        col("q_id") === col("q2") && col("n_id") === col("n2"), "left")
      .groupBy("q_id")
      .agg(count(lit(1)).as("k"),
        sum(when(col("q2").isNotNull, 1L).otherwise(0L)).as("hits"))
      .select(col("q_id"), col("k"), col("hits"),
        expr("hits * 1000000L DIV k").as("recall_ppm"))
      .orderBy("q_id")
  }

  val simAnnRecallIvfPqSql: String =
    s"""WITH exact_r AS MATERIALIZED (
       |$simTopKSql
       |), ann_r AS (
       |$simAnnIvfPqSql
       |)
       |SELECT e.q_id, COUNT(*) AS k,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            AS BIGINT) AS hits,
       |       CAST(SUM(CASE WHEN a.n_id IS NOT NULL THEN 1 ELSE 0 END)
       |            * 1000000 // COUNT(*) AS BIGINT) AS recall_ppm
       |FROM exact_r e
       |LEFT JOIN ann_r a ON a.q_id = e.q_id AND a.n_id = e.n_id
       |GROUP BY e.q_id ORDER BY e.q_id""".stripMargin

  // ---- MMR diversified re-ranking ------------------------------------

  private val MmrK = 5
  private val MmrPool = 20

  /** `sim_mmr_diversify` — maximal marginal relevance re-ranking
    * (Carbonell & Goldstein 1998): from each query's top-[[MmrPool]]
    * retrieval pool, greedily pick [[MmrK]] results maximizing
    * λ·rel(q,d) − (1−λ)·max_{s∈selected} sim(d,s) with λ=0.7 — the
    * standard redundancy-suppressing re-rank between retrieval and an
    * expensive downstream consumer (RAG context assembly, search UI).
    *
    * Determinism: relevance and the diversity penalty are both
    * QUANTIZED integer dot products (the sim_topk_dot_int8 / MIPS
    * family — ×10⁴ half-up per coordinate, exact BIGINT dots), and the
    * λ mix is integral: mmr = 7·rel − 3·pen. Each greedy round is an
    * argmax via max(struct(mmr, −n_id)) — ties to the smaller id —
    * unrolled identically in the oracle (the fixed-iteration doctrine).
    *
    * Scale: MMR is by definition a HEAD re-ranker — the pool is
    * k·|queries| rows, so the per-round pairwise penalty join is
    * bounded by pool×selected ≤ 20×5 per query regardless of corpus
    * size; the corpus-sized work is only the pool retrieval (one
    * broadcast-nested-loop of |queries| against the scan, same shape as
    * sim_topk_bruteforce — or any ANN operator upstream).
    */
  def simMmrDiversify(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.LongArrayDot.dotQ
    val emb = table(spark, sfDir, "embeddings")
    val q = emb.where(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), Similarity.quantize(col("embedding")).as("qv"))
    val c = emb
      .select(col("vec_id").as("n_id"), Similarity.quantize(col("embedding")).as("cv"))
    val rankW = Window.partitionBy("q_id").orderBy(desc("rel"), col("n_id"))
    val pool = c.join(broadcast(q), col("q_id") =!= col("n_id"))
      .withColumn("rel", dotQ(col("qv"), col("cv")))
      .withColumn("rn", row_number().over(rankW))
      .where(col("rn") <= MmrPool)
      .select("q_id", "n_id", "cv", "rel")
    // r21 (§1.2): the greedy recurrence is sequential within a query
    // but independent ACROSS queries — the old spelling ran k−1 GLOBAL
    // rounds (anti-join + penalty join + two aggregates + a lineage
    // truncation each, ~3 jobs a round over the whole pool frame); the
    // LongArrayMmr kernel runs the identical integer selection once
    // per query group over its ≤MmrPool candidates, so the per-query
    // work parallelizes and the round-trips disappear. Same argmax,
    // dots, and loud-overflow arithmetic — pinned by the unchanged
    // unrolled oracle twin.
    pool.groupBy("q_id")
      .agg(collect_list(struct(col("n_id"), col("rel"), col("cv")))
        .as("cands"))
      .select(col("q_id"), explode(graft.functions.LongArrayMmr
        .mmrSelect(col("cands"), MmrK, 7, 3)).as("p"))
      .select(col("q_id"), col("p.n_id").as("n_id"),
        col("p.pick_order").as("pick_order"),
        col("p.mmr_score").as("mmr_score"))
      .orderBy("q_id", "pick_order")
  }

  val simMmrDiversifySql: String = {
    val rounds = (2 to MmrK).map { r =>
      val prev = s"sel${r - 1}"
      s"""pen$r AS MATERIALIZED (
         |  SELECT p.q_id, p.n_id, p.rel,
         |         MAX(CAST(list_dot_product(CAST(p.cv AS DOUBLE[]),
         |                                   CAST(ps.cv AS DOUBLE[])) AS BIGINT)) AS pen
         |  FROM pool p
         |  JOIN $prev s ON s.q_id = p.q_id
         |  JOIN pool ps ON ps.q_id = s.q_id AND ps.n_id = s.n_id
         |  WHERE NOT EXISTS (SELECT 1 FROM $prev x
         |                    WHERE x.q_id = p.q_id AND x.n_id = p.n_id)
         |  GROUP BY p.q_id, p.n_id, p.rel
         |), pick$r AS MATERIALIZED (
         |  SELECT q_id, n_id, CAST($r AS BIGINT) AS pick_order,
         |         rel * 7 - pen * 3 AS mmr_score
         |  FROM pen$r
         |  QUALIFY row_number() OVER (PARTITION BY q_id
         |            ORDER BY rel * 7 - pen * 3 DESC, n_id) = 1
         |), sel$r AS MATERIALIZED (
         |  SELECT * FROM $prev UNION ALL SELECT * FROM pick$r
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH q AS MATERIALIZED (
       |  SELECT vec_id AS q_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS qv
       |  FROM embeddings WHERE vec_id < 3
       |), c AS MATERIALIZED (
       |  SELECT vec_id AS n_id,
       |         list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 10000) AS BIGINT)) AS cv
       |  FROM embeddings
       |), pool AS MATERIALIZED (
       |  SELECT q_id, n_id, cv,
       |         CAST(list_dot_product(CAST(qv AS DOUBLE[]),
       |                               CAST(cv AS DOUBLE[])) AS BIGINT) AS rel
       |  FROM c CROSS JOIN q WHERE q_id <> n_id
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |            ORDER BY rel DESC, n_id) <= $MmrPool
       |), sel1 AS MATERIALIZED (
       |  SELECT q_id, n_id, CAST(1 AS BIGINT) AS pick_order,
       |         rel * 7 AS mmr_score
       |  FROM pool
       |  QUALIFY row_number() OVER (PARTITION BY q_id
       |            ORDER BY rel DESC, n_id) = 1
       |), $rounds
       |SELECT q_id, n_id, pick_order, mmr_score
       |FROM sel$MmrK ORDER BY q_id, pick_order""".stripMargin
  }
}
