package graft.queries

import graft.ops.Persist.PersistOps
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Multimodal
import graft.streaming.EventAnalytics

/** Oracle-gated queries for the streaming-shaped analytics (batch form of
  * the same transforms Structured Streaming runs — see EventAnalytics)
  * and the multimodal binary plumbing.
  */
object StreamQueries {
  import RefQueries.table

  def streamWindowAgg(spark: SparkSession, sfDir: String): DataFrame =
    EventAnalytics.hourlyByType(table(spark, sfDir, "events"))
      .orderBy("window_start", "event_type")

  val streamWindowAggSql: String =
    """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** `stream_enrich` — the stream-static broadcast enrichment gate:
    * every event LEFT-joined to the batch-precomputed per-user LTV
    * quintile dimension ([[EventAnalytics.userSegments]]), unknown
    * users flowing through with segment 0. The BATCH spelling is gated
    * here; StreamingSpec drives the SAME function through
    * readStream → memory sink and proves row-for-row agreement — the
    * feature-store pattern end to end.
    */
  def streamEnrich(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = table(spark, sfDir, "events")
    EventAnalytics.enrichWithSegments(ev, EventAnalytics.userSegments(ev))
      .orderBy("event_id")
  }

  val streamEnrichSql: String =
    """WITH dim AS (
      |  SELECT user_id,
      |         CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100) AS BIGINT)
      |           AS ltv_c,
      |         CAST(ntile(5) OVER (
      |           ORDER BY CAST(SUM(CAST(value AS DECIMAL(18,2)) * 100)
      |                         AS BIGINT) DESC, user_id) AS BIGINT) AS segment
      |  FROM events WHERE event_type = 'purchase'
      |  GROUP BY user_id
      |)
      |SELECT e.event_id, e.user_id, e.event_type,
      |       COALESCE(d.segment, 0) AS segment,
      |       COALESCE(d.ltv_c, 0) AS user_ltv_c
      |FROM events e LEFT JOIN dim d USING (user_id)
      |ORDER BY e.event_id""".stripMargin

  /** `stream_gap_detection` — heartbeat monitoring over the event feed:
    * per event type, the number of inter-arrival gaps, the WORST gap
    * in exact microseconds with the instant it started, and the count
    * of gaps above a 30-minute SLA — the "did the producer stall"
    * report every ingest pipeline alerts on (the batch twin of a
    * watermark-lag monitor). One lag window per type, pure integers;
    * worst-gap ties resolve to the earliest start.
    *
    * Scale: one sort-based window partitioned by type + a type-sized
    * rollup; the worst-gap lookup joins the tiny aggregate back as a
    * broadcast.
    */
  def streamGapDetection(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("us", "event_id")
    val gaps = table(spark, sfDir, "events")
      .select(col("event_type"), col("event_id"),
        expr("ts div 1000").cast("long").as("us"))
      .withColumn("prev_us", lag("us", 1).over(w))
      .where(col("prev_us").isNotNull)
      .withColumn("gap_us", col("us") - col("prev_us"))
      .truncateLineage(true)
    val agg = gaps.groupBy("event_type")
      .agg(count(lit(1)).as("n_gaps"), max("gap_us").as("max_gap_us"),
        sum(when(col("gap_us") > 1800000000L, 1L).otherwise(0L))
          .as("n_gaps_over_30m"))
    val worst = gaps
      .join(broadcast(agg.select(col("event_type"),
        col("max_gap_us").as("mg"))), "event_type")
      .where(col("gap_us") === col("mg"))
      .groupBy("event_type")
      .agg(min("prev_us").as("worst_gap_start_us"))
    agg.join(broadcast(worst), "event_type")
      .select("event_type", "n_gaps", "max_gap_us", "n_gaps_over_30m",
        "worst_gap_start_us")
      .orderBy("event_type")
  }

  val streamGapDetectionSql: String =
    """WITH e AS (
      |  SELECT event_type, event_id, epoch_us(ts) AS us FROM events
      |), g AS (
      |  SELECT event_type, us,
      |         lag(us) OVER (PARTITION BY event_type
      |                       ORDER BY us, event_id) AS prev_us
      |  FROM e
      |), gg AS MATERIALIZED (
      |  SELECT event_type, prev_us, us - prev_us AS gap_us
      |  FROM g WHERE prev_us IS NOT NULL
      |), agg AS MATERIALIZED (
      |  SELECT event_type, COUNT(*) AS n_gaps,
      |         CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
      |         CAST(SUM(CASE WHEN gap_us > 1800000000 THEN 1 ELSE 0 END)
      |              AS BIGINT) AS n_gaps_over_30m
      |  FROM gg GROUP BY event_type
      |), worst AS (
      |  SELECT gg.event_type, MIN(gg.prev_us) AS worst_gap_start_us
      |  FROM gg JOIN agg ON agg.event_type = gg.event_type
      |    AND gg.gap_us = agg.max_gap_us
      |  GROUP BY gg.event_type
      |)
      |SELECT a.event_type, a.n_gaps, a.max_gap_us, a.n_gaps_over_30m,
      |       w.worst_gap_start_us
      |FROM agg a JOIN worst w USING (event_type)
      |ORDER BY a.event_type""".stripMargin

  /** `stream_hopping_agg` — 2h windows hopping every 30min: each event
    * counts in 4 overlapping windows. The oracle expands the hops
    * explicitly: window starts are the 4 slide multiples at or before
    * the event, in exact integer microseconds.
    */
  def streamHoppingAgg(spark: SparkSession, sfDir: String): DataFrame =
    EventAnalytics.hoppingByType(table(spark, sfDir, "events"))
      .orderBy("window_start", "event_type")

  val streamHoppingAggSql: String =
    """WITH e AS (
      |  SELECT event_type, value, epoch_us(ts) AS us FROM events
      |), hop AS (
      |  SELECT event_type, value,
      |         (us // 1800000000) * 1800000000 - k.k * 1800000000 AS ws
      |  FROM e, range(0, 4) k(k)
      |)
      |SELECT strftime(to_timestamp(ws / 1000000.0), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       event_type,
      |       COUNT(*) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_value
      |FROM hop
      |GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin

  /** `stream_trending` — top-2 trending event types per hopping window:
    * the hopping aggregate (same 2h/30min windows as
    * `stream_hopping_agg`, single-sourced from
    * EventAnalytics.hoppingByType) ranked within each window by event
    * count. The rank is a WindowGroupLimit-able row_number over a
    * per-window key space of |event types| — the "trending now" query
    * every dashboard runs on the stream's materialized aggregate.
    */
  def streamTrending(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("window_start")
      .orderBy(desc("n_events"), asc("event_type"))
    EventAnalytics.hoppingByType(table(spark, sfDir, "events"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 2)
      .select("window_start", "rank", "event_type", "n_events")
      .orderBy("window_start", "rank")
  }

  val streamTrendingSql: String =
    """WITH e AS (
      |  SELECT event_type, epoch_us(ts) AS us FROM events
      |), hop AS (
      |  SELECT event_type,
      |         (us // 1800000000) * 1800000000 - k.k * 1800000000 AS ws
      |  FROM e, range(0, 4) k(k)
      |), agg AS MATERIALIZED (
      |  SELECT ws, event_type, COUNT(*) AS n_events
      |  FROM hop GROUP BY ws, event_type
      |), ranked AS (
      |  SELECT ws, event_type, n_events,
      |         CAST(row_number() OVER (PARTITION BY ws
      |           ORDER BY n_events DESC, event_type) AS INTEGER) AS rank
      |  FROM agg
      |)
      |SELECT strftime(to_timestamp(ws / 1000000.0), '%Y-%m-%d %H:%M:%S') AS window_start,
      |       rank, event_type, n_events
      |FROM ranked WHERE rank <= 2
      |ORDER BY window_start, rank""".stripMargin

  def streamSessionize(spark: SparkSession, sfDir: String): DataFrame =
    EventAnalytics.sessionize(table(spark, sfDir, "events"), gapMinutes = 240)
      .orderBy("user_id", "session_seq")

  val streamSessionizeSql: String =
    """WITH g AS (
      |  SELECT user_id, event_id, value, epoch_us(ts) AS us,
      |         CASE WHEN lag(epoch_us(ts)) OVER w IS NULL
      |                OR epoch_us(ts) - lag(epoch_us(ts)) OVER w > CAST(240 AS BIGINT) * 60 * 1000000
      |              THEN 1 ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |), s AS MATERIALIZED (
      |  SELECT *, CAST(SUM(new_session) OVER (PARTITION BY user_id ORDER BY us, event_id
      |                                        ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
      |  FROM g
      |)
      |SELECT user_id, session_seq,
      |       strftime(to_timestamp(MIN(us) / 1000000.0), '%Y-%m-%d %H:%M:%S') AS session_start,
      |       strftime(to_timestamp(MAX(us) / 1000000.0), '%Y-%m-%d %H:%M:%S') AS session_end,
      |       COUNT(*) AS n_events,
      |       CAST(CAST(SUM(CAST(value AS DECIMAL(18,2))) AS STRING) AS DOUBLE) AS sum_value
      |FROM s GROUP BY user_id, session_seq
      |ORDER BY user_id, session_seq""".stripMargin

  /** `stream_dedup` — keep the FIRST event per (user_id, event_type):
    * the batch twin of EventAnalytics.dedupStream, whose streaming form
    * (`dropDuplicatesWithinWatermark`, state bounded by the watermark
    * horizon) is driven through a real streaming run in StreamingSpec.
    * The batch spelling pins the SEMANTICS under the cross-engine gate
    * with a deterministic first: argmin by (event time, event_id) — a
    * total order, so "first" can't depend on arrival order the way the
    * streaming form's at-least-once contract allows.
    *
    * Plan shape: ONE hash aggregate via min_by over a packed struct —
    * partial min per mapper, so the shuffle carries one candidate row
    * per (key, mapper), not the whole table; the window-rank spelling
    * would shuffle and sort every row. At 100 TB this is the difference
    * between a map-side-combined agg and a full-data sort.
    */
  def streamDedup(spark: SparkSession, sfDir: String): DataFrame =
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_type"),
        col("event_id"), expr("ts DIV 1000").as("us"), col("value"))
      .groupBy("user_id", "event_type")
      .agg(min_by(struct(col("event_id"), col("us"), col("value")),
        struct(col("us"), col("event_id"))).as("first"))
      .select(col("user_id"), col("event_type"),
        col("first.event_id").as("event_id"), col("first.us").as("us"),
        col("first.value").as("value"))
      .orderBy("user_id", "event_type")

  val streamDedupSql: String =
    """WITH r AS MATERIALIZED (
      |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us, value,
      |         row_number() OVER (PARTITION BY user_id, event_type
      |                            ORDER BY epoch_us(ts), event_id) AS rn
      |  FROM events
      |)
      |SELECT user_id, event_type, event_id, us, value
      |FROM r WHERE rn = 1
      |ORDER BY user_id, event_type""".stripMargin

  /** Batch form of the stream-stream interval join (the same function
    * runs under Structured Streaming with watermark-bounded state — see
    * EventAnalytics.purchaseClickPairs and StreamingSpec).
    */
  def streamJoinInterval(spark: SparkSession, sfDir: String): DataFrame =
    EventAnalytics.purchaseClickPairs(table(spark, sfDir, "events"),
        windowMinutes = 240)
      .orderBy("purchase_id", "click_id")

  val streamJoinIntervalSql: String =
    """SELECT p.event_id AS purchase_id, p.user_id AS user_id,
      |       epoch_us(p.ts) AS p_us,
      |       c.event_id AS click_id, epoch_us(c.ts) AS c_us,
      |       epoch_us(p.ts) - epoch_us(c.ts) AS gap_us
      |FROM events p JOIN events c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.user_id = p.user_id
      | AND epoch_us(c.ts) BETWEEN epoch_us(p.ts) - CAST(240 AS BIGINT)*60*1000000
      |                        AND epoch_us(p.ts)
      |ORDER BY purchase_id, click_id""".stripMargin

  /** `stream_cep_pattern` — complex-event-processing pattern match: per
    * user, occurrences of the CONSECUTIVE event sequence
    * view → click → purchase (MATCH_RECOGNIZE's simplest shape,
    * strict contiguity). Each row looks ahead two events with `lead`
    * over (user_id ORDER BY us, event_id) — the total order every
    * windowed event query in this suite uses — and a match anchors at
    * the `view`. Per matching user: match count, first match start.
    *
    * Streaming form: the same lookahead runs per key inside
    * flatMapGroupsWithState buffering 3 events of state; the batch
    * window spelling here is the oracle-gatable twin (the suite's
    * batch/stream equivalence doctrine — see EventAnalytics).
    *
    * Scale: one shuffle on user_id, per-partition sort, narrow lead —
    * no self-join of the event log (the naive 3-way join spelling
    * shuffles the log three times and explodes on hot users).
    */
  def streamCepPattern(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").cast("long").as("us"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("event_type") === "view" && col("e2") === "click" &&
        col("e3") === "purchase")
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_matches"),
        min(col("us")).as("first_start_us"))
      .orderBy("user_id")
  }

  /** `analytics_event_paths` — 3-step path mining over the per-user
    * event order: every consecutive event-type trigram, counted
    * corpus-wide with distinct-user support (the discovery complement
    * of stream_cep_pattern, which matches ONE known pattern; this
    * ranks ALL observed behavior paths — the "common user journeys"
    * query behind funnel design).
    *
    * Scale: the same single user_id shuffle + narrow double-lead as
    * the CEP matcher, then one hash aggregate over the (≤|types|³)
    * path space.
    */
  def analyticsEventPaths(spark: SparkSession, sfDir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    table(spark, sfDir, "events")
      .select(col("user_id"), col("event_id"),
        expr("ts div 1000").cast("long").as("us"), col("event_type"))
      // pre-window NULL filter, mirrored in the oracle: concat_ws
      // SKIPS NULLs while DuckDB's || PROPAGATES them, so a NULL
      // event_type reaching the path build would diverge the engines
      // (2-part path here vs NULL-grouped row there). Filtering before
      // the window keeps the lead() sequences aligned too.
      .where(col("event_type").isNotNull)
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .where(col("e2").isNotNull && col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3"))
        .as("path"), col("user_id"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("user_id")).as("n_users"))
      .orderBy(desc("n_occurrences"), col("path"))
  }

  val analyticsEventPathsSql: String =
    """WITH seq AS (
      |  SELECT user_id,
      |         event_type || '>' || lead(event_type, 1) OVER w
      |           || '>' || lead(event_type, 2) OVER w AS path,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events WHERE event_type IS NOT NULL
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |)
      |SELECT path, COUNT(*) AS n_occurrences,
      |       COUNT(DISTINCT user_id) AS n_users
      |FROM seq WHERE e3 IS NOT NULL
      |GROUP BY path
      |ORDER BY n_occurrences DESC, path""".stripMargin

  val streamCepPatternSql: String =
    """WITH seq AS (
      |  SELECT user_id, event_id, epoch_us(ts) AS us, event_type,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |)
      |SELECT user_id, COUNT(*) AS n_matches, MIN(us) AS first_start_us
      |FROM seq
      |WHERE event_type = 'view' AND e2 = 'click' AND e3 = 'purchase'
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** One-pass total order for the multimodal gates, whose child is the
    * whole encode→decode→feature chain (see RefQueries.gateSort for
    * the RangePartitioner double-execution rationale; measured ≈2×
    * wall-clock on `multimodal_png_decode`).
    */
  private def gateSort(df: DataFrame, cols: String*): DataFrame =
    RefQueries.gateSort(df, cols: _*)

  /** A document as an audio file: its leading UTF-8 bytes (at most 90,
    * an even count) become the 16-bit PCM data chunk of a RIFF/WAVE
    * container, mono at 7968 Hz, behind the 44-byte header. Every
    * audio gate decodes this container through
    * MediaCodecs.decodeWavBytes.
    */
  private def docWav(text: String): Array[Byte] = {
    val bytes = text.getBytes(StandardCharsets.UTF_8)
    val dataLen = math.min(90, (bytes.length / 2) * 2)
    val ascii = (s: String) => s.getBytes(StandardCharsets.US_ASCII)
    ByteBuffer.allocate(44 + dataLen).order(ByteOrder.LITTLE_ENDIAN)
      .put(ascii("RIFF")).putInt(36 + dataLen).put(ascii("WAVEfmt "))
      .putInt(16).putShort(1.toShort).putShort(1.toShort)
      .putInt(7968).putInt(15936).putShort(2.toShort).putShort(16.toShort)
      .put(ascii("data")).putInt(dataLen).put(bytes, 0, dataLen)
      .array()
  }

  /** Binary metadata through pure SQL expressions (oracle-checked). */
  def multimodalMeta(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.packFromText(table(spark, sfDir, "documents"))
      .select(
        col("doc_id"), col("media_type"),
        length(col("content")).as("n_bytes"),
        sha2(col("content"), 256).as("digest"))
      .transform(gateSort(_, "doc_id"))

  val multimodalMetaSql: String =
    """SELECT doc_id, 'text/utf-8' AS media_type,
      |       octet_length(encode(text)) AS n_bytes,
      |       sha256(text) AS digest
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The gated feature columns every multimodal decode query ends
    * with: the plane mean, the first 8 samples as JSON and the four
    * bucket means (see [[multimodalFeatures]] for why the arrays are
    * serialized).
    */
  private val FeatureTail: Seq[Column] = Seq(
    col("mean_byte"),
    to_json(col("frame_samples")).as("frame_samples_json")) ++
    (0 to 3).map(b => element_at(col("thumb"), b + 1).as(s"thumb_$b"))

  /** The twins' [[FeatureTail]] over the sample list `list`. Bucket
    * bounds replicate Multimodal.resampleBytes' integer floor division
    * (DuckDB `//`; list slices are 1-based inclusive vs Scala's
    * 0-based exclusive, hence the +1 shifts). COALESCE(..., 0.0): an
    * empty plane gives Spark 0.0 means, while the raw SQL divisions
    * would go NULL (list_sum of an empty slice).
    */
  private def featureTailSql(list: String): String = {
    def thumb(b: Int): String = {
      val lo = s"($b*len($list))//4"
      val hi = s"greatest((${b + 1}*len($list))//4, $lo + 1)"
      s"""COALESCE(CAST(list_sum($list[$lo + 1 : $hi]) AS DOUBLE) / ($hi - $lo), 0.0) AS thumb_$b"""
    }
    (Seq(s"COALESCE(CAST(list_sum($list) AS DOUBLE) / NULLIF(len($list), 0), 0.0) AS mean_byte",
      s"CAST(to_json($list[1:8]) AS VARCHAR) AS frame_samples_json") ++
      (0 to 3).map(thumb)).mkString(",\n       ")
  }

  /** Full mapPartitions feature-extraction path (stubbed decode).
    * The GATED projection serializes the array outputs — `frame_samples`
    * to a compact JSON string (int formatting is engine-stable; the
    * driver's pandas rows-check cannot sort raw numpy arrays) and `thumb`
    * to four scalar double columns (double→JSON formatting differs
    * across engines, double VALUES do not: both sides compute an exact
    * integer byte-sum divided once). The typed Dataset API underneath is
    * unchanged.
    */
  def multimodalFeatures(spark: SparkSession, sfDir: String): DataFrame =
    Multimodal.extractFeatures(spark,
        Multimodal.packFromText(table(spark, sfDir, "documents")))
      .toDF()
      .select(Seq("doc_id", "media_type", "n_bytes", "digest").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))

  /** The REAL decoder path under the gate: pack each document's bytes
    * into a genuine PPM (P6) container — header + the text bytes as a
    * w×1 RGB raster — typed `image/ppm`, so `extractFeatures` runs
    * MediaCodecs.decodePpmLuma (header parse, integer luminance
    * (r+g+b)/3 per pixel) rather than the stub. Features then describe
    * the DECODED PLANE while n_bytes/digest describe the container.
    */
  def multimodalPpm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, sfDir, "documents")
      // under 3 bytes there is no RGB triplet: the packed container
      // would carry w=0, the decoder would (correctly) reject it, and
      // Spark's stub-over-container would diverge from the twin's
      // luma-over-nothing — the guard IS the contract, same WHERE in SQL
      .where(octet_length(col("text")) >= 3)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val w = bytes.length / 3
        val header = s"P6\n$w 1\n255\n".getBytes("US-ASCII")
        (id, "image/ppm", header ++ bytes.take(w * 3))
      }.toDF("doc_id", "media_type", "content")
    Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(Seq("doc_id", "media_type", "n_bytes", "digest").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin of the REAL PPM decode: rebuild the same container
    * string (ASCII text ⇒ string ops are byte ops), recompute the
    * integer luminance plane from the byte triples, and restate the
    * plane-mean / first-8 / 4-bucket features over it. Sha256/length
    * run on the container VARCHAR — identical bytes.
    */
  val multimodalPpmSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, text, length(text)//3 AS w FROM documents
       |  WHERE octet_length(encode(text)) >= 3
       |), c AS (
       |  SELECT doc_id, w,
       |         'P6' || chr(10) || CAST(w AS VARCHAR) || ' 1' || chr(10) || '255' || chr(10)
       |           || substr(text, 1, w*3) AS container,
       |         list_transform(range(1, w*3+1), i -> unicode(text[i])) AS bytes
       |  FROM m
       |), l AS (
       |  SELECT doc_id, container,
       |         list_transform(range(0, w), p ->
       |           (bytes[3*p+1] + bytes[3*p+2] + bytes[3*p+3]) // 3) AS luma
       |  FROM c
       |)
       |SELECT doc_id, 'image/ppm' AS media_type,
       |       octet_length(encode(container)) AS n_bytes,
       |       sha256(container) AS digest,
       |       ${featureTailSql("luma")}
       |FROM l ORDER BY doc_id""".stripMargin

  /** The COMPRESSED-raster decoder under the gate: pack each document's
    * bytes as a REAL spec-complete PNG (gray, w×1 — signature, IHDR,
    * zlib/deflate IDAT, CRCs; see MediaCodecs.encodeGrayPng), typed
    * `image/png`, so `extractFeatures` decodes through javax.imageio.
    * Gray samples come back verbatim (raw raster samples, no color-space
    * rewrite), so the decoded plane equals the packed bytes and the
    * oracle can restate the features from the text directly. The stored-
    * block encoding makes the container size the closed form len+69;
    * digest is omitted like the WAV gate's (the container carries NUL
    * bytes, which a DuckDB VARCHAR cannot hold).
    */
  def multimodalPng(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, sfDir, "documents")
      // encodeGrayPng is total only on 1..65534 bytes: empty text would
      // emit a spec-invalid width-0 PNG (decoder → stub → silent oracle
      // divergence) and oversize text throws in the executor. The gated
      // corpus is 48..~600 bytes, but the guard is the CONTRACT — the
      // oracle twin carries the same WHERE
      .where(octet_length(col("text")).between(1, 65534))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, "image/png", graft.ops.MediaCodecs.encodeGrayPng(text.getBytes("UTF-8")))
      }.toDF("doc_id", "media_type", "content")
    Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(Seq("doc_id", "media_type", "n_bytes").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin of the PNG decode: the decoded gray plane IS the text's
    * byte sequence (ASCII ⇒ unicode() codes), so features restate over
    * codes; container size is the stored-block closed form len+69.
    */
  val multimodalPngSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, text,
       |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
       |  FROM documents
       |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65534
       |)
       |SELECT doc_id, 'image/png' AS media_type,
       |       length(text) + 69 AS n_bytes,
       |       ${featureTailSql("codes")}
       |FROM m ORDER BY doc_id""".stripMargin

  /** The RAW-DIB raster gate: pack each document's bytes as a real
    * 24-bit BMP (w×1, BGR triples, 4-byte row padding — see
    * MediaCodecs.encodeGrayBmp) typed `image/bmp`, so `extractFeatures`
    * decodes through the JDK's BMP ImageReader: the uncompressed
    * little-endian arm next to PNG (zlib/CRC) and GIF (LZW). A wrong
    * stride, BGR swap, or padding off-by-one shifts every decoded
    * sample and fails the gate. (r+g+b)/3 of the (v,v,v) gray triples
    * returns the text bytes verbatim, so the oracle restates features
    * from the text; n_bytes has the closed form 54 + ceil4(3·len).
    */
  def multimodalBmp(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, sfDir, "documents")
      // encodeGrayBmp needs ≥1 pixel; the guard is the contract and the
      // oracle twin carries the same WHERE (cf. the PNG gate)
      .where(octet_length(col("text")) >= 1)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, "image/bmp", graft.ops.MediaCodecs.encodeGrayBmp(text.getBytes("UTF-8")))
      }.toDF("doc_id", "media_type", "content")
    Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(Seq("doc_id", "media_type", "n_bytes").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin of the BMP decode: the decoded plane IS the text's
    * byte sequence; container size is 54 + the padded stride.
    */
  val multimodalBmpSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, text,
       |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
       |  FROM documents
       |  WHERE octet_length(encode(text)) >= 1
       |)
       |SELECT doc_id, 'image/bmp' AS media_type,
       |       54 + (3 * length(text) + 3) // 4 * 4 AS n_bytes,
       |       ${featureTailSql("codes")}
       |FROM m ORDER BY doc_id""".stripMargin

  /** The COMPRESSION-arm raster gate: pack each document's bytes as a
    * real GIF87a (gray palette, w×1) through MediaCodecs.encodeGrayGif's
    * from-scratch variable-width LZW compressor, typed `image/gif`, so
    * `extractFeatures` decodes through the JDK's strict GIF ImageReader
    * — any off-by-one in the code-width schedule or sub-block framing
    * desyncs the decode and fails the gate. The gray palette maps index
    * i → (i,i,i), so the decoded luma plane equals the packed bytes and
    * the oracle restates features from the text directly. Unlike the
    * PNG gate there is NO n_bytes column: LZW output length is
    * data-dependent by design (that is what makes it the compression
    * test), so the container size has no SQL closed form.
    */
  def multimodalGif(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, sfDir, "documents")
      // encodeGrayGif needs 1..65535 bytes (u16 width, nonempty raster);
      // the guard is the contract and the oracle twin carries the same
      // WHERE (cf. the PNG gate)
      .where(octet_length(col("text")).between(1, 65535))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, "image/gif", graft.ops.MediaCodecs.encodeGrayGif(text.getBytes("UTF-8")))
      }.toDF("doc_id", "media_type", "content")
    Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(Seq("doc_id", "media_type").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin of the GIF decode: the decoded gray plane IS the
    * text's byte sequence (identity palette), so features restate over
    * unicode() codes exactly as the PNG twin does.
    */
  val multimodalGifSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, text,
       |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
       |  FROM documents
       |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65535
       |)
       |SELECT doc_id, 'image/gif' AS media_type,
       |       ${featureTailSql("codes")}
       |FROM m ORDER BY doc_id""".stripMargin

  /** `multimodal_audio_fingerprint` — Shazam-family landmark
    * fingerprinting over the REAL WAV decode + integer WHT spectra:
    * each frame's dominant sequency is a spectral peak, and every
    * (peak_i, peak_{i+g}, g) pair for gaps 1..2 becomes a landmark
    * hash (dom1·100 + dom2·10 + g — readable, and trivially restatable
    * in SQL, unlike an opaque mixing hash). A constellation of such
    * pairs is what audio-matching indexes store: pairs survive noise
    * that absolute magnitudes do not, and gap encoding makes them
    * time-shift invariant within a frame grid.
    *
    * Scale: per document the frame spectra are a narrow map (8×8
    * integer multiply-adds per frame through the per-partition decode
    * doctrine) and the pairing is a bounded per-doc self-zip —
    * no shuffle until the gate sort; a matching stage would groupBy
    * lm_hash exactly like the phash banding join.
    */
  def multimodalAudioFingerprint(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frameLen = 8
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val plane = graft.ops.MediaCodecs.decodeWavBytes(docWav(text))
          .getOrElse(Array.empty[Int])
        val doms = plane.grouped(frameLen).filter(_.length == frameLen)
          .map { f =>
            val s = f.map(_ - 128L)
            val coefs = (0 until 8).map(k =>
              (0 until 8).map(j =>
                if (java.lang.Integer.bitCount(k & j) % 2 == 0) s(j)
                else -s(j)).sum)
            (1 until 8).map(k => (math.abs(coefs(k)), k))
              .minBy { case (a, k) => (-a, k) }._2
          }.toArray
        for {
          i <- doms.indices
          g <- 1 to 2
          if i + g < doms.length
        } yield (id, i.toLong, (doms(i) * 100 + doms(i + g) * 10 + g).toLong)
      }.toDF("doc_id", "frame_idx", "lm_hash")
      .transform(gateSort(_, "doc_id", "frame_idx", "lm_hash"))
  }

  val multimodalAudioFingerprintSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, least(90, (length(text)//2)*2) AS dl FROM documents
      |), l AS (
      |  SELECT doc_id,
      |         list_transform(range(0, dl//2), i -> unicode(text[2*i+2]) + 128) AS plane
      |  FROM m
      |), f AS (
      |  SELECT doc_id, unnest(range(0, len(plane)//8)) AS frame_idx, plane
      |  FROM l
      |), fr AS MATERIALIZED (
      |  SELECT doc_id, frame_idx,
      |         list_transform(plane[frame_idx*8 + 1 : frame_idx*8 + 8],
      |                        s -> s - 128) AS s
      |  FROM f WHERE len(plane) >= (frame_idx + 1) * 8
      |), co AS (
      |  SELECT doc_id, frame_idx,
      |         list_transform(range(0, 8), k ->
      |           list_sum(list_transform(range(0, 8), j ->
      |             CASE WHEN bit_count(CAST(k AS INTEGER) & CAST(j AS INTEGER)) % 2 = 0
      |                  THEN s[CAST(j AS INTEGER) + 1]
      |                  ELSE -s[CAST(j AS INTEGER) + 1] END))) AS c
      |  FROM fr
      |), dom AS MATERIALIZED (
      |  SELECT doc_id, frame_idx,
      |         (list_min(list_transform(range(1, 8), k ->
      |            struct_pack(na := -abs(c[CAST(k AS INTEGER) + 1]), k := k)))).k AS d
      |  FROM co
      |)
      |SELECT a.doc_id, CAST(a.frame_idx AS BIGINT) AS frame_idx,
      |       CAST(a.d * 100 + b.d * 10 + (b.frame_idx - a.frame_idx) AS BIGINT) AS lm_hash
      |FROM dom a JOIN dom b
      |  ON b.doc_id = a.doc_id
      | AND b.frame_idx - a.frame_idx IN (1, 2)
      |ORDER BY a.doc_id, frame_idx, lm_hash""".stripMargin

  /** `multimodal_image_histogram` — 16-bin luminance histogram per
    * image, through the FULL compressed pipeline: text → real GIF87a
    * (own LZW compressor) → real ImageIO decode → per-bin pixel counts.
    * The feature-extraction stage after decode (histograms feed
    * exposure/contrast filters and near-dup prefilters in image
    * pipelines); also a second independent gate on the LZW codec — a
    * compression bug shifts pixel values and moves histogram mass.
    * ONE RasterDecoder per partition (the extractFeatures doctrine —
    * per-row ImageIO churn was round 9's bench regression).
    *
    * Scale: narrow mapPartitions + one (doc, bin) counting aggregate;
    * bins are a 16-value key space per doc.
    */
  def multimodalImageHistogram(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .where(octet_length(col("text")).between(1, 65535))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val dec = new graft.ops.MediaCodecs.RasterDecoder
        it.flatMap { case (id, text) =>
          val gif = graft.ops.MediaCodecs.encodeGrayGif(text.getBytes("UTF-8"))
          val plane = dec.decodeLuma(gif).getOrElse(Array.empty[Int])
          plane.groupBy(_ / 16).toSeq.map { case (bin, px) =>
            (id, bin.toLong, px.length.toLong)
          }
        }
      }.toDF("doc_id", "bin", "n_px")
      .transform(gateSort(_, "doc_id", "bin"))
  }

  val multimodalImageHistogramSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id,
      |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
      |  FROM documents
      |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65535
      |), b AS (
      |  SELECT doc_id, unnest(codes) // 16 AS bin FROM m
      |)
      |SELECT doc_id, bin, COUNT(*) AS n_px
      |FROM b GROUP BY doc_id, bin ORDER BY doc_id, bin""".stripMargin

  /** `multimodal_image_entropy` — Shannon entropy of each decoded
    * raster's 16-bin intensity histogram, in exact scaled-log2 integers
    * via the shared [[graft.functions.IntegerLog2]] kernel:
    * H·1e6 = Σ_bins c·(log2s(n) − log2s(c)) DIV n — the standard
    * flat/low-information image detector (a blank or single-tone image
    * scores 0; a busy one approaches log2 16 = 4 bits), computed over
    * the same real GIF decode path as `multimodal_image_histogram`.
    * Pure integer arithmetic end to end — no fp entropy to align.
    *
    * Scale: narrow decode map + one (doc, bin) aggregate + an O(docs)
    * rollup; the histogram is 16 rows per image regardless of raster
    * size.
    */
  def multimodalImageEntropy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.IntegerLog2.log2s
    val hist = table(spark, sfDir, "documents")
      .where(octet_length(col("text")).between(1, 65535))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { it =>
        val dec = new graft.ops.MediaCodecs.RasterDecoder
        it.flatMap { case (id, text) =>
          val gif = graft.ops.MediaCodecs.encodeGrayGif(text.getBytes("UTF-8"))
          val plane = dec.decodeLuma(gif).getOrElse(Array.empty[Int])
          plane.groupBy(_ / 16).toSeq.map { case (bin, px) =>
            (id, bin.toLong, px.length.toLong)
          }
        }
      }.toDF("doc_id", "bin", "c")
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
    hist
      .withColumn("n", sum("c").over(w))
      .groupBy("doc_id")
      .agg(max("n").as("n_px"),
        sum(col("c") * (log2s(col("n")) - log2s(col("c")))).as("hsum"))
      .select(col("doc_id"), col("n_px"),
        expr("hsum div n_px").as("entropy_1e6"))
      .transform(gateSort(_, "doc_id"))
  }

  val multimodalImageEntropySql: String = {
    import graft.functions.IntegerLog2.log2Sql
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id,
       |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
       |  FROM documents
       |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65535
       |), h AS (
       |  SELECT doc_id, bin, CAST(COUNT(*) AS BIGINT) AS c
       |  FROM (SELECT doc_id, unnest(codes) // 16 AS bin FROM m)
       |  GROUP BY doc_id, bin
       |), t AS (
       |  SELECT doc_id, c,
       |         CAST(SUM(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
       |  FROM h
       |)
       |SELECT doc_id, MAX(n) AS n_px,
       |       CAST(CAST(SUM(c * (${log2Sql("n")} - ${log2Sql("c")}))
       |            AS BIGINT) // MAX(n) AS BIGINT) AS entropy_1e6
       |FROM t GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  /** The real WAV decoder under the gate: pack each document's leading
    * bytes (≤ 90, even) as the 16-bit PCM data chunk of a genuine
    * RIFF/WAVE container, typed `audio/wav`, so `extractFeatures` runs
    * MediaCodecs.decodeWavBytes — chunk walk + (sample >> 8) + 128
    * requantization, which for ASCII byte pairs (lo, hi) reduces to
    * hi + 128. The gated output carries the plane features and the
    * arithmetic container size; digest stays with the PPM gate (the
    * WAV header contains NUL bytes, which DuckDB VARCHARs cannot hold,
    * so the twin computes features WITHOUT rebuilding the container).
    */
  def multimodalWav(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        (id, "audio/wav", docWav(text))
      }.toDF("doc_id", "media_type", "content")
    Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(Seq("doc_id", "media_type", "n_bytes").map(col) ++ FeatureTail: _*)
      .transform(gateSort(_, "doc_id"))
  }

  /** `multimodal_audio_energy` — windowed signal energy over the REAL
    * WAV decode path: the same synthesized PCM containers as
    * `multimodal_wav_decode`, run through MediaCodecs.decodeWavBytes,
    * then per non-overlapping 8-sample frame the integer energy
    * Σ(s−128)² (deviation from the requantized midpoint). The audio
    * feature-extraction shape: decode in a typed map (decoder-init
    * pattern), frame arithmetic as integer column math, one row per
    * (doc, frame). The oracle rebuilds the identical plane
    * arithmetically from the text bytes.
    */
  /** `multimodal_adpcm_decode` — a REAL compressed-audio codec under
    * the cross-engine gate: each document's bytes become a 16-bit
    * waveform, encoded to a genuine IMA ADPCM WAV container (fmt tag
    * 0x0011, 4 bits/sample — see MediaCodecs.encodeImaAdpcmWav) and
    * decoded back through the production fmt-dispatching WAV arm. The
    * gated features describe the LOSSY reconstruction: container
    * size (closed form), decoded sample count, exact-integer mean of
    * the requantized plane, first-8 samples, and the max absolute
    * 8-bit reconstruction error vs the source bytes. The DuckDB twin
    * replays the encoder-decoder state recurrence exactly (IMA's
    * encoder quantizes against its own reconstruction, so ONE
    * recurrence yields the decoder's output) as a recursive CTE over
    * pure integer arithmetic — no libm, no engine hash.
    */
  def multimodalAdpcm(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      // upper bound = the single-block encoder's 16-bit samplesPerBlock
      // cap (encodeImaAdpcmWav requires it); same WHERE in the oracle
      .where(octet_length(col("text")).between(1, 65535))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val src8 = text.getBytes("UTF-8").map(_ & 0xff)
        val wav = graft.ops.MediaCodecs.encodeImaAdpcmWav(
          src8.map(b => (b - 128) << 8))
        val dec = graft.ops.MediaCodecs.decodeWavBytes(wav)
          .getOrElse(Array.empty[Int])
        val maxErr =
          if (dec.isEmpty) 0L
          else dec.zip(src8).map { case (d, o) => math.abs(d - o).toLong }.max
        (id, wav.length.toLong, dec.length.toLong,
          dec.foldLeft(0L)(_ + _), dec.take(8).toSeq, maxErr)
      }
      .toDF("doc_id", "n_bytes", "n_samples", "sum8", "frames", "max_err")
      .select(col("doc_id"), col("n_bytes"), col("n_samples"),
        (col("sum8").cast("double") / col("n_samples")).as("mean_byte"),
        to_json(col("frames")).as("frame_samples_json"),
        col("max_err"))
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin: the IMA recurrence as a recursive CTE. State after
    * sample i is (pred_i, idx_i); decoded sample i IS pred_i, and the
    * anchor row carries sample 1 (stored verbatim in the block
    * header). Arithmetic mirrors MediaCodecs.imaStep bit for bit:
    * `//` is floor division = arithmetic shift on the non-negative
    * step, and the final 16→8-bit requantize `pred // 256 + 128`
    * matches Scala's arithmetic `>> 8` on negatives too (both floor).
    * Container size closed form: 48 header bytes + 4 block-header
    * bytes + n//2 nibble bytes + word pad.
    */
  val multimodalAdpcmSql: String =
    """WITH RECURSIVE m AS MATERIALIZED (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65535
      |), tabs AS MATERIALIZED (
      |  SELECT [7,8,9,10,11,12,13,14,16,17,19,21,23,25,28,31,34,37,
      |          41,45,50,55,60,66,73,80,88,97,107,118,130,143,157,173,
      |          190,209,230,253,279,307,337,371,408,449,494,544,598,658,
      |          724,796,876,963,1060,1166,1282,1411,1552,1707,1878,2066,
      |          2272,2499,2749,3024,3327,3660,4026,4428,4871,5358,5894,
      |          6484,7132,7845,8630,9493,10442,11487,12635,13899,15289,
      |          16818,18500,20350,22385,24623,27086,29794,32767] AS steps,
      |         [-1,-1,-1,-1,2,4,6,8] AS itab
      |), rec AS (
      |  SELECT doc_id, 1 AS i, (unicode(text[1]) - 128) * 256 AS pred, 0 AS idx
      |  FROM m
      |  UNION ALL
      |  SELECT doc_id, i, pred, idx FROM (
      |    SELECT r.doc_id, r.i + 1 AS i,
      |           t.steps[r.idx + 1] AS step,
      |           (unicode(m.text[r.i + 1]) - 128) * 256 - r.pred AS diff0,
      |           abs(diff0) AS ad,
      |           CASE WHEN ad >= step THEN 4 ELSE 0 END
      |             + CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END >= step // 2 THEN 2 ELSE 0 END
      |             + CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END
      |                     - CASE WHEN ad - CASE WHEN ad >= step THEN step ELSE 0 END >= step // 2 THEN step // 2 ELSE 0 END
      |                    >= step // 4 THEN 1 ELSE 0 END AS mag,
      |           step // 8
      |             + CASE WHEN mag >= 4 THEN step ELSE 0 END
      |             + CASE WHEN mag % 4 >= 2 THEN step // 2 ELSE 0 END
      |             + CASE WHEN mag % 2 = 1 THEN step // 4 ELSE 0 END AS dq,
      |           greatest(-32768, least(32767,
      |             r.pred + CASE WHEN diff0 < 0 THEN -dq ELSE dq END)) AS pred,
      |           greatest(0, least(88, r.idx + t.itab[mag + 1])) AS idx
      |    FROM rec r JOIN m USING (doc_id) CROSS JOIN tabs t
      |    WHERE r.i < m.n
      |  )
      |), dec AS MATERIALIZED (
      |  -- floor(pred/256), NOT pred // 256: DuckDB's // truncates
      |  -- toward zero on negatives while Scala's >> 8 floors; /256.0
      |  -- is exact in a double for |pred| <= 32768, so floor is exact
      |  SELECT doc_id, i, CAST(floor(pred / 256.0) AS BIGINT) + 128 AS r8 FROM rec
      |), feats AS MATERIALIZED (
      |  SELECT d.doc_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_samples,
      |         CAST(SUM(d.r8) AS BIGINT) AS sum8,
      |         CAST(MAX(abs(d.r8 - unicode(m.text[d.i]))) AS BIGINT) AS max_err
      |  FROM dec d JOIN m USING (doc_id) GROUP BY d.doc_id
      |), fr AS MATERIALIZED (
      |  SELECT doc_id, CAST(to_json(list(r8 ORDER BY i)[1:8]) AS VARCHAR) AS frame_samples_json
      |  FROM dec GROUP BY doc_id
      |)
      |SELECT m.doc_id,
      |       CAST(48 + 4 + m.n // 2 + (m.n // 2) % 2 AS BIGINT) AS n_bytes,
      |       f.n_samples,
      |       CAST(f.sum8 AS DOUBLE) / f.n_samples AS mean_byte,
      |       fr.frame_samples_json,
      |       f.max_err
      |FROM m JOIN feats f USING (doc_id) JOIN fr USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** `multimodal_mulaw_decode` — a SECOND real compressed-audio codec:
    * G.711 μ-law (fmt tag 0x0007), the telephony companding standard.
    * Same harness as the ADPCM arm (document bytes → 16-bit waveform →
    * encode → the production fmt-dispatching WAV decoder → lossy-
    * reconstruction features), but the codec is STATELESS per sample,
    * so the DuckDB twin replays encoder+decoder as plain per-row
    * integer arithmetic — no recursive CTE, no tables, just the ITU-T
    * shift-and-add formula in both engines. Features: closed-form
    * container size, sample count, exact mean of the requantized
    * plane, first-8 samples, max 8-bit reconstruction error.
    */
  def multimodalMulaw(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .where(octet_length(col("text")).between(1, 65535))
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val src8 = text.getBytes("UTF-8").map(_ & 0xff)
        val wav = graft.ops.MediaCodecs.encodeMuLawWav(
          src8.map(b => (b - 128) << 8))
        val dec = graft.ops.MediaCodecs.decodeWavBytes(wav)
          .getOrElse(Array.empty[Int])
        val maxErr =
          if (dec.isEmpty) 0L
          else dec.zip(src8).map { case (d, o) => math.abs(d - o).toLong }.max
        (id, wav.length.toLong, dec.length.toLong,
          dec.foldLeft(0L)(_ + _), dec.take(8).toSeq, maxErr)
      }
      .toDF("doc_id", "n_bytes", "n_samples", "sum8", "frames", "max_err")
      .select(col("doc_id"), col("n_bytes"), col("n_samples"),
        (col("sum8").cast("double") / col("n_samples")).as("mean_byte"),
        to_json(col("frames")).as("frame_samples_json"),
        col("max_err"))
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin: μ-law encode∘decode per byte — sign/clip/bias, chord
    * by thresholds, mantissa by power-of-two floor division (operands
    * non-negative, so `//` is safe), magnitude reconstruction, then the
    * shared floor(x/256)+128 requantize (negative-safe via floor, not
    * `//`). Container closed form: 44 header/chunk bytes + n data +
    * word pad.
    */
  val multimodalMulawSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, length(text) AS n FROM documents
      |  WHERE octet_length(encode(text)) BETWEEN 1 AND 65535
      |), lin AS (
      |  SELECT doc_id, i, (unicode(text[i]) - 128) * 256 AS x
      |  FROM (SELECT doc_id, text, unnest(range(1, n + 1)) AS i FROM m)
      |), enc AS (
      |  SELECT doc_id, i, x,
      |         CASE WHEN x < 0 THEN 128 ELSE 0 END AS sign,
      |         least(abs(x), 32635) + 132 AS mb
      |  FROM lin
      |), chord AS (
      |  SELECT doc_id, i, sign, mb,
      |         CASE WHEN mb >= 16384 THEN 7 WHEN mb >= 8192 THEN 6
      |              WHEN mb >= 4096 THEN 5 WHEN mb >= 2048 THEN 4
      |              WHEN mb >= 1024 THEN 3 WHEN mb >= 512 THEN 2
      |              WHEN mb >= 256 THEN 1 ELSE 0 END AS e
      |  FROM enc
      |), dec AS MATERIALIZED (
      |  SELECT doc_id, i, sign, e,
      |         ((((mb // (1 << (e + 3))) % 16) * 8 + 132) * (1 << e)) - 132 AS mag
      |  FROM chord
      |), r AS MATERIALIZED (
      |  SELECT doc_id, i,
      |         CAST(floor((CASE WHEN sign = 128 THEN -mag ELSE mag END) / 256.0)
      |              AS BIGINT) + 128 AS r8
      |  FROM dec
      |), feats AS MATERIALIZED (
      |  SELECT r.doc_id,
      |         CAST(COUNT(*) AS BIGINT) AS n_samples,
      |         CAST(SUM(r.r8) AS BIGINT) AS sum8,
      |         CAST(MAX(abs(r.r8 - unicode(m.text[r.i]))) AS BIGINT) AS max_err
      |  FROM r JOIN m USING (doc_id) GROUP BY r.doc_id
      |), fr AS MATERIALIZED (
      |  SELECT doc_id, CAST(to_json(list(r8 ORDER BY i)[1:8]) AS VARCHAR) AS frame_samples_json
      |  FROM r GROUP BY doc_id
      |)
      |SELECT m.doc_id,
      |       CAST(44 + m.n + m.n % 2 AS BIGINT) AS n_bytes,
      |       f.n_samples,
      |       CAST(f.sum8 AS DOUBLE) / f.n_samples AS mean_byte,
      |       fr.frame_samples_json,
      |       f.max_err
      |FROM m JOIN feats f USING (doc_id) JOIN fr USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  def multimodalAudioEnergy(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frameLen = 8
    val planes = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val plane = graft.ops.MediaCodecs.decodeWavBytes(docWav(text))
          .getOrElse(Array.empty[Int])
        val energies = plane.grouped(frameLen).filter(_.length == frameLen)
          .map(f => f.map(s => (s - 128L) * (s - 128L)).sum).toSeq
        (id, energies)
      }.toDF("doc_id", "energies")
    planes
      .select(col("doc_id"), posexplode(col("energies")).as(Seq("frame_idx", "energy")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("energy"))
      .transform(gateSort(_, "doc_id", "frame_idx"))
  }

  val multimodalAudioEnergySql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, least(90, (length(text)//2)*2) AS dl FROM documents
      |), l AS (
      |  SELECT doc_id,
      |         list_transform(range(0, dl//2), i -> unicode(text[2*i+2]) + 128) AS plane
      |  FROM m
      |), f AS (
      |  SELECT doc_id, unnest(range(0, len(plane)//8)) AS frame_idx, plane
      |  FROM l
      |)
      |SELECT doc_id, frame_idx,
      |       CAST(list_sum(list_transform(plane[frame_idx*8 + 1 : frame_idx*8 + 8],
      |              s -> (s - 128)*(s - 128))) AS BIGINT) AS energy
      |FROM f WHERE len(plane) >= (frame_idx + 1) * 8
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** `multimodal_audio_zcr` — per-frame zero-crossing rate over the
    * SAME real WAV decode path as [[multimodalAudioEnergy]]: the count
    * of adjacent sample pairs whose centered values (s−128) strictly
    * change sign. ZCR is energy's classic DSP companion — the cheap
    * voiced/unvoiced (and tone-vs-noise) discriminator every audio
    * front end computes next to frame energy (the VAD gate thresholds
    * energy; a production VAD thresholds both). Pure integer counting
    * per frame, so the gate needs no fp spelling at all.
    *
    * Scale: identical contract to the energy gate — typed narrow map
    * per document, frame rollup inside the row, no shuffle before the
    * gate sort.
    */
  def multimodalAudioZcr(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frameLen = 8
    val planes = table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val plane = graft.ops.MediaCodecs.decodeWavBytes(docWav(text))
          .getOrElse(Array.empty[Int])
        val zcrs = plane.grouped(frameLen).filter(_.length == frameLen)
          .map(f => f.sliding(2)
            .count(p => (p(0) - 128).toLong * (p(1) - 128) < 0).toLong)
          .toSeq
        (id, zcrs)
      }.toDF("doc_id", "zcrs")
    planes
      .select(col("doc_id"), posexplode(col("zcrs")).as(Seq("frame_idx", "zcr")))
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("zcr"))
      .transform(gateSort(_, "doc_id", "frame_idx"))
  }

  val multimodalAudioZcrSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, least(90, (length(text)//2)*2) AS dl FROM documents
      |), l AS (
      |  SELECT doc_id,
      |         list_transform(range(0, dl//2), i -> unicode(text[2*i+2]) + 128) AS plane
      |  FROM m
      |), f AS (
      |  SELECT doc_id, unnest(range(0, len(plane)//8)) AS frame_idx, plane
      |  FROM l
      |)
      |SELECT doc_id, frame_idx,
      |       CAST(list_sum(list_transform(range(1, 8), j ->
      |         CASE WHEN (plane[frame_idx*8 + j] - 128)
      |                   * (plane[frame_idx*8 + j + 1] - 128) < 0
      |              THEN 1 ELSE 0 END)) AS BIGINT) AS zcr
      |FROM f WHERE len(plane) >= (frame_idx + 1) * 8
      |ORDER BY doc_id, frame_idx""".stripMargin

  /** DuckDB twin of the real WAV decode: the requantized sample plane
    * is (high byte of each pair) + 128 = unicode(text[2i+2]) + 128 over
    * the even-truncated ≤90-byte data window; container size is header
    * (44) + data, computed arithmetically.
    */
  val multimodalWavSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, text, least(90, (length(text)//2)*2) AS dl FROM documents
       |), l AS (
       |  SELECT doc_id, dl,
       |         list_transform(range(0, dl//2), i -> unicode(text[2*i+2]) + 128) AS plane
       |  FROM m
       |)
       |SELECT doc_id, 'audio/wav' AS media_type,
       |       44 + dl AS n_bytes,
       |       ${featureTailSql("plane")}
       |FROM l ORDER BY doc_id""".stripMargin

  /** `multimodal_resize` — the real 2-D box-filter resize over a real
    * decoded raster: pack each document as a 12-wide PPM (h = pixels/12
    * rows, remainder dropped), decode the luminance plane, area-average
    * it down to 4×3. All-integer math end to end, so the oracle can
    * rebuild the exact 12 output pixels from the text bytes.
    */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val inW = 12
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val h = bytes.length / 3 / inW
        // a doc too short for even one 12-pixel row has no raster:
        // emit the explicit empty contract (in_h=0, resized=[]) rather
        // than letting resizePlane's geometry require throw in an
        // executor — a malformed row must never kill the scan (the
        // gated corpus min length is 48, but that is measured corpus
        // shape, not a code invariant)
        if (h == 0) (id, inW, 0, Seq.empty[Int])
        else {
          val plane = graft.ops.MediaCodecs
            .decodePpmLuma(s"P6\n$inW $h\n255\n".getBytes("US-ASCII")
              ++ bytes.take(inW * h * 3))
            .getOrElse(Array.empty[Int]) // unreachable: we packed a valid P6
          (id, inW, h, Multimodal.resizePlane(plane, inW, h, 4, 3).toSeq)
        }
      }.toDF("doc_id", "in_w", "in_h", "resized")
      .select(col("doc_id"), col("in_w"), col("in_h"),
        to_json(col("resized")).as("resized_json"))
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin of the 2-D resize: luminance from byte triplets as in
    * the PPM twin, then per output pixel b (row b//4, col b%4) the
    * integer-floor mean over rows [oy·h//3, max((oy+1)·h//3, oy·h//3+1))
    * and the 3 exact columns (12/4) — `flatten` of per-row slices, one
    * `//` division. Matches resizePlane's arithmetic exactly (sums are
    * non-negative, so floor == truncation).
    */
  val multimodalResizeSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, (length(text)//3)//12 AS h FROM documents
      |), l AS (
      |  SELECT doc_id, h,
      |         list_transform(range(0, 12*h), p ->
      |           (unicode(text[3*p+1]) + unicode(text[3*p+2]) + unicode(text[3*p+3])) // 3) AS luma
      |  FROM m
      |)
      |SELECT doc_id, 12 AS in_w, h AS in_h,
      |       CASE WHEN h = 0 THEN '[]' ELSE
      |       CAST(to_json(list_transform(range(0, 12), b ->
      |         CAST(list_sum(flatten(list_transform(
      |                 range((b//4)*h//3, greatest((b//4+1)*h//3, (b//4)*h//3 + 1)), y ->
      |                   luma[y*12 + (b%4)*3 + 1 : y*12 + (b%4)*3 + 3])))
      |              // (3 * (greatest((b//4+1)*h//3, (b//4)*h//3 + 1) - (b//4)*h//3))
      |              AS BIGINT)))
      |         AS VARCHAR) END AS resized_json
      |FROM l ORDER BY doc_id""".stripMargin

  /** `multimodal_phash_dedup` — perceptual-hash near-dup detection over
    * the decoded image planes: the IMAGE sibling of dedup_simhash, and
    * the shape image dedup takes at 100 TB (signature scan + banded
    * equi-join; never pairwise pixel compares). Pipeline per doc: pack
    * the text bytes as a w×1 P6 raster → REAL PPM decode
    * (MediaCodecs.decodePpmLuma) → integer box-resize to a 64-bucket
    * strip (Multimodal.resizePlane — the same arithmetic
    * multimodal_resize gates) → 63-bit dHASH (bit i = bucket[i+1] >
    * bucket[i]; gradient bits are what survive brightness shifts —
    * Krawetz's average/difference-hash family). 63 bits, not 64, keeps
    * the signature non-negative in a signed BIGINT on BOTH engines (a
    * 1<<63 band chunk would need unsigned semantics DuckDB doesn't
    * share).
    *
    * Pairing reuses SimHashDedup.pairsFromSignatures VERBATIM — the
    * 63-bit sig rides a 64-bit lane whose top bit is constant-0, so
    * 8 bands × 8 bits with maxHamming 6 keeps the pigeonhole guarantee
    * (8 bands > 6 flips → some band is flip-free) and the gate stays
    * EXACT: Spark's banded candidates + xor/popcount verify must emit
    * precisely the pairs the oracle's exhaustive O(n²) scan keeps
    * (exhaustive is fine for DuckDB at 500 docs; the banded join is the
    * 100 TB path). Measured at sf0.01: near-dup tail at hamming 1–6,
    * background starts at 7 — threshold 6 cuts at the gap.
    */
  def multimodalPhashDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val sigs = table(spark, sfDir, "documents")
      // w ≥ 2 so the dHash has a gradient to look at (and the PPM
      // container stays spec-valid); same WHERE in the oracle
      .where(octet_length(col("text")) >= 6)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val w = bytes.length / 3
        val plane = graft.ops.MediaCodecs
          .decodePpmLuma(s"P6\n$w 1\n255\n".getBytes("US-ASCII")
            ++ bytes.take(w * 3))
          .getOrElse(Array.empty[Int]) // unreachable: valid P6 by construction
        val b = graft.ops.Multimodal.resizePlane(plane, w, 1, 64, 1)
        var sig = 0L
        var i = 0
        while (i < 63) {
          if (b(i + 1) > b(i)) sig |= 1L << i
          i += 1
        }
        (id, sig)
      }.toDF("doc_id", "sim")
    graft.ops.SimHashDedup.pairsFromSignatures(sigs, maxHamming = 6, bands = 8)
      .transform(gateSort(_, "d1", "d2"))
  }

  /** DuckDB twin: same luma/resize arithmetic as the resize twin (w×1,
    * 64 buckets), dHash bits via 1<<i sums, then the EXHAUSTIVE pair
    * scan — banding is a recall-lossless optimization at maxHamming <
    * bands, so exact pairwise is the semantic definition.
    */
  val multimodalPhashDedupSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, length(text)//3 AS w FROM documents
      |  WHERE octet_length(encode(text)) >= 6
      |), l AS (
      |  SELECT doc_id, w,
      |         list_transform(range(0, w), p ->
      |           (unicode(text[3*p+1]) + unicode(text[3*p+2]) + unicode(text[3*p+3])) // 3) AS luma
      |  FROM m
      |), rz AS (
      |  SELECT doc_id, list_transform(range(0, 64), ox ->
      |           CAST(list_sum(luma[ox*w//64 + 1 : greatest((ox+1)*w//64, ox*w//64 + 1)])
      |                // (greatest((ox+1)*w//64, ox*w//64 + 1) - ox*w//64) AS BIGINT)) AS b
      |  FROM l
      |), sig AS MATERIALIZED (
      |  SELECT doc_id, CAST(list_sum(list_transform(range(0, 63), i ->
      |           CASE WHEN b[i+2] > b[i+1] THEN 1::BIGINT << i ELSE 0 END)) AS BIGINT) AS sim
      |  FROM rz
      |)
      |SELECT a.doc_id AS d1, b.doc_id AS d2, a.sim AS sim1, b.sim AS sim2,
      |       CAST(bit_count(xor(a.sim, b.sim)) AS INTEGER) AS hamming
      |FROM sig a JOIN sig b ON a.doc_id < b.doc_id
      |WHERE bit_count(xor(a.sim, b.sim)) <= 6
      |ORDER BY d1, d2""".stripMargin

  /** `multimodal_video_frames` — the VIDEO decode path under the gate:
    * per document, synthesize 2–4 uniform-gray 16×8 JPEG frames (gray
    * level chosen from the doc's leading bytes out of {32,96,160,224}),
    * mux them into a REAL RIFF/AVI MJPEG container
    * (MediaCodecs.encodeMjpegAvi), then run the production decode —
    * container walk + every-2nd-frame sampling + JDK JPEG raster decode
    * (MediaCodecs.decodeAviMjpegFrames) — and emit per-doc geometry,
    * frame counts, and the RECOVERED gray levels of the sampled frames.
    *
    * Why this gates exactly despite JPEG being lossy: a uniform 16×8
    * frame is flat in every DCT block, so the decoded plane mean lands
    * within ±3 of the encoded gray (pinned by MultimodalSpec), and the
    * four levels sit 64 apart — snapping the mean to the nearest level
    * (round((mean-32)/64)) has 32 gray levels of margin, so the
    * recovered level is bit-deterministic and the oracle can restate it
    * straight from the text bytes without any JPEG arithmetic. The
    * container walk, frame ORDER, every-k sampling, and decoded
    * geometry are all load-bearing: any mis-walk, reorder, or
    * wrong-frame decode flips a level by ≥64 and breaks the hash gate.
    *
    * Scale: one narrow typed map per document — encode and decode never
    * leave the executor, nothing shuffles but the gate sort. At 100 TB
    * the same map runs over stored video blobs instead of synthesized
    * ones; ONE JpegEncoder + ONE RasterDecoder + one reused frame
    * buffer per PARTITION (mapPartitions) keeps imageio registry
    * lookups and temp-file spooling entirely off the hot path.
    */
  def multimodalVideoFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      // need one leading byte per frame (max 4) to pick levels; the
      // oracle twin carries the same WHERE
      .where(octet_length(col("text")) >= 4)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      // mapPartitions, not map: the codec objects are the cost. A
      // per-row ImageIO.write does a synchronized writer-registry
      // lookup AND (useCache=true default) spools each frame through a
      // temp FILE; a per-row RasterDecoder repeats the reader-registry
      // lookup. At 32 threads those serialize on the registry lock and
      // the filesystem — the r9 3.4x bench regression. One encoder,
      // one decoder, one reused frame buffer per PARTITION instead.
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val enc = new graft.ops.MediaCodecs.JpegEncoder
        val dec = new graft.ops.MediaCodecs.RasterDecoder
        val (w, h) = (16, 8)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        rows.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val nf = 2 + (id % 3).toInt
          val jpegs = Array.tabulate(nf) { i =>
            val g = (bytes(i) & 0xff) % 4 * 64 + 32
            val r = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { r.setSample(x, y, 0, g); x += 1 }
              y += 1
            }
            enc.encode(img)
          }
          val avi = graft.ops.MediaCodecs.encodeMjpegAvi(jpegs.toSeq, w, h)
          // production decode: sample every 2nd frame (0, 2, ...)
          val (dw, dh, planes) = graft.ops.MediaCodecs
            .decodeAviMjpegFrames(avi, everyK = 2, dec)
            .getOrElse((0, 0, Seq.empty[Array[Int]])) // unreachable: valid AVI by construction
          val levels = planes.map { p =>
            val mean = p.sum.toDouble / p.length
            val idx = math.round((mean - 32.0) / 64.0).toInt.max(0).min(3)
            (idx * 64 + 32).toLong
          }
          (id, dw.toLong, dh.toLong, nf.toLong, planes.length.toLong,
            levels.head, levels.last, levels.sum)
        }
      }
      .toDF("doc_id", "width", "height", "n_frames", "n_sampled",
        "lv_first", "lv_last", "lv_sum")
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin: the sampled frame levels are a pure function of the
    * text bytes — frame i's level is (byte_i mod 4)*64+32 and every-2nd
    * sampling keeps indices 0,2,… < nf — so the twin restates them
    * directly; geometry is the constant the container was built with.
    */
  val multimodalVideoFramesSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, 2 + doc_id % 3 AS nf FROM documents
      |  WHERE octet_length(encode(text)) >= 4
      |), s AS (
      |  SELECT doc_id, nf,
      |         list_transform(range(0, (nf+1)//2), k ->
      |           (unicode(text[2*k+1]) % 4) * 64 + 32) AS lv
      |  FROM m
      |)
      |SELECT doc_id, CAST(16 AS BIGINT) AS width, CAST(8 AS BIGINT) AS height,
      |       CAST(nf AS BIGINT) AS n_frames, CAST(len(lv) AS BIGINT) AS n_sampled,
      |       CAST(lv[1] AS BIGINT) AS lv_first, CAST(lv[len(lv)] AS BIGINT) AS lv_last,
      |       CAST(list_sum(lv) AS BIGINT) AS lv_sum
      |FROM s ORDER BY doc_id""".stripMargin

  /** `multimodal_scene_change` — shot-boundary detection over the REAL
    * video decode path: per document, synthesize 4–6 uniform-gray
    * frames (levels from the text bytes, as multimodal_video_frames)
    * into a RIFF/AVI MJPEG container, decode EVERY frame (everyK=1),
    * and flag a cut wherever consecutive decoded frame means differ by
    * ≥ 32 gray levels. The four synthesized levels sit 64 apart and
    * JPEG decode recovers a flat frame's mean within ±3, so the
    * detector is exact on this corpus (any real level change trips it,
    * no JPEG noise can) and the oracle restates cuts straight from the
    * byte-derived levels. This is the standard pretraining video
    * pipeline step — sample at shot boundaries instead of blind
    * every-k — running on genuine container parsing + JPEG decode.
    *
    * Scale: identical to video_frames — one mapPartitions with
    * per-partition codec reuse, nothing shuffles but the gate sort.
    */
  def multimodalSceneChange(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      .where(octet_length(col("text")) >= 6)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val enc = new graft.ops.MediaCodecs.JpegEncoder
        val dec = new graft.ops.MediaCodecs.RasterDecoder
        val (w, h) = (16, 8)
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
        rows.map { case (id, text) =>
          val bytes = text.getBytes("UTF-8")
          val nf = 4 + (id % 3).toInt
          val jpegs = Array.tabulate(nf) { i =>
            val g = (bytes(i % bytes.length) & 0xff) % 4 * 64 + 32
            val r = img.getRaster
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) { r.setSample(x, y, 0, g); x += 1 }
              y += 1
            }
            enc.encode(img)
          }
          val avi = graft.ops.MediaCodecs.encodeMjpegAvi(jpegs.toSeq, w, h)
          val (_, _, planes) = graft.ops.MediaCodecs
            .decodeAviMjpegFrames(avi, everyK = 1, dec)
            .getOrElse((0, 0, Seq.empty[Array[Int]]))
          val means = planes.map(p => p.sum.toDouble / p.length)
          var cuts = 0L
          var firstCut = -1L
          var i = 1
          while (i < means.length) {
            if (math.abs(means(i) - means(i - 1)) >= 32.0) {
              cuts += 1
              if (firstCut < 0) firstCut = i.toLong
            }
            i += 1
          }
          (id, nf.toLong, planes.length.toLong, cuts, firstCut)
        }
      }
      .toDF("doc_id", "n_frames", "n_decoded", "n_cuts", "first_cut")
      .transform(gateSort(_, "doc_id"))
  }

  /** Twin: frame i's decoded mean is its synthesized level within ±3,
    * and levels are 64 apart, so cut ⇔ byte-derived level change; the
    * byte index wraps (i mod len) exactly as the encoder's.
    */
  val multimodalSceneChangeSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, 4 + doc_id % 3 AS nf,
      |         octet_length(encode(text)) AS blen
      |  FROM documents WHERE octet_length(encode(text)) >= 6
      |), s AS (
      |  SELECT doc_id, nf,
      |         list_transform(range(0, nf), i ->
      |           (unicode(text[(i % blen) + 1]) % 4) * 64 + 32) AS lv
      |  FROM m
      |), c AS (
      |  SELECT doc_id, nf, lv,
      |         list_filter(range(1, nf), i -> lv[i+1] != lv[i]) AS cuts
      |  FROM s
      |)
      |SELECT doc_id, CAST(nf AS BIGINT) AS n_frames,
      |       CAST(nf AS BIGINT) AS n_decoded,
      |       CAST(len(cuts) AS BIGINT) AS n_cuts,
      |       CAST(COALESCE(cuts[1], -1) AS BIGINT) AS first_cut
      |FROM c ORDER BY doc_id""".stripMargin

  /** `multimodal_audio_resample` — fractional-rate sample-rate
    * conversion over the REAL WAV decode path: the same synthesized
    * 16-bit PCM containers as `multimodal_wav_decode`, decoded through
    * MediaCodecs.decodeWavBytes, then linearly resampled to 2/3 of the
    * source length (a non-integer ratio, so this exercises true
    * interpolation, not resizePlane's box buckets). Gated features:
    * in/out sample counts and the resampled plane's endpoints and sum —
    * every value exact integer arithmetic (Multimodal.resampleLinear's
    * weighted-sum spelling keeps all operands non-negative, so floor
    * division agrees cross-engine by construction).
    *
    * Scale: one narrow typed map per document, decode and resample
    * never leave the executor; only the gate sort shuffles.
    */
  def multimodalAudioResample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    table(spark, sfDir, "documents")
      // n = min(45, len/2) decoded samples; the interpolation denominator
      // m-1 with m = 2n/3 needs n >= 3 → at least 6 text bytes. Same
      // WHERE in the oracle twin.
      .where(octet_length(col("text")) >= 6)
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val plane = graft.ops.MediaCodecs.decodeWavBytes(docWav(text))
          .getOrElse(Array.empty[Int]) // unreachable: valid PCM WAV by construction
        val m = 2 * plane.length / 3
        val out = graft.ops.Multimodal.resampleLinear(plane, m)
        (id, plane.length.toLong, m.toLong,
          out.head.toLong, out.last.toLong, out.foldLeft(0L)(_ + _))
      }
      .toDF("doc_id", "n_in", "n_out", "r_first", "r_last", "r_sum")
      .transform(gateSort(_, "doc_id"))
  }

  /** DuckDB twin: the decoded PCM plane for ASCII byte pairs (lo, hi)
    * is hi + 128 (the wav gate's established reduction), so the twin
    * rebuilds the plane from the odd-position chars and restates the
    * endpoint-anchored interpolation with the same non-negative
    * weighted-sum floor arithmetic.
    */
  val multimodalAudioResampleSql: String =
    """WITH m0 AS (
      |  SELECT doc_id, text, least(45, length(text)//2) AS n FROM documents
      |  WHERE octet_length(encode(text)) >= 6
      |), p AS (
      |  SELECT doc_id, n, 2*n//3 AS m,
      |         list_transform(range(0, n), i -> unicode(text[2*i+2]) + 128) AS s
      |  FROM m0
      |), r AS MATERIALIZED (
      |  SELECT doc_id, n, m,
      |         list_transform(range(0, m), i ->
      |           (s[(i*(n-1))//(m-1) + 1] * (m-1 - (i*(n-1)) % (m-1))
      |            + s[least((i*(n-1))//(m-1) + 2, n)] * ((i*(n-1)) % (m-1)))
      |           // (m-1)) AS o
      |  FROM p
      |)
      |SELECT doc_id, CAST(n AS BIGINT) AS n_in, CAST(m AS BIGINT) AS n_out,
      |       CAST(o[1] AS BIGINT) AS r_first, CAST(o[m] AS BIGINT) AS r_last,
      |       CAST(list_sum(o) AS BIGINT) AS r_sum
      |FROM r ORDER BY doc_id""".stripMargin

  /** DuckDB twin of the stubbed decode: documents text is pure ASCII in
    * the testdata (verified max codepoint 121), so per-char `unicode()`
    * codes ARE the UTF-8 bytes; [[featureTailSql]] restates the
    * features over them.
    */
  val multimodalFeaturesSql: String =
    s"""WITH m AS MATERIALIZED (
       |  SELECT doc_id, 'text/utf-8' AS media_type, text,
       |         list_transform(range(1, length(text)+1), i -> unicode(text[i])) AS codes
       |  FROM documents
       |)
       |SELECT doc_id, media_type,
       |       octet_length(encode(text)) AS n_bytes,
       |       sha256(text) AS digest,
       |       ${featureTailSql("codes")}
       |FROM m ORDER BY doc_id""".stripMargin

  /** `multimodal_audio_vad` — energy-threshold voice-activity
    * segmentation over the decoded WAV frame energies: a frame is
    * ACTIVE when its energy clears half the document's mean frame
    * energy (integral compare: 2·energy·n ≥ Σenergy — no float
    * threshold), and consecutive active frames merge into segments via
    * the islands-and-gaps trick (frame_idx − row_number is constant
    * within a run). The standard first stage of a speech pipeline:
    * silence is dropped, segments go to the expensive model.
    *
    * Scale: builds on [[multimodalAudioEnergy]]'s REAL decode path
    * (WAV container → samples → frames); the per-doc windows partition
    * by doc_id, so at corpus scale every step is a narrow map or a
    * doc-partitioned window — no global shuffle beyond the gate sort.
    */
  def multimodalAudioVad(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val frames = multimodalAudioEnergy(spark, sfDir)
    val wDoc = Window.partitionBy("doc_id")
    val wOrd = Window.partitionBy("doc_id").orderBy("frame_idx")
    frames
      .withColumn("tot", sum("energy").over(wDoc))
      .withColumn("n", count(lit(1)).over(wDoc))
      .where(col("energy") * 2 * col("n") >= col("tot"))
      .withColumn("grp", col("frame_idx") - row_number().over(wOrd))
      .groupBy("doc_id", "grp")
      .agg(min("frame_idx").as("seg_start"), max("frame_idx").as("seg_end"),
        count(lit(1)).as("n_frames"), sum("energy").as("seg_energy"))
      .select("doc_id", "seg_start", "seg_end", "n_frames", "seg_energy")
      .transform(gateSort(_, "doc_id", "seg_start"))
  }

  val multimodalAudioVadSql: String =
    s"""WITH e AS (
       |$multimodalAudioEnergySql
       |), a AS (
       |  SELECT doc_id, frame_idx, energy,
       |         SUM(energy) OVER (PARTITION BY doc_id) AS tot,
       |         COUNT(*) OVER (PARTITION BY doc_id) AS n
       |  FROM e
       |), act AS (
       |  SELECT doc_id, frame_idx, energy,
       |         frame_idx - row_number()
       |           OVER (PARTITION BY doc_id ORDER BY frame_idx) AS grp
       |  FROM a WHERE energy * 2 * n >= tot
       |)
       |SELECT doc_id,
       |       MIN(frame_idx) AS seg_start,
       |       MAX(frame_idx) AS seg_end,
       |       COUNT(*) AS n_frames,
       |       CAST(SUM(energy) AS BIGINT) AS seg_energy
       |FROM act GROUP BY doc_id, grp
       |ORDER BY doc_id, seg_start""".stripMargin

  /** `multimodal_patch_tokens` — ViT-style patch tokenization (Dosovitskiy
    * 2020): the document raster (12-wide luma plane through the REAL PPM
    * decode, as multimodal_resize) is cut into non-overlapping 4×4
    * patches — 3 per band — and each patch becomes one visual TOKEN:
    * its integer mean luma quantized to 6 bits (DIV 4). This is the
    * vision half of a multimodal LLM pipeline's tokenizer: images enter
    * the sequence model as per-patch discrete codes, and the patch
    * grid / batch shape here is exactly what a learned projection would
    * consume.
    *
    * Scale: one narrow map per document (decode + O(pixels) patch
    * fold), one explode to patch rows — no shuffle before the gate
    * sort; the decode reuses the per-partition codec doctrine.
    */
  def multimodalPatchTokens(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val inW = 12
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val bytes = text.getBytes("UTF-8")
        val h = bytes.length / 3 / inW
        if (h < 4) Seq.empty[(Long, Long, Long, Long)]
        else {
          val plane = graft.ops.MediaCodecs
            .decodePpmLuma(s"P6\n$inW $h\n255\n".getBytes("US-ASCII")
              ++ bytes.take(inW * h * 3))
            .getOrElse(Array.empty[Int])
          for {
            band <- 0 until h / 4
            pc <- 0 until inW / 4
          } yield {
            val sum = (for (r <- 0 until 4; c <- 0 until 4)
              yield plane((band * 4 + r) * inW + pc * 4 + c)).sum.toLong
            val mean = sum / 16
            (id, (band * 3 + pc).toLong, mean, mean / 4)
          }
        }
      }.toDF("doc_id", "patch_id", "mean_luma", "token_id")
      .transform(gateSort(_, "doc_id", "patch_id"))
  }

  val multimodalPatchTokensSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, (length(text)//3)//12 AS h FROM documents
      |), l AS (
      |  SELECT doc_id, h,
      |         list_transform(range(0, 12*h), p ->
      |           (unicode(text[3*p+1]) + unicode(text[3*p+2]) + unicode(text[3*p+3])) // 3) AS luma
      |  FROM m WHERE h >= 4
      |), p AS (
      |  SELECT doc_id, luma,
      |         unnest(range(0, (h//4) * 3)) AS patch_id
      |  FROM l
      |), s AS (
      |  SELECT doc_id, patch_id,
      |         CAST(list_sum(list_transform(range(0, 16), i ->
      |           luma[((patch_id//3)*4 + i//4) * 12 + (patch_id%3)*4 + i%4 + 1]))
      |           // 16 AS BIGINT) AS mean_luma
      |  FROM p
      |)
      |SELECT doc_id, patch_id, mean_luma, mean_luma // 4 AS token_id
      |FROM s ORDER BY doc_id, patch_id""".stripMargin

  /** `multimodal_audio_wht` — per-frame spectral features via the
    * 8-point Walsh–Hadamard transform over the REAL WAV decode: WHT is
    * the integer-exact stand-in for a DFT (coefficients are ±1 linear
    * combinations — used in real codecs as the integer transform), so
    * the whole "frame → frequency-domain features" pipeline stage is
    * gateable where FFT twiddle factors would drift. Reports per frame
    * the DC coefficient, the dominant non-DC sequency (argmax |coef|,
    * ties to the lower sequency), and the spectral energy — which by
    * Parseval equals 8× the time-domain energy, pinned by the spec.
    *
    * Scale: one narrow map per document through the per-partition
    * decode doctrine; 8×8 integer multiply-adds per frame.
    */
  def multimodalAudioWht(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val frameLen = 8
    table(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .flatMap { case (id, text) =>
        val plane = graft.ops.MediaCodecs.decodeWavBytes(docWav(text))
          .getOrElse(Array.empty[Int])
        plane.grouped(frameLen).filter(_.length == frameLen).zipWithIndex
          .map { case (f, fi) =>
            val s = f.map(_ - 128L)
            val coefs = (0 until 8).map(k =>
              (0 until 8).map(j =>
                if (java.lang.Integer.bitCount(k & j) % 2 == 0) s(j)
                else -s(j)).sum)
            val specE = coefs.map(c => c * c).sum
            val dom = (1 until 8)
              .map(k => (math.abs(coefs(k)), k))
              .minBy { case (a, k) => (-a, k) }._2.toLong
            (id, fi.toLong, coefs(0), dom, specE)
          }.toSeq
      }.toDF("doc_id", "frame_idx", "dc", "dom_seq", "spec_energy")
      .transform(gateSort(_, "doc_id", "frame_idx"))
  }

  val multimodalAudioWhtSql: String =
    """WITH m AS MATERIALIZED (
      |  SELECT doc_id, text, least(90, (length(text)//2)*2) AS dl FROM documents
      |), l AS (
      |  SELECT doc_id,
      |         list_transform(range(0, dl//2), i -> unicode(text[2*i+2]) + 128) AS plane
      |  FROM m
      |), f AS (
      |  SELECT doc_id, unnest(range(0, len(plane)//8)) AS frame_idx, plane
      |  FROM l
      |), fr AS MATERIALIZED (
      |  SELECT doc_id, frame_idx,
      |         list_transform(plane[frame_idx*8 + 1 : frame_idx*8 + 8],
      |                        s -> s - 128) AS s
      |  FROM f WHERE len(plane) >= (frame_idx + 1) * 8
      |), co AS (
      |  SELECT doc_id, frame_idx,
      |         list_transform(range(0, 8), k ->
      |           list_sum(list_transform(range(0, 8), j ->
      |             CASE WHEN bit_count(CAST(k AS INTEGER) & CAST(j AS INTEGER)) % 2 = 0
      |                  THEN s[CAST(j AS INTEGER) + 1]
      |                  ELSE -s[CAST(j AS INTEGER) + 1] END))) AS c
      |  FROM fr
      |)
      |SELECT doc_id, frame_idx,
      |       CAST(c[1] AS BIGINT) AS dc,
      |       CAST((list_min(list_transform(range(1, 8), k ->
      |              struct_pack(na := -abs(c[CAST(k AS INTEGER) + 1]), k := k)))).k
      |            AS BIGINT) AS dom_seq,
      |       CAST(list_sum(list_transform(c, x -> x * x)) AS BIGINT) AS spec_energy
      |FROM co ORDER BY doc_id, frame_idx""".stripMargin

  private val LateDelayUs = 600L * 1000000L

  /** `stream_late_data` — watermark late-data accounting: replaying the
    * event log in ARRIVAL order, an event is LATE when its event time
    * falls more than 10 minutes behind the maximum event time already
    * seen — exactly the rows `withWatermark("ts", "10 minutes")` would
    * drop from an append-mode aggregate. Reported per event type as
    * kept/dropped counts plus the drop rate in ppm — the accounting a
    * pipeline operator watches to size the watermark delay.
    *
    * Arrival model: the generator's log is perfectly time-ordered (no
    * event ever arrives late by event_id — verified on the corpus), so
    * arrival = event time + a deterministic per-source buffering skew,
    * (event_id mod 7)·5 min — seven virtual sources flushing on
    * different cadences, the textbook cause of out-of-order delivery.
    * Both engines derive the same arrival order, so the gate is exact.
    *
    * Scale: the running max is a prefix scan over arrival order —
    * single-partition as a GATE artifact; a real deployment computes
    * per-source-partition watermarks and takes their min, which is how
    * Spark's streaming watermark actually advances (no global sort).
    */
  def streamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    // r21: the running max over arrival order was an unpartitioned
    // window — the one FACT-SIZED single-partition window left in the
    // suite (every event through ONE task). The two-pass prefix max is
    // the same values with no single-task stage (§2); the frame is
    // projected to the four needed columns before the range exchange
    // (§2.3 — the checkpoint would otherwise pin every event column).
    val ev = EventAnalytics.withEventTime(table(spark, sfDir, "events"))
      .withColumn("us", unix_micros(col("ts_utc")))
      .withColumn("arrival",
        col("us") + (col("event_id") % 7) * lit(300L * 1000000L))
      .select("event_id", "event_type", "us", "arrival")
    graft.ops.TwoPassWindow.withRunningMaxExclusive(ev,
        Seq(col("arrival"), col("event_id")), col("us"), "wm_max")
      .withColumn("wm_prev", col("wm_max") - lit(LateDelayUs))
      .withColumn("late",
        when(col("wm_prev").isNotNull && col("us") < col("wm_prev"), 1L)
          .otherwise(0L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum("late").as("n_late"))
      .select(col("event_type"), col("n_events"), col("n_late"),
        expr("n_late * 1000000L DIV n_events").as("late_ppm"))
      .orderBy("event_type")
  }

  val streamLateDataSql: String =
    s"""WITH e AS (
       |  SELECT event_id, event_type, epoch_us(ts) AS us,
       |         epoch_us(ts) + (event_id % 7) * 300000000 AS arrival
       |  FROM events
       |), m AS MATERIALIZED (
       |  SELECT event_type, us,
       |         MAX(us) OVER (ORDER BY arrival, event_id
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
       |           - $LateDelayUs AS wm_prev
       |  FROM e
       |), f AS (
       |  SELECT event_type,
       |         CASE WHEN wm_prev IS NOT NULL AND us < wm_prev
       |              THEN 1 ELSE 0 END AS late
       |  FROM m
       |)
       |SELECT event_type,
       |       COUNT(*) AS n_events,
       |       CAST(SUM(late) AS BIGINT) AS n_late,
       |       CAST(CAST(SUM(late) AS HUGEINT) * 1000000 // COUNT(*)
       |            AS BIGINT) AS late_ppm
       |FROM f GROUP BY event_type ORDER BY event_type""".stripMargin
}
