package graft.streaming

import graft.ops.ExactAgg.{cents, exactSum}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Event-stream analytics over the `events` table, written so the SAME
  * transform runs in batch (driver oracle gate) and under Structured
  * Streaming (readStream → watermark → window agg; see StreamingSpec).
  *
  * The testdata parquet stores `ts` as TIMESTAMP(NANOS), which Spark
  * surfaces as a nano-long under `nanosAsLong`; `withEventTime` converts
  * to a microsecond TimestampType (floor), matching DuckDB's `epoch_us`
  * truncation so cross-engine comparisons stay exact.
  *
  * Scale: tumbling-window aggregation is partial+final HashAggregate on
  * (window, type) — map-side combined, no skew risk beyond event_type
  * cardinality. Sessionization shuffles once on user_id; per-user event
  * counts are bounded, so the per-partition sort inside the window
  * operator is small. In streaming, the same aggregation is incremental
  * with watermark-bounded state.
  */
// Serializable: the flatMapGroupsWithState closures call foldSessions and
// therefore capture this object, which ships to executors
object EventAnalytics extends Serializable {

  /** Explicit read schema for the file stream source. The round-9
    * testdata ships events.ts as parquet timestamp[us] with
    * isAdjustedToUTC=false, which Spark surfaces as TIMESTAMP_NTZ
    * (earlier rounds shipped INT64 TIMESTAMP(NANOS), surfaced as a
    * nano-long under nanosAsLong — [[withEventTime]] still accepts that
    * spelling for frames normalized by RefQueries.table).
    */
  val EventsSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", org.apache.spark.sql.types.TimestampNTZType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** ts → TimestampType `ts_utc`, accepting both shipped spellings.
    *
    * Nano-long arm: INTEGER division (`div`) — `/` is double division
    * and modern-epoch nanos exceed 2^53, so floor(double(ts)/1000) is
    * off by 1µs for ~13% of values; `div` keeps the conversion exact
    * and bit-aligned with DuckDB epoch_us. Timestamp arm: the NTZ→TS
    * cast reads the wall clock in the session TZ, which every entry
    * point pins to UTC — same instants as epoch_us on the oracle side.
    */
  def withEventTime(events: DataFrame): DataFrame =
    events.withColumn("ts_utc",
      if (events.schema("ts").dataType == LongType)
        timestamp_micros(expr("ts div 1000"))
      else col("ts").cast(org.apache.spark.sql.types.TimestampType))

  /** The event-time frame, watermarked when `watermark` is set (a
    * streaming caller's state bound; a no-op on a batch frame).
    */
  private def eventTime(events: DataFrame, watermark: Option[String]): DataFrame = {
    val base = withEventTime(events)
    watermark.fold(base)(w => base.withWatermark("ts_utc", w))
  }

  /** Tumbling 1-hour window aggregation per event type. Runs unchanged on
    * a streaming DataFrame, where `watermark` enables append mode; the
    * caller picks the sink and output mode (see StreamingSpec).
    */
  def hourlyByType(events: DataFrame,
      watermark: Option[String] = None): DataFrame =
    eventTime(events, watermark)
      .groupBy(window(col("ts_utc"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  /** Gap-based sessionization (batch form): a new session starts when the
    * gap to the previous event of the same user exceeds `gapMinutes`.
    * Gaps compared in integer microseconds on both engines — exact.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy("ts_utc", "event_id")
    val gapUs = gapMinutes * 60L * 1000000L
    withEventTime(events)
      .withColumn("us", unix_micros(col("ts_utc")))
      .withColumn("new_session",
        when(lag("us", 1).over(byUser).isNull ||
          col("us") - lag("us", 1).over(byUser) > gapUs, 1L).otherwise(0L))
      .withColumn("session_seq",
        sum("new_session").over(byUser.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_seq")
      .agg(
        date_format(min(col("ts_utc")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(max(col("ts_utc")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        count(lit(1)).as("n_events"),
        exactSum(col("value")).as("sum_value"))
  }

  /** Hopping (sliding) windows: every event lands in duration/slide
    * overlapping windows — here 2h/30min = 4. Spark expands the event to
    * its windows map-side (an `Expand`, no extra shuffle vs tumbling);
    * state in the streaming form is bounded by watermark × window count.
    */
  def hoppingByType(events: DataFrame,
      watermark: Option[String] = None): DataFrame =
    eventTime(events, watermark)
      .groupBy(
        window(col("ts_utc"), "2 hours", "30 minutes").as("w"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"), exactSum(col("value")).as("sum_value"))
      .select(
        date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))

  def readEventsStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(EventsSchema).parquet(dir)

  /** Static per-user dimension for the stream-static enrichment: each
    * purchasing user's lifetime purchase revenue in exact cents plus
    * its descending ntile(5) quintile (1 = highest spenders; ties
    * break on user_id, so labels are deterministic). This is the
    * "feature store" table a streaming pipeline precomputes in batch
    * and joins into live traffic. Dimension-sized: one row per
    * purchasing user.
    */
  def userSegments(events: DataFrame): DataFrame = {
    val ltv = events.where(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(sum(cents(col("value"))).as("ltv_c"))
    // r21: exact quintiles via the two-pass global ntile (§2 offset
    // correction) — the per-user frame previously sorted through ONE
    // task. Batch-side only: this dimension is precomputed on a static
    // frame (the helper runs driver-side jobs at build time, which a
    // streaming plan would reject — exactly the batch/stream split the
    // scaladoc above describes).
    graft.ops.TwoPassWindow.withNtile(ltv, 5,
      Seq(col("ltv_c").desc, col("user_id")), "segment")
  }

  /** Stream-static broadcast enrichment — THE most common production
    * streaming join: live events LEFT-join a precomputed batch
    * dimension ([[userSegments]]); users outside the dimension keep
    * flowing with segment 0 (an inner join would silently drop them).
    * One function, both engines-of-execution: on a batch frame it is a
    * plain broadcast hash join (the driver-gated `stream_enrich`); on
    * a streaming frame Spark plans the static side as a broadcast
    * rebuilt per micro-batch — no state store, no watermark needed,
    * unbounded-stream-safe by construction (StreamingSpec drives it
    * through readStream → memory sink).
    */
  def enrichWithSegments(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("user_id"), "left")
      .select(col("event_id"), col("user_id"), col("event_type"),
        coalesce(col("segment"), lit(0L)).as("segment"),
        coalesce(col("ltv_c"), lit(0L)).as("user_ltv_c"))

  /** Stream-stream interval join: every (purchase, click) pair of the
    * same user with the click inside [purchase − windowMinutes,
    * purchase]. One function, both engines-of-execution: on batch
    * frames the watermark is a no-op and this is a plain shuffled
    * equi-join on user_id with a range residual (the driver-gated
    * `stream_join_interval`); on streaming frames the SAME expression
    * plans as Spark's stream-stream join, where the watermarks plus the
    * two-sided time bound let the state store evict rows older than
    * watermark − window — bounded state, the only spelling that
    * survives an unbounded stream. Times join on TimestampType (the
    * state-eviction analysis requires it) and surface as integer µs.
    */
  def purchaseClickPairs(events: DataFrame, windowMinutes: Int,
      watermark: Option[String] = None): DataFrame = {
    def side(tpe: String, id: String, user: String, ts: String): DataFrame =
      eventTime(events.where(col("event_type") === tpe), watermark)
        .select(col("event_id").as(id), col("user_id").as(user),
          col("ts_utc").as(ts))
    val p = side("purchase", "purchase_id", "p_user", "p_ts")
    val c = side("click", "click_id", "c_user", "c_ts")
    p.join(c,
        col("p_user") === col("c_user") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $windowMinutes MINUTES") &&
          col("c_ts") <= col("p_ts"))
      .select(
        col("purchase_id"), col("p_user").as("user_id"),
        unix_micros(col("p_ts")).as("p_us"),
        col("click_id"), unix_micros(col("c_ts")).as("c_us"),
        (unix_micros(col("p_ts")) - unix_micros(col("c_ts"))).as("gap_us"))
  }

  /** Streaming exact dedup — the streaming form of `Dedup.exact` for an
    * at-least-once ingest stream (replayed files, retried producers):
    * keep the FIRST occurrence of each key, with state bounded by the
    * watermark horizon. `dropDuplicatesWithinWatermark` evicts a key's
    * state once the watermark passes its event time, so state is
    * O(keys within horizon); a plain `dropDuplicates` on a stream never
    * evicts and grows without bound — the difference between a pipeline
    * that survives a month of uptime and one that OOMs.
    */
  def dedupStream(events: DataFrame, watermark: String,
      keys: Seq[String] = Seq("event_id")): DataFrame =
    withEventTime(events)
      .withWatermark("ts_utc", watermark)
      .dropDuplicatesWithinWatermark(keys.head, keys.tail: _*)

  // ---- custom stateful streaming: sessionization with explicit state --

  final case class Event(event_id: Long, user_id: Long, us: Long, value: Double)
  /** Timeout variant keeps the watermarked timestamp column — projecting
    * it away severs the watermark and EventTimeTimeout refuses to plan.
    */
  final case class EventT(event_id: Long, user_id: Long, us: Long,
      value: Double, ts_utc: java.sql.Timestamp)
  /** n == 0 marks "no open session, but remember the sequence counter":
    * a timeout flush keeps this sentinel so a user who reactivates after
    * an idle flush continues numbering instead of reusing session_seq=1
    * (duplicate (user_id, session_seq) keys downstream). Per-user state
    * stays O(1) either way.
    */
  final case class SessionState(
      sessionSeq: Long, startUs: Long, lastUs: Long, n: Long, sum: Double)
  final case class Session(
      user_id: Long, session_seq: Long, start_us: Long, end_us: Long,
      n_events: Long, sum_value: Double)

  // ---- custom stateful streaming: CEP sequence matching ---------------

  final case class CepEv(event_id: Long, user_id: Long, us: Long,
      event_type: String)
  /** Last two events of the user's sequence, oldest first — the ENTIRE
    * per-user state a strict-contiguity 3-step matcher needs (O(1),
    * the bounded-state requirement; a k-step pattern keeps k−1).
    */
  final case class CepState(t1: String, us1: Long, t2: String, us2: Long)
  final case class CepMatch(user_id: Long, start_us: Long, end_us: Long)

  /** Streaming spelling of the view→click→purchase CEP matcher
    * (StreamQueries.streamCepPattern is the batch/oracle twin): per
    * user, `flatMapGroupsWithState` slides a 3-event window and EMITS a
    * match event the moment its `purchase` arrives — the push-based CEP
    * contract, vs the batch form's corpus-wide aggregate. Within a
    * micro-batch events sort by (us, event_id) like every stateful op
    * here; across batches the file-replay order is the stream order
    * (a production deployment puts a watermark + buffer in front for
    * cross-batch disorder, the sessionizeStreamWithTimeout doctrine).
    */
  def cepPatternStream(spark: SparkSession,
      events: DataFrame): org.apache.spark.sql.Dataset[CepMatch] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

    def fn(userId: Long, it: Iterator[CepEv],
        state: GroupState[CepState]): Iterator[CepMatch] = {
      val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
      val out = scala.collection.mutable.ArrayBuffer.empty[CepMatch]
      var st = state.getOption.getOrElse(CepState("", -1L, "", -1L))
      evs.foreach { e =>
        if (st.t1 == "view" && st.t2 == "click" && e.event_type == "purchase")
          out += CepMatch(userId, st.us1, e.us)
        st = CepState(st.t2, st.us2, e.event_type, e.us)
      }
      state.update(st)
      out.iterator
    }

    withEventTime(events)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts_utc")).as("us"), col("event_type"))
      .as[CepEv]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }

  /** Shared per-batch session fold (both streaming variants call this —
    * the gap rule must never drift between them). Late events within the
    * watermark DO reach flatMapGroupsWithState: an event older than the
    * open session's lastUs extends the session without regressing lastUs
    * (a regressed lastUs would inflate the next gap and spuriously
    * split), and an event older than startUs PULLS startUs back
    * (matching batch sessionize's min(ts) — keeping the later start
    * would understate the session span; round-2 review finding).
    * Returns (closed sessions to emit, new state or null).
    */
  private[streaming] def foldSessions(userId: Long,
      evs: Seq[(Long, Long, Double)], // (us, event_id, value) — caller sorts
      init: SessionState, gapUs: Long): (Seq[Session], SessionState) = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Session]
    var st = init
    evs.foreach { case (us, _, value) =>
      st match {
        case null =>
          st = SessionState(1L, us, us, 1L, value)
        case s if s.n == 0L => // post-timeout sentinel: resume numbering
          st = SessionState(s.sessionSeq + 1, us, us, 1L, value)
        case s if us - s.lastUs > gapUs =>
          out += Session(userId, s.sessionSeq, s.startUs, s.lastUs, s.n, s.sum)
          st = SessionState(s.sessionSeq + 1, us, us, 1L, value)
        case s =>
          st = s.copy(startUs = math.min(s.startUs, us),
            lastUs = math.max(s.lastUs, us), n = s.n + 1, sum = s.sum + value)
      }
    }
    (out.toSeq, st)
  }

  /** Production variant of `sessionizeStream`: event-time TIMEOUT flushes
    * idle sessions once the watermark passes last-event + gap. After a
    * flush the per-user state shrinks to a sequence-counter sentinel
    * (n=0) rather than vanishing, so a reactivating user continues
    * session numbering — state stays O(1) per user either way, which is
    * the bounded-state requirement at stream scale. Input must carry the
    * watermark (applied here).
    */
  def sessionizeStreamWithTimeout(spark: SparkSession, events: DataFrame,
      gapMinutes: Int, watermark: String): org.apache.spark.sql.Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, it: Iterator[EventT],
        state: GroupState[SessionState]): Iterator[Session] = {
      if (state.hasTimedOut) {
        // watermark passed last-event + gap with no new events: the open
        // session is definitively closed — emit, keep a seq-counter
        // sentinel (n=0) so a reactivating user continues numbering
        val s = state.get
        state.update(s.copy(n = 0L))
        return Iterator.single(
          Session(userId, s.sessionSeq, s.startUs, s.lastUs, s.n, s.sum))
      }
      val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
        .map(e => (e.us, e.event_id, e.value))
      val (out, st) = foldSessions(userId, evs, state.getOption.orNull, gapUs)
      if (st != null) {
        state.update(st)
        if (st.n > 0L) {
          // clamp above the current watermark: a late-but-admitted event
          // can leave lastUs + gap behind the watermark, and
          // setTimeoutTimestamp rejects timestamps the watermark passed
          val want = st.lastUs / 1000L + gapMinutes * 60L * 1000L
          val floor = state.getCurrentWatermarkMs() + 1L
          state.setTimeoutTimestamp(math.max(want, floor))
        }
      }
      out.iterator
    }

    withEventTime(events)
      .withWatermark("ts_utc", watermark)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts_utc")).as("us"), col("value"), col("ts_utc"))
      .as[EventT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout)(fn)
  }

  /** Streaming sessionization via `flatMapGroupsWithState`: per-user
    * explicit state (open session), emitting a session whenever the gap
    * rule closes it. The custom-state analog of `sessionize` — see
    * StreamingSpec for the batch-vs-stream equivalence check on all
    * sessions closed by end-of-stream.
    *
    * State is O(1) per user (one open session), the canonical bounded-
    * state shape for 100 TB streams; a production deployment adds a
    * state timeout to flush idle users.
    */
  def sessionizeStream(spark: SparkSession, events: DataFrame,
      gapMinutes: Int): org.apache.spark.sql.Dataset[Session] = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val gapUs = gapMinutes * 60L * 1000000L

    def fn(userId: Long, it: Iterator[Event],
        state: GroupState[SessionState]): Iterator[Session] = {
      // events within a micro-batch are not ordered; sort this batch
      val evs = it.toSeq.sortBy(e => (e.us, e.event_id))
        .map(e => (e.us, e.event_id, e.value))
      val (out, st) = foldSessions(userId, evs, state.getOption.orNull, gapUs)
      if (st != null) state.update(st)
      out.iterator
    }

    withEventTime(events)
      .select(col("event_id"), col("user_id"),
        unix_micros(col("ts_utc")).as("us"), col("value"))
      .as[Event]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.NoTimeout)(fn)
  }
}
