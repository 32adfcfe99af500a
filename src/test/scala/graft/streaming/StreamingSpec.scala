package graft.streaming

import java.nio.file.{Files, Paths}
import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** True Structured Streaming execution: the SAME hourly aggregation that
  * the driver gate checks in batch, run through readStream → window agg →
  * memory sink, must produce identical results. Watermark + append mode
  * is exercised separately with two micro-batches so late state actually
  * closes.
  */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  // readStream needs a directory containing only the events file
  private def eventsDir: String = {
    val dir = Files.createTempDirectory("graft-events")
    Files.createSymbolicLink(
      dir.resolve("events.parquet"),
      Paths.get(s"${TestSpark.Sf001}/events.parquet"))
    dir.toString
  }

  test("streaming hourly agg (complete mode) == batch hourly agg") {
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = EventAnalytics.hourlyByType(stream)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("hourly_out")
    val want = EventAnalytics.hourlyByType(
      spark.read.parquet(s"${TestSpark.Sf001}/events.parquet"))
    assert(got.count() == 3385L)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming result differs from batch result")
  }

  test("streaming hopping agg (complete mode) == batch hopping agg") {
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = EventAnalytics.hoppingByType(stream, watermark = Some("1 hour"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("hopping_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("hopping_out")
    val want = EventAnalytics.hoppingByType(
      spark.read.parquet(s"${TestSpark.Sf001}/events.parquet"))
    assert(got.count() > 0)
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming hopping result differs from batch result")
  }

  // the file stream source lists flat files only — stage each micro-batch
  // as a single parquet FILE in the watched dir (not a .parquet directory)
  private def stageBatch(df: org.apache.spark.sql.DataFrame, watched: String,
      name: String): Unit = {
    val tmp = Files.createTempDirectory("graft-stage")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet")).findFirst().get()
    Files.move(part, Paths.get(s"$watched/$name"))
  }

  test("flatMapGroupsWithState sessionization matches batch sessionize") {
    import org.apache.spark.sql.functions._
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = EventAnalytics.sessionizeStream(spark, stream, gapMinutes = 240)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    // one micro-batch → every session except each user's final open one
    // is emitted; compare boundaries to the batch computation
    val batch = EventAnalytics.sessionize(
        spark.read.parquet(s"${TestSpark.Sf001}/events.parquet"), 240)
      .withColumn("last_seq",
        max("session_seq").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
      .where(col("session_seq") < col("last_seq"))
      .select(col("user_id"), col("session_seq"),
        col("session_start"), col("session_end"), col("n_events"))
    val got = spark.table("sessions_out")
      .select(col("user_id"), col("session_seq"),
        date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
        date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
        col("n_events"))
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "stateful streaming sessions differ from batch sessions")
  }

  test("streaming CEP matcher equals the batch double-lead recompute") {
    import org.apache.spark.sql.functions._
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = EventAnalytics.cepPatternStream(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("cep_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("us", "event_id")
    val batch = EventAnalytics.withEventTime(
        spark.read.parquet(s"${TestSpark.Sf001}/events.parquet"))
      .select(col("user_id"), col("event_id"),
        unix_micros(col("ts_utc")).as("us"), col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .withColumn("end_us", lead(col("us"), 2).over(w))
      .where(col("event_type") === "view" && col("e2") === "click" &&
        col("e3") === "purchase")
      .select(col("user_id"), col("us").as("start_us"), col("end_us"))
    val got = spark.table("cep_out")
    assert(got.count() > 0)
    assert(got.exceptAll(batch).isEmpty && batch.exceptAll(got).isEmpty,
      "streaming CEP matches differ from the batch recompute")
  }

  test("a CEP pattern spanning the batch boundary still matches") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-events-cep")
    def ev(id: Long, usSec: Long, tpe: String) =
      (id, java.time.LocalDateTime.ofEpochSecond(usSec, 0,
        java.time.ZoneOffset.UTC), 7L, tpe, 1.0, "{}")
    val cols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1 ends mid-pattern: view, click — no emission yet
    stageBatch(Seq(ev(1, 1000, "view"), ev(2, 1010, "click")).toDF(cols: _*),
      dir.toString, "b1.parquet")
    val stream = EventAnalytics.readEventsStream(spark, dir.toString)
    val q = EventAnalytics.cepPatternStream(spark, stream)
      .writeStream.outputMode("append")
      .format("memory").queryName("cep_late")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("cep_late").isEmpty)
      // batch 2 completes the pattern from carried state
      stageBatch(Seq(ev(3, 1020, "purchase")).toDF(cols: _*),
        dir.toString, "b2.parquet")
      q.processAllAvailable()
      val m = spark.table("cep_late").collect()
      assert(m.length == 1)
      assert(m(0).getAs[Long]("user_id") == 7L)
      assert(m(0).getAs[Long]("start_us") == 1000L * 1000000L)
      assert(m(0).getAs[Long]("end_us") == 1020L * 1000000L)
    } finally q.stop()
  }

  test("event-time timeout flushes idle sessions once the watermark passes") {
    import org.apache.spark.sql.functions._
    val dir = Files.createTempDirectory("graft-events-to")
    val all = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet")
      .orderBy("ts").cache()
    val n = all.count()
    stageBatch(all.limit((n / 2).toInt), dir.toString, "b1.parquet")

    val stream = EventAnalytics.readEventsStream(spark, dir.toString)
    val q = EventAnalytics.sessionizeStreamWithTimeout(spark, stream,
        gapMinutes = 240, watermark = "1 minute")
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_to")
      .start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("sessions_to").count()
      // batch 2 advances the watermark weeks past batch-1 activity:
      // every batch-1 session (including each user's LAST, idle one)
      // must now be flushed by timeout — the no-timeout variant would
      // hold those last sessions open forever
      stageBatch(all.exceptAll(all.limit((n / 2).toInt)), dir.toString, "b2.parquet")
      q.processAllAvailable()
      val afterB2 = spark.table("sessions_to").count()
      assert(afterB2 > afterB1)
      // ground truth is the FULL timeline (sessions straddle the batch
      // split; state carries them across). The stream must emit every
      // gap-closed session, plus timeout-flushed finals for users idle
      // ≥ gap before the last watermark; only still-open finals of
      // recently-active users may be absent.
      val wantAll = EventAnalytics.sessionize(all, 240)
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      val wantClosed = EventAnalytics.sessionize(all, 240)
        .withColumn("last_seq", max("session_seq").over(
          org.apache.spark.sql.expressions.Window.partitionBy("user_id")))
        .where(col("session_seq") < col("last_seq"))
        .select(col("user_id"), col("session_start"), col("session_end"), col("n_events"))
      val got = spark.table("sessions_to")
        .select(col("user_id"),
          date_format(timestamp_micros(col("start_us")), "yyyy-MM-dd HH:mm:ss").as("session_start"),
          date_format(timestamp_micros(col("end_us")), "yyyy-MM-dd HH:mm:ss").as("session_end"),
          col("n_events"))
      assert(got.exceptAll(wantAll).isEmpty,
        "stream emitted a session the batch timeline doesn't contain")
      assert(wantClosed.exceptAll(got).isEmpty,
        "a gap-closed session is missing from the stream output")
      val nUsers = all.select("user_id").distinct().count()
      val missing = wantAll.exceptAll(got).count()
      assert(missing <= nUsers,
        s"only per-user still-open finals may be missing, saw $missing > $nUsers")
      assert(afterB2 > wantClosed.count(),
        "timeout must flush at least one idle user's final session")
      // post-timeout reactivation must continue numbering: (user, seq)
      // stays unique across the whole stream output
      val dupKeys = spark.table("sessions_to")
        .groupBy("user_id", "session_seq").count().where(col("count") > 1).count()
      assert(dupKeys == 0L, "duplicate (user_id, session_seq) after timeout flush")
    } finally q.stop()
  }

  test("watermark + append mode emits closed windows across micro-batches") {
    val dir = Files.createTempDirectory("graft-events-2")
    val all = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet")
      .orderBy("ts").cache()
    val n = all.count()
    // batch 1: first half (early event time), batch 2: second half
    stageBatch(all.limit((n / 2).toInt), dir.toString, "b1.parquet")

    val stream = EventAnalytics.readEventsStream(spark, dir.toString)
    val q = EventAnalytics.hourlyByType(stream, Some("2 hours"))
      .writeStream.outputMode("append")
      .format("memory").queryName("hourly_append")
      .start()
    try {
      q.processAllAvailable()
      val afterB1 = spark.table("hourly_append").count()
      // second micro-batch advances the watermark past batch-1 windows
      stageBatch(all.exceptAll(all.limit((n / 2).toInt)), dir.toString, "b2.parquet")
      q.processAllAvailable()
      val afterB2 = spark.table("hourly_append").count()
      val want = EventAnalytics.hourlyByType(all)
      // batch 1 emits only windows older than watermark (max(b1) - 2h);
      // the last ≥2 hours of batch-1 windows must still be open
      val b1Windows = EventAnalytics.hourlyByType(all.limit((n / 2).toInt)).count()
      assert(afterB1 > 0L && afterB1 < b1Windows,
        s"expected partial emission after batch 1, got $afterB1 of $b1Windows")
      assert(afterB2 > afterB1, "advancing event time must close more windows")
      // emitted rows must agree with the batch computation
      assert(spark.table("hourly_append").exceptAll(want).isEmpty,
        "append-mode rows must be a subset of the batch result")
    } finally q.stop()
  }

  test("a cross-batch late event pulls session_start back, matching batch") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-events-late")
    // ts as LocalDateTime → parquet timestamp_ntz, matching EventsSchema
    // (round-9 testdata spelling; earlier rounds shipped nano-longs)
    def ev(id: Long, usSec: Long, v: Double) =
      (id, java.time.LocalDateTime.ofEpochSecond(usSec, 0,
        java.time.ZoneOffset.UTC), 1L, "click", v, "{}")
    val schemaCols = Seq("event_id", "ts", "user_id", "event_type", "value", "props")
    // batch 1: session opens at 10_000s
    stageBatch(Seq(ev(1, 10000, 1.0), ev(2, 10100, 1.0)).toDF(schemaCols: _*),
      dir.toString, "b1.parquet")
    val stream = EventAnalytics.readEventsStream(spark, dir.toString)
    val q = EventAnalytics.sessionizeStream(spark, stream, gapMinutes = 240)
      .writeStream.outputMode("append")
      .format("memory").queryName("late_sessions")
      .start()
    try {
      q.processAllAvailable()
      // batch 2: a LATE event at 9_950s (within gap of the open session)
      // plus a far-future one that closes the session and forces emission
      stageBatch(Seq(ev(3, 9950, 1.0), ev(4, 200000, 1.0)).toDF(schemaCols: _*),
        dir.toString, "b2.parquet")
      q.processAllAvailable()
      val s = spark.table("late_sessions")
        .orderBy("session_seq").collect()(0)
      // batch ground truth: session spans 9_950..10_100 with 3 events —
      // the pre-fix fold kept start_us=10_000s (understating the span)
      assert(s.getAs[Long]("start_us") == 9950L * 1000000L,
        s"late event must pull session_start back: $s")
      assert(s.getAs[Long]("end_us") == 10100L * 1000000L)
      assert(s.getAs[Long]("n_events") == 3L)
    } finally q.stop()
  }

  test("stream-stream interval join matches the batch interval join") {
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    // the same function, both execution modes; the generous watermark
    // keeps nothing late in this one-shot replay, so stream == batch
    val q = EventAnalytics
      .purchaseClickPairs(stream, windowMinutes = 240, watermark = Some("30 days"))
      .writeStream.outputMode("append")
      .format("memory").queryName("interval_join_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("interval_join_out")
    val want = EventAnalytics.purchaseClickPairs(
      spark.read.parquet(s"${TestSpark.Sf001}/events.parquet"), windowMinutes = 240)
    assert(got.count() == 148L, s"sf0.01 ground truth is 148 pairs, got ${got.count()}")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming join result differs from batch join result")
  }

  test("stream-static join enriches the stream without state") {
    import org.apache.spark.sql.functions._
    // static dim: per-user tier derived from the batch table (stands in
    // for any slowly-changing dimension); joining it to a stream needs
    // NO watermark and NO state store — each micro-batch hash-joins
    // against the (broadcast) static side, the standard enrichment shape
    val dim = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet")
      .select(col("user_id")).distinct()
      .withColumn("tier", pmod(col("user_id"), lit(3L)))
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = stream.join(broadcast(dim), "user_id")
      .groupBy("tier").count()
      .writeStream.outputMode("complete")
      .format("memory").queryName("enriched_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("enriched_out").orderBy("tier").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet")
      .join(dim, "user_id").groupBy("tier").count()
      .orderBy("tier").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.map(_._2).sum == 10000L)
  }

  test("stream_enrich's feature-store join runs identically on the live stream") {
    val batchEvents = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet")
    val dim = EventAnalytics.userSegments(batchEvents)
      // materialize the dimension once — in production this is the
      // batch-written feature table, not a live recompute per batch
      .cache()
    val stream = EventAnalytics.readEventsStream(spark, eventsDir)
    val q = EventAnalytics.enrichWithSegments(stream, dim)
      .writeStream.outputMode("append")
      .format("memory").queryName("enrich_out")
      .start()
    try { q.processAllAvailable() } finally q.stop()

    val got = spark.table("enrich_out")
    val want = EventAnalytics.enrichWithSegments(batchEvents, dim)
    assert(got.count() == 10000L, "every event flows through (left join)")
    assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty,
      "streaming enrichment differs from the batch spelling")
    dim.unpersist()
  }

  test("streaming dedup suppresses at-least-once replays with bounded state") {
    val dir = Files.createTempDirectory("graft-events-dd")
    val all = spark.read.parquet(s"${TestSpark.Sf001}/events.parquet").cache()
    val n = all.count()
    stageBatch(all, dir.toString, "delivery1.parquet")

    val stream = EventAnalytics.readEventsStream(spark, dir.toString)
    val q = EventAnalytics.dedupStream(stream, watermark = "30 days")
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == n)
      // the producer retries: the SAME file is delivered again — every
      // row is a duplicate within the watermark horizon and must be
      // suppressed, emitting nothing new
      stageBatch(all, dir.toString, "delivery2.parquet")
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == n,
        "replayed delivery leaked duplicate rows through the stream")
      // emitted stream == batch exact-dedup of the doubled input
      val doubled = all.union(all)
      val batchDedup = doubled.dropDuplicates("event_id")
      assert(spark.table("dedup_out").select("event_id").exceptAll(
        batchDedup.select("event_id")).isEmpty)
    } finally q.stop()
  }
}
