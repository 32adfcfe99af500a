package graft

import org.apache.spark.sql.DataFrame
import scala.jdk.CollectionConverters._

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, prints ONE JSON line with total + per-query
  * seconds.
  *
  * Methodology: a light warmup first (JVM/JIT, codegen cache, parquet
  * footer reads) so the first timed query doesn't absorb session
  * startup; each query executed through the `noop` sink (full plan runs,
  * including final sorts that a `count()` would let the optimizer drop);
  * the block cache is cleared between queries so one query's cached
  * intermediates can't subsidize another's wall-clock. The suite runs
  * SPARK_GRAFT_BENCH_RUNS times (default 3) as INTERLEAVED full passes
  * and the per-query MEDIAN across passes is reported — single-run
  * wall-clock swings ±2–30 s with background machine load (measured in
  * round 1), and back-to-back repeats let one load burst poison every
  * sample of a query (measured in round 6), which would otherwise swamp
  * round-over-round deltas.
  */
object Bench {
  /** The host's MEASURED physical-core count — encoded as a constant
    * because it is not detectable from inside the guest: lscpu reports
    * 32 cores / 1 thread per core, but the r18 regime measurement
    * (ARCHITECTURE.md item 24) showed 32-thread runs behave exactly
    * like 16 HT-contended physical cores — the calibration loop runs
    * 1.9× SLOWER at 32 threads than at 16, and iterative multi-stage
    * queries (graph kcore/CC family) inflate 2–3.4× from per-partition
    * round overhead. Benchmarks above this width measure scheduler
    * contention, not plan cost, and poison round-over-round
    * comparison (the committed r18 map was re-run at 16 for this
    * reason). This constant keeps the regime rule IN the tool instead
    * of in prose: see [[resolveCpus]].
    */
  val PhysicalCores = 16

  /** Resolve the benchmark thread count. r21 contract (the r20 verdict's
    * scaling-block finding): an EXPLICITLY requested value is HONORED —
    * the driver deliberately sweeps at two widths to measure scaling,
    * and silently clamping its 32 to 16 turned that contrast into
    * 8-vs-16, which at sf0.1 is uninformative. The [[PhysicalCores]]
    * clamp now guards only the DEFAULT (no env set), and the lower
    * bound always holds (`local[0]` has no executor threads and dies
    * deep in Spark's scheduler). An explicit value above the measured
    * physical cores still warns loudly: the oversubscribed regime
    * measures HT/scheduler contention on this VM (32-thread calib is
    * 1.9x slower; iterative queries 2-3.4x) and its absolute seconds
    * are not comparable to 16-thread sweeps except through calib_sec.
    * No state and no env reads (main passes both in), so
    * BenchRegimeSpec can pin the table; warnings go to stderr, which
    * the pin ignores.
    */
  def resolveCpus(requested: Int, explicit: Boolean): (Int, Int) = {
    if (requested < 1) {
      System.err.println(
        s"[bench] SPARK_GRAFT_CPUS=$requested is not a runnable thread " +
        "count (local[0] has no executor threads) — clamping to 1.")
      (1, requested)
    } else if (requested > PhysicalCores && !explicit) {
      System.err.println(
        s"[bench] default thread count $requested exceeds the measured " +
        s"physical-core count $PhysicalCores — clamping to $PhysicalCores.")
      (PhysicalCores, requested)
    } else {
      if (requested > PhysicalCores)
        System.err.println(
          s"[bench] honoring explicit SPARK_GRAFT_CPUS=$requested above " +
          s"the measured physical-core count $PhysicalCores (32 vCPUs = " +
          "16 HT-shared cores on this VM) — this sweep runs in the " +
          "OVERSUBSCRIBED regime; compare absolute seconds across sweeps " +
          "only through calib_sec.")
      (requested, requested)
    }
  }

  /** The shared end of both stdout lines: the thread regime, then
    * calib_sec/parity_sec LAST (the driver records a tail of stdout,
    * and trailing keys survive any prefix truncation). `oversubscribed`
    * says the sweep ran more threads than [[PhysicalCores]], where
    * absolute seconds compare only through calib_sec.
    */
  def lineTail(cpus: Int, cpusRequested: Int, calib: Double, parity: Double): String =
    s""""cpus":$cpus,"cpus_requested":$cpusRequested,"physical_cores":$PhysicalCores,""" +
      s""""oversubscribed":${cpus > PhysicalCores},"calib_sec":$calib,"parity_sec":$parity}"""

  /** [[resolveCpus]] applied to SPARK_GRAFT_CPUS (default
    * [[PhysicalCores]]): the thread regime of every session-building
    * main that times or explains queries.
    */
  def cpusFromEnv(): (Int, Int) = {
    val env = sys.env.get("SPARK_GRAFT_CPUS")
    resolveCpus(env.map(_.toInt).getOrElse(PhysicalCores), explicit = env.isDefined)
  }

  /** parity_sec's reference-equivalent surface — the apples-to-apples
    * number against BASELINE.md. WHITELIST, not a prefix match: the
    * etl_ namespace keeps growing additive operators the reference
    * lacks (profiling, constraints, imputation, sharding, ...) and a
    * prefix rule silently inflated parity_sec as they landed (round 6:
    * 19 s reported vs ~7 s for the actual reference surface). The
    * reference surface is exactly its nine query shapes plus the four
    * transform-layer restatements and the props-JSON extraction.
    */
  val ReferenceSurface: Set[String] = Set(
    "q1_split_part", "q2_cte", "q3_group_avg", "q4_round",
    "q5_join_inner", "q6_view", "q7_group_avg_over_join", "q8_topk",
    "q9_full_select",
    "etl_cell_scrub", "etl_date_parse", "etl_drop_last_n",
    "etl_full_clean", "etl_json_extract")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val (cpus, cpusRequested) = cpusFromEnv()
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def exec(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()

    // warmup: exercise scan + shuffle + agg + join + window machinery
    for (name <- Seq("q3_group_avg", "q5_join_inner", "etl_drop_last_n"))
      try exec(SparkEntry.queries(name)(spark, sfDir))
      catch { case _: Throwable => () }
    spark.catalog.clearCache()

    // force an ODD run count: with even n, pool(n/2) is the WORSE of the
    // two middle runs — round 2 ran at n=2 and every reported number was
    // the max of its pair, which manufactured phantom regressions
    // (q5_salted_join, text_quality). Rounding up keeps at least the
    // requested sample size.
    val runsRaw = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "3").toInt)
    val runs = if (runsRaw % 2 == 0) runsRaw + 1 else runsRaw
    // local-iteration filter: SPARK_GRAFT_BENCH_ONLY=q5_salted_join,text_quality
    // times just those queries (the driver never sets it → full sweep)
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val benched = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    // INTERLEAVED passes, not per-query repeats: a query's samples were
    // previously taken back-to-back, so a minutes-long host load burst
    // (this machine is shared) poisoned ALL of a query's runs and the
    // median couldn't reject it — measured 0.8 s isolated vs 9.6 s
    // mid-sweep for the same query, with a DIFFERENT set of queries
    // inflated on every sweep. Running the whole suite `runs` times
    // round-robin puts each query's samples minutes apart, so a burst
    // lands in at most one pass and the per-query median rejects it.
    val order = benched.toSeq
    val samples = scala.collection.mutable.Map.empty[String, List[(Double, Boolean)]]
      .withDefaultValue(Nil)
    // Fixed CPU-bound calibration task, timed once per pass alongside
    // the suite: a constant synthetic aggregate (hash+sum over a fixed
    // range — no I/O, no data dependence, fully codegen'd), so BENCH_rN
    // files can be normalized for host speed before any cross-round
    // regression triage. Round-over-round per-query medians have moved
    // ~1.9× uniformly with zero code change (host load/CPU contention);
    // calib_sec moves with the host, query/calib ratios move with the
    // plans.
    val calibSamples = scala.collection.mutable.ArrayBuffer.empty[Double]
    def calibrate(): Unit = {
      val t0 = System.nanoTime()
      // bit_xor, not sum: 200M hash longs overflow a SUM under ANSI.
      // Guarded like every benched query: a transient calibration
      // failure must cost one sample, never the whole sweep's record.
      try {
        exec(spark.range(0L, 200000000L, 1L, cpus)
          .select(org.apache.spark.sql.functions.bit_xor(
            org.apache.spark.sql.functions.xxhash64(
              org.apache.spark.sql.functions.col("id"))).as("h")))
        calibSamples += (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[bench] calibration failed: ${e.getMessage}")
      }
    }
    calibrate() // warm the range/hash codegen; sample discarded below
    calibSamples.clear()
    // one calibration sample per pass, interleaved like the queries, so
    // its median sees the same load profile the query medians saw
    for (_ <- 1 to runs) {
      calibrate()
      for ((name, fn) <- order) {
      val t0 = System.nanoTime()
      val ok =
        try { exec(fn(spark, sfDir)); true }
        catch { case e: Throwable =>
          if (!failed.contains(name)) {
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
          }
          false
        }
      val sec = (System.nanoTime() - t0) / 1e9 // capture BEFORE teardown
      samples(name) = (sec, ok) :: samples(name)
      spark.catalog.clearCache()
      // shuffle files and broadcast blocks are reclaimed by the
      // ContextCleaner only when the DRIVER GC collects their
      // references; a tight 100+-query loop barely allocates on the
      // driver heap, so without this nudge state accumulated over
      // hundreds of executions leaks across queries. One explicit GC
      // per execution is noise next to query cost.
      System.gc()
      }
    }
    val results = order.map { case (name, _) =>
      // median over SUCCESSFUL runs only — a fast-failing run would
      // otherwise report a misleadingly small "median" for a broken
      // query (it still lands in `failed` either way)
      val attempts = samples(name)
      val pool = {
        val good = attempts.filter(_._2).map(_._1)
        if (good.nonEmpty) good.sorted else attempts.map(_._1).sorted
      }
      // LOWER middle: a transient failure can leave an even pool even
      // though `runs` is forced odd, and upper-middle would again
      // report the worse of the pair (the round-2 phantom-regression
      // mechanism this file exists to prevent)
      name -> pool((pool.length - 1) / 2)
    }.toMap
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val parity = results.collect {
      case (k, v) if ReferenceSurface(k) => v
    }.sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val calib = {
      val s = calibSamples.sorted
      if (s.isEmpty) 0.0 else s((s.length - 1) / 2)
    }
    // calib_sec/parity_sec LAST in the line: the driver records a tail
    // of stdout, and with these keys at the front BENCH_r06 truncated
    // them away — trailing keys survive any prefix truncation.
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"failed":$failedJson,"queries":$qs,"sf":"$sfDir",${lineTail(cpus, cpusRequested, calib, parity)}"""
    // The driver keeps only a TAIL of stdout, which has truncated away
    // parity_sec and half the per-query map in EVERY round so far
    // (BENCH_r* all carry "parsed": null with ~25-29 of the sweep's
    // 300+ queries) —
    // so round-over-round regression triage was running on an 8 %
    // sample. Persist the full line where it survives:
    //   - target/bench_full.json (scratch, latest run), and
    //   - bench_full_r{N}.json at the repo root — the COMMITTED
    //     per-round artifact; N = max existing BENCH_r*.json round + 1
    //     (the driver writes BENCH_r{N}.json at the NEXT round's start,
    //     so the max present while round N runs is N−1). Overridable
    //     via SPARK_GRAFT_BENCH_FULL_OUT for ad-hoc sweeps.
    val fullOut: java.nio.file.Path =
      sys.env.get("SPARK_GRAFT_BENCH_FULL_OUT")
        .map(java.nio.file.Paths.get(_))
        .getOrElse {
          val cwd = java.nio.file.Paths.get(".")
          val r = "BENCH_r(\\d+)\\.json".r
          val prev =
            try {
              val s = java.nio.file.Files.list(cwd)
              try s.iterator().asScala
                .flatMap(p => r.findFirstMatchIn(p.getFileName.toString)
                  .map(_.group(1).toInt))
                .foldLeft(0)(math.max)
              finally s.close()
            } catch { case scala.util.control.NonFatal(_) => 0 }
          cwd.resolve(s"bench_full_r${prev + 1}.json")
        }
    // a SPARK_GRAFT_BENCH_ONLY partial sweep never writes the per-round
    // artifact (it would silently replace the committed full-sweep
    // record with a partial map); the explicit env override still wins.
    // An INFERRED round path that already exists is likewise refused:
    // the N = max(BENCH_r*)+1 inference assumes the driver's
    // one-bench-per-round cadence, and an ad-hoc rerun (or a run from a
    // cwd with a stale BENCH_r* listing) would otherwise silently
    // replace a committed full-sweep record. Overwrite only via the
    // explicit SPARK_GRAFT_BENCH_FULL_OUT.
    val explicitOut = sys.env.contains("SPARK_GRAFT_BENCH_FULL_OUT")
    val writeRound = (only.isEmpty || explicitOut) && {
      val clash = !explicitOut && java.nio.file.Files.exists(fullOut)
      if (clash)
        System.err.println(s"[bench] NOT overwriting existing $fullOut " +
          "(ad-hoc rerun? set SPARK_GRAFT_BENCH_FULL_OUT to force); " +
          "full map still in target/bench_full.json")
      !clash
    }
    if (writeRound)
      System.err.println(s"[bench] full per-query map -> $fullOut")
    for (out <- Seq(java.nio.file.Paths.get("target", "bench_full.json")) ++
        (if (writeRound) Seq(fullOut) else Nil)) {
      try {
        if (out.getParent != null)
          java.nio.file.Files.createDirectories(out.getParent)
        java.nio.file.Files.write(out,
          (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch { case scala.util.control.NonFatal(_) => () } // stdout still has it
    }
    println(line)
    // The full line above is ~6 KB with 150+ queries and the driver's
    // stdout tail is smaller: BENCH_r08 captured only the line's back
    // half, no line parsed, "parsed": null. Print a SECOND, SHORT line
    // LAST — headline numbers plus only the reference-parity queries and
    // the slowest 15 — so the tail always ends with one parseable
    // record. (Full per-query map: target/bench_full.json + the long
    // line when the tail is big enough.)
    val compactKeys = ReferenceSurface ++
      results.toSeq.sortBy(-_._2).take(15).map(_._1)
    val qsCompact = results.collect {
      case (k, v) if compactKeys(k) =>
        "\"" + k + "\":" + BigDecimal(v).setScale(3, BigDecimal.RoundingMode.HALF_UP)
    }.mkString("{", ",", "}")
    println(
      s"""{"metric":"total","value":$total,"unit":"sec","runs":$runs,"n_queries":${results.size},"failed":$failedJson,"queries":$qsCompact,"sf":"$sfDir",${lineTail(cpus, cpusRequested, calib, parity)}""")
    spark.stop()
  }
}
