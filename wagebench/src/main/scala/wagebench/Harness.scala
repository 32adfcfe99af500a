package wagebench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDate}
import graft.SparkEntry
import graft.etl.{Pipeline, PipelineConfig, Schemas, WageAnalytics}
import graft.sources.{HtmlTableSource, XlsxSource}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{bit_xor, col, xxhash64}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The benchmark's JVM side. It runs one workload on a local[N] session,
  * N = available processors, and writes per-pass timings (and, when
  * traced, per-layer sums and the span list) as JSON for run.py, which
  * checks correctness and prints the metrics.
  *
  * Usage: Harness <workload> <seed> <seconds> <trace 0|1> <inputDir>
  *   <workDir> <resultFile>
  */
object Harness {
  val RefViews: Seq[String] = Seq(
    "q1_split_part", "q2_cte", "q3_group_avg", "q4_round", "q5_join_inner",
    "q6_view", "q7_group_avg_over_join", "q8_topk", "q9_full_select",
    "etl_cell_scrub", "etl_date_parse", "etl_drop_last_n", "etl_full_clean",
    "etl_json_extract")
  val OpsHeavy: Seq[String] = Seq(
    "olap_percentile", "analytics_weighted_median", "analytics_spearman",
    "analytics_rfm", "analytics_markov_stationary", "graph_pagerank",
    "dedup_minhash_lsh", "dedup_sketch_eval", "sim_sparse_cosine",
    "corpus_quality_ensemble")
  val PipelineTasks: Seq[String] = Seq(
    "extract_oews", "extract_onet", "transform_oews", "transform_onet",
    "load_oews", "load_onet", "views", "topk")

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def cpuSeconds(): Double = os.getProcessCpuTime / 1e9
  /** CPU seconds used so far by the live threads, summed per thread name
    * with its digits dropped, from each thread's /proc schedstat (empty
    * where that is not readable). A thread that has ended is missing. */
  def threadSeconds(): Map[String, Double] = {
    val tasks = Option(new File("/proc/self/task").listFiles).toSeq.flatten
    tasks.flatMap { t =>
      try Some(Files.readString(t.toPath.resolve("comm")).trim.replaceAll("[0-9#]", "") ->
        Files.readString(t.toPath.resolve("schedstat")).trim.split(" ")(0).toDouble / 1e9)
      catch { case _: java.io.IOException => None }
    }.groupMapReduce(_._1)(_._2)(_ + _)
  }
  /** CPU seconds of the JIT compiler threads. run.py starts the JVM with
    * a fixed set of them, so none ends and takes its share out of the sum. */
  def jitSeconds(threads: Map[String, Double]): Double =
    threads.collect { case (n, s) if n.contains("CompilerThre") => s }.sum
  private def epochNanos(): Long = {
    val now = Instant.now()
    now.getEpochSecond * 1000000000L + now.getNano
  }
  /** Set-up milestones, as JVM uptime, go to the run's log. */
  def mark(what: String): Unit = System.err.println(
    f"[wagebench] ${ManagementFactory.getRuntimeMXBean.getUptime / 1e3}%.2fs $what")
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, inputDir, workDir,
      resultFile) = args
    val seed = seedArg.toLong
    val traced = traceArg == "1"
    val cpus = Runtime.getRuntime.availableProcessors
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        // the same static conf graft.Bench sets: a session serving many
        // distinct plans must not evict its own generated classes
        .config("spark.sql.codegen.cache.maxEntries", "10000")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$workDir/tmp")
        .config("spark.sql.warehouse.dir", s"$workDir/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      spark
    }
    var spark = session()
    mark("session built")
    val calib = () => {
      val t0 = System.nanoTime()
      noop(spark.range(0L, 50000000L, 1L, cpus)
        .select(bit_xor(xxhash64(col("id"))).as("h")))
      (System.nanoTime() - t0) / 1e9
    }
    calib()
    mark("calibration warmed")

    // Warm-up, part of set-up. For the query workloads it starts with the
    // correctness dump: graft.Verify runs each query once into parquet
    // for tools/check_oracle.py, then stops the session, and the timed
    // passes run on a fresh session in the same JVM. Two more passes are
    // untimed, for both kinds of workload, because the JIT is still
    // compiling heavily after the cold pass: a first timed pass right
    // after it ran 10-30 % slower than the next ones. The JIT keeps
    // compiling 1-5 s per pass for ten more passes; cpu_s leaves that out.
    val queries = workload match {
      case "ref_views" => RefViews
      case "ops_heavy" => OpsHeavy
      case "wage_pipeline" => Nil
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val run: Runner =
      if (queries.isEmpty) new PipelineRunner(spark, inputDir, workDir)
      else {
        graft.Verify.main(Array(inputDir, s"$workDir/verify", queries.mkString(",")))
        mark("verify dump done")
        spark = session()
        new QueryRunner(spark, inputDir, queries, seed)
      }
    for (w <- 1 to 2) {
      run.reset()
      val jit0 = jitSeconds(threadSeconds())
      val warm = run.pass(-w, None)
      mark(f"warm-up pass $w done: ${warm.wall}%.2fs, jit ${jitSeconds(threadSeconds()) - jit0}%.2fs")
    }

    var firstOp = 0L
    val passes = mutable.ArrayBuffer.empty[String]
    val spans = mutable.ArrayBuffer.empty[String]
    val deadline = System.nanoTime() + (secondsArg.toDouble * 1e9).toLong
    // traced runs alternate untraced and traced passes, so the tracing
    // overhead is measured within one run
    var i = 0
    while (i < 2 || System.nanoTime() < deadline) {
      i += 1
      run.reset()
      System.gc()
      val calibS = calib()
      val trace = if (traced && i % 2 == 0) Some(new Trace(spark.sparkContext)) else None
      if (firstOp == 0L) firstOp = epochNanos()
      val cpu0 = cpuSeconds()
      val threads0 = threadSeconds()
      val p = trace.fold(run.pass(i, None))(t => t(s"pass:$i")(run.pass(i, trace)))
      val threads = threadSeconds().map { case (n, s) => n -> (s - threads0.getOrElse(n, 0.0)) }
      // cpu_s leaves out the JIT's threads: they are still finishing the
      // warm-up's compiles, by 1-5 s a pass, as host load lets them
      val jitS = jitSeconds(threads)
      val cpu = cpuSeconds() - cpu0 - jitS
      val layers = trace.map { t =>
        t.close()
        spans ++= t.json
        run.layers(t, p, cpus)
      }.getOrElse(Map.empty)
      passes += Json.obj(Seq(
        "pass" -> i.toString, "traced" -> trace.isDefined.toString,
        "wall_s" -> p.wall.toString, "cpu_s" -> cpu.toString,
        "calib_s" -> calibS.toString, "jit_s" -> jitS.toString,
        "thread_cpu_s" -> Json.obj(threads.toSeq.filter(_._2 >= 0.05).sortBy(-_._2)
          .map { case (n, s) => n -> f"$s%.3f" }),
        "ops" -> Json.arr(p.ops.map { case (n, s, ok) =>
          Json.obj(Seq("name" -> Json.str(n), "wall_s" -> s.toString,
            "ok" -> ok.toString)) }),
        "layers" -> Json.obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> v.toString }),
        "extra" -> p.extra))
    }
    val peakRssMb = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toDouble / 1024)
      .getOrElse(0.0)
    val regime = Json.obj(Seq(
      "cpus" -> cpus.toString,
      "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
      "heap_mb" -> (Runtime.getRuntime.maxMemory / (1 << 20)).toString,
      "gc" -> Json.str(ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getName).mkString(", ")),
      "spark" -> Json.str(spark.version),
      "jvm" -> Json.str(System.getProperty("java.vm.name") + " " +
        System.getProperty("java.runtime.version"))))
    Files.write(Paths.get(s"$workDir/spans.jsonl"), spans.asJava)
    Files.writeString(Paths.get(resultFile), Json.obj(Seq(
      "regime" -> regime, "first_op_epoch_ns" -> firstOp.toString,
      "peak_rss_mb" -> peakRssMb.toString, "passes" -> Json.arr(passes))))
    run.verify(s"$workDir/verify")
    spark.stop()
  }
}

/** One pass's outcome: wall seconds (the sum of its ops), each op's
  * (name, seconds, ok), and workload-specific JSON for run.py. */
final case class PassResult(wall: Double, ops: Seq[(String, Double, Boolean)],
    extra: String = "null")

trait Runner {
  /** Run every op once; with a trace, record spans around each layer. */
  def pass(i: Int, trace: Option[Trace]): PassResult
  /** Untimed housekeeping before each timed pass. */
  def reset(): Unit
  /** Per-layer sums for one traced pass. */
  def layers(t: Trace, p: PassResult, cpus: Int): Map[String, Double]
  /** Untimed correctness output for run.py to check, after the passes. */
  def verify(dir: String): Unit = ()

  protected def timed(name: String)(body: => Unit): (String, Double, Boolean) = {
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Exception =>
        System.err.println(s"[wagebench] $name failed: $e")
        false
    }
    (name, (System.nanoTime() - t0) / 1e9, ok)
  }

  /** Engine counters summed over every span of the pass. */
  protected def sparkLayer(t: Trace, wall: Double, cpus: Int): Map[String, Double] = {
    val keys = Seq("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
      "shuffle_write_mb", "shuffle_read_mb", "fetch_wait_s", "spill_mb",
      "input_mb", "result_mb")
    val sums = keys.map(k => s"spark.$k" -> t.spans.map(_.count(k)).sum).toMap
    val run = sums("spark.task_run_s")
    sums ++ Map(
      "spark.jobs" -> t.spans.map(_.count("jobs_started")).sum,
      "spark.driver_s" -> (wall - run / cpus),
      "spark.slot_busy_frac" -> run / (cpus * wall))
  }
}

/** ref_views and ops_heavy: each op builds one query through
  * SparkEntry.queries and runs it through the noop sink. */
final class QueryRunner(spark: SparkSession, dataDir: String,
    names: Seq[String], seed: Long) extends Runner {
  def pass(i: Int, trace: Option[Trace]): PassResult = {
    val order = new scala.util.Random(seed * 1000003L + i).shuffle(names)
    val ops = order.map { name =>
      val build = SparkEntry.queries(name)
      val r = trace match {
        case None => timed(name)(Harness.noop(build(spark, dataDir)))
        case Some(t) => timed(name)(t(s"op:$name") {
          val df = t("build")(build(spark, dataDir))
          t("plan")(df.queryExecution.executedPlan)
          t("exec")(Harness.noop(df))
        })
      }
      spark.catalog.clearCache()
      r
    }
    PassResult(ops.map(_._2).sum, ops)
  }

  def reset(): Unit = ()

  def layers(t: Trace, p: PassResult, cpus: Int): Map[String, Double] = {
    def sum(name: String, f: Span => Double) =
      t.spans.filter(_.name == name).map(f).sum
    val ops = t.spans.filter(_.name.startsWith("op:")).map(_.seconds).sum
    val layers = Seq("build", "plan", "exec").map(sum(_, _.seconds)).sum
    sparkLayer(t, p.wall, cpus) ++ Map(
      "bench.unattributed_frac" -> (1 - layers / ops),
      "queries.build_s" -> sum("build", _.seconds),
      "queries.build_jobs" -> sum("build", _.count("jobs_started")),
      "spark.plan_s" -> sum("plan", _.seconds),
      "spark.exec_s" -> sum("exec", _.seconds))
  }
}

/** wage_pipeline: the reference DAG's tasks in order, over a generated
  * OEWS page and Skills workbook, loading catalog tables that reset()
  * empties so every pass does equal work. */
final class PipelineRunner(spark: SparkSession, inputDir: String,
    workDir: String) extends Runner {
  private val html = s"$inputDir/oews.html"
  private val xlsx = s"$inputDir/skills.xlsx"
  private val cfg = PipelineConfig(s"$workDir/stages", LocalDate.of(2024, 1, 1))
  private val inputBytes = new File(html).length + new File(xlsx).length
  private var top: Array[org.apache.spark.sql.Row] = Array.empty

  private def tasks(trace: Option[Trace]): Seq[(String, () => Unit)] = {
    // traced passes compose Pipeline.extractOews/extractOnet from the
    // same public calls so the sources layer gets its own span
    def span[T](name: String)(body: => T): T = trace.fold(body)(_(name)(body))
    Seq(
      "extract_oews" -> (() => trace match {
        case None => Pipeline.extractOews(spark, cfg, Files.readString(Paths.get(html)))
        case Some(_) => Pipeline.writeStage(span("sources.html_parse")(
          HtmlTableSource.toDataFrame(spark, Files.readString(Paths.get(html)))),
          cfg, "oews_raw")
      }),
      "extract_onet" -> (() => trace match {
        case None => Pipeline.extractOnet(spark, cfg, xlsx)
        case Some(_) => Pipeline.writeStage(
          span("sources.xlsx_typed")(XlsxSource.readTyped(spark, xlsx)),
          cfg, "onet_skills_raw")
      }),
      "transform_oews" -> (() => Pipeline.transformOews(spark, cfg)),
      "transform_onet" -> (() => Pipeline.transformOnet(spark, cfg)),
      "load_oews" -> (() => Pipeline.loadOews(spark, cfg)),
      "load_onet" -> (() => Pipeline.loadOnet(spark, cfg)),
      "views" -> (() => WageAnalytics.createViews(spark, persistent = true)),
      "topk" -> (() => top = WageAnalytics.topTitlesByWage(spark, 10).collect()))
  }

  def pass(i: Int, trace: Option[Trace]): PassResult = {
    top = Array.empty
    val ops = tasks(trace).map { case (name, body) =>
      timed(name)(trace.fold(body())(_(s"etl.$name")(body())))
    }
    PassResult(ops.map(_._2).sum, ops, topJson)
  }

  private def topJson: String = Json.arr(top.map(r =>
    Json.arr(Seq(Json.str(r.getString(0)), String.valueOf(r.get(1))))).toSeq)

  def reset(): Unit = {
    Seq("vw_oews_avg_over_onet", "vw_onet_closest_oews")
      .foreach(v => spark.sql(s"DROP VIEW IF EXISTS $v"))
    Seq("oews_by_state", "onet_skills")
      .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    Schemas.ensureTables(spark)
    spark.catalog.clearCache()
  }

  private def files(dir: File): Seq[File] =
    Option(dir.listFiles).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) files(f) else Seq(f))

  def layers(t: Trace, p: PassResult, cpus: Int): Map[String, Double] = {
    def secs(name: String) = t.spans.filter(_.name == name).map(_.seconds).sum
    val written = files(new File(s"$workDir/stages")) ++
      files(new File(s"$workDir/warehouse"))
    val bytes = written.map(_.length).sum.toDouble
    // parse-only cost of the two driver-local parsers, timed outside the
    // pass: inside the DAG they run nested in toDataFrame/readTyped
    val page = Files.readString(Paths.get(html))
    val t0 = System.nanoTime()
    HtmlTableSource.extractTable(page)
    val t1 = System.nanoTime()
    XlsxSource.readRaw(xlsx)
    val t2 = System.nanoTime()
    val tasks = Harness.PipelineTasks.map(n => s"etl.${n}_s" -> secs(s"etl.$n"))
    val pass = t.spans.filter(_.name.startsWith("pass:")).map(_.seconds).sum
    sparkLayer(t, p.wall, cpus) ++ tasks ++ Map(
        "bench.unattributed_frac" -> (1 - tasks.map(_._2).sum / pass),
        "etl.bytes_written_mb" -> bytes / 1e6,
        "etl.files_written" -> written.size.toDouble,
        "etl.write_amp" -> bytes / inputBytes,
        "sources.html_parse_s" -> (t1 - t0) / 1e9,
        "sources.xlsx_parse_s" -> (t2 - t1) / 1e9,
        "sources.xlsx_typed_s" -> secs("sources.xlsx_typed"),
        "sources.xlsx_typed_jobs" -> t.spans.filter(_.name == "sources.xlsx_typed")
          .map(_.count("jobs_started")).sum)
  }

  /** The last pass's loaded tables and view sizes, for the ground-truth
    * compare. Rows as JSON lines; the parsed date as its string form. */
  override def verify(dir: String): Unit = {
    new File(dir).mkdirs()
    def dump(df: DataFrame, name: String): Unit =
      Files.write(Paths.get(s"$dir/$name.jsonl"),
        df.toJSON.collect().toSeq.asJava)
    dump(spark.table("oews_by_state"), "oews")
    dump(spark.table("onet_skills").withColumn("date", col("date").cast("string")),
      "onet")
    Files.writeString(Paths.get(s"$dir/counts.json"), Json.obj(Seq(
      "join_rows" -> spark.table("vw_onet_closest_oews").count().toString,
      "avg_view_rows" -> spark.table("vw_oews_avg_over_onet").count().toString,
      "top10" -> topJson)))
  }
}
