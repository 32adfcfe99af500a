package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg (builder-local iteration only; the driver passes
    // two): comma-separated query names to run instead of all of them
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(',').toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // dump the oracle registry BEFORE the query loop (r20): it doesn't
    // depend on query execution, and dumping it last meant a crash
    // mid-loop left a STALE oracle_sql.json from a previous run in the
    // same outDir — the r20 sf10 ladder's first run died of heap
    // pressure after the loop and the checker silently skipped every
    // query the stale dump didn't know about
    writeOracleDump(outDir)
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      // start line BEFORE running (the check_oracle.py 'started'
      // marker, mirrored): a wedged query names itself in the driver's
      // log instead of leaving a silent stall attributable only by
      // diffing iteration order against the ok lines
      System.err.println(s"[verify] $name start")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        System.err.println(
          f"[verify] $name ok ${(System.nanoTime() - t0) / 1e9}%.1fs")
      }
      catch { case e: Throwable =>
        // e.toString, not getMessage: an OutOfMemoryError's message can
        // be null, and the class name is the diagnosis
        System.err.println(s"[verify] $name failed: ${e.toString}")
        // a reused outDir must not let a STALE previous result gate a
        // now-broken query green — remove the query's output entirely so
        // the compare reports a missing result instead
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete(); ()
        }
        rm(new java.io.File(s"$outDir/$name"))
      }
      // frees what the query left in the CacheManager: its hot re-scan
      // frames (Persist.intermediateHot), and under dynamic allocation
      // its cached intermediates; on static executors the others are
      // lazy localCheckpoints the ContextCleaner owns
      spark.catalog.clearCache()
      // same reasoning as Bench's per-query GC: checkpoint/broadcast/
      // shuffle state is reclaimed by the ContextCleaner only when the
      // DRIVER GC collects the references, and a long all-queries run
      // barely allocates driver-side — without the nudge, state
      // accumulated over hundreds of executions leaks across queries
      // (the r20 sf10 ladder lost three queries to exactly this at the
      // 19-query scale that the 13-query r19 run survived)
      System.gc()
    }
    spark.stop()
  }

  /** oracle_sql.json for the driver's DuckDB compare.
    * JSON string escape: backslash, quote, and ALL control chars (<0x20)
    * — a tab or CR in builder-authored SQL would otherwise make the
    * driver's json.load fail and silently zero the round's correctness.
    */
  private def writeOracleDump(outDir: String): Unit = {
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    ()
  }
}
