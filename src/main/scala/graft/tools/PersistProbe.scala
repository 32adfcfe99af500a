package graft.tools

import graft.{Bench, GraftSession, SparkEntry}
import graft.ops.Persist

/** Measurement diagnostic (r20): per-query A/B of the
  * [[graft.ops.Persist]] mechanism with everything else fixed — one
  * JVM, one session, INTERLEAVED samples of explicit persist modes, so
  * host-load windows hit both arms equally (the repo's same-window ABA
  * doctrine, but within a single process). Prints per-mode medians.
  *
  * Usage: runMain graft.tools.PersistProbe <sfDir> <runs> <mode,mode,..> <query> [query ...]
  */
object PersistProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val runs = args(1).toInt
    val modes = args(2).split(',').toSeq
    val names = args.drop(3).toSeq
    val spark = GraftSession.builder(Bench.cpusFromEnv()._1).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    def exec(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val s = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      System.gc()
      s
    }
    // warmup both arms once
    for (m <- modes; n <- names) {
      spark.conf.set(Persist.ModeKey, m)
      try exec(n) catch { case e: Throwable =>
        System.err.println(s"[probe] warmup $n failed: ${e.getMessage}") }
    }
    val samples = scala.collection.mutable.Map
      .empty[(String, String), List[Double]].withDefaultValue(Nil)
    for (_ <- 1 to runs; m <- modes; n <- names) {
      spark.conf.set(Persist.ModeKey, m)
      samples((n, m)) = exec(n) :: samples((n, m))
    }
    for (n <- names) {
      val line = modes.map { m =>
        val s = samples((n, m)).sorted
        f"$m=${s((s.length - 1) / 2)}%.2f"
      }.mkString("  ")
      println(f"[probe] $n%-28s $line")
    }
    spark.stop()
  }
}
