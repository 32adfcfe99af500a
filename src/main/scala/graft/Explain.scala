package graft

/** Plan-audit diagnostic: prints the formatted physical plan for the
  * named queries (or all). Used to check that scans carry PushedFilters
  * and pruned ReadSchema, small joins broadcast, and operators sit inside
  * WholeStageCodegen spans. Plans at the bench's thread count
  * ([[Bench.cpusFromEnv]]), so they match the regime the bench measures.
  *
  * Usage: runMain graft.Explain [sfDir] [queryName ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = if (args.length > 1) args.tail.toSeq else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.builder(Bench.cpusFromEnv()._1).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { name =>
      println(s"\n========== $name ==========")
      try println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
      catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
    }
    spark.stop()
  }
}
