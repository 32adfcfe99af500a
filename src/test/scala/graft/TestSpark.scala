package graft

import org.apache.spark.sql.SparkSession

/** One shared session for the whole forked test JVM. */
object TestSpark {
  lazy val spark: SparkSession = {
    val s = GraftSession.builder(8)
      .appName("graft-test")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-wh").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  val RefData = "/root/reference/airflow_pipeline/data"
  val Sf0001 = "/root/testdata/sf0.001"
  val Sf001 = "/root/testdata/sf0.01"
}
