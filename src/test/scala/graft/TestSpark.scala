package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

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

  /** The result of `body` and the Spark jobs launched while it ran. A
    * marker job launched afterwards bounds the count: the listener bus
    * delivers events in order, so once the marker's start arrives every
    * earlier job start has too.
    */
  def withJobs[T](body: => T): (T, Int) = {
    val marker = "with-jobs-marker"
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains(marker), "marker job never reached the listener")
      (out, groups.asScala.count(_ != marker))
    } finally sc.removeSparkListener(listener)
  }
}
