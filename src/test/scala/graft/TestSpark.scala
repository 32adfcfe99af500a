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

  /** The local property that tags the jobs [[withJobs]] counts. */
  private val JobTag = "graft.test.withJobs"

  /** The result of `body` and the Spark jobs it launched. The calling
    * thread carries a unique [[JobTag]] value while `body` runs, and
    * only jobs with that value count: Spark copies local properties
    * into every job the thread submits, and into the threads it starts,
    * so a job from elsewhere in the JVM (another suite's trailing job,
    * a thread that was running already) is left out. A marker job,
    * tagged on its own, bounds the count: the listener bus delivers
    * events in order, so once the marker's start arrives every earlier
    * job start has too.
    */
  def withJobs[T](body: => T): (T, Int) = {
    val tag = java.util.UUID.randomUUID().toString
    val marker = s"$tag-marker"
    val tags = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty(JobTag)))
          .foreach(tags.add)
    }
    val sc = spark.sparkContext
    def tagged[A](value: String)(run: => A): A = {
      val prev = sc.getLocalProperty(JobTag)
      sc.setLocalProperty(JobTag, value)
      try run finally sc.setLocalProperty(JobTag, prev)
    }
    sc.addSparkListener(listener)
    try {
      val out = tagged(tag)(body)
      tagged(marker)(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + 30e9.toLong
      while (!tags.contains(marker) && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(tags.contains(marker), "marker job never reached the listener")
      (out, tags.asScala.count(_ == tag))
    } finally sc.removeSparkListener(listener)
  }
}
