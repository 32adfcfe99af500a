package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TestSpark.withJobs]]: it counts the jobs its body starts,
  * from its own thread or a thread it starts, and none that another
  * thread starts at the same time.
  */
class TestSparkSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("withJobs counts the body's jobs and leaves out a job another " +
      "thread starts while the body runs") {
    val sc = spark.sparkContext
    def job(): Unit = { sc.parallelize(1 to 4, 2).count(); () }
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // built before withJobs tags the calling thread, so this thread
    // does not inherit the tag
    val other = new Thread(() => {
      go.await()
      try job() finally done.countDown()
    })
    other.setDaemon(true)
    other.start()
    val (_, jobs) = TestSpark.withJobs {
      job()
      val child = new Thread(() => job())
      child.start()
      child.join()
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS), "the other thread's job hung")
    }
    other.join()
    assert(jobs == 2, s"jobs=$jobs")
  }
}
