package wagebench

import java.util.Properties
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable

/** One timed call: a name, its parent span, wall-clock bounds and the
  * Spark work the listener attributed to it (not to its children). */
final class Span(val id: Long, val parent: Long, val name: String,
    val start: Long) {
  var end: Long = start
  val counts: mutable.Map[String, Double] = mutable.Map.empty
  def seconds: Double = (end - start) / 1e9
  def count(k: String): Double = counts.getOrElse(k, 0.0)
}

/** Sums job, stage and task events per span. Events carry the span id
  * through the local property set before each call, so work is
  * attributed by the call that launched it and not by wall-clock
  * window. All callbacks run on the listener-bus thread; readers go
  * through the same lock. */
final class Counters extends SparkListener {
  private val jobSpan = mutable.Map.empty[Int, Long]
  private val stageSpan = mutable.Map.empty[Int, Long]
  private val sums = mutable.Map.empty[Long, mutable.Map[String, Double]]

  private def add(span: Long, k: String, v: Double): Unit = {
    val m = sums.getOrElseUpdate(span, mutable.Map.empty)
    m(k) = m.getOrElse(k, 0.0) + v
  }

  private def spanOf(p: Properties): Option[Long] =
    Option(p).flatMap(q => Option(q.getProperty(Trace.Key))).map(_.toLong)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    spanOf(e.properties).foreach { s =>
      jobSpan(e.jobId) = s
      e.stageIds.foreach(stageSpan(_) = s)
      add(s, "jobs_started", 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobSpan.remove(e.jobId).foreach(add(_, "jobs_ended", 1))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageSpan.get(e.stageInfo.stageId).foreach(add(_, "stages", 1))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageSpan.get(e.stageId).foreach { s =>
      add(s, "tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add(s, "task_run_s", m.executorRunTime / 1e3)
        add(s, "task_cpu_s", m.executorCpuTime / 1e9)
        add(s, "gc_s", m.jvmGCTime / 1e3)
        add(s, "shuffle_write_mb", m.shuffleWriteMetrics.bytesWritten / 1e6)
        add(s, "shuffle_read_mb", m.shuffleReadMetrics.totalBytesRead / 1e6)
        add(s, "fetch_wait_s", m.shuffleReadMetrics.fetchWaitTime / 1e3)
        add(s, "spill_mb", (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6)
        add(s, "input_mb", m.inputMetrics.bytesRead / 1e6)
        add(s, "result_mb", m.resultSize / 1e6)
      }
    }
  }

  def take(span: Long): Map[String, Double] = synchronized {
    sums.remove(span).map(_.toMap).getOrElse(Map.empty)
  }

  def jobsOpen(span: Long): Boolean = synchronized {
    sums.get(span).exists(m =>
      m.getOrElse("jobs_started", 0.0) != m.getOrElse("jobs_ended", 0.0))
  }
}

/** Span recorder: spans stay in memory and are written out when the run
  * ends. A span closes only after the listener bus has drained and every
  * job it started has ended, so its counts are final. */
final class Trace(sc: SparkContext) {
  private val counters = new Counters
  private var stack: List[Span] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  sc.addSparkListener(counters)

  def apply[T](name: String)(body: => T): T = {
    Trace.lastId += 1
    val span = new Span(Trace.lastId, stack.headOption.fold(0L)(_.id), name,
      System.nanoTime())
    stack = span :: stack
    sc.setLocalProperty(Trace.Key, span.id.toString)
    try body
    finally {
      span.end = System.nanoTime()
      settle(span.id)
      span.counts ++= counters.take(span.id)
      stack = stack.tail
      sc.setLocalProperty(Trace.Key, stack.headOption.map(_.id.toString).orNull)
      spans += span
    }
  }

  private def settle(id: Long): Unit = {
    org.apache.spark.wagebench.Bus.drain(sc)
    val deadline = System.nanoTime() + 30000000000L
    while (counters.jobsOpen(id) && System.nanoTime() < deadline) {
      Thread.sleep(1)
      org.apache.spark.wagebench.Bus.drain(sc)
    }
  }

  def close(): Unit = sc.removeSparkListener(counters)

  /** Spans as JSON lines; self time = duration minus child coverage. */
  def json: Seq[String] = {
    val childSum = spans.groupBy(_.parent).view.mapValues(_.map(_.seconds).sum)
    spans.sortBy(_.start).map { s =>
      val self = s.seconds - childSum.getOrElse(s.id, 0.0)
      val counts = s.counts.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""{"id":${s.id},"parent":${s.parent},"name":"${Json.esc(s.name)}",""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"self_s":$self,""" +
        s""""counts":{$counts}}"""
    }.toSeq
  }
}

object Trace {
  val Key = "wagebench.span"
  /** Span ids are unique across all traced passes of a run. */
  private var lastId = 0L
}

object Json {
  def esc(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }
  def str(s: String): String = "\"" + esc(s) + "\""
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
