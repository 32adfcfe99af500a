package graft.sources

import graft.TestSpark
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** XlsxSource on workbooks written by [[XlsxFixture]]: the reader's cell
  * forms, and `readTyped`'s driver-side type inference against the rule
  * it replaced — one Spark aggregate of try_cast probes plus a count.
  */
class XlsxTypedReadSpec extends AnyFunSuite {
  import XlsxFixture._
  lazy val spark = TestSpark.spark

  private lazy val dir = Files.createTempDirectory("graft-xlsx").toString
  private var n = 0
  private def workbook(header: Seq[String], rows: Seq[Seq[Cell]],
      refs: Boolean = true): String = {
    n += 1
    val path = s"$dir/w$n.xlsx"
    XlsxFixture.write(path, header, rows, refs)
    path
  }

  /** The inference rule as a Spark aggregate over try_cast probes — the
    * oracle `readTyped` must agree with on schema and rows.
    */
  private def oracle(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val raw = XlsxSource.read(spark, path)
    val probes = raw.columns.flatMap { c =>
      Seq(
        count(col(c)).as(s"nn_$c"),
        count(expr(s"try_cast(`$c` AS BIGINT)")).as(s"lg_$c"),
        count(expr(s"try_cast(`$c` AS DOUBLE)")).as(s"db_$c"))
    }
    val stats = raw.agg(probes.head, probes.tail.toIndexedSeq: _*).collect()(0)
    val total = raw.count()
    val cols = raw.columns.map { c =>
      val nn = stats.getAs[Long](s"nn_$c")
      val lg = stats.getAs[Long](s"lg_$c")
      val db = stats.getAs[Long](s"db_$c")
      if (nn == total && nn > 0 && lg == nn) expr(s"CAST(`$c` AS BIGINT)").as(c)
      else if (nn > 0 && db == nn) expr(s"CAST(`$c` AS DOUBLE)").as(c)
      else col(c)
    }
    raw.select(cols.toIndexedSeq: _*)
  }

  private def assertParity(path: String): DataFrame = {
    val got = XlsxSource.readTyped(spark, path)
    val want = oracle(spark, path)
    assert(got.schema == want.schema)
    assert(got.collect().toSeq == want.collect().toSeq)
    got
  }

  private def types(df: DataFrame) = df.schema.fields.map(_.dataType).toSeq

  /** Jobs launched while `body` runs. A marker job launched afterwards
    * bounds the count: the listener bus delivers events in order, so once
    * the marker's start arrives every earlier job start has too.
    */
  private def jobsDuring(body: => Unit): Int = {
    val groups = new ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        groups.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobGroup("xlsx-marker", "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30e9.toLong
      while (!groups.contains("xlsx-marker") && System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(groups.contains("xlsx-marker"), "marker job never reached the listener")
      groups.asScala.count(_ != "xlsx-marker")
    } finally sc.removeSparkListener(listener)
  }

  test("reader: shared and inline strings, numbers, booleans, sparse rows, rich text") {
    val path = workbook(Seq("a", "b", "c"), Seq(
      Seq(Shared("x y"), Num("4.12"), Bool(true)),
      Seq(Inline("plain"), null, Bool(false)),
      Seq(null, Inline("ri", "ch", " text"), Num("-3")),
      Seq(Shared("x y"), Blank, null)))
    val sheet = XlsxSource.readRaw(path)
    assert(sheet.header == Seq("a", "b", "c"))
    assert(sheet.rows.map(_.toSeq) == Seq(
      Seq("x y", "4.12", "TRUE"),
      Seq("plain", null, "FALSE"),
      Seq(null, "rich text", "-3"),
      Seq("x y", null, null)))
  }

  test("reader: a cell without an r attribute follows the previous <c>, even an empty one") {
    val path = workbook(Seq("a", "b", "c", "d"), Seq(
      Seq(Num("1"), Blank, Num("3"), Shared("four")),
      Seq(Blank, Blank, Blank, Num("4")),
      Seq(Inline("only a"))), refs = false)
    assert(XlsxSource.readRaw(path).rows.map(_.toSeq) == Seq(
      Seq("1", null, "3", "four"),
      Seq(null, null, null, "4"),
      Seq("only a", null, null, null)))
  }

  test("readTyped equals the aggregate rule on cast edge cases, alone and among integers") {
    val edge = Seq(" 12 ", "+5", "-0", "1e3", "1.0", "NaN", "Infinity", "inf",
      "1d", "0x10", "", "9223372036854775808")
    // per edge value: a column of that value alone, and one where it sits
    // among plain integers; then one column holding every edge value
    val header = edge.indices.flatMap(i => Seq(s"alone_$i", s"mixed_$i")) :+ "every"
    val rows = edge.indices.map { r =>
      edge.indices.flatMap { i =>
        Seq(Shared(edge(i)), if (r == 0) Shared(edge(i)) else Num(r.toString))
      } :+ Shared(edge(r))
    }
    val got = assertParity(workbook(header, rows))
    assert(got.schema("alone_1").dataType == LongType) // "+5"
    assert(got.schema("mixed_10").dataType == StringType) // ""
    assert(got.schema("every").dataType == StringType)
  }

  test("readTyped equals the aggregate rule on nulls, a header-only sheet and a late text cell") {
    val allNull = assertParity(workbook(Seq("id", "none"),
      Seq(Seq(Num("1"), null), Seq(Num("2"), null))))
    assert(types(allNull) == Seq(LongType, StringType))

    val headerOnly = assertParity(workbook(Seq("a", "b"), Seq.empty))
    assert(types(headerOnly) == Seq(StringType, StringType) && headerOnly.isEmpty)

    val oneNull = assertParity(workbook(Seq("n", "k"),
      (1 to 20).map(i => Seq(if (i == 7) null else Num(i.toString), Num(i.toString)))))
    assert(types(oneNull) == Seq(DoubleType, LongType))

    val lateText = assertParity(workbook(Seq("code", "score"),
      (1 to 1001).map(i => Seq(
        if (i <= 1000) Num(i.toString) else Shared("11-1011.00"), Num(s"$i.5")))))
    assert(types(lateText) == Seq(StringType, DoubleType))
  }

  test("readTyped launches no Spark job; the aggregate rule does") {
    val path = workbook(Seq("code", "score", "n"),
      (1 to 200).map(i => Seq(Shared(s"11-$i"), Num(s"$i.25"), Num(i.toString))))
    assert(jobsDuring(XlsxSource.readTyped(spark, path)) == 0)
    assert(jobsDuring(oracle(spark, path)) == 4)
  }
}
