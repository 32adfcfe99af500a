package graft.sources

import graft.TestSpark
import graft.TestSpark.withJobs
import graft.queries.RefQueries
import java.nio.file.{Files, Path}
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{LongType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[ParquetRead]]: the footer schema equals `spark.read.parquet`'s
  * inferred one (fields, nullability, metadata) on every gate table and
  * on a Spark-written stage directory, a read starts no Spark job, a
  * path rewritten in place is seen at once, and the failures are Spark's
  * own error classes.
  */
class ParquetReadSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark


  private def tempDir(): Path = Files.createTempDirectory("parquet-read")

  private def tables: Seq[String] =
    new java.io.File(TestSpark.Sf0001).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).sorted.toSeq

  test("the footer schema equals inference on every sf0.001 table") {
    assert(tables.size >= 10, tables)
    for (t <- tables) {
      val path = s"${TestSpark.Sf0001}/$t"
      val inferred = spark.read.parquet(path).schema
      val got = ParquetRead.read(spark, path).schema
      // StructType equality covers names, types, nullability and metadata
      assert(got == inferred, s"$t: $got != $inferred")
      assert(got.fields.map(_.metadata) sameElements inferred.fields.map(_.metadata), t)
    }
  }

  test("a Spark-written stage directory with _SUCCESS and .crc files " +
      "reads like inference, rows included") {
    val dir = tempDir().resolve("stage").toString
    RefQueries.table(spark, TestSpark.Sf0001, "orders").repartition(3)
      .write.mode("overwrite").parquet(dir)
    val names = new java.io.File(dir).list().toSeq
    assert(names.contains("_SUCCESS") && names.exists(_.endsWith(".crc")), names)
    val inferred = spark.read.parquet(dir)
    val got = ParquetRead.read(spark, dir)
    assert(got.schema == inferred.schema)
    assert(got.exceptAll(inferred).isEmpty && inferred.exceptAll(got).isEmpty)
  }

  test("events.ts (timestamp[us]) still reaches RefQueries.table's NTZ " +
      "normalization as nano-longs") {
    val path = s"${TestSpark.Sf0001}/events.parquet"
    val raw = ParquetRead.read(spark, path)
    assert(raw.schema("ts").dataType == TimestampNTZType,
      "premise: the gate's events.ts is a timestamp[us] without time zone")
    assert(raw.schema == spark.read.parquet(path).schema)
    val events = RefQueries.table(spark, TestSpark.Sf0001, "events")
    assert(events.schema("ts").dataType == LongType)
    val micros = raw.selectExpr("event_id",
      "unix_micros(cast(ts AS timestamp)) * 1000 AS ts")
    assert(events.select("event_id", "ts").exceptAll(micros).isEmpty)
  }

  test("a read starts no Spark job; inference starts one") {
    val path = s"${TestSpark.Sf0001}/nation.parquet"
    // warm both paths so class loading and codegen are not counted
    ParquetRead.read(spark, path); spark.read.parquet(path)
    assert(withJobs(ParquetRead.read(spark, path))._2 == 0)
    assert(withJobs(RefQueries.table(spark, TestSpark.Sf0001, "lineitem"))._2 == 0)
    assert(withJobs(RefQueries.table(spark, TestSpark.Sf0001, "events"))._2 == 0)
    assert(withJobs(spark.read.parquet(path))._2 == 1)
  }

  test("a path rewritten in place with another schema is seen by the next read") {
    import spark.implicits._
    val dir = tempDir().resolve("rewritten").toString
    Seq((1L, "a")).toDF("id", "name").write.mode("overwrite").parquet(dir)
    assert(ParquetRead.read(spark, dir).schema.fieldNames.toSeq == Seq("id", "name"))
    Seq((2.5, 7)).toDF("score", "rank").write.mode("overwrite").parquet(dir)
    val again = ParquetRead.read(spark, dir)
    assert(again.schema == spark.read.parquet(dir).schema)
    assert(again.schema.fieldNames.toSeq == Seq("score", "rank"))
    assert(again.as[(Double, Int)].collect().toSeq == Seq((2.5, 7)))
  }

  test("a missing path and a directory without a data file raise Spark's " +
      "own error classes") {
    val missing = tempDir().resolve("absent").toString
    def condition(read: => Any): String =
      intercept[AnalysisException](read).getCondition
    assert(condition(ParquetRead.read(spark, missing)) == "PATH_NOT_FOUND")
    assert(condition(spark.read.parquet(missing)) == "PATH_NOT_FOUND")
    val empty = tempDir()
    Files.createFile(empty.resolve("_SUCCESS"))
    Files.createFile(empty.resolve(".hidden.crc"))
    assert(condition(ParquetRead.read(spark, empty.toString)) == "UNABLE_TO_INFER_SCHEMA")
    assert(condition(spark.read.parquet(empty.toString)) == "UNABLE_TO_INFER_SCHEMA")
  }

  test("a directory holding a subdirectory is refused, naming the path") {
    import spark.implicits._
    val dir = tempDir().resolve("partitioned").toString
    Seq((1L, 19725L)).toDF("id", "day").write.partitionBy("day").parquet(dir)
    val e = intercept[IllegalArgumentException](ParquetRead.read(spark, dir))
    assert(e.getMessage.contains(dir) && e.getMessage.contains("day=19725"),
      e.getMessage)
  }
}
