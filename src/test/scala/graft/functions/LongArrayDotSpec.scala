package graft.functions

import graft.TestSpark
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class LongArrayDotSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("matches the interpreted higher-order spelling on real embeddings") {
    val emb = spark.read.parquet(s"${TestSpark.Sf001}/embeddings.parquet")
      .select(graft.ops.Similarity.quantize(col("embedding")).as("qv"))
    val both = emb.select(
      LongArrayDot.dotQ(col("qv"), col("qv")).as("native"),
      aggregate(zip_with(col("qv"), col("qv"), (x, y) => x * y),
        lit(0L), (acc, x) => acc + x).as("hof"))
    assert(both.where(col("native") =!= col("hof")).isEmpty)
  }

  test("null in either side yields null; SQL registration works") {
    import spark.implicits._
    graft.functions.registerAll(spark)
    Seq((Seq(1L, 2L), Option(Seq(3L, 4L))), (Seq(1L), None))
      .toDF("a", "b").createOrReplaceTempView("dot_in")
    val out = spark.sql("SELECT long_array_dot(a, b) AS d FROM dot_in ORDER BY d NULLS LAST")
      .collect()
    assert(out(0).getLong(0) == 11L && out(1).isNullAt(0))
  }

  test("bad argument types fail analysis with the expression's message") {
    graft.functions.registerAll(spark)
    import spark.implicits._
    Seq(("x", 1L)).toDF("s", "n").createOrReplaceTempView("dot_bad")
    val e = intercept[Exception] {
      spark.sql("SELECT long_array_dot(s, n) FROM dot_bad").collect()
    }
    assert(e.getMessage.contains("long_array_dot"))
  }

  test("stays inside whole-stage codegen") {
    val emb = spark.read.parquet(s"${TestSpark.Sf001}/embeddings.parquet")
      .select(graft.ops.Similarity.quantize(col("embedding")).as("qv"))
    val plan = emb.select(LongArrayDot.dotQ(col("qv"), col("qv")).as("d"))
      .queryExecution.executedPlan.toString
    // `*(n)` marks a WholeStageCodegen stage; the dot-product projection
    // must carry it (the interpreted `transform` projection doesn't)
    assert(plan.linesIterator.exists(l =>
      l.contains("long_array_dot") && l.trim.startsWith("*(")), plan)
  }
}
