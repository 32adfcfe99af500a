package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** How rows parsed on the driver (the HTML table, the xlsx sheet) enter
  * Spark: an all-string frame over a parallelized RDD, split like
  * `LocalTableScanExec` splits a local relation (one slice per default
  * parallelism, at most one per row), so a stage write lands the same
  * files. The plan's leaf is the RDD, whose planning does not depend on
  * the row count. Each task turns its strings into internal rows
  * directly: `createDataFrame(RDD[Row], …)` would add a `Row` encoder
  * per task, which cost a 736-row, 18-column HTML table about 75 ms
  * per parquet write at `local[4]` on a 4-CPU host. See [[XlsxSource]]
  * for what a local relation of the same rows costs on the driver.
  */
private[sources] object DriverRows {

  def stringFrame(spark: SparkSession, columns: Seq[String],
      rows: Seq[Array[String]]): DataFrame = {
    val sc = spark.sparkContext
    val slices = math.max(1, math.min(rows.length, sc.defaultParallelism))
    val internal = sc.parallelize(rows, slices).map { a =>
      val row = new GenericInternalRow(a.length)
      var i = 0
      while (i < a.length) {
        if (a(i) != null) row.update(i, UTF8String.fromString(a(i)))
        i += 1
      }
      row: InternalRow
    }
    Bridge.internalFrame(spark, internal,
      StructType(columns.map(StructField(_, StringType))))
  }
}
