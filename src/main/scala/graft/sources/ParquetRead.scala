package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.GraftFooter

/** The engine's one parquet reader. It reads the footer that non-merging
  * inference would read (a file, or a flat directory's first data file by
  * name, skipping `_`/`.` files) on the driver, so a read starts no Spark
  * job where `spark.read.parquet` starts one. Nothing is remembered: a
  * file rewritten in place is seen at once. A directory holding a
  * subdirectory is refused, since partition columns need Spark's discovery.
  */
object ParquetRead {
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(GraftFooter.schema(spark, schemaFile(spark, path))).parquet(path)

  private def schemaFile(spark: SparkSession, path: String): FileStatus = {
    val p = new Path(path)
    val fs = GraftFooter.fileSystem(spark, p)
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException =>
        throw GraftFooter.pathNotFound(fs.makeQualified(p).toString)
    }
    if (!st.isDirectory) st
    else {
      val visible = fs.listStatus(p).filterNot { c =>
        val n = c.getPath.getName
        n.startsWith("_") || n.startsWith(".") || n.endsWith("._COPYING_")
      }
      visible.find(_.isDirectory).foreach(d => throw new IllegalArgumentException(
        s"ParquetRead: $path holds the subdirectory ${d.getPath.getName}; " +
          "read a partitioned layout with spark.read.parquet"))
      visible.sortBy(_.getPath.toString).headOption.getOrElse(throw GraftFooter.noDataFile())
    }
  }
}
