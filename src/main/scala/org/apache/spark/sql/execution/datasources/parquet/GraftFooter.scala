package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryCompilationErrors
import org.apache.spark.sql.types.StructType

/** Shim for graft.sources.ParquetRead, in this package because
  * `ParquetFileFormat.readSchema` is `private[parquet]` (the reach-in of
  * `org.apache.spark.sql.graft.Bridge`). It converts one footer exactly as
  * `spark.read.parquet`'s inference job does, session flags included.
  */
object GraftFooter {
  def fileSystem(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  def schema(spark: SparkSession, file: FileStatus): StructType = {
    val meta = ParquetFooterReader.readFooter(
      HadoopInputFile.fromStatus(file, spark.sessionState.newHadoopConf()), SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchema(Seq(new Footer(file.getPath, meta)), spark).get
  }

  def pathNotFound(path: String): Throwable = QueryCompilationErrors.dataPathNotExistError(path)
  def noDataFile(): Throwable = QueryCompilationErrors.dataSchemaNotSpecifiedError("Parquet")
}
