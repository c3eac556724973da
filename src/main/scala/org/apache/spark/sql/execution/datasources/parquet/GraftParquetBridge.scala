package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Package bridge into Spark's parquet footer-to-schema conversion
  * (`ParquetFileFormat.readSchema` is `private[parquet]`). */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(file).schema` infers, read from the
    * file's footer on the driver: the same footer decoding (Spark's own
    * row-metadata key first, the session-configured type converter
    * otherwise) and the same all-nullable result, but no Spark job —
    * schema inference runs its footer read as a one-task job. */
  def footerSchema(spark: SparkSession, file: String): StructType = {
    val path = new Path(if (file.contains(":/")) file else "file://" + file)
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(path, new Configuration()))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchema(Seq(new Footer(path, footer)), spark)
      .getOrElse(throw new IllegalStateException(s"parquet file without a schema: $file"))
      .asNullable
  }
}
