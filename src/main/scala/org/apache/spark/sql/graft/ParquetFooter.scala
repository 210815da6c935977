package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the pieces of Spark's parquet schema inference that
  * `graft.Tables` runs on the driver instead of in a Spark job: the
  * session's Hadoop conf, the file index's hidden-name rule, and the
  * footer-to-Catalyst conversion. It contains no logic of its own.
  */
object ParquetFooter {
  private def state(spark: SparkSession) =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState

  def hadoopConf(spark: SparkSession): Configuration = state(spark).newHadoopConf()

  /** The name rule `InMemoryFileIndex` lists with: drops `_`- and
    * `.`-prefixed names except `_common_metadata` and `_metadata`.
    */
  def hidden(name: String): Boolean = HadoopFSUtils.shouldFilterOutPathName(name)

  /** The Spark schema of one parquet file, as inference reads it: the
    * footer without row groups, then `readSchemaFromFooter` (the Spark
    * schema stored in the footer's metadata if the writer left one, else
    * the converted parquet schema under the session's conf, so
    * `nanosAsLong` decides how a TIMESTAMP(NANOS) column reads).
    */
  def schema(spark: SparkSession, conf: Configuration, file: Path): StructType = {
    val footer = ParquetFooterReader.readFooter(
      HadoopInputFile.fromPath(file, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(file, footer), new ParquetToSparkSchemaConverter(state(spark).conf))
  }
}
