package org.apache.spark.sql.graftinternal

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** Bridge into Spark's parquet schema inference, so that a reader can
  * plan a parquet scan without the Spark job inference starts.
  *
  * `spark.read.parquet(path)` lists the files, picks one footer (with
  * schema merging off) and reads it in a one-task Spark job. The same
  * steps run here on the driver, with Spark's own file index, footer
  * reader and footer-to-schema conversion, so the schema and the input
  * types are the ones inference gives.
  */
object GraftParquet {

  /** The data schema `spark.read.parquet(path)` would infer, read from
    * one footer on the driver: `_common_metadata`, else `_metadata`,
    * else the first data file by path, as Spark's inference picks.
    *
    * `None` where inference would do more than read that footer (schema
    * merging on, partition directories) or where listing or reading
    * fails. A caller then uses `spark.read.parquet(path)`, which raises
    * the same errors as before.
    */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val state = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState
    val conf = state.conf
    if (conf.isParquetSchemaMergingEnabled) None
    else try {
      val hadoopConf = state.newHadoopConf()
      val root = new Path(path)
      val index = new InMemoryFileIndex(spark,
        Seq(root.getFileSystem(hadoopConf).makeQualified(root)), Map.empty, None)
      if (index.partitionSchema.nonEmpty) None
      else {
        val files = index.allFiles().sortBy(_.getPath.toString)
        def named(name: String) = files.find(_.getPath.getName == name)
        val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
          ParquetFileWriter.PARQUET_METADATA_FILE)
        named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
          .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
          .orElse(files.find(f => !summaries(f.getPath.getName)))
          .map { (f: FileStatus) =>
            val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
              HadoopInputFile.fromStatus(f, hadoopConf), ParquetMetadataConverter.SKIP_ROW_GROUPS))
            ParquetFileFormat.readSchemaFromFooter(footer, new ParquetToSparkSchemaConverter(
              assumeBinaryIsString = conf.isParquetBinaryAsString,
              assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
              inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
              nanosAsLong = conf.legacyParquetNanosAsLong,
              respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation))
          }
      }
    } catch { case NonFatal(_) => None }
  }
}
