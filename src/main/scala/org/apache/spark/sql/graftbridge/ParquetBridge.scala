package org.apache.spark.sql.graftbridge

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.InMemoryFileIndex
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Bridge into Spark's parquet schema steps, run on the driver.
  *
  * `spark.read.parquet(path)` infers its schema in a one-task Spark
  * job (`SchemaMergeUtils.mergeSchemasInParallel`) even when it reads
  * one footer. With `mergeSchema` off, that job reads the footer of
  * one file: `_common_metadata`, else `_metadata`, else the first data
  * file by path, from Spark's own listing of `path`. [[footerSchema]]
  * reads that same footer here, through the same per-file calls the
  * job makes (`ParquetFooterReader.readFooter` without row groups,
  * then `ParquetFileFormat.readSchemaFromFooter`, so Spark's row
  * metadata schema wins over the parquet one, as in inference), with
  * a converter built from the session's conf (nanosAsLong, NTZ
  * inference, binary-as-string and INT96 apply as in inference).
  * Partition columns are not in the footer: the reader that passes
  * this schema gets them from Spark's path inference, as before.
  * Lives in an org.apache.spark.sql subpackage for access to the
  * classic session's state and the file index; copies no Spark logic
  * beyond the choice of file. */
object ParquetBridge {

  /** The data schema `spark.read.parquet(path)` would infer, or None
    * where Spark must decide: `mergeSchema` on, a missing path or no
    * file to read (Spark raises its own error). */
  def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val s = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val conf = s.sessionState.conf
    val hadoopConf = s.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    if (conf.isParquetSchemaMergingEnabled || !fs.exists(root)) None
    else {
      val qualified = root.makeQualified(fs.getUri, fs.getWorkingDirectory)
      val files = new InMemoryFileIndex(s, Seq(qualified), Map.empty, None)
        .allFiles().sortBy(_.getPath.toString)
      def named(n: String): Option[FileStatus] = files.find(_.getPath.getName == n)
      val summaries = Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
        .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
        .orElse(files.find(f => !summaries(f.getPath.getName)))
        .map { f =>
          val footer = new Footer(f.getPath, ParquetFooterReader.readFooter(
            HadoopInputFile.fromStatus(f, hadoopConf), SKIP_ROW_GROUPS))
          ParquetFileFormat.readSchemaFromFooter(footer,
            new ParquetToSparkSchemaConverter(conf))
        }
    }
  }
}
