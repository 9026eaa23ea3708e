package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** The schema Spark's parquet inference would produce for a path, read
  * on the driver from one footer instead of by a Spark job. It lives in
  * Spark's package to reuse the `private[parquet]` footer reader and
  * converter, so the Parquet→Spark rules (session confs, the Spark row-
  * metadata key) are Spark's own. It picks the file inference picks
  * without `mergeSchema`: `_common_metadata`, then `_metadata`, then
  * the first data file in path order, skipping the names Spark's file
  * index hides. None when the path is missing (a glob, say) or holds no
  * such file: the caller's plain read then raises Spark's own error. */
object FooterSchema {

  def of(spark: SparkSession, path: String): Option[StructType] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(hadoopConf)
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (!st.isDirectory) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => HadoopFSUtils.shouldFilterOutPathName(c.getPath.getName))
        .flatMap(leaves)
    if (!fs.exists(root)) return None
    val files = leaves(fs.getFileStatus(root)).sortBy(_.getPath.toString)
    val summaries = Seq("_common_metadata", "_metadata")
    summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .map { file =>
        val conf = spark.sessionState.conf
        val converter = new ParquetToSparkSchemaConverter(
          assumeBinaryIsString = conf.isParquetBinaryAsString,
          assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
          inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
          nanosAsLong = conf.legacyParquetNanosAsLong,
          respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
        ParquetFileFormat.readSchemaFromFooter(ParquetFileFormat
          .readParquetFootersInParallel(hadoopConf, Seq(file), ignoreCorruptFiles = false)
          .head, converter)
      }
  }
}
