package org.apache.spark.sql.execution.datasources.parquet

import java.io.Closeable

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.PartitionedFileUtil
import org.apache.spark.sql.execution.datasources.{FileFormat, HadoopFsRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Parquet read on the driver with Spark's own parquet code, no Spark
  * job: a path's inferred schema from one footer ([[schema]]) and the
  * rows of a small file relation ([[foreachRow]]). It lives in Spark's
  * package to reuse the `private[parquet]` footer reader and converter,
  * so the Parquet→Spark rules (session confs, the Spark row-metadata
  * key) are Spark's own. */
object DriverParquet {

  /** The schema Spark's parquet inference would produce for a path. It
    * picks the file inference picks without `mergeSchema`:
    * `_common_metadata`, then `_metadata`, then the first data file in
    * path order, skipping the names Spark's file index hides. None when
    * the path is missing (a glob, say) or holds no such file: the
    * caller's plain read then raises Spark's own error. */
  def schema(spark: SparkSession, path: String): Option[StructType] = {
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

  /** Every row of an unpartitioned parquet relation, projected to
    * `required` (fields of its data schema), in file-index order: the
    * reader a scan task builds (`buildReaderWithPartitionValues`, rows,
    * not batches), over each whole file. A row object may be reused for
    * the next row. A read error propagates; nothing honours
    * `ignoreCorruptFiles` or `ignoreMissingFiles`, so a caller that must
    * match a scan checks them first. */
  def foreachRow(relation: HadoopFsRelation, required: StructType)(f: InternalRow => Unit): Unit = {
    val spark = relation.sparkSession
    val read = relation.fileFormat.buildReaderWithPartitionValues(spark,
      relation.dataSchema, new StructType(), required, Nil,
      relation.options + (FileFormat.OPTION_RETURNING_BATCH -> "false"),
      spark.sessionState.newHadoopConfWithOptions(relation.options))
    relation.location.listFiles(Nil, Nil).flatMap(_.files).foreach { file =>
      val rows = read(PartitionedFileUtil.getPartitionedFile(
        file, file.getPath, InternalRow.empty, 0, file.getLen))
      try rows.foreach(f) finally rows match { case c: Closeable => c.close(); case _ => }
    }
  }
}
