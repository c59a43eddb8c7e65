package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Driver-side footer schema for `graft.T.parquet`. Without a schema,
  * `spark.read.parquet(paths)` infers one in `ParquetUtils.inferSchema`,
  * which reads the footer inside a one-task Spark job even when, with
  * mergeSchema off, it touches a single file. This object picks that same
  * file and converts its footer with the same converter
  * (`ParquetFileFormat.readSchema`, private[parquet], hence this package —
  * the approach of `org.apache.spark.sql.GraftBridge`), on the driver.
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(paths: _*)` infers with mergeSchema
    * off, or None when there is no file to read it from (a missing path,
    * or no data file under the paths): the caller then leaves the error
    * to Spark.
    */
  def footerSchema(s: SparkSession, paths: Seq[String]): Option[StructType] = {
    val conf = s.sessionState.newHadoopConf()
    // the files Spark's file index hands to inferSchema: the leaves of
    // the globbed paths
    val files = paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      Option(fs.globStatus(path)).toSeq.flatten.flatMap(st => leaves(fs, st.getPath))
    }
    // inferSchema's non-merging pick over ParquetUtils.splitFiles' order
    val sorted = files.sortBy(_.getPath.toString)
    def named(n: String) = sorted.find(_.getPath.getName == n)
    val summaries =
      Set(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE, ParquetFileWriter.PARQUET_METADATA_FILE)
    named(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE)
      .orElse(named(ParquetFileWriter.PARQUET_METADATA_FILE))
      .orElse(sorted.find(f => !summaries(f.getPath.getName)))
      .flatMap { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, conf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchema(Seq(new Footer(f.getPath, footer)), s)
      }
  }

  /** Leaf files under `p` (or `p` itself), skipping the names Spark's file
    * index skips (`_`/`.`-prefixed except summaries and `k=v` dirs).
    */
  private def leaves(fs: FileSystem, p: Path): Seq[FileStatus] =
    fs.listStatus(p).toSeq
      .filterNot(st => HadoopFSUtils.shouldFilterOutPathName(st.getPath.getName))
      .flatMap(st => if (st.isDirectory) leaves(fs, st.getPath) else Seq(st))
}
