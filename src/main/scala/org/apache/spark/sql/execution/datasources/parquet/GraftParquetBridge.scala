package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.spark.deploy.SparkHadoopUtil
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to the parquet package's `private[parquet]` footer reader and
  * schema converter, so [[graft.core.Tables]] can resolve a single-file
  * table's schema on the driver instead of through inference's one-task
  * Spark job. Exposes only this one call.
  */
object GraftParquetBridge {

  /** The schema `spark.read.parquet(path)` infers, read on the driver
    * from the footer of the one regular file `path` names. It uses
    * inference's own footer reader, converter and Spark-metadata rule
    * under the session's conf. None when `path` is not one visible
    * regular file (a directory, a glob, a missing or hidden file), or
    * when its footer is corrupt and the session ignores corrupt files:
    * the caller then leaves the schema to inference.
    */
  def singleFileSchema(spark: SparkSession, path: String): Option[StructType] = {
    val p = new Path(path)
    if (SparkHadoopUtil.get.isGlobPath(p) || HadoopFSUtils.shouldFilterOutPathName(p.getName)) None
    else {
      val conf = spark.sessionState.newHadoopConf()
      val status =
        try Some(p.getFileSystem(conf).getFileStatus(p))
        catch { case _: java.io.FileNotFoundException => None }
      status.filter(_.isFile).flatMap { s =>
        val footers = ParquetFileFormat.readParquetFootersInParallel(
          conf, Seq(s), spark.sessionState.conf.ignoreCorruptFiles)
        ParquetFileFormat.readSchema(footers, spark)
      }
    }
  }
}
