package graft.sources

import java.io.IOException

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.FooterBridge

import graft.args.QueryArgs

/** The parquet [[FileSource]], and the engine's one parquet reader. */
object ParquetSource {
  def apply(path: String, tableName: String, args: QueryArgs): FileSource =
    FileSource(path, "parquet", tableName, args)

  /** `spark.read.parquet(paths: _*)`, without the schema-inference job
    * for a single file. Given exactly one path that names a regular
    * file, the file's footer is read on the driver and the schema handed
    * to the reader, so the read starts no Spark job (Spark's own path
    * runs a one-task job per read to read that same footer). Every call
    * reads the current footer; nothing is cached.
    *
    * A directory, several paths, a glob, a hidden (`_`/`.`) file name, a
    * missing path, or a corrupt file under `ignoreCorruptFiles` go to
    * `spark.read.parquet` unchanged, so partition discovery, summary
    * files and the `PATH_NOT_FOUND` error stay Spark's.
    */
  def read(spark: SparkSession, paths: String*): DataFrame = paths match {
    case Seq(path) =>
      singleFile(spark, path).flatMap(FooterBridge.schema(spark, _)) match {
        case Some(schema) => spark.read.schema(schema).parquet(path)
        case None => spark.read.parquet(path)
      }
    case _ => spark.read.parquet(paths: _*)
  }

  /** `path`'s status when it names one visible regular file. */
  private def singleFile(spark: SparkSession, path: String): Option[FileStatus] = {
    val p = new Path(path)
    val name = p.getName
    if (path.exists("{}[]*?\\".contains(_)) || name.startsWith("_") || name.startsWith("."))
      None
    else
      try Some(p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p))
        .filter(_.isFile)
      catch { case _: IOException => None }
  }
}
