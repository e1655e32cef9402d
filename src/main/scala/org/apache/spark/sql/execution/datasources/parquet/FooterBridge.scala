package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.FileStatus
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.internal.SessionStateHelper
import org.apache.spark.sql.types.StructType

/** The one `private[parquet]`-scoped doorway the parquet reader needs:
  * Spark's own footer read and footer-to-schema conversion, run on the
  * driver for one file. The converter is built exactly as
  * `ParquetFileFormat.mergeSchemasInParallel` builds it, so the schema is
  * the one `spark.read.parquet` would infer in a Spark job. Lives in
  * `org.apache.spark.sql.execution.datasources.parquet` solely to satisfy
  * the access qualifier; no Spark internals are modified.
  */
object FooterBridge {

  /** The schema in `file`'s footer, or `None` when the file is corrupt
    * and the session ignores corrupt files. A corrupt file otherwise
    * raises Spark's `FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER`.
    */
  def schema(spark: SparkSession, file: FileStatus): Option[StructType] = {
    val conf = SessionStateHelper.getSqlConf(spark)
    val converter = new ParquetToSparkSchemaConverter(
      assumeBinaryIsString = conf.isParquetBinaryAsString,
      assumeInt96IsTimestamp = conf.isParquetINT96AsTimestamp,
      inferTimestampNTZ = conf.parquetInferTimestampNTZEnabled,
      nanosAsLong = conf.legacyParquetNanosAsLong,
      respectUnknownTypeAnnotation = conf.parquetReaderRespectUnknownTypeAnnotation)
    val footers =
      try ParquetFileFormat.readParquetFootersInParallel(
        SessionStateHelper.getHadoopConf(spark), Seq(file), conf.ignoreCorruptFiles)
      catch {
        // the pool's "Exception thrown in awaitResult" wrapper hides the
        // footer error, which names the file
        case e: SparkException if e.getCause.isInstanceOf[SparkException] => throw e.getCause
      }
    footers.headOption.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
  }
}
