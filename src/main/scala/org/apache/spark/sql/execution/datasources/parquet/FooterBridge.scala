package org.apache.spark.sql.execution.datasources.parquet

import java.io.IOException

import org.apache.hadoop.fs.FileStatus
import org.apache.parquet.format.converter.ParquetMetadataConverter.SKIP_ROW_GROUPS
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.errors.QueryExecutionErrors
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
    // read on the calling thread, as `readParquetFootersInParallel` reads
    // each file, with its error handling: the schema needs no row groups.
    // Spark skips only a RuntimeException under ignoreCorruptFiles; an
    // IOException (thrift garbage or EOF inside a PAR1-framed footer)
    // fails its schema job, so here it fails the read, naming the file.
    val footer =
      try Some(new Footer(file.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, SessionStateHelper.getHadoopConf(spark)), SKIP_ROW_GROUPS)))
      catch {
        case _: RuntimeException if conf.ignoreCorruptFiles => None
        case e: RuntimeException => throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e)
        case e: IOException => throw QueryExecutionErrors.cannotReadFooterForFileError(file.getPath, e)
      }
    footer.map(ParquetFileFormat.readSchemaFromFooter(_, converter))
  }
}
