package graft.sink

import java.io.ByteArrayOutputStream

import org.apache.avro.Schema
import org.apache.avro.file.CodecFactory
import org.apache.avro.io.Encoder
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SerializableConfiguration

/** Avro container-file sink with the reference's output contract
  * (`/root/reference/dbeam-core/src/main/java/com/spotify/dbeam/avro/JdbcAvroIO.java:60-232`):
  *
  *   - one `part-SSSSS-of-NNNNN.avro` file per partition (the reference's
  *     "one file per generated query"; here partition == query/range)
  *   - codec `deflate1-9 | snappy | zstandard1-9` (`JdbcAvroArgs.java:54-63`)
  *   - 1 MiB sync interval for splittability (`JdbcAvroIO.java:135`)
  *   - `created_by` file metadata
  *   - rows are encoded straight from Spark `InternalRow` into the current
  *     1 MiB block's byte array, never materializing a `GenericRecord` —
  *     same zero-copy design as the reference's
  *     `JdbcAvroRecordConverter.java:80-117`
  *   - closed blocks compress on idle cores while the task encodes the next
  *     one, and the task writes them in order ([[AvroBlockWriter]]); the
  *     file is byte-identical to `DataFileWriter`'s for the same sync marker
  *
  * Scale design: all data moves executor-side (`mapPartitionsWithIndex`); the
  * driver only writes tiny metadata side-files. Each task writes to a
  * temp file and renames on success, so task retries are idempotent. No
  * shuffle is introduced — the input partitioning (file splits or JDBC range
  * predicates) flows straight through to output files.
  */
object AvroSink {

  /** Commit-manifest sidecar: one committed part name per line, written
    * after all parts rename into place. `_`-prefixed like the other
    * sidecars, so data readers that merely skip hidden files still work.
    */
  val ManifestFile = "_MANIFEST"

  final case class Metrics(
      recordCount: Long,
      bytesWritten: Long,
      writeElapsedMs: Long,
      executeQueryElapsedMs: Long,
      schemaElapsedTimeMs: Long,
      meterFlushes: Long = 0L) {

    /** Derived metrics per reference `MetricsHelper.java:87-98` and
      * `JdbcAvroMetering.java:79-108`.
      */
    def toMap: Map[String, Long] = {
      val msPerMillion = if (recordCount > 0) writeElapsedMs * 1000000L / recordCount else -1L
      val rowsPerMinute = if (writeElapsedMs > 0) recordCount * 60000L / writeElapsedMs else -1L
      val kbps = if (writeElapsedMs > 0) bytesWritten / writeElapsedMs else -1L
      Map(
        "recordCount" -> recordCount,
        "bytesWritten" -> bytesWritten,
        "writeElapsedMs" -> writeElapsedMs,
        "executeQueryElapsedMs" -> executeQueryElapsedMs,
        "schemaElapsedTimeMs" -> schemaElapsedTimeMs,
        "msPerMillionRows" -> msPerMillion,
        "rowsPerMinute" -> rowsPerMinute,
        "KbWritePerSec" -> kbps
      )
    }
  }

  /** `snappy | deflate1-9 | zstandard1-9` → avro `CodecFactory`
    * (reference `JdbcAvroArgs.java:54-63`); any other name throws
    * `IllegalArgumentException` (reference `JdbcAvroArgs.java:92-94`).
    */
  def codecFactory(codec: String): CodecFactory = codec match {
    case "snappy" => CodecFactory.snappyCodec()
    case c if c.matches("deflate[1-9]") => CodecFactory.deflateCodec(c.drop(7).toInt)
    case c if c.matches("zstandard[1-9]") => CodecFactory.zstandardCodec(c.drop(9).toInt)
    case other => throw new IllegalArgumentException(
      s"Avro codec should be snappy or deflate1 to deflate9 or zstandard1 to zstandard9. Found $other")
  }

  /** dbeam's `--queryParallelism` analogue for file sources whose physical
    * layout can't be split (e.g. a single parquet row group): round-robin
    * repartition up to `target` ONLY when the scan yields fewer partitions.
    * On a well-laid-out 100 TB input (many files/row groups) this is a
    * no-op — no shuffle is introduced when the source already parallelizes.
    */
  def ensureWriteParallelism(df: DataFrame, target: Int): DataFrame = {
    val current = df.queryExecution.toRdd.getNumPartitions // plan-only probe
    if (current >= target) df else df.repartition(target)
  }

  /** Writes `df` as Avro container files under `outputDir` and returns
    * aggregate metrics. `schemaElapsedTimeMs` is supplied by the caller (time
    * spent inferring/loading the schema).
    */
  def write(
      df: DataFrame,
      avroSchema: Schema,
      outputDir: String,
      codec: String = "deflate6",
      schemaElapsedTimeMs: Long = 0L,
      nullableArrayItems: Boolean = false,
      writeManifest: Boolean = true,
      meterEveryRows: Long = 100000L): Metrics = {

    codecFactory(codec) // validate eagerly on the driver
    require(meterEveryRows >= 1, s"meterEveryRows must be >= 1, got $meterEveryRows")
    val spark = df.sparkSession
    val sc = spark.sparkContext
    val schemaJson = avroSchema.toString
    val recordCount = sc.longAccumulator("recordCount")
    val bytesWritten = sc.longAccumulator("bytesWritten")
    val writeElapsedMs = sc.longAccumulator("writeElapsedMs")
    val executeQueryElapsedMs = sc.longAccumulator("executeQueryElapsedMs")
    val meterFlushes = sc.longAccumulator("meterFlushes")

    val sparkSchema = df.schema
    // The session's whole Hadoop conf, shipped once per write as Spark's own
    // file writers ship it: `spark.hadoop.*` keys, credentials and
    // `fs.<scheme>.impl` reach the tasks, and no task re-parses
    // `core-default.xml` into a fresh Configuration.
    val hadoopConf = sc.broadcast(
      new SerializableConfiguration(new Configuration(sc.hadoopConfiguration)))

    val rdd0 = df.queryExecution.toRdd // InternalRow — avoids Row materialization
    // A zero-partition plan (e.g. an empty LocalRelation) would run no
    // tasks at all: no part files, yet the manifest below names one —
    // an export AvroSource then rejects. One empty partition makes the
    // empty export a valid, readable container (header-only part).
    val rdd = if (rdd0.getNumPartitions == 0)
      sc.parallelize(Seq.empty[InternalRow], 1) else rdd0
    val numPartitions = math.max(1, rdd.getNumPartitions)

    val job = rdd.mapPartitionsWithIndex { (idx, rows) =>
      val t0 = System.currentTimeMillis()
      val schema = new Schema.Parser().parse(schemaJson)
      val finalPath = new Path(outputDir, f"part-$idx%05d-of-$numPartitions%05d.avro")
      // The temp name carries the task attempt id so concurrent speculative /
      // zombie attempts for the same partition never write the same file —
      // each attempt races only on the final atomic rename.
      val attemptId = Option(org.apache.spark.TaskContext.get()).map(_.taskAttemptId()).getOrElse(0L)
      val tmpPath = new Path(outputDir, f".tmp-part-$idx%05d-of-$numPartitions%05d-attempt-$attemptId.avro")
      val fs = finalPath.getFileSystem(hadoopConf.value.value)
      fs.setWriteChecksum(false) // no .crc sidecars on the local FS
      var n = 0L
      var queryElapsed = 0L
      var writer: AvroBlockWriter = null
      // If ANYTHING from stream creation through the final flush fails,
      // wait out the in-flight blocks and delete our temp before rethrowing:
      // readers skip dot-files anyway, but a retried task must not leave
      // partial containers accumulating next to committed parts.
      try {
        writer = new AvroBlockWriter(fs.create(tmpPath, true), schema, codec)
        val encoderFns = RowBinaryEncoder.compile(sparkSchema, nullableArrayItems)
        val tFirst = System.currentTimeMillis()
        // In-flight metering cadence (reference `avro/JdbcAvroMetering.java:54-78`,
        // r13): every `meterEveryRows` rows the task flushes its running count
        // into the shared accumulator and logs one progress line, so a
        // multi-hour 100 TB export reports throughput WHILE tasks run instead
        // of going blind between task completions. O(1) per row (one compare);
        // accumulator updates from failed attempts are discarded with the
        // attempt, so retries never double-count.
        var sinceFlush = 0L
        while (rows.hasNext) {
          val row = rows.next() // pulling from the iterator IS the "query execution"
          if (n == 0) queryElapsed = System.currentTimeMillis() - tFirst
          writer.append(row, encoderFns)
          n += 1
          sinceFlush += 1
          if (sinceFlush == meterEveryRows) {
            recordCount.add(sinceFlush)
            meterFlushes.add(1L)
            sinceFlush = 0L
            val elapsed = math.max(1L, System.currentTimeMillis() - tFirst)
            MeterLog.info(
              s"part-$idx: $n rows exported, $elapsed ms, ${n * 1000L / elapsed} rows/s")
          }
        }
        recordCount.add(sinceFlush)
        writer.close()
      } catch {
        case e: Throwable =>
          if (writer != null) writer.abort()
          try { fs.delete(tmpPath, false) } catch { case _: Throwable => () }
          throw e
      }
      val written = fs.getFileStatus(tmpPath).getLen
      // NEVER delete finalPath: it only ever appears via an atomic rename, so
      // it can't be partial, and deleting it would let a zombie attempt
      // un-commit data another attempt already published (then die before its
      // own rename). Attempt the rename; if it fails and finalPath exists,
      // another attempt won the race — that's success, just drop our tmp.
      if (!fs.rename(tmpPath, finalPath)) {
        fs.delete(tmpPath, false)
        if (!fs.exists(finalPath)) // lost the race AND nobody produced the file
          throw new java.io.IOException(s"Failed to rename $tmpPath to $finalPath")
      }
      bytesWritten.add(written)
      executeQueryElapsedMs.add(queryElapsed)
      writeElapsedMs.add(System.currentTimeMillis() - t0)
      Iterator.single(n)
    }
    job.collect() // small: one count per partition

    // Commit manifest, written LAST (after every part has renamed into
    // place): the exact part set this write published. Part names encode
    // the partition count, so a replayed micro-batch (StreamExport) that
    // re-plans with different upstream parallelism would otherwise commit
    // a second disjoint `part-i-of-M` set into the same directory and a
    // reader would silently return duplicated rows — AvroSource validates
    // the on-disk set against this file and rejects such drift instead.
    // `--dataOnly` exports suppress it (parts-only layout contract).
    if (writeManifest)
      writeSideFile(sc.hadoopConfiguration, new Path(outputDir, ManifestFile).toString,
        (0 until numPartitions).map(i => f"part-$i%05d-of-$numPartitions%05d.avro")
          .mkString("", "\n", "\n"))

    Metrics(
      recordCount.value,
      bytesWritten.value,
      writeElapsedMs.value,
      executeQueryElapsedMs.value,
      schemaElapsedTimeMs,
      meterFlushes.value)
  }

  /** Writes a small UTF-8 side file (`_MANIFEST`, `_AVRO_SCHEMA.avsc`,
    * `_METRICS.json`, a state file), replacing any old one, without a
    * `.crc` sidecar. Every export layout writes its side files here.
    */
  def writeSideFile(conf: Configuration, pathStr: String, contents: String): Unit = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    fs.setWriteChecksum(false)
    val out = fs.create(path, true)
    try out.write(contents.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Executor-side progress logger for the metering cadence — one shared
    * slf4j logger (the Spark log4j pipeline), resolved lazily per JVM.
    */
  private object MeterLog extends Serializable {
    @transient private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.sink.AvroSink")
    def info(msg: String): Unit = log.info(msg)
  }
}

/** Compiles a per-column `InternalRow → Avro binary` encoder array once per
  * partition — the Spark-native analogue of the reference's compiled
  * `SqlFunction<ResultSet,Object>[]` (`JdbcAvroRecord.java:54-120`).
  *
  * Conversion semantics (reference `docs/type-conversion.md`):
  * timestamp/date → epoch millis (UTC), decimal → string, binary → bytes,
  * everything encoded as `union[null, T]` with null at branch 0
  * (`JdbcAvroRecordConverter.java:107-113`).
  */
object RowBinaryEncoder {

  /** A 64 KiB-presized ByteArrayOutputStream for callers that encode single
    * rows into a stream. The sink itself encodes into [[AvroBlockWriter]]'s
    * block arrays.
    */
  final class ExposedByteArrayOutputStream extends ByteArrayOutputStream(64 * 1024)

  type FieldEncoder = (InternalRow, Int, Encoder) => Unit

  def compile(schema: StructType, nullableArrayItems: Boolean = false): Array[FieldEncoder] =
    schema.fields.map(f => fieldEncoder(f.dataType, nullableArrayItems))

  def encodeRow(row: InternalRow, fns: Array[FieldEncoder], enc: Encoder): Unit = {
    var i = 0
    while (i < fns.length) {
      if (row.isNullAt(i)) enc.writeIndex(0)
      else { enc.writeIndex(1); fns(i)(row, i, enc) }
      i += 1
    }
  }

  private def fieldEncoder(dt: DataType, nullableArrayItems: Boolean = false): FieldEncoder = dt match {
    case LongType => (r, i, e) => e.writeLong(r.getLong(i))
    case IntegerType => (r, i, e) => e.writeInt(r.getInt(i))
    case ShortType => (r, i, e) => e.writeInt(r.getShort(i).toInt)
    case ByteType => (r, i, e) => e.writeInt(r.getByte(i).toInt)
    case TimestampType | TimestampNTZType =>
      (r, i, e) => e.writeLong(Math.floorDiv(r.getLong(i), 1000L)) // micros → millis
    case DateType => (r, i, e) => e.writeLong(r.getInt(i).toLong * 86400000L) // days → millis UTC
    case BooleanType => (r, i, e) => e.writeBoolean(r.getBoolean(i))
    case DoubleType => (r, i, e) => e.writeDouble(r.getDouble(i))
    case FloatType => (r, i, e) => e.writeFloat(r.getFloat(i))
    case BinaryType => (r, i, e) => e.writeBytes(r.getBinary(i))
    case d: DecimalType =>
      (r, i, e) => e.writeString(r.getDecimal(i, d.precision, d.scale).toJavaBigDecimal.toString)
    case StringType => (r, i, e) => writeUtf8(r.getUTF8String(i), e)
    case ArrayType(elem, _) =>
      val inner = arrayItemEncoder(elem)
      // Null items: encoded as union branch 0 when nullableArrayItems, else a
      // targeted failure — reference `JdbcAvroRecordConverter.java:140-160`.
      val itemEnc: (ArrayData, Int, Encoder) => Unit =
        if (nullableArrayItems) { (a, j, e) =>
          if (a.isNullAt(j)) e.writeIndex(0) else { e.writeIndex(1); inner(a, j, e) }
        } else { (a, j, e) =>
          if (a.isNullAt(j))
            throw new RuntimeException(
              "Null array item found; export with nullableArrayItems to support them")
          else inner(a, j, e)
        }
      (r, i, e) => {
        val arr = r.getArray(i)
        val len = arr.numElements()
        e.writeArrayStart()
        e.setItemCount(len.toLong)
        var j = 0
        while (j < len) {
          e.startItem()
          itemEnc(arr, j, e)
          j += 1
        }
        e.writeArrayEnd()
      }
    case other => throw new RuntimeException(s"Unsupported column type for avro export: ${other.sql}")
  }

  /** Avro `string` and `bytes` share one wire format (length, then the
    * UTF-8 bytes), so the string's bytes go out as they are — straight from
    * the row's own array when the string lives in one.
    */
  private def writeUtf8(s: UTF8String, e: Encoder): Unit = s.getBaseObject match {
    case bytes: Array[Byte] =>
      e.writeBytes(bytes, (s.getBaseOffset - Platform.BYTE_ARRAY_OFFSET).toInt, s.numBytes)
    case _ => e.writeBytes(s.getBytes)
  }

  private def arrayItemEncoder(dt: DataType): (ArrayData, Int, Encoder) => Unit =
    dt match {
      case LongType => (a, j, e) => e.writeLong(a.getLong(j))
      case IntegerType => (a, j, e) => e.writeInt(a.getInt(j))
      case DoubleType => (a, j, e) => e.writeDouble(a.getDouble(j))
      case FloatType => (a, j, e) => e.writeFloat(a.getFloat(j))
      case BooleanType => (a, j, e) => e.writeBoolean(a.getBoolean(j))
      case StringType => (a, j, e) => writeUtf8(a.getUTF8String(j), e)
      case BinaryType => (a, j, e) => e.writeBytes(a.getBinary(j))
      case other =>
        throw new RuntimeException(
          s"Unsupported array item type for avro export: ${other.sql}. " +
            "Set nullableArrayItems / use bytes array mode for exotic items.")
    }
}
