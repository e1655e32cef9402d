package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileStream
import org.apache.avro.generic.{GenericDatumReader, GenericRecord}
import org.apache.avro.util.Utf8
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

/** Reads Avro container files (the sink's own output format) back into a
  * DataFrame — no spark-avro on this classpath, so this is a small
  * avro-core reader mirroring `sink.AvroSink`.
  *
  * Scale: one Spark partition per container file (the sink writes one file
  * per input partition, so round-trips preserve parallelism); rows stream
  * through `DataFileStream` — no file is materialized in memory.
  *
  * Type mapping is the inverse of `AvroSchemaGen`: union[null, T] →
  * nullable T, long → LongType (epoch-millis timestamps stay longs, as in
  * the dbeam wire format), bytes → BinaryType, string → StringType.
  */
object AvroSource {

  def read(spark: SparkSession, dir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val fs = base.getFileSystem(conf)
    val files = fs.listStatus(base)
      .filter { s =>
        val name = s.getPath.getName
        // skip hidden/temp files (".tmp-part-...-attempt-N.avro" left by a
        // failed task attempt, "_" sidecars) — the Hadoop hidden-file
        // convention; only atomically-renamed committed parts are data
        s.isFile && name.endsWith(".avro") &&
          !name.startsWith(".") && !name.startsWith("_")
      }
      .map(_.getPath.toString)
      .sorted
    require(files.nonEmpty, s"no .avro files under $dir")

    // Validate against the sink's commit manifest when present: a replayed
    // write that re-planned with a different partition count leaves TWO
    // disjoint part-i-of-N sets in the directory (names encode N) — fail
    // loudly instead of returning duplicated rows. Dirs without a manifest
    // (foreign/legacy) keep the permissive listing behavior.
    val manifestPath = new Path(base, graft.sink.AvroSink.ManifestFile)
    if (fs.exists(manifestPath)) {
      val in = fs.open(manifestPath)
      val expected = scala.io.Source.fromInputStream(in, "UTF-8").getLines().filter(_.nonEmpty).toSet
      in.close()
      val actual = files.map(new Path(_).getName).toSet
      require(actual == expected,
        s"$dir does not match its commit manifest: " +
          s"unexpected=${(actual -- expected).toSeq.sorted.mkString(",")} " +
          s"missing=${(expected -- actual).toSeq.sorted.mkString(",")} — " +
          "likely a replayed write with a different partition count")
    }

    val avroSchema = {
      val in = fs.open(new Path(files.head))
      val stream = new DataFileStream[GenericRecord](in, new GenericDatumReader[GenericRecord]())
      val s = stream.getSchema
      stream.close()
      s
    }
    val sparkSchema = toStructType(avroSchema)
    val schemaJson = avroSchema.toString
    // Shipped once per read, like the sink's: every task sees the session's
    // Hadoop conf (credentials, `fs.<scheme>.impl`), not a fresh default.
    val taskConf = spark.sparkContext.broadcast(
      new SerializableConfiguration(new Configuration(conf)))

    val rows = spark.sparkContext
      .parallelize(files.toIndexedSeq, files.length)
      .flatMap { file =>
        val p = new Path(file)
        val schema = new Schema.Parser().parse(schemaJson)
        val stream = new DataFileStream[GenericRecord](
          p.getFileSystem(taskConf.value.value).open(p), new GenericDatumReader[GenericRecord](schema))
        // Close on task completion too: a consumer that abandons the
        // iterator early (LIMIT, take) never reaches the drained-close in
        // hasNext, and a long-lived executor would leak the file handle.
        var closed = false
        def closeOnce(): Unit = if (!closed) { closed = true; stream.close() }
        Option(org.apache.spark.TaskContext.get())
          .foreach(_.addTaskCompletionListener[Unit](_ => closeOnce()))
        val fieldCount = schema.getFields.size
        new Iterator[Row] {
          def hasNext: Boolean = {
            val h = stream.hasNext
            if (!h) closeOnce()
            h
          }
          def next(): Row = {
            val rec = stream.next()
            val vals = new Array[Any](fieldCount)
            var i = 0
            while (i < fieldCount) {
              vals(i) = fromAvro(rec.get(i))
              i += 1
            }
            Row.fromSeq(vals.toIndexedSeq)
          }
        }
      }
    spark.createDataFrame(rows, sparkSchema)
  }

  private def fromAvro(v: Any): Any = v match {
    case null => null
    case u: Utf8 => u.toString
    case bb: java.nio.ByteBuffer =>
      val arr = new Array[Byte](bb.remaining())
      bb.duplicate().get(arr)
      arr
    case l: java.util.List[_] => l.asScala.map(fromAvro).toSeq
    case other => other
  }

  /** Avro → Spark types for the subset the sink emits. */
  def toStructType(schema: Schema): StructType = {
    require(schema.getType == Schema.Type.RECORD, s"expected record, got ${schema.getType}")
    StructType(schema.getFields.asScala.map { f =>
      StructField(f.name, fieldType(unwrap(f.schema)), nullable = true)
    }.toSeq)
  }

  private def unwrap(s: Schema): Schema =
    if (s.getType == Schema.Type.UNION)
      s.getTypes.asScala.find(_.getType != Schema.Type.NULL).getOrElse(s.getTypes.get(0))
    else s

  private def fieldType(s: Schema): DataType = s.getType match {
    case Schema.Type.LONG => LongType
    case Schema.Type.INT => IntegerType
    case Schema.Type.BOOLEAN => BooleanType
    case Schema.Type.DOUBLE => DoubleType
    case Schema.Type.FLOAT => FloatType
    case Schema.Type.BYTES => BinaryType
    case Schema.Type.STRING => StringType
    case Schema.Type.ARRAY => ArrayType(fieldType(unwrap(s.getElementType)))
    case other => throw new RuntimeException(s"Unsupported avro type for read: $other")
  }
}
