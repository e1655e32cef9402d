package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.io.EncoderFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.args.{AvroSinkArgs, QueryArgs}
import graft.jobs.{ExportJob, PartitionedExport}
import graft.schema.AvroSchemaGen
import graft.sink.{AvroSink, RowBinaryEncoder}
import graft.sources.{AvroSource, ParquetSource}
import graft.sql.QueryBuilder

/** What one timed iteration produced: the figures the end-to-end metrics
  * need and what its output check reads.
  */
final case class Outcome(
    rows: Long,
    avroBytes: Long,
    exports: Seq[(String, AvroSink.Metrics)] = Nil,
    graph: Map[String, Array[Row]] = Map.empty)

/** A workload: set-up of its ground truth (untimed), the timed call into the
  * program, the output check (untimed), and the traced-only probes that
  * split an export into its layers.
  */
trait Workload {
  def prepare(): Unit
  def run(out: String, tr: Tracer): Outcome
  /** None when the output is right, else what is wrong. */
  def check(out: String, o: Outcome): Option[String]
  def probe(out: String, tr: Tracer): Unit = ()
}

object Workload {
  /** Defects a test plants in the checked output to show the checks bite. */
  val Plants = Set("none", "drop_row", "graph_value")

  def apply(name: String, spark: SparkSession, data: String, expect: String, plant: String): Workload =
    name match {
      case "export_serial" => new ExportSerial(spark, data, plant)
      case "export_partitioned" => new ExportPartitioned(spark, data, plant)
      case "graph_supersteps" => new GraphSupersteps(spark, data, expect, plant)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
}

/** Order-independent checksum of a frame under the export's type mapping:
  * timestamps as epoch millis (what the Avro file holds), other columns as
  * read. Equal (count, sum of row hashes) on the source and the read-back
  * means equal multisets of rows, up to hash collisions.
  */
object Checksum {
  def mapped(df: DataFrame): DataFrame = df.select(df.schema.fields.toIndexedSeq.map { f =>
    val c = col(f.name)
    f.dataType match {
      case TimestampType => unix_millis(c).as(f.name)
      case TimestampNTZType => unix_millis(c.cast(TimestampType)).as(f.name)
      case DateType => (unix_date(c).cast(LongType) * 86400000L).as(f.name)
      case _: DecimalType | _: ArrayType | _: MapType | _: StructType =>
        throw new IllegalArgumentException(s"checksum does not map ${f.dataType.sql}")
      case _ => c
    }
  }: _*)

  def rowHash(df: DataFrame) = xxhash64(df.columns.toIndexedSeq.map(col): _*).cast("decimal(38,0)")

  def of(df: DataFrame): (Long, BigDecimal) = {
    val r = df.agg(count(lit(1)), sum(rowHash(df))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(BigDecimal(_)).getOrElse(BigDecimal(0)))
  }
}

/** Shared by both export workloads: the ground truth of one export
  * directory and its read-back check.
  */
abstract class ExportWorkload(spark: SparkSession, plant: String) extends Workload {
  protected def codec: String
  protected def table: String
  protected def data: String

  protected lazy val source = ParquetSource(s"$data/$table.parquet", table,
    QueryArgs(base = QueryBuilder.fromTable(table)))
  protected lazy val schemaCfg = AvroSchemaGen.Config(tableName = table,
    connectionUrl = s"parquet:$table")
  protected lazy val expectedSchema: Schema = AvroSchemaGen.generate(source.read(spark).schema, schemaCfg)

  /** The slices one export writes, as (directory below `out`, frame). */
  protected def slices(df: DataFrame): Seq[(String, DataFrame)]

  /** Checks one written directory against its expected (rows, checksum). */
  protected def checkDir(dir: String, expected: (Long, BigDecimal), recordCount: Long,
      plantHere: Boolean): Option[String] = {
    val f = new File(dir)
    val parts = Option(f.list()).getOrElse(Array.empty[String])
      .filter(n => n.endsWith(".avro") && !n.startsWith(".") && !n.startsWith("_")).toSet
    val manifest = new File(f, AvroSink.ManifestFile)
    val schemaFile = new File(f, "_AVRO_SCHEMA.avsc")
    if (!manifest.isFile) return Some(s"$dir: no ${AvroSink.ManifestFile}")
    val listed = Files.readAllLines(manifest.toPath, StandardCharsets.UTF_8).asScala
      .filter(_.nonEmpty).toSet
    if (listed != parts) return Some(s"$dir: manifest lists ${listed.size} parts, ${parts.size} on disk")
    if (!schemaFile.isFile) return Some(s"$dir: no _AVRO_SCHEMA.avsc")
    val written = new Schema.Parser().parse(schemaFile)
    if (written != expectedSchema) return Some(s"$dir: _AVRO_SCHEMA.avsc differs from the generated schema")
    val back0 = AvroSource.read(spark, dir)
    val back = if (plantHere && plant == "drop_row") back0.limit((expected._1 - 1).toInt) else back0
    val got = Checksum.of(back)
    if (got._1 != expected._1) Some(s"$dir: read back ${got._1} rows, expected ${expected._1}")
    else if (got._1 != recordCount) Some(s"$dir: read back ${got._1} rows, recordCount says $recordCount")
    else if (got._2 != expected._2) Some(s"$dir: row checksum differs from the source's")
    else None
  }

  /** Traced only: the export's layers called one by one on each slice —
    * schema inference, a drain of the source rows with no sink, the same
    * drain through the row encoder into a discarded buffer, and a direct
    * sink write into a scratch directory.
    */
  override def probe(out: String, tr: Tracer): Unit = {
    val df = source.read(spark)
    slices(df).zipWithIndex.foreach { case ((_, slice), i) =>
      val schema = tr.span("schema.infer")(AvroSchemaGen.generate(slice.schema, schemaCfg))
      tr.span("sources.pull")(slice.queryExecution.toRdd.foreachPartition(_.foreach(_ => ())))
      val sparkSchema = slice.schema
      tr.span("sink.encode") {
        slice.queryExecution.toRdd.mapPartitions { rows =>
          val fns = RowBinaryEncoder.compile(sparkSchema)
          val buf = new RowBinaryEncoder.ExposedByteArrayOutputStream()
          val enc = EncoderFactory.get.directBinaryEncoder(buf, null)
          var bytes = 0L
          while (rows.hasNext) {
            buf.reset()
            RowBinaryEncoder.encodeRow(rows.next(), fns, enc)
            enc.flush()
            bytes += buf.size()
          }
          Iterator.single(bytes)
        }.fold(0L)(_ + _)
      }
      tr.span("sink.write")(AvroSink.write(slice, schema, s"$out-probe-$i", codec))
    }
  }
}

/** dbeam's own job: one table, one file, one writer. */
final class ExportSerial(spark: SparkSession, val data: String, plant: String)
    extends ExportWorkload(spark, plant) {
  protected val codec = "deflate1"
  protected val table = "lineitem"
  private var expected: (Long, BigDecimal) = _

  protected def slices(df: DataFrame): Seq[(String, DataFrame)] = Seq("" -> df)

  def prepare(): Unit = {
    expected = Checksum.of(Checksum.mapped(source.read(spark)))
    expectedSchema
  }

  def run(out: String, tr: Tracer): Outcome = {
    val df = tr.span("sources.plan")(source.read(spark))
    val res = tr.span("jobs.export")(ExportJob.run(spark, df, out,
      sinkArgs = AvroSinkArgs(codec = codec), schemaCfg = schemaCfg,
      queries = source.args.buildQueries(_ => (0L, 0L))))
    Outcome(res.metrics.recordCount, res.metrics.bytesWritten, Seq("" -> res.metrics))
  }

  def check(out: String, o: Outcome): Option[String] =
    checkDir(out, expected, o.exports.head._2.recordCount, plantHere = true)
}

/** The same sink and job code as many small writes: one sub-export per
  * `event_type` value, each with its own side outputs and manifest.
  */
final class ExportPartitioned(spark: SparkSession, val data: String, plant: String)
    extends ExportWorkload(spark, plant) {
  protected val codec = "zstandard1"
  protected val table = "events"
  private val by = "event_type"
  private var expected: Map[String, (Long, BigDecimal)] = Map.empty

  private def dirOf(v: String) = s"$by=${PartitionedExport.sanitize(v)}"

  protected def slices(df: DataFrame): Seq[(String, DataFrame)] =
    expected.keys.toSeq.sorted.map(d => d -> df.filter(col(by) === d.stripPrefix(s"$by=")))

  def prepare(): Unit = {
    val m = Checksum.mapped(source.read(spark))
    expected = m.groupBy(by).agg(count(lit(1)), sum(Checksum.rowHash(m))).collect().map { r =>
      require(!r.isNullAt(0) && PartitionedExport.sanitize(r.getString(0)) == r.getString(0),
        s"partition value ${r.get(0)} must be a plain name")
      dirOf(r.getString(0)) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))
    }.toMap
    expectedSchema
  }

  def run(out: String, tr: Tracer): Outcome = {
    val df = tr.span("sources.plan")(source.read(spark))
    val res = tr.span("jobs.export")(PartitionedExport.run(spark, df, out, by,
      sinkArgs = AvroSinkArgs(codec = codec), schemaCfg = schemaCfg))
    Outcome(res.totalRecords, res.partitions.map(_._2.bytesWritten).sum,
      res.partitions.map { case (d, m) => s"$by=$d" -> m })
  }

  def check(out: String, o: Outcome): Option[String] = {
    val manifest = new String(Files.readAllBytes(new File(out, "_PARTITIONS.json").toPath),
      StandardCharsets.UTF_8)
    val counts = "\"([^\"]+)\":(\\d+)".r.findAllMatchIn(manifest)
      .map(m => s"$by=${m.group(1)}" -> m.group(2).toLong).toMap
    if (counts != expected.map { case (d, (n, _)) => d -> n })
      return Some(s"_PARTITIONS.json $counts differs from the source's groupBy counts")
    val written = o.exports.toMap
    expected.keys.toSeq.sorted.iterator.zipWithIndex.map { case (d, i) =>
      written.get(d) match {
        case None => Some(s"no sub-export for $d")
        case Some(m) => checkDir(s"$out/$d", expected(d), m.recordCount, plantHere = i == 0)
      }
    }.collectFirst { case Some(err) => err }
  }
}

/** The catalog's superstep rows over the trade graph, each forced by
  * collecting its result, which the check compares with the DuckDB oracle's.
  */
final class GraphSupersteps(spark: SparkSession, data: String, expect: String, plant: String)
    extends Workload {
  private var lineitemRows = 0L
  private var expected: Map[String, (Seq[String], Seq[Seq[Long]])] = Map.empty

  private def asLong(v: Any): Long = v match {
    case null => Long.MinValue
    case n: java.lang.Number => n.longValue
    case other => throw new IllegalArgumentException(s"non-integer result value $other")
  }

  private def sorted(rows: Seq[Seq[Long]]): Seq[Seq[Long]] =
    rows.sorted(Ordering.Implicits.seqOrdering[Seq, Long])

  def prepare(): Unit = {
    lineitemRows = spark.read.parquet(s"$data/lineitem.parquet").count()
    expected = GraphSupersteps.Rows.map { row =>
      val lines = Files.readAllLines(new File(expect, s"$row.tsv").toPath).asScala.toSeq
      val cols = lines.head.split("\t").toSeq.map(_.toLowerCase)
      val rows = lines.tail.filter(_.nonEmpty).map(_.split("\t").toSeq
        .map(v => if (v == "\\N") Long.MinValue else v.toLong))
      row -> (cols, sorted(rows))
    }.toMap
  }

  def run(out: String, tr: Tracer): Outcome = {
    val results = GraphSupersteps.Rows.map { row =>
      row -> tr.span(s"operators.$row")(SparkEntry.queries(row)(spark, data).collect())
    }.toMap
    Outcome(lineitemRows, 0L, graph = results)
  }

  def check(out: String, o: Outcome): Option[String] =
    GraphSupersteps.Rows.iterator.map { row =>
      val (cols, want) = expected(row)
      val got = o.graph(row)
      val names = if (got.isEmpty) cols else got.head.schema.fieldNames.toSeq.map(_.toLowerCase)
      if (!cols.forall(names.contains)) Some(s"$row: columns $names, oracle has $cols")
      else {
        val idx = cols.map(names.indexOf(_))
        val rows0 = got.toSeq.map(r => idx.map(i => asLong(r.get(i))))
        val rows = if (plant == "graph_value" && row == GraphSupersteps.Rows.head && rows0.nonEmpty)
          rows0.updated(0, rows0.head.updated(cols.length - 1, rows0.head.last + 1)) else rows0
        val s = sorted(rows)
        if (s.length != want.length) Some(s"$row: ${s.length} rows, oracle has ${want.length}")
        else s.indices.find(i => s(i) != want(i))
          .map(i => s"$row: row ${s(i).mkString(",")} differs from oracle ${want(i).mkString(",")}")
      }
    }.collectFirst { case Some(err) => err }
}

object GraphSupersteps {
  val Rows = Seq("graph_pagerank", "graph_components")
}
