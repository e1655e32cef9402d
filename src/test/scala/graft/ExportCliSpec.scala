package graft

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.{ExitCodes, ExportCli}
import graft.sources.AvroSource

/** Drives [[ExportCli.run]] — the CLI's whole flag routing — on the shared
  * session over the sf0.001 `events` table. Each mode's `_queries/` text
  * and `_AVRO_SCHEMA.avsc` are pinned to what the CLI wrote before `run`
  * was split out of `main`, and every mode refuses, before any write, the
  * flags it would otherwise drop.
  */
class ExportCliSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val events = s"${SparkSpec.testDataDir}/events.parquet"
  private lazy val tmp = Files.createTempDirectory("export-cli").toString

  private def run(flags: String*): String = ExportCli.run(spark, flags.toArray)
  private def text(path: String): String =
    new String(Files.readAllBytes(new File(path).toPath), StandardCharsets.UTF_8)
  private def back(dir: String): DataFrame = AvroSource.read(spark, dir)
  private def checksum(df: DataFrame): BigDecimal = BigDecimal(df
    .select(sum(xxhash64(df.columns.map(col).toIndexedSeq: _*).cast("decimal(38,0)"))).head().getDecimal(0))

  /** The CLI's `_AVRO_SCHEMA.avsc` for `input` read as `format`, fields as
    * (name, avro type, Spark type). */
  private def avsc(input: String, format: String, fields: (String, String, String)*): String =
    fields.map { case (n, t, tn) =>
      s"""{
         |    "name" : "$n",
         |    "type" : [ "null", "$t" ],
         |    "default" : null,
         |    "columnName" : "$n",
         |    "typeName" : "$tn"
         |  }""".stripMargin
    }.mkString(
      s"""{
         |  "type" : "record",
         |  "name" : "events",
         |  "namespace" : "dbeam_generated",
         |  "doc" : "Generate schema from JDBC ResultSet from $format:$input",
         |  "fields" : [ """.stripMargin,
      ", ",
      s""" ],
         |  "tableName" : "events",
         |  "connectionUrl" : "$format:$input"
         |}""".stripMargin)

  private val eventsFields = Seq(
    ("event_id", "long", "BIGINT"), ("ts", "long", "TIMESTAMP_NTZ"), ("user_id", "long", "BIGINT"),
    ("event_type", "string", "STRING"), ("value", "double", "DOUBLE"), ("props", "string", "STRING"))

  private def assertContract(out: String, input: String, query: String,
      fields: Seq[(String, String, String)] = eventsFields, format: String = "parquet"): Unit = {
    assert(new File(out).list().toSet == Set("_AVRO_SCHEMA.avsc", "_MANIFEST", "_METRICS.json",
      "_SERVICE_METRICS.json", "_queries", "part-00000-of-00001.avro"))
    assert(new File(s"$out/_queries").list().toSeq == Seq("query_0.sql"))
    assert(text(s"$out/_queries/query_0.sql") == query)
    assert(text(s"$out/_AVRO_SCHEMA.avsc") == avsc(input, format, fields: _*))
  }

  /** Epoch-millis bounds of the `--partition=2024-01-10 --partitionPeriod=P7D` window. */
  private val (windowStart, windowEnd) = (1704844800000L, 1705449600000L)

  test("table export: partition window and limit over parquet") {
    val out = s"$tmp/table"
    val line = run(s"--input=$events", s"--output=$out", "--avroCodec=deflate1",
      "--partitionColumn=ts", "--partition=2024-01-10", "--partitionPeriod=P7D",
      "--limit=50", "--skipPartitionCheck")
    assert(line.contains("\"recordCount\":50"), line)
    assertContract(out, events,
      "SELECT * FROM events WHERE 1=1 AND ts >= '2024-01-10' AND ts < '2024-01-17' LIMIT 50")
    val rows = back(out)
    assert(rows.count() == 50)
    assert(rows.filter(col("ts") < windowStart || col("ts") >= windowEnd).isEmpty)
  }

  test("--sqlFile over a CSV copy: the window and limit apply to the query's output") {
    val csv = s"$tmp/in/events.csv"
    spark.read.parquet(events)
      .selectExpr("event_id", "CAST(ts AS STRING) AS ts", "user_id", "event_type", "value")
      .coalesce(1).write.option("header", "true").csv(csv)
    val sql = s"$tmp/in/q.sql"
    Files.write(new File(sql).toPath,
      "SELECT event_id, ts, event_type, value FROM events WHERE event_type <> 'error'"
        .getBytes(StandardCharsets.UTF_8))
    val out = s"$tmp/sqlfile"
    run(s"--input=$csv", "--table=events", s"--sqlFile=$sql", s"--output=$out",
      "--avroCodec=deflate1", "--partitionColumn=ts", "--partition=2024-01-10",
      "--partitionPeriod=P7D", "--limit=40", "--skipPartitionCheck")
    assertContract(out, csv,
      "SELECT * FROM (SELECT event_id, ts, event_type, value FROM events " +
        "WHERE event_type <> 'error') as user_sql_query " +
        "WHERE 1=1 AND ts >= '2024-01-10' AND ts < '2024-01-17' LIMIT 40",
      Seq(("event_id", "int", "INT"), ("ts", "long", "TIMESTAMP"),
        ("event_type", "string", "STRING"), ("value", "double", "DOUBLE")), format = "csv")
    val rows = back(out)
    assert(rows.count() == 40)
    assert(rows.filter(col("ts") < windowStart || col("ts") >= windowEnd
      || col("event_type") === "error").isEmpty)
  }

  test("two --incrementalColumn runs export the table once between them") {
    val input = s"$tmp/in/inc_events.parquet"
    val state = s"$tmp/inc-state"
    def incRun(upTo: Int, out: String): Unit = {
      spark.read.parquet(events).filter(col("event_id") < upTo)
        .coalesce(1).write.mode("overwrite").parquet(input)
      run(s"--input=$input", "--table=events", "--incrementalColumn=event_id",
        s"--stateDir=$state", s"--output=$out", "--avroCodec=deflate1")
    }
    incRun(600, s"$tmp/inc1")
    assertContract(s"$tmp/inc1", input, "SELECT * FROM events WHERE event_id <= '599'")
    assert(back(s"$tmp/inc1").count() == 600)
    assert(checksum(back(s"$tmp/inc1")) == BigDecimal("-132242483292587266659"))
    incRun(1000, s"$tmp/inc2")
    assertContract(s"$tmp/inc2", input,
      "SELECT * FROM events WHERE event_id > '599' AND event_id <= '999'")
    assert(back(s"$tmp/inc2").count() == 400)
    assert(checksum(back(s"$tmp/inc2")) == BigDecimal("-29353064213159127993"))
  }

  test("--partitionOutputBy writes one contract directory per value") {
    val out = s"$tmp/byType"
    val line = run(s"--input=$events", s"--output=$out", "--avroCodec=deflate1",
      "--partitionOutputBy=event_type")
    assert(line == """{"partitions":5,"recordCount":1000}""")
    val expected = Seq("click" -> (210L, "-34085769715211508794"),
      "error" -> (201L, "39469281601109330507"), "purchase" -> (202L, "-61437126656350796062"),
      "signup" -> (199L, "-141968649806437249061"), "view" -> (188L, "36426717071143828758"))
    assert(new File(out).list().toSet ==
      expected.map(e => s"event_type=${e._1}").toSet + "_PARTITIONS.json")
    for ((value, (n, sum)) <- expected) {
      val dir = s"$out/event_type=$value"
      assertContract(dir, events, s"-- partition slice: event_type = $value")
      assert(back(dir).count() == n, value)
      assert(checksum(back(dir)) == BigDecimal(sum), value)
    }
  }

  test("each mode refuses the flags it would drop, before any write (exit 43)") {
    val inc = Seq(s"--input=$events", "--incrementalColumn=event_id", s"--stateDir=$tmp/refused-state")
    val byType = Seq(s"--input=$events", "--partitionOutputBy=event_type")
    val refused = Seq(
      byType -> "--avroSchemaFilePath=/x.avsc", byType -> "--exportTimeout=PT1H",
      inc -> "--sqlFile=/x.sql", inc -> "--partitionColumn=ts", inc -> "--partition=2024-01-10",
      inc -> "--limit=5", inc -> "--queryParallelism=2", inc -> "--avroSchemaFilePath=/x.avsc",
      inc -> "--exportTimeout=PT1H", inc -> "--partitionOutputBy=event_type",
      inc -> "--connectionUrl=jdbc:h2:mem:x", inc -> "--inputFormat=csv")
    for (((mode, flag), i) <- refused.zipWithIndex) {
      val out = s"$tmp/refused-$i"
      val e = intercept[IllegalArgumentException](run(mode :+ flag :+ s"--output=$out": _*))
      assert(ExitCodes.forThrowable(e) == ExitCodes.IllegalArgument)
      assert(e.getMessage.contains(flag.takeWhile(_ != '=')), e.getMessage)
      assert(!new File(out).exists() && !new File(s"$tmp/refused-state").exists(), flag)
    }
  }

  test("a file export refuses the JDBC-only flags, before any write (exit 43)") {
    val jdbcOnly = Seq("--splitColumn=event_id", "--fetchSize=100", "--arrayMode=bytes",
      "--preCommand=SET a=1", "--username=u", "--password=p", "--passwordFile=/x.pw",
      "--skipReplicationDelayCheck")
    for ((flag, i) <- jdbcOnly.zipWithIndex) {
      val out = s"$tmp/file-refused-$i"
      val e = intercept[IllegalArgumentException](
        run(s"--input=$events", flag, "--queryParallelism=4", s"--output=$out"))
      assert(ExitCodes.forThrowable(e) == ExitCodes.IllegalArgument)
      assert(e.getMessage.contains(flag.takeWhile(_ != '=')) &&
        e.getMessage.contains("--connectionUrl"), e.getMessage)
      assert(!new File(out).exists(), flag)
    }
  }
}
