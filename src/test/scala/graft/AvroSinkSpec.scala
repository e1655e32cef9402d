package graft

import java.io.{ByteArrayOutputStream, File}
import java.nio.ByteBuffer
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter, GenericRecord}
import org.apache.avro.io.EncoderFactory
import org.apache.spark.SparkException
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, expr, udf}
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.args.AvroSinkArgs
import graft.jobs.{ExitCodes, ExportJob, FailedValidationException}
import graft.schema.AvroSchemaGen
import graft.sink.{AvroBlockWriter, AvroSink, RowBinaryEncoder}
import graft.sources.AvroSource

/** Avro round-trip + output-contract tests, mirroring the reference's
  * `avro/JdbcAvroRecordTest.java:187-249` (value equality through the file)
  * and `jobs/JdbcAvroJobTest.java:101-140` (file-set contract).
  */
class AvroSinkSpec extends AnyFunSuite {

  private lazy val spark = SparkSpec.spark

  private def tmpDir(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private val coffeeSchema = StructType(Seq(
    StructField("COF_NAME", StringType, nullable = false),
    StructField("SUP_ID", IntegerType),
    StructField("PRICE", DecimalType(21, 2)),
    StructField("TEMPERATURE", FloatType),
    StructField("SIZE", DoubleType),
    StructField("IS_ARABIC", BooleanType),
    StructField("TOTAL", LongType),
    StructField("CREATED", TimestampType),
    StructField("UPDATED", TimestampType),
    StructField("INT_ARR", ArrayType(IntegerType, containsNull = false)),
    StructField("TEXT_ARR", ArrayType(StringType, containsNull = false))
  ))

  // Golden row 1 from the reference fixture (`Coffee.java:136-163`).
  private val created = Timestamp.from(java.time.Instant.parse("2017-02-28T16:35:33Z"))
  private val rows = Seq(
    Row("costa rica caffee", null, new java.math.BigDecimal("7.20"), 82.5f, 320.7, true,
      200L, created, null, Seq(5, 7, 11), Seq("rock", "scissors", "paper")),
    Row("colombian caffee", null, new java.math.BigDecimal("9.99"), 75.0f, 500.0, false,
      401L, created, null, Seq(1, 2, 3), Seq("a", "b", "c"))
  )

  private def coffeeDf = spark.createDataFrame(rows.asJava, coffeeSchema).coalesce(1)

  private def readAvro(dir: String): Seq[GenericRecord] = {
    val files = new File(dir).listFiles().filter(_.getName.endsWith(".avro")).sortBy(_.getName)
    files.flatMap { f =>
      val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
      val out = r.iterator().asScala.toVector
      r.close()
      out
    }.toSeq
  }

  test("round trip: values survive with dbeam conversion semantics") {
    val dir = tmpDir("avro-rt")
    val schema = AvroSchemaGen.generate(coffeeSchema, AvroSchemaGen.Config(tableName = "COFFEES"))
    val m = AvroSink.write(coffeeDf, schema, dir, "deflate1")
    assert(m.recordCount == 2)
    assert(m.bytesWritten > 0)

    val recs = readAvro(dir)
    assert(recs.size == 2)
    val r1 = recs.find(_.get("COF_NAME").toString == "costa rica caffee").get
    assert(r1.get("SUP_ID") == null)
    assert(r1.get("PRICE").toString == "7.20") // decimal -> string, scale preserved
    assert(r1.get("TEMPERATURE") == 82.5f)
    assert(r1.get("SIZE") == 320.7)
    assert(r1.get("IS_ARABIC") == true)
    assert(r1.get("TOTAL") == 200L)
    assert(r1.get("CREATED") == 1488299733000L) // epoch millis, UTC
    assert(r1.get("UPDATED") == null)
    assert(r1.get("INT_ARR").asInstanceOf[java.util.List[_]].asScala.toList == List(5, 7, 11))
    assert(r1.get("TEXT_ARR").asInstanceOf[java.util.List[_]].asScala.map(_.toString).toList ==
      List("rock", "scissors", "paper"))
  }

  test("file metadata: codec, sync, created_by") {
    val dir = tmpDir("avro-meta")
    val schema = AvroSchemaGen.generate(coffeeSchema, AvroSchemaGen.Config(tableName = "COFFEES"))
    AvroSink.write(coffeeDf, schema, dir, "deflate1")
    val f = new File(dir).listFiles().find(_.getName.endsWith(".avro")).get
    val r = new DataFileReader[GenericRecord](f, new GenericDatumReader[GenericRecord]())
    assert(r.getMetaString("avro.codec") == "deflate")
    assert(r.getMetaString("created_by") == "dbeamspark")
    r.close()
  }

  test("one part file per partition, named part-SSSSS-of-NNNNN.avro") {
    val dir = tmpDir("avro-parts")
    val df = spark.range(0, 1000).toDF("id").repartition(3)
    val schema = AvroSchemaGen.generate(df.schema, AvroSchemaGen.Config(tableName = "r"))
    val m = AvroSink.write(df, schema, dir, "deflate1")
    assert(m.recordCount == 1000)
    val names = new File(dir).listFiles().map(_.getName).filter(_.endsWith(".avro")).sorted
    assert(names.toSeq == Seq(
      "part-00000-of-00003.avro", "part-00001-of-00003.avro", "part-00002-of-00003.avro"))
    assert(readAvro(dir).map(_.get("id").asInstanceOf[Long]).sorted == (0L until 1000L))
  }

  test("metering cadence: in-flight flushes fire every meterEveryRows, count stays exact") {
    // 2500 rows in ONE partition at cadence 1000 → exactly 2 in-flight
    // flushes (the 500-row remainder lands in the end-of-task flush);
    // recordCount must be exact either way (reference JdbcAvroMetering
    // cadence, avro/JdbcAvroMetering.java:54-78).
    val dir = tmpDir("avro-meter")
    val df = spark.range(0, 2500).toDF("id").coalesce(1)
    val schema = AvroSchemaGen.generate(df.schema, AvroSchemaGen.Config(tableName = "r"))
    val m = AvroSink.write(df, schema, dir, "deflate1", meterEveryRows = 1000L)
    assert(m.recordCount == 2500)
    assert(m.meterFlushes == 2, s"expected 2 cadence flushes, got ${m.meterFlushes}")
    // multi-partition: flushes sum per-task floors
    val dir2 = tmpDir("avro-meter2")
    val df2 = spark.range(0, 1000).toDF("id").repartition(4)
    val m2 = AvroSink.write(df2, schema, dir2, "deflate1", meterEveryRows = 100L)
    assert(m2.recordCount == 1000)
    val perPart = readAvro(dir2).size // sanity: all rows present
    assert(perPart == 1000)
    // 4 tasks × floor(rows_p/100) flushes; rows_p ≈ 250 ⇒ 8-10 total
    assert(m2.meterFlushes >= 8 && m2.meterFlushes <= 10,
      s"cadence flushes off: ${m2.meterFlushes}")
    // default cadence (100k) leaves small exports flush-free
    val dir3 = tmpDir("avro-meter3")
    val m3 = AvroSink.write(df, schema, dir3, "deflate1")
    assert(m3.meterFlushes == 0 && m3.recordCount == 2500)
  }

  test("r15: a zero-partition plan still publishes one readable empty part matching the manifest") {
    val schema = StructType(Seq(StructField("id", LongType)))
    // an RDD-backed empty frame keeps ZERO partitions through toRdd —
    // previously: no task ran, no part file, but the manifest named one
    val df = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    assert(df.queryExecution.toRdd.getNumPartitions == 0, "fixture must be zero-partition")
    val out = tmpDir("avro-empty")
    val avro = AvroSchemaGen.generate(schema, AvroSchemaGen.Config(tableName = "empty"))
    val m = AvroSink.write(df, avro, out, "deflate1")
    assert(m.recordCount == 0)
    val names = new File(out).listFiles().map(_.getName).toSet
    assert(names.contains("part-00000-of-00001.avro"), s"missing empty part: $names")
    // and the sink's own reader accepts the directory (manifest matches)
    assert(graft.sources.AvroSource.read(spark, out).count() == 0)
  }

  test("codec validation") {
    AvroSink.codecFactory("snappy")
    AvroSink.codecFactory("deflate9")
    AvroSink.codecFactory("zstandard3")
    assertThrows[IllegalArgumentException](AvroSink.codecFactory("deflate0"))
    assertThrows[IllegalArgumentException](AvroSink.codecFactory("lz4"))
    assertThrows[IllegalArgumentException](AvroSinkArgs(codec = "gzip"))
  }

  test("ExportJob writes the full dbeam output contract") {
    val dir = tmpDir("job-contract")
    val res = ExportJob.run(
      spark, coffeeDf, dir,
      sinkArgs = AvroSinkArgs(codec = "deflate1"),
      schemaCfg = AvroSchemaGen.Config(tableName = "COFFEES"),
      queries = Seq("SELECT * FROM COFFEES WHERE 1=1"))
    assert(res.metrics.recordCount == 2)
    val entries = new File(dir).listFiles().map(_.getName).toSet
    assert(entries == Set(
      "part-00000-of-00001.avro", "_MANIFEST", "_AVRO_SCHEMA.avsc", "_METRICS.json",
      "_SERVICE_METRICS.json", "_queries"))
    assert(new File(dir, "_queries").listFiles().map(_.getName).toSeq == Seq("query_0.sql"))
    val schemaJson = Files.readString(new File(dir, "_AVRO_SCHEMA.avsc").toPath)
    assert(new org.apache.avro.Schema.Parser().parse(schemaJson).getName == "COFFEES")
    val metrics = Files.readString(new File(dir, "_METRICS.json").toPath)
    for (k <- Seq("recordCount", "bytesWritten", "writeElapsedMs", "msPerMillionRows",
        "rowsPerMinute", "KbWritePerSec", "executeQueryElapsedMs", "schemaElapsedTimeMs"))
      assert(metrics.contains(k), s"missing metric $k")
  }

  test("dataOnly writes part files only") {
    val dir = tmpDir("job-dataonly")
    ExportJob.run(spark, coffeeDf, dir,
      sinkArgs = AvroSinkArgs(codec = "deflate1"),
      schemaCfg = AvroSchemaGen.Config(tableName = "COFFEES"),
      queries = Seq("q"), dataOnly = true)
    assert(new File(dir).listFiles().map(_.getName).toSet == Set("part-00000-of-00001.avro"))
  }

  test("minRows validation fails with FailedValidationException (exit 50)") {
    val dir = tmpDir("job-minrows")
    val e = intercept[FailedValidationException] {
      ExportJob.run(spark, coffeeDf, dir,
        sinkArgs = AvroSinkArgs(codec = "deflate1"),
        schemaCfg = AvroSchemaGen.Config(tableName = "COFFEES"),
        minRows = 100)
    }
    assert(graft.jobs.ExitCodes.forThrowable(e) == 50)
  }

  test("user-provided Avro schema replaces inference, docs/namespace propagate") {
    // mirrors the reference's input-schema path (`jobs/JdbcAvroJob.java:146-152`,
    // `options/InputAvroSchemaTest.java`): record doc, namespace and field
    // docs come from the user .avsc, values still round-trip
    val userJson =
      """{
        |  "name": "UserCoffee", "namespace": "v2", "type": "record",
        |  "doc": "Record description",
        |  "fields": [
        |    {"name": "name", "type": ["null", "string"], "doc": "Field1 description", "default": null},
        |    {"name": "total", "type": ["null", "long"], "doc": "Field2 description", "default": null}
        |  ]
        |}""".stripMargin
    val avscPath = Files.createTempFile("user-schema", ".avsc")
    Files.write(avscPath, userJson.getBytes("UTF-8"))
    val user = AvroSchemaGen.parseInputAvroSchemaFile(
      spark.sparkContext.hadoopConfiguration, avscPath.toString)

    val df = coffeeDf.selectExpr("COF_NAME", "TOTAL")
    val dir = tmpDir("avro-user-schema")
    val res = ExportJob.run(spark, df, dir, userSchema = Some(user))
    assert(res.metrics.recordCount == 2)

    // the side-output schema IS the user schema
    val sideSchema = new org.apache.avro.Schema.Parser().parse(
      new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "_AVRO_SCHEMA.avsc")), "UTF-8"))
    assert(sideSchema.getDoc == "Record description")
    assert(sideSchema.getNamespace == "v2")
    assert(sideSchema.getField("name").doc() == "Field1 description")

    // data files decode with the user header, values intact under user names
    val recs = readAvro(dir)
    assert(recs.map(_.get("name").toString).toSet == Set("costa rica caffee", "colombian caffee"))
    assert(recs.map(_.get("total")).toSet == Set(200L, 401L))
    assert(recs.head.getSchema.getNamespace == "v2")
  }

  test("wire-incompatible user schema fails fast (exit 43), not corrupt files") {
    val badJson =
      """{
        |  "name": "Bad", "type": "record",
        |  "fields": [
        |    {"name": "name", "type": ["null", "int"], "default": null},
        |    {"name": "total", "type": ["null", "long"], "default": null}
        |  ]
        |}""".stripMargin
    val bad = new org.apache.avro.Schema.Parser().parse(badJson)
    val df = coffeeDf.selectExpr("COF_NAME", "TOTAL")
    val e = intercept[IllegalArgumentException] {
      ExportJob.run(spark, df, tmpDir("avro-bad-user-schema"), userSchema = Some(bad))
    }
    assert(e.getMessage.contains("name"))
    // field-count mismatch is also caught before any write
    intercept[IllegalArgumentException] {
      ExportJob.run(spark, coffeeDf, tmpDir("avro-bad-user-schema2"), userSchema = Some(bad))
    }
  }

  test("null array item without nullableArrayItems fails with targeted error") {
    val dir = tmpDir("avro-nullitem")
    val schema = StructType(Seq(StructField("arr", ArrayType(IntegerType, containsNull = true))))
    val df = spark.createDataFrame(
      Seq(Row(Seq[Any](1, null, 3))).asJava, schema).coalesce(1)
    val avro = AvroSchemaGen.generate(schema, AvroSchemaGen.Config())
    val e = intercept[Exception] {
      AvroSink.write(df, avro, dir, "deflate1")
    }
    assert(e.getMessage.contains("nullableArrayItems") ||
      Option(e.getCause).exists(_.getMessage.contains("nullableArrayItems")))

    // and with the flag, the null item round-trips
    val dir2 = tmpDir("avro-nullitem-ok")
    val avro2 = AvroSchemaGen.generate(schema, AvroSchemaGen.Config(nullableArrayItems = true))
    val m = AvroSink.write(df, avro2, dir2, "deflate1", nullableArrayItems = true)
    assert(m.recordCount == 1)
  }

  // ---- the block-pipelined container writer ----

  private val blockCodecs = Seq("deflate1", "deflate9", "snappy", "zstandard1")
  private val fixedSync = Array.tabulate[Byte](16)(i => (31 * i + 7).toByte)

  /** A `Row` value as Avro's generic datum writer takes it, with the sink's
    * conversions (timestamp → epoch millis, decimal → string).
    */
  private def avroValue(v: Any): AnyRef = v match {
    case null => null
    case s: Seq[_] => s.map(avroValue).asJava
    case b: Array[Byte] => ByteBuffer.wrap(b)
    case t: Timestamp => java.lang.Long.valueOf(t.getTime)
    case d: java.math.BigDecimal => d.toString
    case other => other.asInstanceOf[AnyRef]
  }

  private def records(avro: Schema, rows: Seq[Row]): Seq[GenericRecord] = rows.map { r =>
    val rec = new GenericData.Record(avro)
    (0 until r.length).foreach(i => rec.put(i, avroValue(r.get(i))))
    rec
  }

  /** Stock container: Avro's own datum writer encodes each record and
    * `DataFileWriter.appendEncoded` appends it. Also returns the
    * uncompressed row bytes.
    */
  private def stockContainer(avro: Schema, codec: String, sync: Array[Byte],
      recs: Seq[GenericRecord]): (Array[Byte], Long) = {
    val out = new ByteArrayOutputStream()
    val w = new DataFileWriter[GenericRecord](new GenericDatumWriter[GenericRecord](avro))
    w.setCodec(AvroSink.codecFactory(codec)).setSyncInterval(1 << 20)
    w.setMeta("created_by", "dbeamspark")
    w.create(avro, out, sync)
    val datum = new GenericDatumWriter[GenericRecord](avro)
    val row = new ByteArrayOutputStream()
    val enc = EncoderFactory.get.directBinaryEncoder(row, null)
    var raw = 0L
    recs.foreach { r =>
      row.reset()
      datum.write(r, enc)
      enc.flush()
      raw += row.size
      w.appendEncoded(ByteBuffer.wrap(row.toByteArray))
    }
    w.close()
    (out.toByteArray, raw)
  }

  /** Comparable form of a value read back by either reader. */
  private def norm(v: Any): Any = v match {
    case b: ByteBuffer =>
      val a = new Array[Byte](b.remaining)
      b.duplicate().get(a)
      a.toSeq
    case b: Array[Byte] => b.toSeq
    case l: java.util.List[_] => l.asScala.map(norm).toSeq
    case s: scala.collection.Seq[_] => s.map(norm).toSeq
    case s: CharSequence => s.toString
    case other => other
  }

  /** For every codec: the block writer's bytes equal stock `DataFileWriter`'s
    * under one fixed sync marker; `AvroSink.write` equals stock under the
    * marker it generated (the last 16 bytes of any container); and both
    * `DataFileReader` and `AvroSource` read the sink's rows back.
    */
  private def assertMatchesStock(name: String, sparkSchema: StructType, rows: Seq[Row],
      minRawBytes: Long = 0L): Unit = {
    val avro = AvroSchemaGen.generate(sparkSchema, AvroSchemaGen.Config(tableName = name))
    val recs = records(avro, rows)
    val expected = recs.map(r => (0 until r.getSchema.getFields.size).map(i => norm(r.get(i))))
    val df = spark.createDataFrame(rows.asJava, sparkSchema).coalesce(1)
    val internal = df.queryExecution.toRdd.map(_.copy()).collect().toSeq
    val fns = RowBinaryEncoder.compile(sparkSchema)
    blockCodecs.foreach { codec =>
      val (stock, raw) = stockContainer(avro, codec, fixedSync, recs)
      assert(raw >= minRawBytes, s"$name: only $raw raw bytes")
      val out = new ByteArrayOutputStream()
      val w = new AvroBlockWriter(out, avro, codec, fixedSync)
      internal.foreach(w.append(_, fns))
      w.close()
      assert(java.util.Arrays.equals(out.toByteArray, stock),
        s"$name/$codec: block writer differs from DataFileWriter (${out.size} vs ${stock.length} bytes)")

      val dir = tmpDir(s"avro-stock-$name-$codec")
      assert(AvroSink.write(df, avro, dir, codec).recordCount == rows.size)
      val part = Files.readAllBytes(new File(dir, "part-00000-of-00001.avro").toPath)
      assert(java.util.Arrays.equals(part, stockContainer(avro, codec, part.takeRight(16), recs)._1),
        s"$name/$codec: AvroSink part differs from DataFileWriter")
      assert(readAvro(dir).map(r => (0 until r.getSchema.getFields.size).map(i => norm(r.get(i)))) == expected,
        s"$name/$codec: DataFileReader read-back differs")
      assert(AvroSource.read(spark, dir).collect().map(_.toSeq.map(norm)).toSeq == expected,
        s"$name/$codec: AvroSource read-back differs")
    }
  }

  private val mixedSchema = StructType(Seq(
    StructField("id", LongType),
    StructField("qty", IntegerType),
    StructField("price", DoubleType),
    StructField("ratio", FloatType),
    StructField("flag", BooleanType),
    StructField("name", StringType),
    StructField("tags", ArrayType(StringType, containsNull = false)),
    StructField("nums", ArrayType(LongType, containsNull = false)),
    StructField("payload", BinaryType),
    StructField("ts", TimestampType),
    StructField("amount", DecimalType(12, 2))))

  /** Rows of every sink type; about one value in ten is null; strings mix
    * 1- to 4-byte UTF-8 characters.
    */
  private def mixedRows(n: Int, seed: Long): Seq[Row] = {
    val rnd = new scala.util.Random(seed)
    val chars = Seq("a", "q", "Z", " ", "é", "ß", "Ж", "日", "€", "\uD83D\uDE42")
    def text(): String = Seq.fill(rnd.nextInt(40))(chars(rnd.nextInt(chars.size))).mkString
    def orNull(v: => Any): Any = if (rnd.nextInt(10) == 0) null else v
    (0 until n).map { i =>
      Row(i * 7919L - 1000000L, orNull(rnd.nextInt()), orNull(rnd.nextDouble() * 1e6),
        orNull(rnd.nextFloat()), orNull(rnd.nextBoolean()), orNull(text()),
        orNull(Seq.fill(rnd.nextInt(4))(text())), orNull(Seq.fill(rnd.nextInt(5))(rnd.nextLong())),
        orNull(Array.fill(rnd.nextInt(12))(rnd.nextInt(256).toByte)),
        orNull(new Timestamp(1500000000000L + rnd.nextInt(1000000000))),
        orNull(java.math.BigDecimal.valueOf(rnd.nextInt(100000000).toLong - 50000000L, 2)))
    }
  }

  test("block writer = DataFileWriter bytes: empty partition (header only)") {
    assertMatchesStock("empty", mixedSchema, Nil)
  }

  test("block writer = DataFileWriter bytes: one partial block") {
    assertMatchesStock("partial", mixedSchema, mixedRows(500, 1L))
  }

  test("block writer = DataFileWriter bytes: a row lands exactly on the 1 MiB threshold") {
    // an n-char ASCII string row encodes to 1 (union branch) + 2 (length,
    // for 64 <= n < 8192) + n bytes: 1045 rows of 1003 bytes and one of 441
    // fill the first block to exactly 1 MiB, and the rest open the second
    assert(1045 * 1003 + 441 == AvroBlockWriter.SyncInterval)
    val rows = (0 until 1045).map(i => Row(("%04d".format(i)) * 250)) ++
      Seq(Row("y" * 438)) ++ (0 until 10).map(i => Row(s"$i" * 1000))
    assertMatchesStock("threshold", StructType(Seq(StructField("s", StringType))), rows)
  }

  test("block writer = DataFileWriter bytes: >= 3 MiB of mixed-type rows") {
    assertMatchesStock("mixed", mixedSchema, mixedRows(24000, 2L), minRawBytes = 3L << 20)
  }

  test("block writer = DataFileWriter bytes: a single row larger than 1 MiB") {
    val rnd = new scala.util.Random(3L)
    val big = Seq.fill(1500000)(('a' + rnd.nextInt(26)).toChar).mkString
    val rows = Seq(Row(1L, "before"), Row(2L, big), Row(3L, "after"), Row(4L, big.take(1000)))
    assertMatchesStock("big", StructType(Seq(StructField("id", LongType), StructField("s", StringType))),
      rows, minRawBytes = 1L << 20)
  }

  private def leftovers(dir: String): Seq[String] =
    Option(new File(dir).list()).getOrElse(Array.empty[String]).toSeq
      .filter(n => n.startsWith(".tmp-part-") || n.startsWith("part-")).sorted

  /** Polls until `cond` holds or `seconds` pass: a cancelled job returns to
    * the caller before its killed task has finished cleaning up.
    */
  private def eventually(seconds: Int)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + seconds * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(50)
    cond
  }

  /** A fresh multi-block export still runs on the shared compression pool. */
  private def assertPoolServesFreshExport(): Unit = {
    val df = spark.range(0, 300000, 1, 1).selectExpr("id", "repeat(CAST(id AS STRING), 3) AS s")
    val avro = AvroSchemaGen.generate(df.schema, AvroSchemaGen.Config(tableName = "fresh"))
    val dir = tmpDir("avro-fresh")
    assert(AvroSink.write(df, avro, dir, "deflate1").recordCount == 300000)
    assert(AvroSource.read(spark, dir).count() == 300000)
  }

  test("an encoder failure in block >= 3 surfaces, leaving no file and no block in flight") {
    // about 18 bytes a row: the null item at row 350,000 comes after six
    // full 1 MiB blocks have been handed to the pool; deflate9 on hashed
    // ints is slower than encoding, so blocks are still compressing then
    val df = spark.range(0, 400000, 1, 1).selectExpr("id",
      "IF(id = 350000, array(1, NULL), array(hash(id), hash(id, 1), 3)) AS arr")
    val avro = AvroSchemaGen.generate(df.schema, AvroSchemaGen.Config(tableName = "bad"))
    val dir = tmpDir("avro-fail-late")
    val e = intercept[SparkException](AvroSink.write(df, avro, dir, "deflate9"))
    assert(ExitCodes.forThrowable(e) == 47)
    val causes = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
    assert(causes.exists(c => c.isInstanceOf[RuntimeException] &&
      c.getMessage == "Null array item found; export with nullableArrayItems to support them"),
      s"original exception not in the chain: ${causes.map(_.toString)}")
    // the task cleans up before it reports the failure
    assert(leftovers(dir).isEmpty, s"left behind: ${leftovers(dir)}")
    assert(AvroBlockWriter.blocksInFlight == 0, "blocks still in flight")
    assertPoolServesFreshExport()
  }

  test("an export timeout mid-write leaves no file and no block in flight") {
    // ~205-byte rows, a 1 ms pause every 200 rows: a 1 MiB block takes
    // about 30 ms to produce, the whole export about 10 s; the job group
    // is cancelled after 1.5 s with interruptOnCancel
    val pause = udf { (id: Long) => if (id % 200 == 0) Thread.sleep(1); id }
    val df = spark.range(0, 2000000, 1, 1).select(pause(col("id")).as("id"), expr("repeat('x', 200)").as("pad"))
    val dir = tmpDir("avro-timeout")
    val e = intercept[SparkException] {
      ExportJob.run(spark, df, dir, sinkArgs = AvroSinkArgs(codec = "deflate1"),
        schemaCfg = AvroSchemaGen.Config(tableName = "slow"),
        exportTimeout = java.time.Duration.ofMillis(1500))
    }
    assert(e.getMessage.contains("cancelled"), e.getMessage)
    assert(ExitCodes.forThrowable(e) == 47)
    assert(eventually(30)(leftovers(dir).isEmpty), s"left behind: ${leftovers(dir)}")
    assert(eventually(30)(AvroBlockWriter.blocksInFlight == 0), "blocks still in flight")
    assertPoolServesFreshExport()
  }
}
