package graft.jobs

import org.apache.spark.sql.SparkSession

import graft.SessionFactory
import graft.args.{ArgParsers, ArrayMode, AvroSinkArgs, ConnectionArgs, PasswordReader, QueryArgs}
import graft.schema.AvroSchemaGen
import graft.sink.AvroSink
import graft.sources.{FileSource, JdbcSource, Source}
import graft.sql.QueryBuilder

/** CLI entry point — the Spark-native analogue of the reference's
  * `jobs/JdbcAvroJob.main` (`JdbcAvroJob.java:195-201`). Same option names
  * as the reference CLI where they apply.
  *
  * Usage:
  * {{{
  * runMain graft.jobs.ExportCli --input=/path/table.parquet --output=/path/out \
  *   [--table=name] [--avroCodec=deflate6] [--limit=n] [--minRows=n] [--dataOnly] \
  *   [--partitionColumn=c --partition=2026-08-01 [--partitionPeriod=P1D]] \
  *   [--useAvroLogicalTypes] [--avroSchemaNamespace=ns] [--avroDoc=..]
  *   [--avroSchemaFilePath=/path/schema.avsc] [--sqlFile=/path/query.sql]
  *   [--incrementalColumn=c --stateDir=/path/state]   # high-watermark deltas
  *   [--partitionOutputBy=col [--maxOutputPartitions=n]]  # hive-layout output
  *   [--inputFormat=parquet|csv|json|avro]             # default: by extension
  *   [--connectionUrl=jdbc:... [--splitColumn=c --queryParallelism=n]]  # JDBC input
  * }}}
  *
  * [[run]] does all routing on a caller's session; [[main]] wraps it in a
  * host-sized session ([[SessionFactory.cli]]) and exits with the
  * reference's exit codes (`ExceptionHandling.java:37-59`).
  *
  * `--incrementalColumn` switches to the high-watermark delta mode
  * ([[IncrementalExport]]) over a parquet input, where the watermark filter
  * IS the query. Each mode refuses, before any write, the flags it would
  * otherwise drop (`ModeDrops`); a file export refuses the JDBC-only flags.
  */
object ExportCli {

  private val FileMode = "file input (no --connectionUrl)"

  /** Per mode, the flags that mode would silently ignore. A flag's mode is
    * on when the flag is given, [[FileMode]] when `--connectionUrl` is not. */
  private val ModeDrops = Seq(
    "--incrementalColumn" -> Seq("connectionUrl", "sqlFile", "partitionColumn", "partition",
      "limit", "queryParallelism", "avroSchemaFilePath", "exportTimeout", "partitionOutputBy"),
    "--partitionOutputBy" -> Seq("avroSchemaFilePath", "exportTimeout"),
    FileMode -> Seq("splitColumn", "fetchSize", "arrayMode", "preCommand", "username",
      "password", "passwordFile", "skipReplicationDelayCheck"))

  def main(args: Array[String]): Unit = {
    val opts = ArgParsers.parseFlags(args)
    val spark = SessionFactory.cli(s"dbeamspark-${opts.getOrElse("table", "export")}")
    val code =
      try { println(run(spark, args)); ExitCodes.Success }
      catch {
        case t: Throwable =>
          System.err.println(s"Export failed: ${t.getMessage}")
          ExitCodes.forThrowable(t)
      } finally spark.stop()
    if (code != ExitCodes.Success) sys.exit(code)
  }

  /** Runs the export the flags describe on `spark` and returns its metrics
    * line. Leaves the session running.
    */
  def run(spark: SparkSession, args: Array[String]): String = {
    val opts = ArgParsers.parseFlags(args)
    val modes = opts.keySet.map("--" + _) ++ Option.when(!opts.contains("connectionUrl"))(FileMode)
    for ((mode, drops) <- ModeDrops if modes(mode); flag <- drops.find(opts.contains))
      throw new IllegalArgumentException(s"$mode does not support --$flag")
    val connectionUrl = opts.get("connectionUrl")
    val input = opts.getOrElse("input",
      connectionUrl.getOrElse(throw new IllegalArgumentException(
        "either --input (file source) or --connectionUrl (JDBC source) is required")))
    val output = opts.getOrElse("output", throw new IllegalArgumentException("--output is required"))
    val table = opts.getOrElse("table", input.split("/").last.stripSuffix(".parquet"))
    // --inputFormat=parquet|csv|json|avro (default: by extension)
    val inputFormat = FileSource.detectFormat(input, opts.get("inputFormat"))
    val sinkArgs = AvroSinkArgs(codec = opts.getOrElse("avroCodec", "deflate6"))
    val schemaCfg = AvroSchemaGen.Config(
      tableName = table,
      schemaName = opts.get("avroSchemaName"),
      namespace = opts.getOrElse("avroSchemaNamespace", "dbeam_generated"),
      doc = opts.get("avroDoc"),
      connectionUrl = connectionUrl.getOrElse(s"$inputFormat:$input"),
      useLogicalTypes = opts.contains("useAvroLogicalTypes"),
      nullableArrayItems = opts.contains("nullableArrayItems"))
    val minRows = opts.get("minRows").fold(-1L)(_.toLong)
    val dataOnly = opts.contains("dataOnly")

    opts.get("incrementalColumn") match {
      case Some(incCol) =>
        // high-watermark delta export — only rows strictly above the
        // persisted max; state written after success (see IncrementalExport
        // for the exactly-once argument)
        require(inputFormat == "parquet",
          s"--incrementalColumn reads parquet input only, got --inputFormat $inputFormat")
        val stateDir = opts.getOrElse("stateDir",
          throw new IllegalArgumentException("--incrementalColumn requires --stateDir"))
        val result = IncrementalExport.run(spark, input, output, stateDir, incCol,
          sinkArgs = sinkArgs, schemaCfg = schemaCfg, minRows = minRows, dataOnly = dataOnly)
        ExportJob.metricsJson(result.metrics.toMap)
      case None =>
        // --sqlFile: dbeam's user-query path (exactly one of --table /
        // --sqlFile drives the base query, reference
        // `JdbcExportArgsFactory.java:154-156`).
        val userSql = opts.get("sqlFile")
          .map(p => ExportJob.readSqlFile(spark.sparkContext.hadoopConfiguration, p))
        // JDBC mode takes the reference's split options (--splitColumn +
        // --queryParallelism, X3-coupled); file mode refuses --splitColumn
        // and keeps a write-parallelism analogue of the other below.
        val jdbcMode = connectionUrl.isDefined
        val qArgs = QueryArgs(
          base = userSql.fold(QueryBuilder.fromTable(table))(QueryBuilder.fromSqlQuery),
          limit = opts.get("limit").map(_.toLong),
          partitionColumn = opts.get("partitionColumn"),
          partition = opts.get("partition").map(ArgParsers.parseInstant),
          partitionPeriod = opts.get("partitionPeriod").map(ArgParsers.parsePeriodOrDuration)
            .getOrElse(java.time.Period.ofDays(1)),
          splitColumn = opts.get("splitColumn"),
          queryParallelism = if (jdbcMode) opts.get("queryParallelism").map(_.toInt) else None)
        ArgParsers.validatePartitionFreshness(
          qArgs.partition, qArgs.partitionColumn, qArgs.partitionPeriod,
          skipCheck = opts.contains("skipPartitionCheck"),
          minPartitionPeriod = opts.get("minPartitionPeriod").map(ArgParsers.parseInstant))

        val source: Source = connectionUrl match {
          case Some(url) =>
            // the reference's primary input: a JDBC database. Credentials per
            // PasswordReader priority (U9); the scheme→driver map validates
            // the URL (JdbcConnectionUtil.java:30-48). A postgres partition
            // export runs the replication-lag pre-flight first, like
            // PsqlAvroJob (`jobs/PsqlAvroJob.java:36-57`).
            val connArgs = ConnectionArgs(url,
              username = opts.getOrElse("username", "dbeam-extractor"),
              password = PasswordReader.read(opts.get("password"), opts.get("passwordFile")))
            if (url.startsWith("jdbc:postgresql") && qArgs.partition.isDefined
                && !opts.contains("skipReplicationDelayCheck")) {
              val c = connArgs.createConnection()
              try ReplicationCheck.checkLive(c, qArgs.partition.get, qArgs.partitionPeriod)
              finally c.close()
            }
            JdbcSource(connArgs, qArgs,
              fetchSize = opts.get("fetchSize").fold(10000)(_.toInt),
              // repeatable, like the reference's --preCommand
              preCommands = args.filter(_.startsWith("--preCommand="))
                .map(_.stripPrefix("--preCommand=")).toSeq,
              // --arrayMode=bytes|typed_first_row|typed_postgres (reference
              // `JdbcExportPipelineOptions.java:90-94`, default typed_first_row)
              arrayMode = opts.get("arrayMode").fold[ArrayMode](ArrayMode.TypedFirstRow)(ArrayMode.parse))
          case None => FileSource(input, inputFormat, table, qArgs)
        }
        val df0 = (source, userSql) match {
          case (file: FileSource, Some(sql)) =>
            // the user query runs over the stored input registered as a
            // view; the partition window and limit apply to its output,
            // like the table path
            file.base(spark).createOrReplaceTempView(table)
            FileSource.window(spark.sql(qArgs.base.build), qArgs)
          case _ => source.read(spark)
        }
        // --queryParallelism=n: in JDBC mode the split predicates already set
        // the partitioning (one partition per generated query); for file
        // sources ensure at least n write partitions (dbeam X1 analogue for
        // unsplittable file layouts).
        val df = opts.get("queryParallelism").filter(_ => !jdbcMode)
          .fold(df0)(n => AvroSink.ensureWriteParallelism(df0, n.toInt))

        opts.get("partitionOutputBy") match {
          case Some(pcol) =>
            // hive-layout partitioned export — one sub-export (full
            // side-output contract) per distinct value, plus a top-level
            // _PARTITIONS.json manifest. Low-cardinality by contract.
            val result = PartitionedExport.run(spark, df, output, pcol,
              sinkArgs = sinkArgs, schemaCfg = schemaCfg, minRows = minRows, dataOnly = dataOnly,
              maxPartitions = opts.get("maxOutputPartitions").fold(64)(_.toInt))
            ExportJob.metricsJson(Map(
              "partitions" -> result.partitions.length.toLong,
              "recordCount" -> result.totalRecords))
          case None =>
            val result = ExportJob.run(spark, df, output,
              sinkArgs = sinkArgs,
              schemaCfg = schemaCfg,
              queries = source.queries(spark),
              minRows = minRows,
              dataOnly = dataOnly,
              exportTimeout = java.time.Duration.parse(opts.getOrElse("exportTimeout", "P7D")),
              // --avroSchemaFilePath: pin the output schema to a user .avsc
              // instead of inferring (reference `README.md:138-148`)
              userSchema = opts.get("avroSchemaFilePath").map(p =>
                AvroSchemaGen.parseInputAvroSchemaFile(spark.sparkContext.hadoopConfiguration, p)))
            ExportJob.metricsJson(result.metrics.toMap)
        }
    }
  }
}

/** The reference's dedicated PostgreSQL binary
  * (`jobs/PsqlAvroJob.java:35-57`): an export wrapper whose contract is
  * "the replication-lag pre-flight ALWAYS runs". Its validateOptions
  * (`jobs/PsqlReplicationCheck.java:56-67`) requires a postgres
  * connection and a `--partition`; we additionally refuse
  * `--skipReplicationDelayCheck`, since honoring it would contradict the
  * binary's whole purpose. Delegates to [[ExportCli]], whose
  * postgres+partition path runs the live gate (exit 20 when the replica
  * is late, `jobs/ExportJob.scala` ReplicationCheck).
  */
object PsqlExportCli {

  /** Reference `PsqlReplicationCheck.validateOptions` semantics; throws
    * `IllegalArgumentException` (exit 43 via [[ExitCodes]]) on violation.
    */
  private[graft] def validate(opts: Map[String, String]): Unit = {
    require(opts.get("connectionUrl").exists(_.startsWith("jdbc:postgresql")),
      "Must be a PostgreSQL connection")
    // A bare `--partition` flag parses to the "true" sentinel — without the
    // date check it would pass here and surface later as a confusing
    // ExportCli date-parse error instead of this wrapper's message
    // (ADVICE r13). Parse with the same flexible-instant parser ExportCli
    // uses, so the two never disagree on what a valid partition is.
    opts.get("partition") match {
      case None | Some("true") =>
        throw new IllegalArgumentException("Partition parameter must be defined")
      case Some(v) =>
        require(scala.util.Try(ArgParsers.parseInstant(v)).isSuccess,
          s"Partition parameter '$v' is not a valid date/instant")
    }
    require(!opts.contains("skipReplicationDelayCheck"),
      "PsqlExportCli always runs the replication pre-flight; drop --skipReplicationDelayCheck")
  }

  def main(args: Array[String]): Unit = {
    try validate(ArgParsers.parseFlags(args))
    catch {
      case t: IllegalArgumentException =>
        System.err.println(s"Export failed: ${t.getMessage}")
        sys.exit(ExitCodes.forThrowable(t))
    }
    ExportCli.main(args)
  }
}

/** `avro-tools tojson` equivalent for spot-checking output (the reference's
  * e2e harness does exactly this — `e2e/e2e.sh:98-99`).
  */
object AvroCat {
  def main(args: Array[String]): Unit = {
    import scala.jdk.CollectionConverters._
    val limit = args.drop(1).headOption.map(_.toInt).getOrElse(5)
    val reader = new org.apache.avro.file.DataFileReader(
      new java.io.File(args(0)),
      new org.apache.avro.generic.GenericDatumReader[org.apache.avro.generic.GenericRecord]())
    reader.iterator().asScala.take(limit).foreach(println)
    println(s"codec=${reader.getMetaString("avro.codec")} created_by=${reader.getMetaString("created_by")}")
    reader.close()
  }
}

/** Pre-publish schema-evolution gate: `runMain graft.jobs.SchemaCheck
  * old.avsc new.avsc` — prints the verdict + per-field incompatibilities,
  * exits 0 for FULL/BACKWARD (the registry-default safe evolutions) and 1
  * for FORWARD/BREAKING. The check a daily export wraps around overwriting
  * its `_AVRO_SCHEMA.avsc` sidecar.
  */
object SchemaCheck {
  def main(args: Array[String]): Unit = {
    require(args.length == 2, "usage: SchemaCheck <old.avsc> <new.avsc>")
    val parser = new org.apache.avro.Schema.Parser()
    val oldS = parser.parse(new java.io.File(args(0)))
    val newS = new org.apache.avro.Schema.Parser().parse(new java.io.File(args(1)))
    val r = graft.schema.SchemaCompat.check(oldS, newS)
    println(s"verdict=${r.verdict} newReadsOld=${r.newReadsOld} oldReadsNew=${r.oldReadsNew}")
    r.incompatibilities.foreach(m => println(s"  $m"))
    if (r.verdict.exitCode != 0) sys.exit(r.verdict.exitCode)
  }
}
