package graft.jobs

import java.nio.charset.StandardCharsets
import java.time.{Duration, Instant}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.args.{AvroSinkArgs, QueryArgs}
import graft.schema.AvroSchemaGen
import graft.sink.AvroSink

/** Failed `minRows` validation → exit code 50
  * (reference `jobs/FailedValidationException.java`, `jobs/ExceptionHandling.java:37-59`).
  */
class FailedValidationException(msg: String) extends RuntimeException(msg)

/** Replica-not-caught-up pre-flight failure → exit code 20
  * (reference `jobs/NotReadyException.java`).
  */
class NotReadyException(msg: String) extends RuntimeException(msg)

/** Process exit codes — reference `jobs/ExceptionHandling.java:36-46`,
  * matched VALUE-FOR-VALUE (r16 fault-injection audit: the numbers had
  * drifted — SQL/IllegalArgument were swapped against the reference, which
  * breaks any operator script that branches on dbeam's documented codes):
  * NotReady 20, IOException 41, IllegalArgumentException 43,
  * SQLException 45, execution-phase failure 47, FailedValidation 50,
  * anything else 49. The reference's 47 is Beam's
  * `Pipeline.PipelineExecutionException` — the wrapper Beam puts around
  * any DoFn-thrown exception; the Spark analogue is `SparkException`, the
  * wrapper Spark puts around any task-thrown exception, and like the
  * reference we map the WRAPPER (not its cause): a mid-ResultSet
  * SQLException exits 45 when thrown driver-side (pre-flight, schema
  * probe) and 47 when a task throws it, exactly as in dbeam.
  * `ClassNotFoundException` (driver class missing) has no entry in the
  * reference either → 49.
  */
object ExitCodes {
  val Success = 0
  val NotReady = 20
  val IoError = 41
  val IllegalArgument = 43
  val SqlError = 45
  val ExecutionError = 47
  val Unknown = 49
  val FailedValidation = 50

  def forThrowable(t: Throwable): Int = t match {
    case _: NotReadyException => NotReady
    case _: FailedValidationException => FailedValidation
    case _: java.io.IOException => IoError
    case _: IllegalArgumentException => IllegalArgument
    case _: java.sql.SQLException => SqlError
    case _: org.apache.spark.SparkException => ExecutionError
    case _ => Unknown
  }
}

/** Orchestrates one export run: schema gen → write → side outputs →
  * validation. Mirrors the reference lifecycle
  * (`jobs/JdbcAvroJob.java:117-193`): the source DataFrame plays the role of
  * the generated-queries PCollection — its partitions are the parallel
  * queries.
  *
  * The `queries` strings (for the `_queries/` side output) come from
  * [[graft.args.QueryArgs.buildQueries]] in JDBC mode, or a descriptive
  * pseudo-query in file-source mode.
  */
object ExportJob {

  final case class Result(metrics: AvroSink.Metrics, outputDir: String)

  def run(
      spark: SparkSession,
      df: DataFrame,
      outputDir: String,
      sinkArgs: AvroSinkArgs = AvroSinkArgs(),
      schemaCfg: AvroSchemaGen.Config = AvroSchemaGen.Config(),
      queries: Seq[String] = Nil,
      minRows: Long = -1,
      dataOnly: Boolean = false,
      exportTimeout: Duration = Duration.ofDays(7),
      userSchema: Option[org.apache.avro.Schema] = None): Result = {

    val t0 = System.currentTimeMillis()
    // --avroSchemaFilePath replaces inference entirely (reference
    // `jobs/JdbcAvroJob.java:146-152`), after a wire-compatibility gate.
    val avroSchema = userSchema match {
      case Some(s) =>
        AvroSchemaGen.validateUserSchema(s, df.schema, schemaCfg.nullableArrayItems)
        s
      case None => AvroSchemaGen.generate(df.schema, schemaCfg)
    }
    val schemaElapsed = System.currentTimeMillis() - t0

    val conf = spark.sparkContext.hadoopConfiguration
    if (!dataOnly) {
      // Side outputs BEFORE the data write, like the reference
      // (`jobs/JdbcAvroJob.java:129-135`).
      AvroSink.writeSideFile(conf, s"$outputDir/_AVRO_SCHEMA.avsc", avroSchema.toString(true))
      queries.zipWithIndex.foreach { case (q, i) =>
        AvroSink.writeSideFile(conf, s"$outputDir/_queries/query_$i.sql", q)
      }
    }

    // Export timeout: cancel the job group after the deadline
    // (reference `beam/BeamHelper.java:48-75`).
    val groupId = s"graft-export-${System.nanoTime()}"
    spark.sparkContext.setJobGroup(groupId, s"avro export to $outputDir", interruptOnCancel = true)
    val watchdog = startTimeoutWatchdog(spark, groupId, exportTimeout)
    val metrics =
      try AvroSink.write(df, avroSchema, outputDir, sinkArgs.codec, schemaElapsed,
        nullableArrayItems = schemaCfg.nullableArrayItems,
        writeManifest = !dataOnly)
      finally {
        watchdog.interrupt()
        spark.sparkContext.clearJobGroup()
      }

    if (!dataOnly) {
      val json = metricsJson(metrics.toMap)
      // Metrics write failures are logged, never fatal (`BeamHelper.java:91-104`).
      try {
        AvroSink.writeSideFile(conf, s"$outputDir/_METRICS.json", json)
        AvroSink.writeSideFile(conf, s"$outputDir/_SERVICE_METRICS.json", json)
      } catch { case e: Exception => System.err.println(s"Failed to save metrics: $e") }
    }

    // minRows gate (`jobs/JdbcAvroJob.java:170-182`).
    if (minRows >= 0 && metrics.recordCount < minRows)
      throw new FailedValidationException(
        s"Exported ${metrics.recordCount} rows, expected at least $minRows")

    Result(metrics, outputDir)
  }

  private def startTimeoutWatchdog(spark: SparkSession, groupId: String, timeout: Duration): Thread = {
    val t = new Thread(() =>
      try {
        Thread.sleep(timeout.toMillis)
        spark.sparkContext.cancelJobGroup(groupId)
      } catch { case _: InterruptedException => () })
    t.setDaemon(true)
    t.start()
    t
  }

  def metricsJson(m: Map[String, Long]): String =
    m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")

  /** Reads a user SQL file (`--sqlFile`) — reference `beam/BeamHelper.java:106-110`. */
  def readSqlFile(conf: Configuration, pathStr: String): String = {
    val path = new Path(pathStr)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try new String(in.readAllBytes(), StandardCharsets.UTF_8)
    finally in.close()
  }
}

/** Postgres replication-lag pre-flight — reference
  * `jobs/PsqlReplicationCheck.java:38-123`: the export may only run once the
  * replica has replayed past the end of the requested partition window.
  * The JDBC execution needs a driver jar; the decision logic and SQL string
  * are pure and unit-tested.
  */
object ReplicationCheck {

  /** Reference `PsqlReplicationCheck.java:38-43` verbatim (column names are
    * part of the contract — `queryReplication` reads `last_replication` /
    * `replication_delay` by label, `PsqlReplicationCheck.java:113-117`).
    */
  val ReplicationQuery: String =
    "SELECT now() AS current_timestamp, " +
      "pg_last_xact_replay_timestamp() AS last_replication, " +
      "ROUND (( EXTRACT (EPOCH FROM now()) - " +
      "EXTRACT (EPOCH FROM pg_last_xact_replay_timestamp()) " +
      ") * 1000) AS replication_delay;"

  /** Executes [[ReplicationQuery]] on a live connection and returns the
    * replica's last-replay instant — reference
    * `PsqlReplicationCheck.queryReplication` (`PsqlReplicationCheck.java:106-123`)
    * including its two failure modes: an empty result set and a NULL
    * `last_replication` (a primary, not a replica) both raise
    * `IllegalStateException` with the reference's guidance message.
    */
  def queryLastReplication(connection: java.sql.Connection,
      query: String = ReplicationQuery): Instant = {
    val rs = connection.createStatement().executeQuery(query)
    try {
      if (!rs.next())
        throw new IllegalStateException(
          "Replication query returned empty results, consider using jdbc-avro-job instead")
      val ts = rs.getTimestamp("last_replication")
      if (ts == null)
        throw new IllegalStateException(
          "Empty last_replication, consider using jdbc-avro-job instead")
      ts.toInstant
    } finally rs.close()
  }

  /** Live pre-flight: query the replica and gate the export —
    * `PsqlReplicationCheck.checkReplication` (`PsqlReplicationCheck.java:62-67`).
    */
  def checkLive(connection: java.sql.Connection, partition: Instant,
      partitionPeriod: java.time.temporal.TemporalAmount): Unit =
    check(partition, queryLastReplication(connection), partitionPeriod)

  /** True (not ready) iff `lastReplay < partition + partitionPeriod`
    * (reference `PsqlReplicationCheck.java:69-104`).
    */
  def isReplicationDelayed(partition: Instant, lastReplay: Instant, partitionPeriod: java.time.temporal.TemporalAmount): Boolean =
    lastReplay.isBefore(partition.plus(partitionPeriod))

  def check(partition: Instant, lastReplay: Instant, partitionPeriod: java.time.temporal.TemporalAmount): Unit =
    if (isReplicationDelayed(partition, lastReplay, partitionPeriod))
      throw new NotReadyException(
        s"Replication is not completed to partition $partition (last replay $lastReplay)")
}
