package graft.args

import java.time.format.DateTimeFormatterBuilder
import java.time.temporal.{ChronoField, TemporalAmount}
import java.time.{Duration, Instant, LocalDate, Period, ZoneOffset}

import graft.sql.{ParallelRanges, QueryBuilder}

/** Configuration surface of the export engine — the same knobs the reference
  * exposes as Beam `PipelineOptions`
  * (`/root/reference/dbeam-core/src/main/java/com/spotify/dbeam/options/JdbcExportPipelineOptions.java`),
  * re-expressed as immutable case classes.
  */
final case class ConnectionArgs(
    url: String,
    username: String = "dbeam-extractor",
    password: Option[String] = None
) {
  /** url scheme → JDBC driver class, reference `JdbcConnectionUtil.java:30-48`. */
  def driverClass: String = ConnectionArgs.driverFor(url)

  /** Opens a product connection for pre-flight probes (schema metadata,
    * replication check) — reference `JdbcConnectionArgs.java:85-91`.
    * Instantiates the scheme's driver directly (like Spark's
    * `DriverRegistry`) rather than via `DriverManager`, so drivers that
    * don't self-register still resolve.
    */
  def createConnection(): java.sql.Connection = {
    val driver = Class.forName(driverClass).getDeclaredConstructor()
      .newInstance().asInstanceOf[java.sql.Driver]
    val p = new java.util.Properties()
    p.setProperty("user", username)
    password.foreach(p.setProperty("password", _))
    val c = driver.connect(url, p)
    require(c != null, s"driver $driverClass rejected url $url")
    c
  }
}

object ConnectionArgs {
  private val drivers = Map(
    "postgresql" -> "org.postgresql.Driver",
    "mysql" -> "com.mysql.cj.jdbc.Driver",
    "mariadb" -> "org.mariadb.jdbc.Driver",
    "h2" -> "org.h2.Driver"
  )

  def driverFor(url: String): String = {
    val scheme = url.split(":", 3) match {
      case Array("jdbc", s, _) => s
      case _ => throw new IllegalArgumentException(s"Invalid jdbc connection URL: $url. Expect jdbc:postgresql or jdbc:mysql as prefix.")
    }
    drivers.getOrElse(scheme,
      throw new IllegalArgumentException(s"Invalid jdbc connection URL: $url. Expect jdbc:postgresql or jdbc:mysql as prefix."))
  }
}

/** How SQL ARRAY columns are exported — reference
  * `options/ArrayHandlingMode.java:26-40`, default `typed_first_row`
  * (`options/JdbcExportPipelineOptions.java:90-94`):
  *
  *   - [[ArrayMode.Bytes]] — opaque: the column is read with `getBytes`
  *     and lands as Avro `bytes` (lossy). Spark mapping: a `customSchema`
  *     override to `BINARY`, which makes Spark's JDBC row getter call
  *     `getBytes` — the same driver call as the reference
  *     (`avro/JdbcAvroRecord.java:96-99`).
  *   - [[ArrayMode.TypedFirstRow]] — typed items; the reference infers the
  *     item type from the FIRST row's `getArray` and throws when that
  *     row's array is NULL. Spark's dialect types the items from metadata
  *     instead (same resulting schema); the null-first-row failure
  *     contract is preserved by [[graft.schema.AvroSchemaGen.probeFirstRowArrays]].
  *   - [[ArrayMode.TypedPostgres]] — item type from Postgres metadata
  *     `columnTypeName` (must be `_`-prefixed; only uuid/text/varchar/
  *     int/int4/int8 supported, else throw —
  *     [[graft.schema.JdbcTypeMap.postgresArrayItem]]).
  */
sealed abstract class ArrayMode(val name: String)
object ArrayMode {
  case object Bytes extends ArrayMode("bytes")
  case object TypedFirstRow extends ArrayMode("typed_first_row")
  case object TypedPostgres extends ArrayMode("typed_postgres")

  def parse(s: String): ArrayMode = s.toLowerCase match {
    case "bytes" => Bytes
    case "typed_first_row" => TypedFirstRow
    case "typed_postgres" => TypedPostgres
    case other => throw new IllegalArgumentException(
      s"--arrayMode must be bytes|typed_first_row|typed_postgres, got $other")
  }
}

/** Avro sink configuration — reference `JdbcAvroArgs.java`: the codec,
  * validated on construction by [[graft.sink.AvroSink.codecFactory]].
  */
final case class AvroSinkArgs(codec: String = "deflate6") {
  graft.sink.AvroSink.codecFactory(codec)
}

/** Query-shaping arguments + query-plan construction — reference
  * `QueryBuilderArgs.java:123-149` (`buildQueries`).
  */
final case class QueryArgs(
    base: QueryBuilder,
    limit: Option[Long] = None,
    partitionColumn: Option[String] = None,
    partition: Option[Instant] = None,
    partitionPeriod: TemporalAmount = Period.ofDays(1),
    splitColumn: Option[String] = None,
    queryParallelism: Option[Int] = None
) {
  require(queryParallelism.forall(_ > 0), "Query Parallelism must be a positive number")
  require(
    queryParallelism.isEmpty == splitColumn.isEmpty,
    "Both queryParallelism and splitColumn must be specified together")

  /** Schema-probe query (`LIMIT 1`) — reference `QueryBuilderArgs.java:112-114`. */
  def sqlQueryWithLimitOne: String = base.withLimit(1L).build

  /** The query with partition filter + (divided) limit applied, before range
    * splitting. `boundsProvider` supplies (min, max) of the split column when
    * parallelism is requested (the reference probes the DB —
    * `ParallelQueryBuilder.java:46-79`; our Spark path probes the DataFrame).
    */
  def buildQueries(boundsProvider: String => (Long, Long)): Vector[String] = {
    val qb = filteredAndLimited
    (queryParallelism, splitColumn) match {
      case (Some(k), Some(sp)) =>
        val (min, max) = boundsProvider(sp)
        ParallelRanges.queriesForBounds(min, max, k, sp, qb)
      case _ => Vector(qb.build)
    }
  }

  /** Base + partition condition + per-split-divided limit (reference divides
    * `limit/k` with integer division — `QueryBuilderArgs.java:133-137`).
    */
  def filteredAndLimited: QueryBuilder = {
    val withPartition = (partitionColumn, partition) match {
      case (Some(col), Some(p)) =>
        val (start, end) = QueryArgs.partitionWindow(p, partitionPeriod)
        base.withPartitionCondition(col, start, end)
      case _ => base
    }
    limit match {
      case Some(n) => withPartition.withLimit(queryParallelism.map(k => n / k).getOrElse(n))
      case None => withPartition
    }
  }

  /** min/max probe SQL for the split column. */
  def minMaxSql(sp: String): String = filteredAndLimited.minMaxQuery(sp).build
}

object QueryArgs {

  /** Partition window formatting — daily/monthly `Period`s render as plain
    * dates, sub-daily `Duration`s as full ISO instants
    * (reference `QueryBuilderArgs.java:151-167`).
    */
  def partitionWindow(partition: Instant, period: TemporalAmount): (String, String) =
    period match {
      case p: Period =>
        val d = partition.atZone(ZoneOffset.UTC).toLocalDate
        (d.toString, d.plus(p).toString)
      case d =>
        (partition.toString, partition.plus(d).toString)
    }
}

/** Partition-freshness + coupling validation and flexible parsing — reference
  * `JdbcExportArgsFactory.java:47-59,87-176`.
  */
object ArgParsers {

  /** `--key=value` → `key -> value` and a bare `--flag` → `flag -> "true"`;
    * arguments without `--` are ignored and a repeated key keeps its last
    * value (collect repeatable flags such as `--preCommand` from the raw
    * arguments).
    */
  def parseFlags(args: Array[String]): Map[String, String] =
    args.filter(_.startsWith("--")).map { a =>
      a.stripPrefix("--").split("=", 2) match {
        case Array(k, v) => k -> v
        case Array(k) => k -> "true"
      }
    }.toMap

  private val instantParser = new DateTimeFormatterBuilder()
    .parseCaseInsensitive()
    .appendPattern("yyyy[-MM][-dd['T'HH[:mm[:ss]]]]")
    .parseDefaulting(ChronoField.MONTH_OF_YEAR, 1)
    .parseDefaulting(ChronoField.DAY_OF_MONTH, 1)
    .parseDefaulting(ChronoField.HOUR_OF_DAY, 0)
    .parseDefaulting(ChronoField.MINUTE_OF_HOUR, 0)
    .parseDefaulting(ChronoField.SECOND_OF_MINUTE, 0)
    .optionalStart()
    .appendOffsetId()
    .toFormatter()
    .withZone(ZoneOffset.UTC)

  /** `2027`, `2027-05`, `2027-07-31`, `2027-05-02T23`, full ISO — missing
    * fields default (month/day → 1, time → 00:00:00), zone UTC.
    */
  def parseInstant(s: String): Instant = Instant.from(instantParser.parse(s))

  /** `P…` prefix with `PT`/`-PT` → `Duration` (sub-daily), else `Period` —
    * reference `JdbcExportArgsFactory.java:142-150`.
    */
  def parsePeriodOrDuration(s: String): TemporalAmount =
    if (s.toUpperCase.startsWith("PT") || s.toUpperCase.startsWith("-PT")) Duration.parse(s)
    else Period.parse(s)

  /** Pre-flight partition recency gate — reference
    * `JdbcExportArgsFactory.java:98-110,168-176`: applies only when
    * partitionColumn is ABSENT and skipCheck is false; requires
    * `partition > max(minPartitionPeriod, now - 2×partitionPeriod)`.
    */
  def validatePartitionFreshness(
      partition: Option[Instant],
      partitionColumn: Option[String],
      partitionPeriod: TemporalAmount,
      skipCheck: Boolean,
      minPartitionPeriod: Option[Instant],
      now: Instant = Instant.now()
  ): Unit = {
    partition.foreach { p =>
      if (partitionColumn.isEmpty && !skipCheck) {
        // via OffsetDateTime, NOT Instant.minus: a month/year Period throws
        // UnsupportedTemporalTypeException on a bare Instant — the exact
        // trap the reference comments on (`JdbcExportArgsFactory.java:102`,
        // "Instant does not support operations with ChronoUnit.MONTHS");
        // the r15 args deep-read found this port had lost that routing, so
        // --partitionPeriod=P1M crashed the gate instead of running it.
        val marker = minPartitionPeriod.getOrElse(
          now.atOffset(ZoneOffset.UTC).minus(partitionPeriod).minus(partitionPeriod).toInstant)
        require(
          p.isAfter(marker),
          s"Too old partition date $p. Use a more recent partition date or use --skip-partition-check")
      }
    }
  }
}
