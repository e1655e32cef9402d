package graft.sources

import java.util.Properties

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.args.{ArrayMode, ConnectionArgs, QueryArgs}
import graft.sql.ParallelRanges

/** A source produces the export DataFrame plus the generated SQL strings for
  * the `_queries/` side output. Two implementations:
  *
  *   - [[JdbcSource]] — the product path: `spark.read.jdbc` with dbeam's
  *     generated range predicates (each Spark partition issues exactly one of
  *     the reference's generated queries — reference
  *     `jobs/JdbcAvroJob.java:138-143` maps one query to one writer).
  *   - [[FileSource]] — parquet, CSV, JSON or Avro files: the same query
  *     semantics applied as Catalyst `Column` predicates (filters push
  *     down to the scan).
  */
trait Source {
  def read(spark: SparkSession): DataFrame
  def queries(spark: SparkSession): Seq[String]
}

/** JDBC source with dbeam's exact split semantics. No JDBC driver jar ships
  * in this environment, so this path is compile- and unit-level tested only
  * (SURVEY §7.5 risk 5); the query strings it generates are golden-tested
  * and the per-connection query protocol (preCommands + statement hook) is
  * verified against a recording fake Connection in JdbcProtocolSpec.
  *
  * @param preCommands statements run on each connection BEFORE the main
  *   query (reference `JdbcAvroIO.java:185-190`) — e.g. `SET` session
  *   tuning. In the Spark read path they map to the JDBC option
  *   `sessionInitStatement`, which Spark executes once per opened
  *   connection before reading.
  * @param statementPreparator optional hook adjusting the prepared main
  *   statement before execution — the reference's `StatementPreparator`
  *   library hook (`JdbcAvroArgs.java:110-112`), never CLI-reachable
  *   there either.
  */
final case class JdbcSource(conn: ConnectionArgs, args: QueryArgs, fetchSize: Int = 10000,
    preCommands: Seq[String] = Nil,
    statementPreparator: Option[java.sql.PreparedStatement => Unit] = None,
    arrayMode: ArrayMode = ArrayMode.TypedFirstRow) extends Source {

  private def props: Properties = {
    val p = new Properties()
    p.setProperty("driver", conn.driverClass)
    p.setProperty("user", conn.username)
    conn.password.foreach(p.setProperty("password", _))
    p.setProperty("fetchsize", fetchSize.toString)
    if (preCommands.nonEmpty)
      p.setProperty("sessionInitStatement", preCommands.mkString("; "))
    p
  }

  /** The reference's per-writer query protocol on an already-open
    * connection (`JdbcAvroIO.java:174-201`, order asserted by the
    * reference's `JdbcAvroJobTest.java:182-219`): prepare the main query
    * forward-only/read-only, apply `fetchSize` and the optional
    * [[statementPreparator]], execute every [[preCommands]] entry on the
    * SAME connection via a plain statement, then execute the main query.
    * This is the seam a custom writer (or a test against a mocked
    * `Connection`) drives directly; the Spark read path reaches the same
    * semantics through `sessionInitStatement`.
    */
  def executeQueryWithPreCommands(connection: java.sql.Connection, query: String): java.sql.ResultSet = {
    import java.sql.ResultSet
    val statement = connection.prepareStatement(
      query, ResultSet.TYPE_FORWARD_ONLY, ResultSet.CONCUR_READ_ONLY)
    statement.setFetchSize(fetchSize)
    statementPreparator.foreach(_(statement))
    if (preCommands.nonEmpty) {
      val stmt = connection.createStatement()
      preCommands.foreach(stmt.execute)
    }
    statement.executeQuery()
  }

  /** The WHERE-clause tails of the generated queries, usable as Spark JDBC
    * `predicates` (one partition per predicate — identical parallelism model
    * to the reference's one-file-per-query).
    */
  def predicates(boundsProvider: String => (Long, Long)): Array[String] =
    (args.queryParallelism, args.splitColumn) match {
      case (Some(k), Some(sp)) =>
        val (min, max) = boundsProvider(sp)
        ParallelRanges.generate(min, max, k).map { r =>
          val op = if (r.endInclusive) "<=" else "<"
          s"$sp >= ${r.start} AND $sp $op ${r.end}"
        }.toArray
      case _ => Array.empty
    }

  /** ARRAY columns of the generated query, as (label, columnTypeName), from
    * a `WHERE 1=0` `ResultSetMetaData` probe on a product connection — the
    * same metadata the reference's schema inference reads
    * (`avro/JdbcAvroSchema.java:151-176,261-292`).
    */
  private def arrayColumns(): Vector[(String, String)] = {
    val c = conn.createConnection()
    try {
      val st = c.prepareStatement(s"SELECT * FROM $dbtable WHERE 1=0")
      val md = st.getMetaData
      (1 to md.getColumnCount).toVector.collect {
        case i if md.getColumnType(i) == java.sql.Types.ARRAY =>
          (md.getColumnLabel(i), md.getColumnTypeName(i))
      }
    } finally c.close()
  }

  override def read(spark: SparkSession): DataFrame = {
    val table = dbtable
    val p = props
    arrayMode match {
      case ArrayMode.Bytes =>
        // Opaque mode: override ARRAY columns to BINARY so Spark's row
        // getter reads them with `getBytes` — the reference's driver call
        // (`avro/JdbcAvroRecord.java:96-99`).
        val arrays = arrayColumns()
        // Labels go through Spark's DDL parser: backtick-quote each one (with
        // embedded backticks doubled) so reserved words / spaces / mixed-case
        // quoted identifiers still match the scan column instead of failing
        // to parse or silently leaving the array column un-overridden.
        if (arrays.nonEmpty)
          p.setProperty("customSchema",
            arrays.map { case (n, _) => s"`${n.replace("`", "``")}` BINARY" }.mkString(", "))
      case ArrayMode.TypedPostgres =>
        // Fail fast on item types the reference's `typed_postgres` table
        // rejects (`avro/JdbcAvroSchema.java:340-367`) — Spark's dialect
        // would happily map e.g. `_float8`, the reference does not.
        arrayColumns().foreach { case (_, tn) =>
          graft.schema.JdbcTypeMap.postgresArrayItem(tn)
        }
      case ArrayMode.TypedFirstRow => () // first-row probe after the read below
    }
    val df = (args.queryParallelism, args.splitColumn) match {
      case (Some(_), Some(sp)) =>
        // Bounds via one agg query on an un-split frame (reference S4 probe).
        val probe = spark.read.jdbc(conn.url, table, p)
        val row = probe.agg(min(col(sp)), max(col(sp))).head()
        val preds = predicates(_ => (nullToZero(row, 0), nullToZero(row, 1)))
        spark.read.jdbc(conn.url, table, preds, p)
      case _ =>
        spark.read.jdbc(conn.url, table, p)
    }
    if (arrayMode == ArrayMode.TypedFirstRow)
      graft.schema.AvroSchemaGen.probeFirstRowArrays(df) // no-op without array columns
    df
  }

  private def dbtable: String = {
    // Push the full generated query (partition filter + limit) down as a
    // derived table so the DB does the filtering, like the reference.
    val q = args.filteredAndLimited.build
    s"($q) graft_export"
  }

  override def queries(spark: SparkSession): Seq[String] =
    args.buildQueries { sp =>
      val probe = spark.read.jdbc(conn.url, dbtable, props)
      val row = probe.agg(min(col(sp)), max(col(sp))).head()
      (nullToZero(row, 0), nullToZero(row, 1))
    }

  /** NULL min/max bounds (an empty table) read as 0, matching the
    * reference's `ResultSet.getLong` semantics on SQL NULL
    * (`QueryBuilderArgs.java` bounds probe): the export degrades to one
    * empty range instead of crashing with an NPE.
    */
  private def nullToZero(row: org.apache.spark.sql.Row, i: Int): Long =
    if (row.isNullAt(i)) 0L else row.getLong(i)
}

/** The one file source: parquet, CSV (header + schema inference,
  * microsecond-tolerant timestamp parse), JSON lines, and the engine's own
  * Avro container output (via [[AvroSource]] — no spark-avro on this
  * classpath). dbeam's query semantics apply as Catalyst predicates
  * ([[FileSource.window]]), so filters and limits push down to the scan
  * (verified in `PlanSpec` via `PushedFilters`) and every downstream stage
  * (schema gen, sink, side outputs, gates) is format-agnostic.
  *
  * Scale note: CSV/JSON scans push the partition predicate but not into
  * row-group statistics (text formats have none) — filters still prune
  * AFTER parse; columnar inputs remain the 100 TB path, the text formats
  * are the ingest/one-off escape hatch.
  */
final case class FileSource(path: String, format: String, tableName: String,
    args: QueryArgs) extends Source {

  /** The input as stored, before any query argument applies. */
  def base(spark: SparkSession): DataFrame = format match {
    case "parquet" => ParquetSource.read(spark, path)
    case "csv" => spark.read
      .option("header", "true")
      .option("inferSchema", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]")
      .csv(path)
    case "json" => spark.read.json(path)
    case "avro" => AvroSource.read(spark, path)
    case other => throw new IllegalArgumentException(
      s"--inputFormat must be parquet|csv|json|avro, got $other")
  }

  override def read(spark: SparkSession): DataFrame = FileSource.window(base(spark), args)

  /** STRICT-PARITY read: reproduces the reference's split semantics exactly
    * — ranges from [[ParallelRanges]] with the inclusive last bound, and the
    * divided `LIMIT limit/k` applied PER SPLIT (`QueryBuilderArgs.java:133-137`),
    * so the total may undershoot `limit` just like dbeam. Engine-native
    * mode ([[read]]) gives the exact limit instead.
    */
  def readParityMode(spark: SparkSession): DataFrame = {
    import graft.args.SplitColumn
    val b = base(spark)
    (args.queryParallelism, args.splitColumn) match {
      case (Some(k), Some(sp)) =>
        SplitColumn.validate(b, sp)
        val filtered = FileSource.window(b, args.copy(limit = None))
        val bounds = filtered.agg(min(col(sp)), max(col(sp))).head()
        val ranges = ParallelRanges.generate(
          toLong(bounds.get(0)), toLong(bounds.get(1)), k)
        val perSplitLimit = args.limit.map(n => (n / k).toInt)
        ranges.map { r =>
          val hi = if (r.endInclusive) col(sp) <= r.end else col(sp) < r.end
          val slice = filtered.filter(col(sp) >= r.start && hi)
          perSplitLimit.map(slice.limit).getOrElse(slice)
        }.reduce(_ unionAll _)
      case _ => read(spark)
    }
  }

  private def toLong(v: Any): Long = v match {
    case null => 0L // empty table: NULL bounds read as 0, like JDBC getLong
    case l: Long => l
    case i: Int => i.toLong
    case s: Short => s.toLong
    case other => throw new IllegalArgumentException(s"non-integral split bound: $other")
  }

  override def queries(spark: SparkSession): Seq[String] =
    args.buildQueries { sp =>
      val row = read(spark).agg(min(col(sp)), max(col(sp))).head()
      (toLong(row.get(0)), toLong(row.get(1)))
    }
}

object FileSource {

  /** dbeam's partition filter F1 as a Catalyst predicate, then the
    * engine-native exact limit (SURVEY §7.5 risk 2: the reference's
    * limit/k-per-split can undershoot; Spark's limit is exact). Applied to
    * a file's rows by [[FileSource.read]] and to a `--sqlFile` query's
    * output by the CLI.
    */
  def window(df: DataFrame, args: QueryArgs): DataFrame = {
    val filtered = (args.partitionColumn, args.partition) match {
      case (Some(c), Some(p)) =>
        val (start, end) = QueryArgs.partitionWindow(p, args.partitionPeriod)
        df.filter(col(c) >= lit(start).cast("timestamp") && col(c) < lit(end).cast("timestamp"))
      case _ => df
    }
    args.limit.map(n => filtered.limit(n.toInt)).getOrElse(filtered)
  }

  /** Format from an explicit option or the path extension (default parquet). */
  def detectFormat(path: String, explicit: Option[String]): String =
    explicit.getOrElse {
      val name = path.stripSuffix("/").split("/").last.toLowerCase
      if (name.endsWith(".csv")) "csv"
      else if (name.endsWith(".json") || name.endsWith(".jsonl")) "json"
      else if (name.endsWith(".avro")) "avro"
      else "parquet"
    }
}
