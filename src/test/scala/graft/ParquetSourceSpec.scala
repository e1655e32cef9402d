package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.ExitCodes
import graft.sources.ParquetSource
import graft.tools.Probe

/** The one parquet reader: a single file's schema comes from its footer on
  * the driver, and the result is the frame `spark.read.parquet` builds —
  * same schema, same executed plan — without the schema-inference job.
  * Everything else takes Spark's own path.
  */
class ParquetSourceSpec extends AnyFunSuite {

  /** The shared test session, under [[SessionFactory]]'s confs (nanosAsLong included). */
  private lazy val spark: SparkSession = SparkSpec.spark

  private def fixtureFiles: Seq[String] =
    Seq("sf0.001", "sf0.01", "sf0.1").map(Paths.get(SparkSpec.testDataDir).resolveSibling(_))
      .filter(Files.isDirectory(_))
      .flatMap(d => new java.io.File(d.toString).listFiles().toSeq)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .map(_.getAbsolutePath).sorted

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString.replaceAll("#\\d+L?", "#")

  private def assertSameFrame(path: String): Unit = {
    val mine = ParquetSource.read(spark, path)
    val spark0 = spark.read.parquet(path)
    assert(mine.schema == spark0.schema, path)
    assert(plan(mine) == plan(spark0), path)
  }

  /** Spark jobs `body` starts, counted by a listener on the shared context. */
  private def jobs(body: => Any): Long = {
    val meter = new Probe.Meter
    spark.sparkContext.addSparkListener(meter)
    try meter.measure(body)._2.jobs
    finally spark.sparkContext.removeSparkListener(meter)
  }

  test("every fixture table: same schema and executed plan as spark.read.parquet") {
    val files = fixtureFiles
    assert(files.count(_.contains("/sf0.001/")) == 10, files)
    files.foreach(assertSameFrame)
  }

  test("a Spark-written part file with timestamp, decimal, array and struct columns") {
    val dir = Files.createTempDirectory("pqsrc-part").toString
    spark.range(0, 50).selectExpr(
      "id",
      "TIMESTAMP '2024-03-01 12:34:56.789012' + make_interval(0, 0, 0, 0, 0, 0, id) AS ts",
      "TIMESTAMP_NTZ '2024-03-01 00:00:00' AS ts_ntz",
      "CAST(id AS DECIMAL(12, 3)) / 7 AS dec",
      "CAST(id AS DECIMAL(38, 10)) AS wide",
      "array(id, id + 1, NULL) AS arr",
      "named_struct('a', id, 'b', CAST(id AS STRING), 'c', array(named_struct('x', id))) AS st",
      "map(CAST(id AS STRING), id) AS m",
      "DATE '2024-01-01' AS d",
      "CAST(CAST(id AS STRING) AS BINARY) AS bin")
      .coalesce(1).write.parquet(s"$dir/t")
    val Seq(part) = new java.io.File(s"$dir/t").listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map(_.getAbsolutePath)
    assertSameFrame(part)
    val rows = ParquetSource.read(spark, part).orderBy("id").collect().toSeq
    assert(rows.length == 50)
    assert(rows == spark.read.parquet(part).orderBy("id").collect().toSeq)
  }

  test("a fixture-table read starts no Spark job; Spark's own read starts one") {
    val path = s"${SparkSpec.testDataDir}/lineitem.parquet"
    assert(jobs(ParquetSource.read(spark, path)) == 0L)
    assert(jobs(spark.read.parquet(path)) == 1L)
  }

  /** The same schema and row count, or the same exception class and exit code. */
  private def assertSameOutcome(paths: String*): Unit = {
    def outcome(read: => DataFrame): Either[(Class[_], Int), (String, Long)] =
      try { val df = read; Right((df.schema.toDDL, df.count())) }
      catch { case t: Throwable => Left((t.getClass, ExitCodes.forThrowable(t))) }
    val mine = outcome(ParquetSource.read(spark, paths: _*))
    assert(mine == outcome(spark.read.parquet(paths: _*)), paths)
  }

  test("a glob and a hidden file name take Spark's path") {
    val dir = Files.createTempDirectory("pqsrc-names").toString
    val region = Paths.get(s"${SparkSpec.testDataDir}/region.parquet")
    Files.copy(region, Paths.get(s"$dir/_region.parquet"))
    Files.copy(region, Paths.get(s"$dir/region.parquet"))
    assertSameOutcome(s"$dir/_region.parquet")
    assertSameOutcome(s"$dir/reg*.parquet")
    assertSameOutcome(s"$dir/region.parquet")
  }

  test("a directory store, two paths and a missing path take Spark's path") {
    val dir = Files.createTempDirectory("pqsrc-store").toString
    spark.range(0, 20).selectExpr("id", "id % 3 AS k").write.partitionBy("k").parquet(s"$dir/store")
    assertSameOutcome(s"$dir/store")
    assert(ParquetSource.read(spark, s"$dir/store").schema.fieldNames.toSeq == Seq("id", "k"))

    val region = s"${SparkSpec.testDataDir}/region.parquet"
    val nation = s"${SparkSpec.testDataDir}/nation.parquet"
    assertSameOutcome(region, region)
    assertSameOutcome(nation, region)

    val missing = s"$dir/no-such-table.parquet"
    assertSameOutcome(missing)
    val e = intercept[Throwable](ParquetSource.read(spark, missing))
    assert(e.getMessage.contains("PATH_NOT_FOUND"), e.getMessage)
    assert(ExitCodes.forThrowable(e) == ExitCodes.Unknown)
  }

  test("non-parquet bytes at a .parquet path still exit 47") {
    val dir = Files.createTempDirectory("pqsrc-corrupt").toString
    val path = s"$dir/corrupt.parquet"
    Files.writeString(Paths.get(path), "this is not a parquet file, just some text bytes\n")
    val mine = intercept[Throwable](ParquetSource.read(spark, path).collect())
    val theirs = intercept[Throwable](spark.read.parquet(path).collect())
    assert(ExitCodes.forThrowable(mine) == ExitCodes.ExecutionError, mine)
    assert(ExitCodes.forThrowable(theirs) == ExitCodes.ExecutionError, theirs)
    // the driver-side footer read names the file, not a failed stage
    assert(mine.getMessage.contains("CANNOT_READ_FILE_FOOTER") && mine.getMessage.contains(path),
      mine.getMessage)
  }
}
