package graft

import org.apache.spark.sql.SparkSession

/** Shared local SparkSession for test suites (one JVM-wide session), built
  * by [[SessionFactory]] so every spec runs under the engine's confs. */
object SparkSpec {
  lazy val spark: SparkSession = SessionFactory.builder("local[4]", "graft-test", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val testDataDir = "/root/testdata/sf0.001"
}
