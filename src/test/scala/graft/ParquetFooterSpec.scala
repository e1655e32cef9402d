package graft

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

import graft.jobs.ExitCodes
import graft.sources.ParquetSource

/** A PAR1-framed file whose footer metadata does not decode: parquet
  * raises an IOException, not the RuntimeException of a bad frame. The
  * driver-side footer read fails the read as Spark's schema job does,
  * exit 47, with or without `ignoreCorruptFiles`, and names the file.
  */
class ParquetFooterSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSpec.spark

  /** "PAR1", the footer bytes, their little-endian length, "PAR1". */
  private def framed(footer: Array[Byte]): String = {
    val path = Files.createTempDirectory("pqfooter").resolve("bad.parquet")
    val len = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(footer.length).array()
    Files.write(path, "PAR1".getBytes("US-ASCII") ++ footer ++ len ++ "PAR1".getBytes("US-ASCII"))
    path.toString
  }

  private def failure(read: => DataFrame): Throwable = intercept[Throwable](read.collect())

  private def withIgnoreCorrupt[T](on: Boolean)(body: => T): T = {
    val key = "spark.sql.files.ignoreCorruptFiles"
    val was = spark.conf.getOption(key)
    spark.conf.set(key, on.toString)
    try body finally was.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("garbage or truncated thrift footer metadata exits 47 and names the file") {
    val garbage = framed(Array.fill[Byte](64)(0xFF.toByte))
    val truncated = framed(Array[Byte](0x15))
    for (path <- Seq(garbage, truncated); ignore <- Seq(false, true)) withIgnoreCorrupt(ignore) {
      val mine = failure(ParquetSource.read(spark, path))
      val theirs = failure(spark.read.parquet(path))
      assert(ExitCodes.forThrowable(mine) == ExitCodes.ExecutionError, (path, ignore, mine))
      assert(ExitCodes.forThrowable(theirs) == ExitCodes.ExecutionError, (path, ignore, theirs))
      assert(mine.getMessage.contains("CANNOT_READ_FILE_FOOTER") && mine.getMessage.contains(path),
        mine.getMessage)
    }
  }
}
