package graft.jobs


import graft.schema.AvroSchemaGen
import graft.sink.AvroSink
import graft.sources.ParquetSource

/** Benchmark job with the reference's shape
  * (`jobs/BenchJdbcAvroJob.java:61-129`): run the export `--executions=N`
  * times into `<output>/run_<i>`, then print a per-run table of
  * `recordCount | writeElapsedMs | msPerMillionRows | bytesWritten |
  * KbWritePerSec` followed by max / mean / min / population-stddev rows.
  *
  * Usage: `runMain graft.jobs.BenchJob --input=... --output=... [--executions=3] [--avroCodec=deflate1]`
  */
object BenchJob {

  private val Columns = Seq(
    "recordCount", "writeElapsedMs", "msPerMillionRows", "bytesWritten", "KbWritePerSec")

  def main(args: Array[String]): Unit = {
    val opts = graft.args.ArgParsers.parseFlags(args)
    val input = opts("input")
    val output = opts("output")
    val executions = opts.getOrElse("executions", "3").toInt
    val codec = opts.getOrElse("avroCodec", "deflate1")

    val spark = graft.SessionFactory.cli("graft-bench-job")

    val runs = (0 until executions).map { i =>
      val df = ParquetSource.read(spark, input)
      val t0 = System.currentTimeMillis()
      val schema = AvroSchemaGen.generate(df.schema, AvroSchemaGen.Config(tableName = "bench"))
      val m = AvroSink.write(df, schema, s"$output/run_$i", codec, System.currentTimeMillis() - t0)
      m.toMap
    }

    println(Columns.mkString("run\t", "\t", ""))
    runs.zipWithIndex.foreach { case (m, i) =>
      println(Columns.map(m(_)).mkString(s"$i\t", "\t", ""))
    }
    def mean(v: Seq[Double]): Double = v.sum / v.size
    val stats = Seq[(String, Seq[Double] => Double)](
      "max" -> (_.max), "mean" -> mean, "min" -> (_.min),
      "stddev" -> { v => val m = mean(v); math.sqrt(mean(v.map(x => (x - m) * (x - m)))) })
    for ((label, stat) <- stats) {
      // locale-pinned like Bench's JSON line (the `f` interpolator uses
      // the JVM default locale; a comma-decimal locale breaks the TSV)
      println(Columns.map(c => String.format(java.util.Locale.ROOT, "%.1f",
        Double.box(stat(runs.map(_(c).toDouble))))).mkString(s"$label\t", "\t", ""))
    }
    spark.stop()
  }
}
