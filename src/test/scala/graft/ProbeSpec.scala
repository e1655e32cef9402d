package graft

import java.io.ByteArrayOutputStream
import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.tools.Probe

class ProbeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark
  private val dir = SparkSpec.testDataDir

  private def stdout(body: => Any): String = {
    val buf = new ByteArrayOutputStream()
    Console.withOut(buf)(body)
    buf.toString("UTF-8")
  }

  test("profile: q3_join_agg run 2 has tasks, stages and shuffle writes") {
    var timings = Seq.empty[Probe.Timing]
    val out = stdout { timings = Probe.profile(spark, dir, Seq("q3_join_agg")) }
    val Seq(t) = timings
    assert(t.row == "q3_join_agg" && t.wallS > 0 && t.wallS <= t.run2S)
    val c = t.counters
    assert(c.jobs > 0 && c.stages > 0 && c.tasks > 0, c)
    assert(c.shuffleWriteBytes > 0, c)
    assert(out.linesIterator.count(_.startsWith("q3_join_agg ")) == 1, out)
  }

  test("plan: q3_join_agg's physical plan has an Exchange") {
    val out = stdout(Probe.plan(spark, dir, Seq("q3_join_agg")))
    assert(out.contains("########## q3_join_agg ##########"))
    assert(out.contains("Exchange"), out)
  }

  test("scale: k=2 doubles every replicated table with disjoint keys; one finite row per row") {
    val out = Files.createTempDirectory("probe-spec-x2").toString
    try {
      Probe.replicate(spark, dir, 2, out)
      val fixed = Set("nation", "region")
      val tables = new java.io.File(dir).list().filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet"))
      assert(tables.length == 10)
      tables.foreach { t =>
        val src = spark.read.parquet(s"$dir/$t.parquet")
        val rep = spark.read.parquet(s"$out/$t.parquet")
        assert(rep.schema == src.schema, t)
        val factor = if (fixed(t)) 1 else 2
        assert(rep.count() == factor * src.count(), t)
        // the first column is each table's key: copies must not collide
        val key = src.columns.head
        assert(rep.select(countDistinct(col(key))).head().getLong(0) ==
          factor * src.select(countDistinct(col(key))).head().getLong(0), s"$t.$key")
      }
    } finally new scala.reflect.io.Directory(new java.io.File(out)).deleteRecursively()

    val rows = Seq("q3_join_agg", "q1_agg")
    var growth = Seq.empty[Probe.Growth]
    stdout { growth = Probe.scale(spark, dir, 2, rows) }
    assert(growth.map(_.row) == rows)
    growth.foreach { g =>
      assert(Seq(g.wall, g.taskS, g.shuffleWrite).forall(e => !e.isNaN && !e.isInfinite), g)
    }
  }

  test("ab: a calibration stamp, then one line per row") {
    val rows = Seq("q1_agg", "q3_join_agg", "no_such_row")
    val lines = stdout(Probe.ab(spark, dir, rows)).linesIterator.filter(_.startsWith("AB ")).toVector
    assert(lines.length == 1 + rows.length, lines)
    assert(lines.head.matches("AB calib_ms=[0-9.]+ calib_mt_ms=[0-9.]+ loadavg=.+"), lines.head)
    rows.zip(lines.tail).foreach { case (row, l) => assert(l.startsWith(s"AB $row "), l) }
    assert(lines.last == "AB no_such_row MISSING")
    assert(lines(1).contains("ratio_mt="), lines(1))
  }
}
