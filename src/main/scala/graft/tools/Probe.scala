package graft.tools

import java.io.File
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.util.control.NonFatal

import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.execution.FormattedMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

import graft.operators.Materialize
import graft.sources.ParquetSource
import graft.{Bench, SessionFactory, SparkEntry}

/** The one probe entry point for catalog rows. Every mode times a row with
  * the bench estimator — a warm pass on the sf0.001 fixture (the sibling of
  * the target dir, skipped when absent) and one uncounted pass on the
  * target dir, then best-of-2 `count()` — and reads the [[Meter]] counters
  * of run 2.
  *
  * {{{
  * runMain graft.tools.Probe profile [--stages] [--show=<n>] [row ...]
  * runMain graft.tools.Probe ab      row ...
  * runMain graft.tools.Probe plan    row ...
  * runMain graft.tools.Probe margins [dir ...]
  * runMain graft.tools.Probe scale   [--k=<n>] row ...
  * }}}
  *
  *   - `profile`: wall, jobs, stages, tasks, task-ms, GC, shuffle read and
  *     write (KB), input and spill per row (no rows = the whole catalog). `--stages` adds one line
  *     per stage of run 2; `--show=n` prints the first n result rows.
  *   - `ab`: one A/B leg (bench/PROTOCOL.md) — a host calibration stamp,
  *     then wall and `ratio_mt` = wall / all-cores calibration per row.
  *   - `plan`: the formatted physical plan per row, built under
  *     `Materialize.inspect`, so a row that materializes its result shows
  *     the plan behind it.
  *   - `margins`: [[GateMargins]] over the given dirs (default: the SF dir).
  *   - `scale`: runs each row on the dir and on a k× (default 8)
  *     replication of it ([[replicate]]) and prints wall, task-ms and
  *     shuffle-write growth exponents `log(x_k / x_1) / log(k)`; ≈ 1 is
  *     linear.
  *
  * The SF dir is `SPARK_GRAFT_SF_DIR`. The session is built by
  * [[SessionFactory]] at `local[N]` with N shuffle partitions, N from
  * `SPARK_GRAFT_CPUS` (default: the available processors).
  */
object Probe {

  /** Listener totals of one measured run. */
  final case class Counters(jobs: Long, stages: Long, tasks: Long, taskMs: Long,
      gcMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long, inputBytes: Long,
      spillBytes: Long) {
    def taskS: Double = taskMs / 1e3
  }

  /** The one listener: totals since the last reset. Spark delivers events
    * on its own thread, so [[measure]] drains before it resets and before
    * it reads.
    */
  final class Meter extends SparkListener {
    private val events, jobsStarted, jobsEnded, stages, tasks, taskMs, gcMs,
      shufR, shufW, input, spill = new AtomicLong
    private val stageLines = new ConcurrentLinkedQueue[String]()

    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobsStarted.incrementAndGet(); events.incrementAndGet()
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit = {
      jobsEnded.incrementAndGet(); events.incrementAndGet()
    }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      val i = s.stageInfo
      val m = i.taskMetrics
      val wall = (for (a <- i.completionTime; b <- i.submissionTime) yield a - b).getOrElse(-1L)
      stageLines.add(f"  stage ${i.stageId}%4d tasks=${i.numTasks}%4d wall=$wall%6dms " +
        f"taskTime=${m.executorRunTime}%7dms shufR=${m.shuffleReadMetrics.totalBytesRead / 1000}%8dK " +
        f"shufW=${m.shuffleWriteMetrics.bytesWritten / 1000}%8dK  ${i.name.take(90)}")
      events.incrementAndGet()
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        taskMs.addAndGet(m.executorRunTime)
        gcMs.addAndGet(m.jvmGCTime)
        shufR.addAndGet(m.shuffleReadMetrics.totalBytesRead)
        shufW.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        input.addAndGet(m.inputMetrics.bytesRead)
        spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      }
      events.incrementAndGet()
    }

    /** Waits until every started job has ended and no event arrived for
      * 100 ms: a finished action has posted all its events, so a quiet bus
      * with balanced jobs has delivered them.
      */
    private def drain(): Unit = {
      var seen = -1L
      while (events.get != seen || jobsStarted.get != jobsEnded.get) {
        seen = events.get
        Thread.sleep(100)
      }
    }

    /** Wall seconds of `body` and the counters of exactly that run. */
    def measure(body: => Any): (Double, Counters) = {
      drain()
      Seq(jobsStarted, jobsEnded, stages, tasks, taskMs, gcMs, shufR, shufW, input, spill)
        .foreach(_.set(0L))
      stageLines.clear()
      val wall = seconds(body)
      drain()
      (wall, Counters(jobsStarted.get, stages.get, tasks.get, taskMs.get, gcMs.get,
        shufR.get, shufW.get, input.get, spill.get))
    }

    def stageLog: Seq[String] = stageLines.toArray(Array.empty[String]).toSeq
  }

  /** One row under the bench estimator: best-of-2 wall, run 2's wall and
    * run 2's counters.
    */
  final case class Timing(row: String, wallS: Double, run2S: Double, counters: Counters)

  /** Exponents `log(x_k / x_1) / log(k)` of one row under `scale`. */
  final case class Growth(row: String, wall: Double, taskS: Double, shuffleWrite: Double)

  private def seconds(body: => Any): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The sf0.001 fixture next to `dir`, the bench's warm-pass input. */
  private def warmDirFor(dir: String): Option[String] =
    Option(new File(dir).getAbsoluteFile.getParentFile)
      .map(p => new File(p, "sf0.001"))
      .filter(_.isDirectory)
      .map(_.getPath)

  /** Compiles the row's query shape once, as the bench's warm pass does,
    * then runs it once, uncounted, on `dir` itself: the sf0.001 pass alone
    * leaves the first timed run to pay the warm-up that grows with scale.
    * A row that fails on the tiny fixture is timed anyway.
    */
  private def warm(spark: SparkSession, row: String, dir: String): Unit = {
    warmDirFor(dir).foreach { w =>
      try SparkEntry.queries(row)(spark, w).count()
      catch { case NonFatal(_) => () }
    }
    SparkEntry.queries(row)(spark, dir).count()
  }

  private def bestOf2(spark: SparkSession, meter: Meter, row: String, dir: String): Timing = {
    val fn = SparkEntry.queries(row)
    val run1 = seconds(fn(spark, dir).count())
    val (run2, c) = meter.measure(fn(spark, dir).count())
    Timing(row, math.min(run1, run2), run2, c)
  }

  private def withMeter[A](spark: SparkSession)(body: Meter => A): A = {
    val meter = new Meter
    spark.sparkContext.addSparkListener(meter)
    try body(meter) finally spark.sparkContext.removeSparkListener(meter)
  }

  def profile(spark: SparkSession, dir: String, rows: Seq[String],
      stages: Boolean = false, show: Int = 0): Seq[Timing] = withMeter(spark) { meter =>
    println(f"${"query"}%-36s ${"wall_s"}%8s ${"w2_s"}%8s ${"jobs"}%5s ${"stg"}%5s " +
      f"${"tasks"}%6s ${"taskMs"}%8s ${"gcS"}%6s ${"shufRK"}%8s ${"shufWK"}%8s ${"inMB"}%7s " +
      f"${"spillMB"}%8s")
    rows.map { row =>
      warm(spark, row, dir)
      val t = bestOf2(spark, meter, row, dir)
      val c = t.counters
      println(f"$row%-36s ${t.wallS}%8.3f ${t.run2S}%8.3f ${c.jobs}%5d ${c.stages}%5d " +
        f"${c.tasks}%6d ${c.taskMs}%8d ${c.gcMs / 1e3}%6.2f " +
        f"${c.shuffleReadBytes / 1000}%8d ${c.shuffleWriteBytes / 1000}%8d ${c.inputBytes / 1e6}%7.1f " +
        f"${c.spillBytes / 1e6}%8.1f")
      if (stages) meter.stageLog.foreach(println)
      if (show > 0) SparkEntry.queries(row)(spark, dir).show(show, truncate = false)
      t
    }
  }

  /** `spark` is by-name so that `main` takes the calibration stamp before
    * Spark starts its threads, as the bench does.
    */
  def ab(spark: => SparkSession, dir: String, rows: Seq[String]): Unit = {
    val calib = Bench.Calib.singleMs()
    val calibMt = Bench.Calib.multiMs()
    println(f"AB calib_ms=$calib%.1f calib_mt_ms=$calibMt%.1f loadavg=${Bench.readLoadAvg()}")
    withMeter(spark) { meter =>
      rows.foreach { row =>
        if (!SparkEntry.queries.contains(row)) println(s"AB $row MISSING")
        else {
          warm(spark, row, dir)
          val t = bestOf2(spark, meter, row, dir)
          println(f"AB $row%-34s ${t.wallS}%.3f  ratio_mt=${t.wallS * 1000 / calibMt}%.4f " +
            f"task_s=${t.counters.taskS}%.2f")
        }
      }
    }
  }

  def plan(spark: SparkSession, dir: String, rows: Seq[String]): Unit =
    rows.foreach { row =>
      println(s"\n########## $row ##########")
      val df = Materialize.inspect(SparkEntry.queries(row)(spark, dir))
      println(df.queryExecution.explainString(FormattedMode))
    }

  /** Writes `k` disjoint copies of every fixture table in `src` to `out`.
    * Copy 0 is the source itself; copy i offsets keys far above any real
    * key, consistently across tables, so every copy keeps its referential
    * integrity: trade keys by i·10^8 (order keys) or i·10^6 (customer,
    * supplier and part keys, and the events' `user_id`, which joins
    * `c_custkey`); `doc_id` by i·10^7 plus an `r<i> ` text prefix that
    * shifts word alignment, so copies are not near-duplicates; `vec_id` by
    * i·10^7 plus a nudge of dimension i mod 64, so copies are distinct
    * vectors; events' `event_id` by i·10^8 and `ts` by i seconds. Tables
    * with no recipe (nation, region: fixed domains) are copied once.
    */
  def replicate(spark: SparkSession, src: String, k: Int, out: String): Unit = {
    def off(c: String, by: Long): (String, Column) = c -> (col(c) + by)
    val recipes: Map[String, (DataFrame, Long) => Seq[(String, Column)]] = Map(
      "lineitem" -> ((_, i) => Seq(off("l_orderkey", i * 100000000L),
        off("l_partkey", i * 1000000L), off("l_suppkey", i * 1000000L))),
      "orders" -> ((_, i) => Seq(off("o_orderkey", i * 100000000L), off("o_custkey", i * 1000000L))),
      "customer" -> ((_, i) => Seq(off("c_custkey", i * 1000000L))),
      "supplier" -> ((_, i) => Seq(off("s_suppkey", i * 1000000L))),
      "part" -> ((_, i) => Seq(off("p_partkey", i * 1000000L))),
      "documents" -> ((_, i) => Seq(off("doc_id", i * 10000000L),
        "text" -> concat(lit(s"r$i "), col("text")),
        "n_chars" -> (col("n_chars") + s"r$i ".length))),
      "embeddings" -> ((_, i) => Seq(off("vec_id", i * 10000000L),
        "embedding" -> expr(s"transform(embedding, (x, d) -> IF(d = ${i % 64}, x + $i.0f * 0.01f, x))"))),
      "events" -> ((df, i) => Seq(off("event_id", i * 100000000L), off("user_id", i * 1000000L),
        "ts" -> (if (df.schema("ts").dataType == LongType) col("ts") + i * 1000000000L
          else col("ts") + expr(s"INTERVAL $i SECONDS")))))
    val tables = Option(new File(src).list()).getOrElse(Array.empty[String])
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).sorted
    tables.foreach { t =>
      val df = ParquetSource.read(spark, s"$src/$t.parquet")
      val copies = recipes.get(t).fold(Seq(df)) { recipe =>
        df +: (1 until k).map(i => df.withColumns(recipe(df, i.toLong).toMap))
      }
      copies.reduce(_ unionByName _).write.mode("overwrite").parquet(s"$out/$t.parquet")
    }
  }

  def scale(spark: SparkSession, dir: String, k: Int, rows: Seq[String]): Seq[Growth] = {
    require(k >= 2, s"scale needs k >= 2, got $k")
    val dirK = Files.createTempDirectory(s"graft-probe-x$k").toFile
    try {
      replicate(spark, dir, k, dirK.getPath)
      withMeter(spark) { meter =>
        println(f"${"query"}%-36s ${"wall1"}%8s ${"wallK"}%8s ${"expW"}%6s ${"taskMs1"}%8s " +
          f"${"taskMsK"}%8s ${"expT"}%6s ${"shuf1MB"}%8s ${"shufKMB"}%8s ${"expS"}%6s")
        rows.map { row =>
          warm(spark, row, dir)
          val (t1, tk) = (bestOf2(spark, meter, row, dir), bestOf2(spark, meter, row, dirK.getPath))
          def exp(x1: Double, xk: Double) = math.log(xk / x1) / math.log(k.toDouble)
          val (s1, sk) = (t1.counters.shuffleWriteBytes.toDouble, tk.counters.shuffleWriteBytes.toDouble)
          val g = Growth(row, exp(t1.wallS, tk.wallS),
            exp(t1.counters.taskS, tk.counters.taskS), exp(s1, sk))
          println(f"$row%-36s ${t1.wallS}%8.3f ${tk.wallS}%8.3f ${g.wall}%6.2f " +
            f"${t1.counters.taskMs}%8d ${tk.counters.taskMs}%8d ${g.taskS}%6.2f " +
            f"${s1 / 1e6}%8.2f ${sk / 1e6}%8.2f ${g.shuffleWrite}%6.2f")
          g
        }
      }
    } finally new scala.reflect.io.Directory(dirK).deleteRecursively()
  }

  private val Usage = "usage: Probe profile|ab|plan|margins|scale [options] [row|dir ...]"

  def main(args: Array[String]): Unit = {
    val (opts, rest) = args.toSeq.partition(_.startsWith("--"))
    def opt(name: String): Option[String] =
      opts.collectFirst { case a if a.startsWith(s"--$name=") => a.drop(name.length + 3) }
    require(rest.nonEmpty, Usage)
    val (mode, names) = (rest.head, rest.tail)
    require(Set("profile", "ab", "plan", "margins", "scale").contains(mode), Usage)
    lazy val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      throw new IllegalArgumentException(s"set SPARK_GRAFT_SF_DIR to the fixture dir\n$Usage"))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    lazy val spark = {
      val s = SessionFactory.builder(s"local[$cpus]", s"graft-probe-$mode", cpus).getOrCreate()
      s.sparkContext.setLogLevel("WARN")
      s
    }
    try mode match {
      case "profile" =>
        profile(spark, dir, if (names.nonEmpty) names else SparkEntry.queries.keySet.toSeq.sorted,
          stages = opts.contains("--stages"), show = opt("show").fold(0)(_.toInt))
      case "ab" => ab(spark, dir, names)
      case "plan" => plan(spark, dir, names)
      case "margins" => GateMargins.run(spark, if (names.nonEmpty) names else Seq(dir))
      case "scale" => scale(spark, dir, opt("k").fold(8)(_.toInt), names)
    } finally SparkSession.getDefaultSession.foreach(_.stop())
  }
}
