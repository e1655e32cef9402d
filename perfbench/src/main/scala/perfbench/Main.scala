package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.SessionFactory

/** The benchmark's JVM side: builds the session, runs one workload in a
  * closed loop from this one thread for `--seconds` of timed calls, checks
  * every iteration's output outside the timed region, and writes its
  * figures as one JSON object to `--result`. `perfbench/run.py` makes the
  * inputs, launches this, and prints the final report.
  *
  * Modes: `--trace 0` times untraced iterations; `--trace 1` first times
  * untraced iterations for half the time, then traced ones (spans and
  * per-span Spark counters) for the other half. `--dump-oracles DIR`
  * writes the graph rows' DuckDB oracle SQL and exits.
  */
object Main {

  /** After set-up, warm passes repeat until set-up's pass and they have
    * taken this long together, and at least twice, so the JIT has mostly
    * settled before the first timed call: after one warm pass the graph's
    * first timed iteration still ran about 10% slower than its second.
    * They are not part of `setup_s`.
    */
  val MinWarmS = 15.0

  private def arg(args: Array[String], key: String): Option[String] =
    args.sliding(2).collectFirst { case Array(k, v) if k == key => v }

  def main(args: Array[String]): Unit = {
    arg(args, "--dump-oracles") match {
      case Some(dir) =>
        new File(dir).mkdirs()
        GraphSupersteps.Rows.foreach { row =>
          Files.write(new File(dir, s"$row.sql").toPath,
            graft.SparkEntry.oracleSql(row).getBytes(StandardCharsets.UTF_8))
        }
      case None => bench(args)
    }
  }

  private def need(args: Array[String], key: String): String =
    arg(args, key).getOrElse(throw new IllegalArgumentException(s"missing $key"))

  private def bench(args: Array[String]): Unit = {
    val workloadName = need(args, "--workload")
    val data = need(args, "--data")
    val work = need(args, "--work")
    val seconds = need(args, "--seconds").toDouble
    val traced = need(args, "--trace") == "1"
    val cpus = need(args, "--cpus")
    val plant = arg(args, "--plant").getOrElse("none")
    require(Workload.Plants(plant), s"unknown --plant $plant")

    val t0 = System.nanoTime()
    val spark = SessionFactory.builder(s"local[$cpus]", "perfbench", cpus)
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    val sessionBuildS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("WARN")
    val listener = new ScopeListener
    spark.sparkContext.addSparkListener(listener)

    val workload = Workload(workloadName, spark, data, arg(args, "--expect").getOrElse(""), plant)
    val outRoot = new File(work, "out")
    var iter = 0
    def freshDir(): String = { iter += 1; new File(outRoot, s"it-$iter").getPath }

    // Set-up, from JVM start: the session build and one cold pass of the
    // workload, which reads the inputs. Warm passes follow outside set-up.
    // The ground truth is the benchmark's own work and comes last.
    val w0 = System.nanoTime()
    workload.run(freshDir(), NoTrace)
    val setupS = (System.currentTimeMillis() -
      ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    var passes = 0
    while (passes < 2 || (System.nanoTime() - w0) / 1e9 < MinWarmS) {
      workload.run(freshDir(), NoTrace)
      passes += 1
    }
    val p0 = System.nanoTime()
    workload.prepare()
    System.err.println(f"[perfbench] set-up ${setupS}%.2f s (session ${sessionBuildS}%.2f s), " +
      f"$passes warm passes, ground truth ${(System.nanoTime() - p0) / 1e9}%.2f s")

    val calibStart = Host.calibMs()
    val loadStart = Host.loadAvg()
    val cpuStart = Host.hostCpuTicks()
    final case class It(index: Int, traced: Boolean, wallS: Double, cpuS: Double,
        rows: Long, avroBytes: Long, parts: Int, error: Option[String], outcome: Option[Outcome])
    val its = ArrayBuffer.empty[It]
    val recorder = new Recorder(spark.sparkContext)

    def loop(budgetS: Double, tracedIts: Boolean): Unit = {
      var spent = 0.0
      var n = 0
      while (spent < budgetS || n == 0) {
        val dir = freshDir()
        recorder.iter = iter
        spark.sparkContext.setLocalProperty(ScopeListener.Key, iter.toString)
        val cpu0 = Host.cpuNs() - Host.jitNs()
        val w0 = System.nanoTime()
        val res = try Right(
          if (tracedIts) recorder.span("workload")(workload.run(dir, recorder))
          else workload.run(dir, NoTrace))
        catch { case e: Exception => Left(s"threw ${e.getClass.getName}: ${e.getMessage}") }
        val wallS = (System.nanoTime() - w0) / 1e9
        val cpuS = (Host.cpuNs() - Host.jitNs() - cpu0) / 1e9
        spark.sparkContext.setLocalProperty(ScopeListener.Key, null)
        spent += wallS
        n += 1
        val c0 = System.nanoTime()
        val error = res.fold(Some(_), o => try workload.check(dir, o)
          catch { case e: Exception => Some(s"check threw ${e.getClass.getName}: ${e.getMessage}") })
        System.err.println(f"[perfbench] iteration $iter: ${wallS}%.3f s, check " +
          f"${(System.nanoTime() - c0) / 1e9}%.2f s${error.map(" FAILED " + _).getOrElse("")}")
        if (tracedIts) recorder.span("probes")(workload.probe(dir, recorder))
        val o = res.toOption
        its += It(iter, tracedIts, wallS, cpuS, o.map(_.rows).getOrElse(0L),
          o.map(_.avroBytes).getOrElse(0L), Host.countParts(new File(dir)), error,
          if (tracedIts) o else None)
      }
    }
    if (traced) { loop(seconds / 2, tracedIts = false); loop(seconds / 2, tracedIts = true) }
    else loop(seconds, tracedIts = false)

    val calibEnd = Host.calibMs()
    val loadEnd = Host.loadAvg()
    val stealShare = Host.stealShare(cpuStart, Host.hostCpuTicks())
    val peakRssMb = Host.peakRssMb()
    spark.stop() // drains the listener queue: the counters are final from here
    Host.deleteTree(outRoot) // not between iterations: deletes cost disk I/O

    val untimed = its.filterNot(_.traced)
    val metrics = ArrayBuffer.empty[(String, Double, String)]
    def put(name: String, v: Double, unit: String): Unit = metrics += ((name, v, unit))
    val wall = Stats.median(untimed.map(_.wallS))
    val rows = Stats.median(untimed.map(_.rows.toDouble))
    val shuffleBytes = untimed.map(i => Option(listener.counters.get(i.index.toLong))
      .map(_.shuffleWriteBytes.toDouble).getOrElse(0.0))
    // Bytes a workload moves per row: the Avro bytes an export writes, or
    // the shuffle bytes the graph supersteps write.
    val bytesPerRow = Stats.median(untimed.zip(shuffleBytes).map { case (i, sb) =>
      (if (i.avroBytes > 0) i.avroBytes.toDouble else sb) / math.max(1L, i.rows)
    })
    if (!traced) {
      put("setup_s", setupS, "s")
      put("wall_s", wall, "s")
      put("ms_per_million_rows", wall * 1e3 * 1e6 / math.max(1.0, rows), "ms")
      put("cpu_s", Stats.median(untimed.map(_.cpuS)), "s")
      put("bytes_per_row", bytesPerRow, "bytes")
      put("peak_rss_mb", peakRssMb, "MB")
    } else {
      Layers.report(recorder, listener,
        its.filter(_.traced).map(i => Layers.Traced(i.index, i.outcome, i.parts)).toSeq,
        sessionBuildS, wall, put)
      val pw = new PrintWriter(need(args, "--spans"), "UTF-8")
      try recorder.toJsonLines.foreach(pw.println) finally pw.close()
    }

    val failures = its.flatMap(i => i.error.map(e => s"iteration ${i.index}: $e")).take(5)
    val calibRatio = calibEnd / calibStart
    val iterations = its.map(i =>
      s"""{"traced":${i.traced},"wall_s":${i.wallS},"cpu_s":${i.cpuS}}""")
    val metricsJson = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":$v,"unit":${Json.str(u)}}""" }
    val host = Seq(
      s""""calib_start_ms":$calibStart""", s""""calib_end_ms":$calibEnd""",
      s""""calib_ratio":$calibRatio""", s""""suspect_factor":${Host.SuspectFactor}""",
      s""""host_suspect":${calibRatio > Host.SuspectFactor || calibRatio < 1 / Host.SuspectFactor ||
        stealShare > Host.SuspectSteal}""",
      s""""loadavg_start":${Json.str(loadStart)}""", s""""loadavg_end":${Json.str(loadEnd)}""",
      s""""steal_share":$stealShare""")
    val json = Seq(
      s""""attempted":${its.length}""",
      s""""failed":${its.count(_.error.isDefined)}""",
      s""""failures":[${failures.map(Json.str).mkString(",")}]""",
      s""""iterations":[${iterations.mkString(",")}]""",
      s""""host":{${host.mkString(",")}}""",
      s""""metrics":{${metricsJson.mkString(",")}}""").mkString("{", ",", "}")
    Files.write(new File(need(args, "--result")).toPath, json.getBytes(StandardCharsets.UTF_8))
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
}

object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Host figures: process CPU time, peak memory, load and a pure-JVM speed
  * stamp taken at the start and end of the timed loop.
  */
object Host {
  /** End/start calibration drift beyond this flags the run `host_suspect`. */
  val SuspectFactor = 1.3

  /** So does a hypervisor steal share above this over the timed loop: it
    * slows the many-small-jobs workloads several times over.
    */
  val SuspectSteal = 0.05

  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Time the JIT compiler threads have spent compiling. Left-over warm-up
    * compilation is taken out of an iteration's CPU time: it varies from
    * JVM to JVM and is not the workload's cost.
    */
  def jitNs(): Long = ManagementFactory.getCompilationMXBean.getTotalCompilationTime * 1000000L

  private def procLine(file: String, prefix: String): Option[String] =
    try {
      val lines = Files.readAllLines(new File(file).toPath).asScala
      lines.find(_.startsWith(prefix))
    } catch { case _: java.io.IOException => None }

  def peakRssMb(): Double =
    procLine("/proc/self/status", "VmHWM:")
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  /** (steal, total) jiffies over all CPUs of this machine, from /proc/stat. */
  def hostCpuTicks(): (Long, Long) =
    procLine("/proc/stat", "cpu ").map { l =>
      val f = l.trim.split("\\s+").drop(1).take(8).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))

  /** Share of CPU time the hypervisor gave to other guests between two readings. */
  def stealShare(a: (Long, Long), b: (Long, Long)): Double =
    (b._1 - a._1).toDouble / math.max(1L, b._2 - a._2)

  def loadAvg(): String =
    procLine("/proc/loadavg", "").map(_.split(" ").take(3).mkString(" ")).getOrElse("n/a")

  private val calibBuf: Array[Long] = {
    val a = new Array[Long](1 << 19) // 4 MiB of splitmix64 output, fixed seed
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      a(i) = z ^ (z >>> 31)
      i += 1
    }
    a
  }
  @volatile private var sink = 0L

  private def calibPasses(passes: Int): Long = {
    var h = 0x27D4EB2F165667C5L
    var p = 0
    while (p < passes) {
      var i = 0
      while (i < calibBuf.length) {
        h ^= calibBuf(i) * 0xC2B2AE3D27D4EB4FL
        h = java.lang.Long.rotateLeft(h, 31) * 0x9E3779B185EBCA87L
        i += 1
      }
      p += 1
    }
    h
  }

  /** Single-thread wall ms of a fixed loop, best of three after a warm run. */
  def calibMs(): Double = {
    sink ^= calibPasses(10)
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      sink ^= calibPasses(60)
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  def countParts(f: File): Int =
    Option(f.listFiles()).map(_.map { c =>
      if (c.isDirectory) countParts(c)
      else if (c.getName.startsWith("part-") && c.getName.endsWith(".avro")) 1 else 0
    }.sum).getOrElse(0)

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete()
  }
}
