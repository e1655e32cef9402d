package perfbench

/** The per-layer figures of a traced run. Each figure is summed over the
  * spans of one traced iteration, then the median over traced iterations is
  * reported. A layer a workload does not call reports 0.
  */
object Layers {

  final case class Traced(index: Int, outcome: Option[Outcome], parts: Int)

  private val graphSpans = GraphSupersteps.Rows.map(r => s"operators.$r")

  /** Spans whose Spark execution is reported. */
  val SparkSpans: Seq[String] = Seq("jobs.export", "sources.pull", "sink.encode", "sink.write") ++ graphSpans

  /** Spans whose self time is reported. `workload` is the timed call; its
    * self time is the part of it no layer span covers. `probes` holds the
    * traced-only calls that split an export into layers.
    */
  val SelfSpans: Seq[String] = Seq("workload", "probes", "sources.plan", "jobs.export",
    "schema.infer", "sources.pull", "sink.encode", "sink.write") ++ graphSpans

  def report(rec: Recorder, listener: ScopeListener, its: Seq[Traced], sessionBuildS: Double,
      untracedWallS: Double, put: (String, Double, String) => Unit): Unit = {
    val byIter = rec.spans.groupBy(_.iter)
    def med(f: (Seq[Span], Traced) => Double): Double =
      Stats.median(its.map(t => f(byIter.getOrElse(t.index, Nil).toSeq, t)))
    def named(ss: Seq[Span], name: String) = ss.filter(_.name == name)
    def dur(ss: Seq[Span], name: String): Double = named(ss, name).map(_.seconds).sum
    def ctr(ss: Seq[Span], name: String)(f: Counters => Long): Double =
      named(ss, name).flatMap(s => Option(listener.counters.get(s.id))).map(f).sum.toDouble
    def sinkSum(t: Traced)(f: graft.sink.AvroSink.Metrics => Long): Double =
      t.outcome.map(_.exports.map(e => f(e._2)).sum.toDouble).getOrElse(0.0)

    put("session.build_s", sessionBuildS, "s")

    put("sources.plan_s", med((ss, _) => dur(ss, "sources.plan")), "s")
    put("sources.pull_s", med((ss, _) => dur(ss, "sources.pull")), "s")
    put("sources.input_bytes", med((ss, _) => ctr(ss, "jobs.export")(_.inputBytes)), "bytes")
    put("sources.input_rows", med((ss, _) => ctr(ss, "jobs.export")(_.inputRecords)), "count")
    put("sources.scans", med((ss, _) => ctr(ss, "jobs.export")(_.scans)), "count")

    put("schema.infer_s", med((ss, _) => dur(ss, "schema.infer")), "s")
    put("schema.calls", med((ss, _) => named(ss, "schema.infer").length.toDouble), "count")

    // sink.encode spans drain the source too; their pull share is removed
    put("sink.encode_s", med((ss, _) => dur(ss, "sink.encode") - dur(ss, "sources.pull")), "s")
    put("sink.write_s", med((ss, _) => dur(ss, "sink.write")), "s")
    put("sink.codec_fs_s", med((ss, _) => dur(ss, "sink.write") - dur(ss, "sink.encode")), "s")
    put("sink.first_row_ms", med((_, t) => sinkSum(t)(_.executeQueryElapsedMs)), "ms")
    put("sink.task_write_ms", med((_, t) => sinkSum(t)(_.writeElapsedMs)), "ms")
    put("sink.bytes_written", med((_, t) => sinkSum(t)(_.bytesWritten)), "bytes")
    put("sink.records", med((_, t) => sinkSum(t)(_.recordCount)), "count")
    put("sink.parts", med((_, t) => t.parts.toDouble), "count")

    put("jobs.export_s", med((ss, _) => dur(ss, "jobs.export")), "s")
    put("jobs.overhead_s", med((ss, _) =>
      if (named(ss, "jobs.export").isEmpty) 0.0 else dur(ss, "jobs.export") - dur(ss, "sink.write")), "s")
    put("jobs.sub_exports", med((_, t) => t.outcome.map(_.exports.length.toDouble).getOrElse(0.0)), "count")
    put("jobs.spark_jobs", med((ss, _) => ctr(ss, "jobs.export")(_.jobs)), "count")

    graphSpans.foreach(s => put(s"$s.wall_s", med((ss, _) => dur(ss, s)), "s"))

    SparkSpans.foreach { s =>
      put(s"$s.task_s", med((ss, _) => ctr(ss, s)(_.taskMs) / 1e3), "s")
      put(s"$s.tasks", med((ss, _) => ctr(ss, s)(_.tasks)), "count")
      put(s"$s.stages", med((ss, _) => ctr(ss, s)(_.stages)), "count")
      put(s"$s.shuffle_write_bytes", med((ss, _) => ctr(ss, s)(_.shuffleWriteBytes)), "bytes")
      put(s"$s.shuffle_read_bytes", med((ss, _) => ctr(ss, s)(_.shuffleReadBytes)), "bytes")
      put(s"$s.spill_bytes", med((ss, _) => ctr(ss, s)(_.spillBytes)), "bytes")
      put(s"$s.gc_s", med((ss, _) => ctr(ss, s)(_.gcMs) / 1e3), "s")
    }

    SelfSpans.foreach(s =>
      put(s"$s.self_s", med((ss, _) => named(ss, s).map(rec.selfSeconds).sum), "s"))

    val tracedWall = med((ss, _) => dur(ss, "workload"))
    put("trace.wall_s", tracedWall, "s")
    put("trace.untraced_wall_s", untracedWallS, "s")
    put("trace.overhead_s", tracedWall - untracedWallS, "s")
    put("trace.uncovered_share", med((ss, _) =>
      named(ss, "workload").map(rec.selfSeconds).sum / math.max(1e-9, dur(ss, "workload"))), "ratio")
  }
}
