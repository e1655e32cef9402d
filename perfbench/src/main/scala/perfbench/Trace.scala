package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `parent` is -1 for a root span; `iter` is
  * the iteration the span belongs to.
  */
final case class Span(id: Long, name: String, parent: Long, iter: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark execution counters of the jobs submitted under one scope id. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var scans = 0L // completed stages that read input records
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var inputBytes = 0L
  var inputRecords = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
}

/** Attributes Spark jobs, stages and tasks to the scope that submitted them.
  * The scope id travels as a thread-local Spark property, which Spark copies
  * into every job's properties at submission; `graft.jobs.ExportJob` sets
  * and clears its own job group, so the job group cannot carry it. Events
  * arrive on Spark's listener thread; read the counters only after
  * `SparkContext.stop()`, which drains the listener queue.
  */
final class ScopeListener extends SparkListener {
  private val stageScope = new ConcurrentHashMap[Int, Long]()
  val counters = new ConcurrentHashMap[Long, Counters]()

  private def of(scope: Long): Counters = counters.computeIfAbsent(scope, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(ScopeListener.Key))).foreach { s =>
      val scope = s.toLong
      of(scope).jobs += 1
      e.stageIds.foreach(stageScope.put(_, scope))
    }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageScope.get(e.stageInfo.stageId)).foreach { scope =>
      val c = of(scope)
      c.stages += 1
      if (e.stageInfo.taskMetrics != null && e.stageInfo.taskMetrics.inputMetrics.recordsRead > 0)
        c.scans += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageScope.get(e.stageId)).foreach { scope =>
      val c = of(scope)
      c.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRecords += m.inputMetrics.recordsRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
}

object ScopeListener {
  val Key = "perfbench.scope"
}

/** Wraps calls into the program's layers. The untimed-run tracer only tags
  * each iteration's jobs with the iteration's scope; the recording tracer
  * keeps a span per call, in memory, and tags each call's jobs with the
  * span's id.
  */
sealed trait Tracer {
  def span[T](name: String)(body: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(body: => T): T = body
}

final class Recorder(sc: SparkContext) extends Tracer {
  val spans = ArrayBuffer.empty[Span]
  private var nextId = 1000000L // above any iteration scope id
  private var open: List[Long] = Nil
  var iter: Int = -1

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1L)
    open = id :: open
    sc.setLocalProperty(ScopeListener.Key, id.toString)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      open = open.tail
      sc.setLocalProperty(ScopeListener.Key, open.headOption.map(_.toString).orNull)
      spans += Span(id, name, parent, iter, t0, t1)
    }
  }

  /** Duration minus the time covered by the span's children (children of
    * one span run one after another, never overlapping).
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  def toJsonLines: Iterator[String] = spans.iterator.map { s =>
    s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"iter":${s.iter},""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs},"self_s":${selfSeconds(s)}}"""
  }
}
