package graftbench

import java.util.concurrent.LinkedBlockingQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._

/** One clock for spans and Spark listener events: wall-clock milliseconds
  * with sub-millisecond resolution, anchored once so spans and job
  * intervals can be intersected.
  */
object Clock {
  private val ms0 = System.currentTimeMillis().toDouble
  private val ns0 = System.nanoTime()
  def nowMs: Double = ms0 + (System.nanoTime() - ns0) / 1e6
}

/** Spans recorded by the benchmark around its calls into the engine's
  * modules. Kept in memory and written out when the run ends. While a span
  * is open its id is the SparkContext local property `graftbench.span`, so
  * every Spark job the call submits (from this thread, or from a thread it
  * starts) is attributed to it exactly.
  */
final class Tracer {
  import Tracer.Span

  /** Spans are recorded only while on (the traced phase of a run). */
  @volatile var on: Boolean = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1
  private def sc: SparkContext = SparkSession.active.sparkContext

  def span[A](name: String)(f: => A): A =
    if (!on) f
    else {
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), name,
        Clock.nowMs, Double.NaN, mutable.Map.empty)
      nextId += 1
      spans += s
      stack.push(s)
      val prevProp = sc.getLocalProperty(Tracer.SpanProp)
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try f
      finally {
        s.end = Clock.nowMs
        stack.pop()
        sc.setLocalProperty(Tracer.SpanProp, prevProp)
      }
    }

  /** Attach an attribute to the innermost open span (no-op when off). */
  def annotate(key: String, value: Any): Unit =
    if (on) stack.headOption.foreach(_.attrs(key) = value)

  def toJson: Seq[Map[String, Any]] = spans.toSeq.map { s =>
    Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start" -> s.start, "end" -> s.end, "attrs" -> s.attrs.toMap)
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, start: Double,
                        var end: Double, attrs: mutable.Map[String, Any])

  val SpanProp = "graftbench.span"
  /** Set by Structured Streaming on the query thread for each micro-batch. */
  val BatchProp = "streaming.sql.batchId"
}

/** Benchmark-owned SparkListener: per-job intervals with their span and
  * micro-batch, per-stage task metrics (summed from task ends), and task
  * durations for skew.
  */
final class JobRecorder extends SparkListener {
  private final class Stage(val id: Int) {
    var name = ""
    var jobId = -1
    var tasks = 0
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var spill = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var recordsRead = 0L
    var bytesRead = 0L
    var submit = Double.NaN
    var complete = Double.NaN
    val durations = mutable.ArrayBuffer.empty[Long]
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, mutable.Map[String, Any]]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    jobs(e.jobId) = mutable.Map("id" -> e.jobId, "start" -> e.time.toDouble,
      "end" -> Double.NaN, "stages" -> e.stageIds,
      "span" -> prop(Tracer.SpanProp).map(_.toInt).getOrElse(0),
      "batch" -> prop(Tracer.BatchProp).map(_.toLong).getOrElse(-1L))
    e.stageIds.foreach(id => stages.getOrElseUpdate(id, new Stage(id)).jobId = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j("end") = e.time.toDouble
      j("ok") = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageInfo.stageId, new Stage(e.stageInfo.stageId))
    s.name = e.stageInfo.name
    s.submit = e.stageInfo.submissionTime.map(_.toDouble).getOrElse(Clock.nowMs)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages.get(e.stageInfo.stageId).foreach { s =>
      s.complete = e.stageInfo.completionTime.map(_.toDouble).getOrElse(Clock.nowMs)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stages.getOrElseUpdate(e.stageId, new Stage(e.stageId))
    s.tasks += 1
    s.durations += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      s.recordsRead += m.inputMetrics.recordsRead
      s.bytesRead += m.inputMetrics.bytesRead
    }
  }

  def jobsJson: Seq[Map[String, Any]] = synchronized(jobs.values.map(_.toMap).toSeq)

  def stagesJson: Seq[Map[String, Any]] = synchronized(stages.values.toSeq.map { s =>
    val d = s.durations.sorted
    Map("id" -> s.id, "job" -> s.jobId, "name" -> s.name, "tasks" -> s.tasks,
      "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "gc_ms" -> s.gcMs,
      "spill_bytes" -> s.spill, "shuffle_write_bytes" -> s.shuffleWrite,
      "shuffle_read_bytes" -> s.shuffleRead, "records_read" -> s.recordsRead,
      "bytes_read" -> s.bytesRead, "submit" -> s.submit, "complete" -> s.complete,
      "task_max_ms" -> d.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (d.isEmpty) 0L else d(d.size / 2)))
  })
}

/** Benchmark-owned StreamingQueryListener: every progress report (phase
  * durations, input rows) plus a queue the closed-loop client blocks on to
  * learn that the epoch it offered has been committed.
  */
final class ProgressRecorder extends StreamingQueryListener {
  val done = new LinkedBlockingQueue[java.lang.Long]()
  private val progress = mutable.ArrayBuffer.empty[Map[String, Any]]

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    if (p.numInputRows > 0) {
      synchronized {
        progress += Map("batch" -> p.batchId, "rows" -> p.numInputRows,
          "timestamp" -> p.timestamp,
          "durations" -> p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
      }
      done.put(p.batchId)
    }
  }

  def batches: Seq[Map[String, Any]] = synchronized(progress.toSeq)
}
