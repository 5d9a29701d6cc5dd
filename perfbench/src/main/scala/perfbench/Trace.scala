package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval: a call the benchmark made into a module. `op` is
  * the timed op it belongs to (0 for set-up and checks). */
final case class Span(id: Long, name: String, parent: Long, op: Long,
    startNs: Long, endNs: Long)

/** Spans around the benchmark's calls into the program, kept in memory
  * and written out when the run ends. The active span id travels to the
  * scheduler as a Spark local property, so [[SpanListener]] can charge
  * every job, stage and task to the span that caused it. Disabled, it
  * only runs the body: untraced runs install no listener. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer[Span]()
  private var stack = List.empty[Long]
  private var nextId = 1L
  var op: Long = 0L
  val listener: SpanListener = new SpanListener
  if (enabled) sc.addSparkListener(listener)

  def apply[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0L)
      stack = id :: stack
      sc.setLocalProperty(SpanListener.Key, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, op, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(SpanListener.Key,
          stack.headOption.map(_.toString).orNull)
      }
    }

  def all: Seq[Span] = spans.toSeq

  /** Wait until the listener has seen every event posted so far. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchAccess.drain(sc)
}

object SpanListener {
  val Key = "perfbench.span"
}

/** Scheduler counters per span. Events arrive on Spark's listener-bus
  * thread; read them only after [[Tracer.drain]]. Times are in the units
  * Spark reports (ms, except executor CPU in ns). */
final class SpanListener extends SparkListener {
  final class Acc {
    var jobs, stages, tasks, emptyTasks, failedTasks = 0L
    var cpuNs, runMs, gcMs, waitMs = 0L
    var shuffleRead, shuffleWrite, spill, bytesOut = 0L
    /** [start, end] epoch-ms intervals of this span's jobs. */
    val jobIntervals = mutable.ArrayBuffer[(Long, Long)]()
  }
  val bySpan = mutable.HashMap[Long, Acc]()
  private val jobSpan = mutable.HashMap[Int, (Long, Long)]()
  private val stageSpan = mutable.HashMap[Int, Long]()
  private val stageSubmitMs = mutable.HashMap[Int, Long]()

  private def acc(span: Long): Acc = bySpan.getOrElseUpdate(span, new Acc)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(SpanListener.Key)))
      .map(_.toLong).getOrElse(0L)
    jobSpan(e.jobId) = (span, e.time)
    e.stageIds.foreach(s => stageSpan(s) = span)
    acc(span).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    jobSpan.remove(e.jobId).foreach { case (span, start) =>
      acc(span).jobIntervals += ((start, e.time))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    stageSubmitMs(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    acc(stageSpan.getOrElse(e.stageInfo.stageId, 0L)).stages += 1

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(stageSpan.getOrElse(e.stageId, 0L))
    a.tasks += 1
    if (e.taskInfo.failed) a.failedTasks += 1
    stageSubmitMs.get(e.stageId).foreach(s =>
      a.waitMs += math.max(0L, e.taskInfo.launchTime - s))
    val m = e.taskMetrics
    if (m != null) {
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesOut += m.outputMetrics.bytesWritten
      val in = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      val out = m.outputMetrics.recordsWritten +
        m.shuffleWriteMetrics.recordsWritten
      if (in == 0 && out == 0) a.emptyTasks += 1
    }
  }
}
