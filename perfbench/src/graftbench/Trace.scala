package graftbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded span: a call into one layer, nested under `parent`
  * (an index into the span list, -1 for a root) and tagged with the op
  * that caused it. Times are System.nanoTime. */
final case class Span(name: String, start: Long, end: Long, parent: Int,
    op: Int)

/** In-memory span recorder. Disabled, `span` only runs its body. */
final class Tracer(val on: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  var op: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val idx = spans.size
      spans += null
      val parent = stack.headOption.getOrElse(-1)
      stack = idx :: stack
      val s = System.nanoTime()
      try body
      finally {
        spans(idx) = Span(name, s, System.nanoTime(), parent, op)
        stack = stack.tail
      }
    }

  /** Self time per span name in ms: a span's duration minus what its
    * child spans cover (children nest and never overlap: one client
    * thread). */
  def selfMs: Map[String, Double] = {
    val child = Array.fill(spans.size)(0L)
    spans.foreach(s => if (s.parent >= 0) child(s.parent) += s.end - s.start)
    spans.indices.groupBy(i => spans(i).name).map { case (n, is) =>
      n -> is.map(i => spans(i).end - spans(i).start - child(i)).sum / 1e6
    }
  }

  def totalMs(name: String): Double =
    spans.filter(_.name == name).map(s => s.end - s.start).sum / 1e6

  def count(name: String): Int = spans.count(_.name == name)

  def write(path: String): Unit = {
    val w = new java.io.PrintWriter(path)
    try {
      w.println("name\tstart_ns\tend_ns\tparent\top")
      spans.foreach(s =>
        w.println(s"${s.name}\t${s.start}\t${s.end}\t${s.parent}\t${s.op}"))
    } finally w.close()
  }
}

/** Counts what Spark's public listener APIs report while tracing is on:
  * jobs, stages, tasks and their metrics (SparkListener) and Catalyst's
  * per-phase planning time (QueryExecutionListener). The harness drains
  * the listener bus after every op, so everything counted between two
  * op boundaries belongs to that op. */
final class Probe extends SparkListener with QueryExecutionListener {
  var jobs, stages, tasks, failedTasks, queries = 0L
  var taskMs, cpuMs, schedMs, gcMs = 0.0
  var inputBytes, shuffleWrite, shuffleRead, spill = 0L
  var analysisMs, optimizationMs, planningMs = 0.0
  var skewSum = 0.0
  var skewStages = 0L
  private val jobStart = scala.collection.mutable.Map.empty[Int, Long]
  private val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val stageTasks =
    scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStart(e.jobId) = e.time
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs += 1
    jobIntervals += ((jobStart.remove(e.jobId).getOrElse(e.time), e.time))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      stageTasks.remove(e.stageInfo.stageId).filter(_.size >= 2).foreach {
        ts =>
          val mean = ts.sum.toDouble / ts.size
          if (mean > 0) { skewSum += ts.max / mean; skewStages += 1 }
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    if (!e.taskInfo.successful) failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      taskMs += m.executorRunTime
      cpuMs += m.executorCpuTime / 1e6
      gcMs += m.jvmGCTime
      inputBytes += m.inputMetrics.bytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      schedMs += math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime -
        e.taskInfo.gettingResultTime)
      stageTasks.getOrElseUpdate(e.stageId, ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    queries += 1
    val p = qe.tracker.phases
    analysisMs += p.get("analysis").map(_.durationMs).getOrElse(0L)
    optimizationMs += p.get("optimization").map(_.durationMs).getOrElse(0L)
    planningMs += p.get("planning").map(_.durationMs).getOrElse(0L)
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
    phases(qe)

  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    phases(qe)

  /** Part of [fromMs, toMs] not covered by any job that ran, in ms; the
    * recorded job intervals are consumed. */
  def driverGapMs(fromMs: Long, toMs: Long): Long = synchronized {
    val iv = jobIntervals.map { case (a, b) =>
      (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    jobIntervals.clear()
    var covered = 0L
    var cur = fromMs
    iv.foreach { case (a, b) =>
      val s = math.max(a, cur)
      if (b > s) { covered += b - s; cur = b }
    }
    math.max(0L, toMs - fromMs - covered)
  }
}
