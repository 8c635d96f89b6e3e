package graftbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Runtime counters of one op or one span, as Spark reports them. */
final class Counters {
  var jobs = 0L
  var stages = 0L
  var singleTaskStages = 0L
  var tasks = 0L
  var taskMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var planMs = 0L
  /** (launch, finish) epoch millis of every task. */
  val taskIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds inside [from, to] during which at least one task ran. */
  def busyMs(from: Long, to: Long): Long = {
    var busy = 0L
    var end = from
    taskIntervals.map { case (a, b) => (math.max(a, from), math.min(b, to)) }
      .filter { case (a, b) => b > a }
      .sortBy(_._1)
      .foreach { case (a, b) =>
        if (b > end) { busy += b - math.max(a, end); end = b }
      }
    busy
  }
}

/** SparkListener + QueryExecutionListener registered by the benchmark.
  *
  * Two attributions:
  *  - per op: the harness drains the listener bus after every op, so every
  *    event that arrives while op `k` is current belongs to op `k`;
  *  - per span: jobs carry the `graftbench.span` local property set by
  *    [[Tracer]], and their stages and tasks inherit that span. Counters
  *    go to the span in which their job started.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var currentOp: Int = -1
  val byOp = mutable.HashMap.empty[Int, Counters]
  val bySpan = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[Int, Int]

  private def op: Counters = byOp.getOrElseUpdate(currentOp, new Counters)
  private def span(id: Int): Counters = bySpan.getOrElseUpdate(id, new Counters)
  private def both(spanId: Int)(f: Counters => Unit): Unit = {
    f(op)
    if (spanId >= 0) f(span(spanId))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val id = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(-1)
    e.stageIds.foreach(s => stageSpan(s) = id)
    both(id)(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    both(stageSpan.getOrElse(si.stageId, -1)) { c =>
      c.stages += 1
      if (si.numTasks == 1) c.singleTaskStages += 1
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val info = e.taskInfo
    both(stageSpan.getOrElse(e.stageId, -1)) { c =>
      c.tasks += 1
      c.taskIntervals += ((info.launchTime, info.finishTime))
      if (m != null) {
        c.taskMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.diskBytesSpilled
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { op.planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** One recorded span: name, start and end (ns), parent span and op. */
final case class Span(id: Int, name: String, parent: Int, op: Int, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around the benchmark's calls into each layer, kept in memory and
  * written out when the run ends. The untraced tracer only runs the body. */
class Tracer(sc: SparkContext, val on: Boolean) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Int]
  private var nextId = 0
  var currentOp: Int = -1

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      sc.setLocalProperty(Tracer.SpanKey, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, name, parent, currentOp, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanKey, stack.headOption.map(_.toString).orNull)
      }
    }
}

object Tracer {
  val SpanKey = "graftbench.span"
}
