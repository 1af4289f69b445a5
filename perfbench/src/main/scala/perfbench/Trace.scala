package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** A span around one call the benchmark makes into a layer. `trace` is
  * workload/seed/operation; `parent` is 0 for a root span.
  */
final case class Span(id: Int, parent: Int, name: String, kind: String, trace: String,
    start: Long, var end: Long = 0L) {
  def seconds: Double = (end - start) / 1e9
}

/** Spans kept in memory for the whole run. The benchmark has one client
  * thread, so the open spans form a stack. While a span is open its id is
  * the `perfbench.span` local property of the calling thread: Spark copies
  * it into every job and stage the call starts, threads the engine spawns
  * (`Par`) inherit it, and [[LayerListener]] attributes task metrics by it.
  */
final class Tracer(spark: SparkSession) {
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Span] = Nil
  /** When false, [[span]] only runs its body: the untraced operations. */
  var on = false

  def span[A](name: String, kind: String = "", trace: String = "")(body: => A): A =
    if (!on) body
    else {
      val parent = open.headOption
      val s = Span(spans.size + 1, parent.fold(0)(_.id), name,
        if (kind.nonEmpty) kind else parent.fold("")(_.kind),
        if (trace.nonEmpty) trace else parent.fold("")(_.trace), System.nanoTime())
      spans += s
      open = s :: open
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty(Tracer.Prop)
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        open = open.tail
        sc.setLocalProperty(Tracer.Prop, prev)
      }
    }

  /** A span's duration minus the time its child spans cover. Children of
    * one span run one after another on the client thread.
    */
  def selfSeconds(s: Span): Double =
    s.seconds - spans.iterator.filter(_.parent == s.id).map(_.seconds).sum

  /** Span ids of `root` and all its descendants. */
  def subtree(root: Span): Set[Int] = {
    val ids = mutable.Set(root.id)
    spans.foreach(s => if (ids(s.parent)) ids += s.id) // children follow parents
    ids.toSet
  }
}

object Tracer {
  val Prop = "perfbench.span"
}

/** Task metrics of the jobs one span started. */
final class Agg {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, deserMs, gcMs, peakMem = 0L
  var shuffleRecords, shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
  var readBytes, readRecords, writeBytes = 0L

  def +=(a: Agg): Unit = {
    jobs += a.jobs; stages += a.stages; tasks += a.tasks
    cpuNs += a.cpuNs; runMs += a.runMs; deserMs += a.deserMs; gcMs += a.gcMs
    peakMem = math.max(peakMem, a.peakMem)
    shuffleRecords += a.shuffleRecords; shuffleWrite += a.shuffleWrite
    shuffleRead += a.shuffleRead; fetchWaitMs += a.fetchWaitMs; spill += a.spill
    readBytes += a.readBytes; readRecords += a.readRecords; writeBytes += a.writeBytes
  }
}

object Agg {
  def sum(aggs: Iterable[Agg]): Agg = { val s = new Agg; aggs.foreach(s += _); s }
}

/** Task metrics summed per span, plus job intervals, from the scheduler's
  * events. Events arrive on Spark's listener thread; read the totals only
  * after [[Drain]] has emptied the bus.
  */
final class LayerListener extends SparkListener {
  val bySpan = mutable.HashMap.empty[Int, Agg]
  private val stageSpan = mutable.HashMap.empty[Int, Int]
  private val jobStart = mutable.HashMap.empty[Int, Long]
  /** (start, end) of every finished job, in epoch milliseconds. */
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def spanOf(p: java.util.Properties): Int =
    Option(p).flatMap(x => Option(x.getProperty(Tracer.Prop))).flatMap(_.toIntOption).getOrElse(0)
  private def agg(span: Int) = bySpan.getOrElseUpdate(span, new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    agg(spanOf(e.properties)).jobs += 1
    jobStart(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach(t0 => jobIntervals += ((t0, e.time)))
  }
  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val span = spanOf(e.properties)
    stageSpan(e.stageInfo.stageId) = span
    agg(span).stages += 1
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val a = agg(stageSpan.getOrElse(e.stageId, 0))
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.runMs += m.executorRunTime
      a.deserMs += m.executorDeserializeTime
      a.gcMs += m.jvmGCTime
      a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
      a.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      a.spill += m.diskBytesSpilled
      a.readBytes += m.inputMetrics.bytesRead
      a.readRecords += m.inputMetrics.recordsRead
      a.writeBytes += m.outputMetrics.bytesWritten
    }
  }
}

/** Catalyst's phase times for every query Spark SQL executes. */
final class PlanListener extends QueryExecutionListener {
  var actions = 0L
  var planNs = 0L
  private def record(qe: QueryExecution): Unit = synchronized {
    actions += 1
    planNs += qe.tracker.phases.values.map(_.durationMs).sum * 1000000L
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)
}
