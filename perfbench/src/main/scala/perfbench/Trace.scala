package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Microseconds on one clock for spans and Spark events: wall-clock
  * aligned (Spark stamps its events with `currentTimeMillis`), advanced
  * by `nanoTime` so short spans keep their resolution. */
object Clock {
  private val base = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs: Long = base + System.nanoTime() / 1000
}

/** One interval of the trace. Every span of one item carries the item
  * span's id as `trace`; `parent` is 0 for a root. */
final case class Span(id: Long, parent: Long, trace: Long, kind: String, name: String,
                      start: Long, end: Long) {
  def dur: Long = end - start
}

object Intervals {

  /** Length of the union of half-open intervals `[s, e)`. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = 0L
    var curE = 0L
    var open = false
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (open && s <= curE) curE = math.max(curE, e)
      else {
        if (open) total += curE - curS
        curS = s; curE = e; open = true
      }
    }
    if (open) total += curE - curS
    total
  }

  /** Union length of `iv` clipped to `[lo, hi)`. */
  def coveredWithin(lo: Long, hi: Long, iv: Seq[(Long, Long)]): Long =
    unionLength(iv.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) })

  /** Each span's self time: its duration minus the part of its interval
    * that its child spans cover. */
  def selfTimes(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cover = kids.getOrElse(s.id, Nil).map(c => (c.start, c.end))
      s.id -> (s.dur - coveredWithin(s.start, s.end, cover))
    }.toMap
  }
}

/** Records spans around the benchmark's calls into the engine. Off, it
  * only runs the body. On, it also tags the calling thread's Spark local
  * properties with the open span and its item, so each Spark job can be
  * attached to the span that started it. Spans stay in memory until the
  * run writes its trace. */
final class Tracer(sc: SparkContext) {
  var enabled = false
  val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 1L
  private var stack: List[Span] = Nil

  def span[T](kind: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val up = stack.headOption
      val trace = if (kind == "item") id else up.map(_.trace).getOrElse(0L)
      stack = Span(id, up.map(_.id).getOrElse(0L), trace, kind, name, Clock.nowUs, 0L) :: stack
      tag(stack.headOption)
      try body
      finally {
        spans += stack.head.copy(end = Clock.nowUs)
        stack = stack.tail
        tag(stack.headOption)
      }
    }

  private def tag(s: Option[Span]): Unit = {
    sc.setLocalProperty(Tracer.SpanProp, s.map(_.id.toString).orNull)
    sc.setLocalProperty(Tracer.TraceProp, s.map(_.trace.toString).orNull)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
  val TraceProp = "perfbench.trace"
  /** Job span ids live above every tracer span id. */
  val JobIdBase = 1000000000L
}

/** Totals one traced pass collects from Spark's listener events. */
final class SparkTotals {
  var stages, stageRetries, tasks, taskFailures = 0L
  var taskRunMs, taskCpuNs, gcMs, taskWaitMs = 0L
  var shuffleWriteBytes, shuffleReadBytes, spillBytes = 0L
  var bytesRead, recordsRead, bytesWritten, recordsWritten = 0L
  var analysisMs, optimizationMs, planningMs = 0L
  var queries = 0L
}

/** A finished Spark job, linked to the span open on the thread that
  * submitted it. */
final case class JobRec(jobId: Int, start: Long, end: Long, parent: Long, trace: Long) {
  def span: Span = Span(Tracer.JobIdBase + jobId, parent, trace, "job", s"job $jobId", start, end)
}

/** Observes Spark from outside the engine: a `SparkListener` for jobs,
  * stages and tasks, and a `QueryExecutionListener` for the Catalyst
  * phases of each action. Events arrive on Spark's listener-bus threads;
  * read [[take]] only after draining the bus. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private var totals = new SparkTotals
  private var jobs = Vector.empty[JobRec]
  private val open = mutable.Map.empty[Int, (Long, Long, Long)]
  private val stageSubmitted = mutable.Map.empty[(Int, Int), Long]

  /** Returns what was seen since the last call and starts afresh. */
  def take(): (SparkTotals, Vector[JobRec]) = synchronized {
    val out = (totals, jobs)
    totals = new SparkTotals
    jobs = Vector.empty
    out
  }

  private def prop(p: java.util.Properties, k: String): Long =
    Option(p).flatMap(x => Option(x.getProperty(k))).map(_.toLong).getOrElse(0L)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    open(e.jobId) = (e.time * 1000, prop(e.properties, Tracer.SpanProp),
      prop(e.properties, Tracer.TraceProp))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    open.remove(e.jobId).foreach { case (start, parent, trace) =>
      jobs :+= JobRec(e.jobId, start, e.time * 1000, parent, trace)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val si = e.stageInfo
    totals.stages += 1
    if (si.attemptNumber() > 0) totals.stageRetries += 1
    stageSubmitted((si.stageId, si.attemptNumber())) =
      si.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = totals
    t.tasks += 1
    if (!e.taskInfo.successful) t.taskFailures += 1
    stageSubmitted.get((e.stageId, e.stageAttemptId)).foreach { sub =>
      t.taskWaitMs += math.max(0L, e.taskInfo.launchTime - sub)
    }
    val m = e.taskMetrics
    if (m != null) {
      t.taskRunMs += m.executorRunTime
      t.taskCpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      t.spillBytes += m.diskBytesSpilled
      t.bytesRead += m.inputMetrics.bytesRead
      t.recordsRead += m.inputMetrics.recordsRead
      t.bytesWritten += m.outputMetrics.bytesWritten
      t.recordsWritten += m.outputMetrics.recordsWritten
    }
  }

  private def phases(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    def ms(k: String): Long = ph.get(k).map(_.durationMs).getOrElse(0L)
    totals.queries += 1
    totals.analysisMs += ms("analysis")
    totals.optimizationMs += ms("optimization")
    totals.planningMs += ms("planning")
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = phases(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = phases(qe)
}
