package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed call into a layer. Spans of one pass (or one request) share
  * `op`; `parent` is the enclosing span's id (0 for a root). */
final case class Span(id: Long, parent: Long, op: Long, name: String,
    layer: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Recording is switched per pass, so a traced
  * run can interleave untraced passes and report the tracing overhead. */
final class Tracer {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  @volatile var on = false

  def span[T](parent: Long, op: Long, name: String, layer: String)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val t0 = System.nanoTime()
    try body(id)
    finally if (on)
      spans.add(Span(id, parent, op, name, layer, t0, System.nanoTime()))
  }

  def all: Seq[Span] = {
    import scala.jdk.CollectionConverters._
    spans.asScala.toSeq
  }

  /** Self time per span id: duration minus the union of its children's
    * intervals (children may overlap when requests run concurrently). */
  def selfSeconds: Map[Long, Double] = {
    val ss = all
    val kids = ss.groupBy(_.parent)
    ss.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var end = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > end) { covered += b - a; end = b }
        else if (b > end) { covered += b - end; end = b }
      }
      s.id -> ((s.endNs - s.startNs - covered) / 1e9)
    }.toMap
  }
}

/** Cumulative engine counters; `-` gives the counts of an interval. */
final case class Counters(jobs: Long, tasks: Long, runMs: Long,
    schedDelayMs: Long, shuffleWriteB: Long, fetchWaitMs: Long,
    spillB: Long, bytesRead: Long, rowsRead: Long, bytesWritten: Long,
    planNs: Long, actions: Long) {
  def -(o: Counters): Counters = Counters(jobs - o.jobs, tasks - o.tasks,
    runMs - o.runMs, schedDelayMs - o.schedDelayMs,
    shuffleWriteB - o.shuffleWriteB, fetchWaitMs - o.fetchWaitMs,
    spillB - o.spillB, bytesRead - o.bytesRead, rowsRead - o.rowsRead,
    bytesWritten - o.bytesWritten, planNs - o.planNs, actions - o.actions)
}

/** Counts scheduler and executor work (SparkListener) and planning time
  * of every Dataset action (QueryExecutionListener: the analysis,
  * optimization and planning phases of QueryExecution's tracker). */
final class EngineCounter extends SparkListener
    with QueryExecutionListener {
  private val jobs, tasks, runMs, schedMs, shufW, fetchMs, spill, inB,
    inRows, outB, planNs, actions = new LongAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.increment()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      val i = e.taskInfo
      runMs.add(m.executorRunTime)
      val getting =
        if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime
        else 0L
      schedMs.add(math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - getting))
      shufW.add(m.shuffleWriteMetrics.bytesWritten)
      fetchMs.add(m.shuffleReadMetrics.fetchWaitTime)
      spill.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      inB.add(m.inputMetrics.bytesRead)
      inRows.add(m.inputMetrics.recordsRead)
      outB.add(m.outputMetrics.bytesWritten)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = record(qe)

  private def record(qe: QueryExecution): Unit = {
    actions.increment()
    val ph = qe.tracker.phases
    Seq(QueryPlanningTracker.ANALYSIS, QueryPlanningTracker.OPTIMIZATION,
        QueryPlanningTracker.PLANNING)
      .flatMap(ph.get).foreach(p => planNs.add(p.durationMs * 1000000L))
  }

  def snapshot: Counters = Counters(jobs.sum, tasks.sum, runMs.sum,
    schedMs.sum, shufW.sum, fetchMs.sum, spill.sum, inB.sum, inRows.sum,
    outB.sum, planNs.sum, actions.sum)
}

/** Micro-batch progress of every streaming query. */
final class StreamCounter extends StreamingQueryListener {
  import StreamingQueryListener._
  val batches, planningMs, execMs, commitMs, triggerMs, stateCommitMs,
    stateRows = new LongAdder

  override def onQueryStarted(e: QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    val d = p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    batches.increment()
    planningMs.add(ms("queryPlanning"))
    execMs.add(ms("addBatch"))
    commitMs.add(ms("walCommit") + ms("commitOffsets"))
    triggerMs.add(ms("triggerExecution"))
    p.stateOperators.foreach { s =>
      stateCommitMs.add(s.commitTimeMs)
      stateRows.add(s.numRowsTotal)
    }
  }

  def snapshot: Seq[Long] = Seq(batches, planningMs, execMs, commitMs,
    triggerMs, stateCommitMs, stateRows).map(_.sum)
}
