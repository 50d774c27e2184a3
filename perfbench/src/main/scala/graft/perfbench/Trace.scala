package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.Drain
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval around a call into a layer. `parent` is the span
  * that was open when this one started (-1 for a pass root); `op` is
  * the benchmark op the span belongs to. Times are `System.nanoTime`. */
final case class Span(id: Int, parent: Int, name: String, layer: String,
    op: String, pass: Int, start: Long, startMs: Long,
    @volatile var end: Long = -1L, @volatile var endMs: Long = Long.MaxValue)

/** Spark task totals for one span, or for the jobs of other threads. */
final class TaskTotals {
  var jobs = 0L
  var tasks = 0L
  var runNs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var gcMs = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var bytesRead = 0L
  var rowsRead = 0L

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "task_run_s" -> runNs / 1e9,
    "task_cpu_s" -> cpuNs / 1e9, "sched_delay_s" -> schedDelayMs / 1e3,
    "gc_s" -> gcMs / 1e3, "shuffle_read_bytes" -> shuffleReadBytes,
    "shuffle_write_bytes" -> shuffleWriteBytes,
    "shuffle_fetch_wait_s" -> fetchWaitMs / 1e3, "spill_bytes" -> spillBytes,
    "bytes_read" -> bytesRead, "rows_read" -> rowsRead)
}

/** Spans recorded from the benchmark's single client thread, plus the
  * listeners that attribute Spark jobs, Catalyst phases and streaming
  * progress to them.
  *
  * Attribution: every span sets the local property [[SpanProp]] to its
  * id while open, so jobs the client thread starts carry it. A job is
  * charged to that span if it started while the span was open. Jobs
  * started on other threads (which carry a stale or no property) are
  * charged to the innermost span open when they started, and are also
  * summed apart as "other threads". Jobs outside traced passes are not
  * counted.
  *
  * Two kinds of span are derived from listener events rather than timed
  * around a call, and are added as children by [[derive]]: one
  * `spark.job` span (layer `spark`) per attributed job, from its submit
  * to its end; and one `plans.<phase>` span (layer `plans`) per
  * analysis, optimization and planning phase of each query execution a
  * traced session reports to its [[QueryExecutionListener]], and of the
  * analysis of each frame an operator returns ([[phases]]), under the
  * innermost span whose interval holds the phase. So an eager Spark job
  * inside an operator call is charged to `spark`, the call's own
  * planning to `plans`, and what is left to the operator. Listener
  * times are wall-clock milliseconds; they are placed on the spans'
  * `System.nanoTime` axis through one anchor pair. */
final class Tracer(sc: SparkContext) {
  import Tracer._

  /** Spans are recorded only while `on`; the listeners stay registered
    * for the whole traced run. */
  @volatile var on = false
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var pass = -1

  private val perSpan = new ConcurrentHashMap[Int, TaskTotals]()
  private val otherThreads = new TaskTotals
  /** stage -> (owning span, whether the owner was found by time only) */
  private val stageOwner = new ConcurrentHashMap[Int, (Int, Boolean)]()
  val streaming = new StreamTotals
  /** job id -> (owning span, submit ms) while the job runs */
  private val jobStart = new ConcurrentHashMap[Int, (Int, Long)]()
  /** (owning span or -1 for "by interval", name, start ms, end ms) */
  private val derived = new java.util.concurrent.ConcurrentLinkedQueue[(Int, String, Long, Long)]()
  private val anchorNs = System.nanoTime()
  private val anchorMs = System.currentTimeMillis()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val sid = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toInt).getOrElse(-1)
      // the bus runs behind the client, so judge by the job's submit
      // time (wall ms), not by whether the span is still open now
      def covers(sp: Span) = sp.startMs <= e.time && e.time <= sp.endMs
      val byGroup = Option(byId.get(sid)).filter(covers)
      // a job started on another thread (a streaming micro-batch, a
      // graft Future) is charged to the innermost span open when it
      // started: the single client is blocked inside that call
      val owner = byGroup.orElse(
        byId.values.asScala.filter(covers).maxByOption(sp => (sp.startMs, sp.id)))
      owner.foreach { sp =>
        e.stageIds.foreach(st => stageOwner.put(st, (sp.id, byGroup.isEmpty)))
        jobStart.put(e.jobId, (sp.id, e.time))
        val t = totals(sp.id)
        t.synchronized { t.jobs += 1 }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.remove(e.jobId)).foreach { case (owner, t0) =>
        derived.add((owner, "spark.job", t0, e.time))
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageOwner.get(e.stageId)).foreach { case (owner, other) =>
        add(totals(owner), e)
        if (other) add(otherThreads, e)
      }
  }

  private def add(t: TaskTotals, e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    val info = e.taskInfo
    t.synchronized {
      t.tasks += 1
      if (m != null) {
        t.runNs += m.executorRunTime * 1000000L
        t.cpuNs += m.executorCpuTime
        t.gcMs += m.jvmGCTime
        t.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        t.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        t.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        t.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        t.bytesRead += m.inputMetrics.bytesRead
        t.rowsRead += m.inputMetrics.recordsRead
        // the UI's definition: wall time of the task not spent running,
        // deserializing or serializing the result
        t.schedDelayMs += math.max(0L, info.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime -
          (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L))
      }
    }
  }

  private def totals(owner: Int): TaskTotals =
    perSpan.computeIfAbsent(owner, _ => new TaskTotals)

  def install(): Unit = sc.addSparkListener(listener)

  private val queries = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      phases(qe.tracker)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      phases(qe.tracker)
  }

  /** Streaming progress and query executions are reported per session:
    * call for every session a traced pass creates. */
  def watch(s: SparkSession): Unit = {
    s.streams.addListener(streaming)
    s.listenerManager.register(queries)
  }

  /** Record the Catalyst phases a tracker has measured, to be placed by
    * [[derive]] under the innermost span holding each of them. */
  def phases(t: QueryPlanningTracker): Unit =
    t.phases.foreach { case (phase, p) =>
      derived.add((-1, s"plans.$phase", p.startTimeMs, p.endTimeMs))
    }

  /** Turn the job and phase intervals recorded so far into child spans
    * of the traced spans they belong to. Call after [[drain]]. */
  def derive(): Unit = {
    val real = byId.values.asScala.toSeq
    def ns(ms: Long): Long = anchorNs + (ms - anchorMs) * 1000000L
    def holder(lo: Long, hi: Long): Option[Span] =
      real.filter(sp => sp.startMs <= lo + 1 && hi <= sp.endMs + 1)
        .maxByOption(sp => (sp.startMs, sp.id))
    var d = derived.poll()
    while (d != null) {
      val (owner, name, lo, hi) = d
      val parent = if (owner >= 0) Option(byId.get(owner)) else holder(lo, hi)
      parent.foreach { p =>
        val sp = Span(spans.size, p.id, name, name.takeWhile(_ != '.'), p.op, p.pass,
          ns(lo), lo, ns(hi), hi)
        spans += sp
      }
      d = derived.poll()
    }
  }

  def beginPass(i: Int): Unit = pass = i

  def span[T](name: String, layer: String, op: String)(body: => T): T =
    if (!on) body
    else {
      val parent = stack.headOption
      val sp = Span(spans.size, parent.map(_.id).getOrElse(-1), name, layer, op, pass,
        System.nanoTime(), System.currentTimeMillis())
      spans += sp
      byId.put(sp.id, sp)
      stack = sp :: stack
      sc.setLocalProperty(SpanProp, sp.id.toString)
      try body
      finally {
        sp.end = System.nanoTime()
        sp.endMs = System.currentTimeMillis()
        stack = stack.tail
        sc.setLocalProperty(SpanProp, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until the listeners have seen every event posted so far. */
  def drain(): Unit = Drain(sc)

  def spanRecords: Seq[Span] = spans.toSeq
  def spanTotals: Map[Int, TaskTotals] = perSpan.asScala.toMap
  /** Tasks of jobs whose job group did not name their span. */
  def otherThreadTotals: TaskTotals = otherThreads
}

object Tracer {
  val SpanProp = "graft.perfbench.span"
}

/** Sums of the streaming progress events of the traced passes. */
final class StreamTotals extends StreamingQueryListener {
  @volatile var counting = false
  private val batchMs = ArrayBuffer.empty[Long]
  var addBatchMs = 0L
  var walCommitMs = 0L
  var stateRows = 0L
  var stateMemBytes = 0L
  var stateCommitMs = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    if (counting) synchronized {
      val p = e.progress
      def d(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      batchMs += p.batchDuration
      addBatchMs += d("addBatch")
      walCommitMs += d("walCommit")
      p.stateOperators.foreach { so =>
        stateRows += so.numRowsTotal
        stateMemBytes += so.memoryUsedBytes
        stateCommitMs += so.commitTimeMs
      }
    }

  def toMap: Map[String, Any] = synchronized {
    Map("batches" -> batchMs.size, "batch_ms" -> batchMs.toSeq,
      "add_batch_ms" -> addBatchMs, "wal_commit_ms" -> walCommitMs,
      "state_rows" -> stateRows, "state_mem_bytes" -> stateMemBytes,
      "state_commit_ms" -> stateCommitMs)
  }
}
