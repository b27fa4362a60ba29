package perfbench

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.BenchAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** Layer counters gathered from outside the library: Spark's own
  * listener events (jobs, stages, tasks, bytes), the SQL layer's
  * QueryExecution tracker (planning phases, exchanges) and streaming
  * progress records. Attached only in traced runs. */
final class Recorder extends SparkListener with QueryExecutionListener {
  import Recorder._

  private val c = new Counters
  private var base = new Counters
  private val openJobs = scala.collection.mutable.HashMap.empty[Int, Long]
  private val jobSpans = ArrayBuffer.empty[(Long, Long, Int)]
  val progress = ArrayBuffer.empty[Progress]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    openJobs(e.jobId) = e.time
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    c.jobs += 1
    openJobs.remove(e.jobId).foreach(s => jobSpans += ((s, e.time, e.jobId)))
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { c.stages += 1 }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    c.tasks += 1
    val m = e.taskMetrics
    if (e.taskInfo != null) c.taskDurMs += e.taskInfo.duration
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inRows += m.inputMetrics.recordsRead
      c.inBytes += m.inputMetrics.bytesRead
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planMs = Seq("analysis", "optimization", "planning")
      .flatMap(qe.tracker.phases.get).map(_.durationMs).sum
    val exchanges = PlanWalk.exchanges(qe)
    synchronized {
      c.executions += 1
      c.planMs += planMs
      c.exchanges += exchanges
    }
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    synchronized { c.executions += 1; c.failedExecutions += 1 }

  /** Streaming progress, kept per micro-batch. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      def d(k: String): Double =
        Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
      val startMs = java.time.Instant.parse(p.timestamp).toEpochMilli
      Recorder.this.synchronized {
        progress += Progress(p.batchId, startMs, p.numInputRows,
          p.processedRowsPerSecond, d("triggerExecution"), d("latestOffset"),
          d("getBatch"), d("queryPlanning"), d("addBatch"), d("commitOffsets"))
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
    spark.streams.addListener(streamListener)
    base = snapshot(spark)
  }

  /** Detaches; returns the counters of the work done while attached. */
  def detach(spark: SparkSession): Counters = {
    val window = snapshot(spark).minus(base)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
    spark.streams.removeListener(streamListener)
    window
  }

  /** Counter totals so far; drains the bus first so every event of the
    * work already finished is counted. */
  def snapshot(spark: SparkSession): Counters = {
    BenchAccess.drainListeners(spark.sparkContext)
    synchronized(c.copy())
  }

  /** Finished jobs overlapping [fromMs, toMs], clipped to it. */
  def jobsIn(fromMs: Long, toMs: Long): Seq[(Long, Long, Int)] = synchronized {
    jobSpans.toSeq.collect {
      case (s, e, id) if e >= fromMs && s <= toMs => (s max fromMs, e min toMs, id)
    }
  }
}

object Recorder {
  final case class Progress(batchId: Long, startMs: Long, rows: Long,
                            processedRps: Double, triggerMs: Double,
                            latestOffsetMs: Double, getBatchMs: Double,
                            planMs: Double, addBatchMs: Double,
                            commitMs: Double)

  final class Counters {
    var jobs, stages, tasks, executions, failedExecutions, exchanges = 0L
    var taskDurMs, runMs, cpuNs, gcMs, planMs = 0L
    var shuffleWrite, shuffleRead, spill, inRows, inBytes = 0L
    def copy(): Counters = { val o = new Counters; o.add(this, 1); o }
    def add(o: Counters, sign: Long): Unit = {
      jobs += sign * o.jobs; stages += sign * o.stages; tasks += sign * o.tasks
      executions += sign * o.executions
      failedExecutions += sign * o.failedExecutions
      exchanges += sign * o.exchanges
      taskDurMs += sign * o.taskDurMs; runMs += sign * o.runMs
      cpuNs += sign * o.cpuNs; gcMs += sign * o.gcMs; planMs += sign * o.planMs
      shuffleWrite += sign * o.shuffleWrite; shuffleRead += sign * o.shuffleRead
      spill += sign * o.spill; inRows += sign * o.inRows; inBytes += sign * o.inBytes
    }
    def minus(o: Counters): Counters = { val r = copy(); r.add(o, -1); r }
  }

  /** The counter metrics: medians over `windows` (traced passes, or
    * the traced windows of a hub run summed into one). */
  def report(rec: Result, windows: Seq[Counters]): Unit = {
    def m(name: String, unit: String)(f: Counters => Double): Unit =
      rec.metric(name, Stats.median(windows.map(f)), unit)
    m("spark.plan_s", "s")(_.planMs / 1000.0)
    m("spark.executions", "count")(_.executions.toDouble)
    m("spark.failed_executions", "count")(_.failedExecutions.toDouble)
    m("spark.jobs", "count")(_.jobs.toDouble)
    m("spark.stages", "count")(_.stages.toDouble)
    m("spark.tasks", "count")(_.tasks.toDouble)
    m("spark.exchanges", "count")(_.exchanges.toDouble)
    m("spark.task_overhead_s", "s")(c => (c.taskDurMs - c.runMs) / 1000.0)
    m("spark.task_run_s", "s")(_.runMs / 1000.0)
    m("spark.task_cpu_s", "s")(_.cpuNs / 1e9)
    m("spark.gc_s", "s")(_.gcMs / 1000.0)
    m("spark.shuffle_write_bytes", "bytes")(_.shuffleWrite.toDouble)
    m("spark.shuffle_read_bytes", "bytes")(_.shuffleRead.toDouble)
    m("spark.spill_bytes", "bytes")(_.spill.toDouble)
    m("sources.input_rows", "count")(_.inRows.toDouble)
    m("sources.input_bytes", "bytes")(_.inBytes.toDouble)
  }

  /** Length of the union of a set of intervals (busy time). */
  def unionLength(spans: Seq[(Long, Long)]): Long = {
    var busy = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) busy += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) busy += curE - curS
    busy
  }
}

/** Shuffle exchanges in a finished query's final plan, looking through
  * adaptive query stages and subqueries. */
private object PlanWalk extends AdaptiveSparkPlanHelper {
  def exchanges(qe: QueryExecution): Long =
    collectWithSubqueries(qe.executedPlan) { case e: ShuffleExchangeLike => e }.size.toLong
}
