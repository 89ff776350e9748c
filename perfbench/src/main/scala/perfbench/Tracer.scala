package perfbench

import scala.collection.mutable
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, SparkPlanInfo}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark's public listener events report for one query execution.
  * Byte counts are raw bytes, times milliseconds. */
final class Events {
  val jobs = mutable.ArrayBuffer.empty[(Double, Double)]
  val phases = mutable.ArrayBuffer.empty[(String, Double, Double)]
  val batchMs = mutable.ArrayBuffer.empty[Long]
  val count = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var peakTaskMem = 0L

  def add(key: String, v: Long): Unit = count(key) += v
}

/** Listeners that attribute Spark's events to the execution in flight:
  * [[take]] returns everything reported since the previous call, after
  * draining the listener bus so no event of the finished execution is
  * still queued. Attached only to traced runs. */
final class Tracer(spark: SparkSession) {
  private var cur = new Events
  private val jobStart = mutable.Map.empty[Int, Double]

  private def record(f: Events => Unit): Unit = synchronized(f(cur))

  def take(): Events = {
    GraftListenerBridge.drain(spark.sparkContext)
    synchronized { val e = cur; cur = new Events; e }
  }

  private def exchanges(p: SparkPlanInfo): Long =
    (if (p.nodeName.contains("Exchange")) 1L else 0L) +
      p.children.map(exchanges).sum

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Tracer.this.synchronized(jobStart(e.jobId) = e.time.toDouble)
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val start = Tracer.this.synchronized(jobStart.remove(e.jobId))
      start.foreach(s => record(_.jobs += ((s, e.time.toDouble))))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      record(_.add("stages", 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      record { ev =>
        ev.add("tasks", 1)
        if (e.taskInfo.attemptNumber > 0) ev.add("task_retries", 1)
        if (m != null) {
          ev.add("task_ms", m.executorRunTime)
          ev.add("gc_ms", m.jvmGCTime)
          ev.add("rows_read", m.inputMetrics.recordsRead)
          ev.add("bytes_read", m.inputMetrics.bytesRead)
          ev.add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
          ev.add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
          ev.add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
          ev.add("bytes_written", m.outputMetrics.bytesWritten)
          if (m.outputMetrics.recordsWritten > 0) ev.add("files_written", 1)
          ev.peakTaskMem = math.max(ev.peakTaskMem, m.peakExecutionMemory)
        }
      }
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD && b.storageLevel.isValid)
        record(_.add("pinned", b.memSize + b.diskSize))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        record { ev =>
          ev.add("sql_execs", 1); ev.add("exchanges", exchanges(s.sparkPlanInfo))
        }
      case _: SparkListenerSQLAdaptiveExecutionUpdate =>
        record(_.add("aqe_updates", 1))
      case _ => ()
    }
  })

  spark.listenerManager.register(new QueryExecutionListener {
    def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = phases(qe)
    def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = phases(qe)
  })

  spark.streams.addListener(new StreamingQueryListener {
    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit =
      record(_.batchMs += e.progress.batchDuration)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  })

  private def phases(qe: QueryExecution): Unit =
    record(ev => ev.phases ++= Tracer.phaseSpans(qe))
}

object Tracer extends AdaptiveSparkPlanHelper {
  /** Exchanges in a physical plan, inside adaptive query stages too. */
  def exchanges(plan: SparkPlan): Int =
    collectWithSubqueries(plan) { case e: Exchange => e }.size

  /** Catalyst's analysis / optimization / planning intervals. */
  def phaseSpans(qe: QueryExecution): Seq[(String, Double, Double)] =
    qe.tracker.phases.toSeq.map { case (n, p) =>
      (n, p.startTimeMs.toDouble, p.endTimeMs.toDouble) }
}
