package perfbench

import scala.collection.mutable

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work counted by the traced run for one label (a phase or a query). */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var busyMs = 0L
  val executionNs = mutable.ArrayBuffer.empty[Long]
  val progress = mutable.ArrayBuffer.empty[StreamingQueryProgress]
}

/** The traced run's three listeners: a SparkListener (jobs, tasks,
  * shuffle, spill, executor time), a StreamingQueryListener (micro-batch
  * progress) and a QueryExecutionListener (per-execution duration).
  * Callbacks arrive on Spark's asynchronous listener bus; each event is
  * counted under the label current when it is delivered, so [[label]]
  * drains the bus before switching. */
final class Trace(spark: SparkSession) {
  private val byLabel = mutable.Map.empty[String, Counts]
  @volatile private var current = "setup"

  private def counts: Counts = byLabel.synchronized(byLabel.getOrElseUpdate(current, new Counts))

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = counts
      c.synchronized(c.jobs += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val c = counts
      val m = e.taskMetrics
      c.synchronized {
        c.tasks += 1
        if (m != null) {
          c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.busyMs += m.executorRunTime
        }
      }
    }
  }

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val c = counts
      c.synchronized(c.progress += e.progress)
    }
  }

  private val executions = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val c = counts
      c.synchronized(c.executionNs += durationNs)
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(jobs)
  spark.streams.addListener(streams)
  spark.listenerManager.register(executions)

  /** Deliver everything posted so far, then count new events under `next`. */
  def label(next: String): Unit = {
    ListenerBusDrain(spark.sparkContext)
    current = next
  }

  /** The counts of a label; call after [[label]] has moved past it. */
  def apply(name: String): Counts = byLabel.synchronized(byLabel.getOrElse(name, new Counts))

  def close(): Unit = {
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    spark.streams.removeListener(streams)
    spark.listenerManager.unregister(executions)
  }
}
