package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Execution counts over a window of work, read from a SparkListener and
  * from each query's `queryExecution.tracker`. Registered only in traced
  * runs; untraced runs carry no listener of the benchmark's. */
final class Probe(spark: SparkSession) {
  import Probe.Counts

  private val jobs, stages, tasks, runMs, shuffleBytes, spillBytes, catalystMs =
    new AtomicLong

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      Option(e.taskMetrics).foreach { m =>
        runMs.addAndGet(m.executorRunTime)
        shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      catalystMs.addAndGet(Probe.catalystMs(qe))
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      catalystMs.addAndGet(Probe.catalystMs(qe))
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(queryListener)

  /** Counts accumulated since the previous call. */
  def take(): Counts = {
    ListenerBusAccess.drain(spark.sparkContext)
    Counts(jobs.getAndSet(0), stages.getAndSet(0), tasks.getAndSet(0),
      runMs.getAndSet(0), shuffleBytes.getAndSet(0), spillBytes.getAndSet(0),
      catalystMs.getAndSet(0))
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(queryListener)
  }
}

object Probe {
  final case class Counts(jobs: Long, stages: Long, tasks: Long, runMs: Long,
      shuffleBytes: Long, spillBytes: Long, catalystMs: Long)

  /** Analysis, optimization and planning time the tracker recorded. */
  def catalystMs(qe: QueryExecution): Long = {
    val phases = qe.tracker.phases
    Seq("analysis", "optimization", "planning")
      .flatMap(phases.get).map(_.durationMs).sum
  }
}
