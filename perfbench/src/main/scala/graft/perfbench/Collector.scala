package graft.perfbench

import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark scheduler and SQL-execution counters for the traced run, in the
  * style of the pipeline's `ProgressListener`: folded from listener
  * events into atomics the benchmark reads after draining the bus.
  * Registered only for the traced run.
  */
final class Collector extends SparkListener with QueryExecutionListener {
  val jobs = new AtomicLong(0L)
  val tasks = new AtomicLong(0L)
  val taskBusyMs = new AtomicLong(0L)
  val gcMs = new AtomicLong(0L)
  val shuffleBytes = new AtomicLong(0L)
  val spillBytes = new AtomicLong(0L)
  /** Epoch ms of every job start. */
  val jobStartsMs = new java.util.concurrent.ConcurrentLinkedQueue[java.lang.Long]()
  val sqlSeconds = new DoubleAdder()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    jobStartsMs.add(e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    taskBusyMs.addAndGet(e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      gcMs.addAndGet(m.jvmGCTime)
      shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spillBytes.addAndGet(m.diskBytesSpilled)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    sqlSeconds.add(durationNs / 1e9)
  }

  /** Jobs started at or after `fromMs`, and the first such start. */
  def jobsSince(fromMs: Long): (Int, Option[Long]) = {
    val ts = jobStartsMs.toArray.map(_.asInstanceOf[java.lang.Long].longValue).filter(_ >= fromMs)
    (ts.length, if (ts.isEmpty) None else Some(ts.min))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object Collector {
  def register(spark: SparkSession): Collector = {
    val c = new Collector
    spark.sparkContext.addSparkListener(c)
    spark.listenerManager.register(c)
    c
  }

  def unregister(spark: SparkSession, c: Collector): Unit = {
    drain(spark)
    spark.sparkContext.removeSparkListener(c)
    spark.listenerManager.unregister(c)
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.graftbench.Bus.drain(spark.sparkContext)
}
