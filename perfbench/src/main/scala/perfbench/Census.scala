package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark engine counters for one benchmark session: a SparkListener
  * (jobs, stages, tasks, task CPU, deserialization, shuffle and input
  * bytes, job intervals) and a QueryExecutionListener (Catalyst phase
  * milliseconds from each query's QueryPlanningTracker). Jobs carry
  * the id of the span that submitted them through the
  * [[Census.SpanProperty]] local property. */
final class Census private () {
  import Census._

  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageToJob = mutable.HashMap.empty[Int, Int]
  private val plans = mutable.ArrayBuffer.empty[(Long, Double)]

  private[perfbench] val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Census.this.synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      jobs(e.jobId) = JobRec(e.jobId, span, e.time, e.time, stages = e.stageIds.size)
      e.stageIds.foreach(stageToJob(_) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Census.this.synchronized {
      jobs.get(e.jobId).foreach(j => jobs(e.jobId) = j.copy(endMs = e.time))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Census.this.synchronized {
      for (jid <- stageToJob.get(e.stageId); j <- jobs.get(jid)) {
        val m = Option(e.taskMetrics)
        jobs(jid) = j.copy(
          tasks = j.tasks + 1,
          cpuNs = j.cpuNs + m.fold(0L)(_.executorCpuTime),
          deserMs = j.deserMs + m.fold(0L)(_.executorDeserializeTime),
          shuffleWriteBytes = j.shuffleWriteBytes + m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          inputBytes = j.inputBytes + m.fold(0L)(_.inputMetrics.bytesRead))
      }
    }
  }

  private[perfbench] val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.valuesIterator.map(_.durationMs).sum.toDouble
      Census.this.synchronized { plans += ((System.currentTimeMillis(), ms)) }
    }
  }

  def jobRecords: Vector[JobRec] = synchronized(jobs.valuesIterator.toVector)

  /** (epoch ms when the query finished, Catalyst phase ms). */
  def planRecords: Vector[(Long, Double)] = synchronized(plans.toVector)
}

object Census {
  /** Local property naming the span a job was submitted under. */
  val SpanProperty = "perfbench.span"

  final case class JobRec(jobId: Int, span: Long, startMs: Long, endMs: Long,
                          stages: Int, tasks: Int = 0, cpuNs: Long = 0L,
                          deserMs: Long = 0L, shuffleWriteBytes: Long = 0L,
                          inputBytes: Long = 0L)

  private val installed = mutable.WeakHashMap.empty[SparkSession, Census]

  /** The session's census, registering both listeners on first use
    * only: calling it again for the same session returns the same
    * instance and registers nothing. */
  def install(spark: SparkSession): Census = synchronized {
    installed.getOrElseUpdate(spark, {
      val c = new Census
      spark.sparkContext.addSparkListener(c.listener)
      spark.listenerManager.register(c.queryListener)
      c
    })
  }

  /** Waits until the listeners have seen every event posted so far. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain(spark.sparkContext)
}
