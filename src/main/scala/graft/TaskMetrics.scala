package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.graft.SparkInternals
import scala.jdk.CollectionConverters._

/** The one task-metrics listener: sums every task's metrics across the
  * session and logs each job, so a caller attributes run time, CPU, GC,
  * spill and shuffle to whatever ran between two [[snap]]s:
  * {{{
  *   val before = metrics.snap(); df.count(); val d = metrics.snap() - before
  * }}}
  * In local mode the "executor" is this JVM, so `gcMs` is the
  * task-attributed slice of the same collector the JVM MXBeans see.
  */
final class TaskMetrics private (sc: SparkContext) extends SparkListener {
  import TaskMetrics._

  private val runMs, cpuNs, gcMs, spillMemB, spillDiskB, shuffleWriteB,
    tasks, jobs = new AtomicLong
  private val jobLog = new ConcurrentHashMap[Integer, Job]()
  private val stageJob = new ConcurrentHashMap[Integer, Integer]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    // the result stage (highest id) is named after the job's short call site
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobLog.put(e.jobId, Job(e.jobId, e.time, e.time, e.stageIds.size, 0, site))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    jobs.incrementAndGet()
    jobLog.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time))
    stageJob.values.removeIf(_ == e.jobId)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      spillMemB.addAndGet(m.memoryBytesSpilled)
      spillDiskB.addAndGet(m.diskBytesSpilled)
      shuffleWriteB.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      tasks.incrementAndGet()
    }
    // a task of a stage whose job already ended (or started before this
    // listener) has no job to count towards
    val jid = stageJob.get(e.stageId)
    if (jid != null)
      jobLog.computeIfPresent(jid, (_, j) => j.copy(tasks = j.tasks + 1))
  }

  /** Totals so far, and the jobs logged since the previous `snap`. Drains
    * the listener bus first, so every event of an action that has returned
    * is counted.
    */
  def snap(): Snap = {
    SparkInternals.drainListenerBus(sc)
    val logged = jobLog.values.asScala.toSeq.sortBy(_.id)
    logged.foreach(j => jobLog.remove(j.id))
    Snap(runMs.get, cpuNs.get, gcMs.get, spillMemB.get, spillDiskB.get,
      shuffleWriteB.get, tasks.get, jobs.get, logged)
  }
}

object TaskMetrics {

  /** Register a new listener on the session's context. */
  def apply(spark: SparkSession): TaskMetrics = {
    val metrics = new TaskMetrics(spark.sparkContext)
    spark.sparkContext.addSparkListener(metrics)
    metrics
  }

  /** One Spark job: start and end in epoch ms, stages, tasks, call site. */
  final case class Job(id: Int, startMs: Long, endMs: Long, stages: Int,
      tasks: Int, site: String)

  /** Task-metric totals (ms, ns or bytes as named) and job count; `jobLog`
    * holds the jobs logged since the previous snapshot.
    */
  final case class Snap(runMs: Long, cpuNs: Long, gcMs: Long,
      spillMemB: Long, spillDiskB: Long, shuffleWriteB: Long, tasks: Long,
      jobs: Long, jobLog: Seq[Job]) {
    /** The totals accrued since `earlier`; keeps this snapshot's job log. */
    def -(earlier: Snap): Snap = Snap(runMs - earlier.runMs,
      cpuNs - earlier.cpuNs, gcMs - earlier.gcMs,
      spillMemB - earlier.spillMemB, spillDiskB - earlier.spillDiskB,
      shuffleWriteB - earlier.shuffleWriteB, tasks - earlier.tasks,
      jobs - earlier.jobs, jobLog)
  }
}
