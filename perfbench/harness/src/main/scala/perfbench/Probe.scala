package perfbench

import scala.collection.mutable
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.RDDBlockId

/** One finished task, as the layer attribution needs it. */
final case class TaskRec(
    stageId: Int, launchMs: Long, finishMs: Long, failed: Boolean,
    cpuNs: Long, runMs: Long, gcMs: Long, inputRows: Long, inputBytes: Long,
    shuffleWriteBytes: Long, shuffleReadBytes: Long, spillBytes: Long,
    outputBytes: Long)

final case class JobRec(jobId: Int, startMs: Long, var endMs: Long, stageIds: Seq[Int])

/** Planning phase (analysis, optimization or planning) of one query. */
final case class PhaseRec(startMs: Long, endMs: Long)

/** Observes the session from outside the program: Spark listener events
  * (jobs, tasks and their metrics, RDD block updates) and query planning
  * times. Two modes:
  *
  *   - always: cumulative task CPU and the peak of storage held by cached
  *     and checkpointed blocks since the last [[resetPeak]] — what the
  *     end-to-end metrics need;
  *   - `tracing = true`: additionally keeps every job, task and planning
  *     phase with its timestamps, so [[Layers]] can attribute them to the
  *     layer call whose window they fall into.
  *
  * Listener callbacks run on the bus thread; readers call [[drain]] first.
  */
final class Probe extends SparkListener with QueryExecutionListener {
  @volatile var tracing = false

  private var cpuNsTotal = 0L
  private val blocks = mutable.HashMap.empty[RDDBlockId, Long]
  private var storageNow = 0L
  private var storagePeak = 0L
  // (receipt ms, storage bytes after the update), traced mode only
  val storageSamples = mutable.ArrayBuffer.empty[(Long, Long)]
  val tasks = mutable.ArrayBuffer.empty[TaskRec]
  val jobs = mutable.ArrayBuffer.empty[JobRec]
  val phases = mutable.ArrayBuffer.empty[PhaseRec]

  def install(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def drain(spark: SparkSession): Unit = PerfbenchBus.drain(spark.sparkContext)

  def cpuSeconds: Double = synchronized(cpuNsTotal / 1e9)
  def storageBytes: Long = synchronized(storageNow)
  def peakBytes: Long = synchronized(storagePeak)
  def resetPeak(): Unit = synchronized { storagePeak = storageNow }


  def clearTrace(): Unit = synchronized {
    storageSamples.clear(); tasks.clear(); jobs.clear(); phases.clear()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) cpuNsTotal += m.executorCpuTime
    if (tracing && m != null) {
      val info = e.taskInfo
      tasks += TaskRec(e.stageId, info.launchTime, info.finishTime,
        info.failed || info.killed, m.executorCpuTime, m.executorRunTime,
        m.jvmGCTime, m.inputMetrics.recordsRead, m.inputMetrics.bytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (tracing) jobs += JobRec(e.jobId, e.time, -1L, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    if (tracing) jobs.find(_.jobId == e.jobId).foreach(_.endMs = e.time)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    info.blockId match {
      case b: RDDBlockId =>
        val size = info.memSize + info.diskSize
        val before = blocks.getOrElse(b, 0L)
        if (size == 0) blocks.remove(b) else blocks(b) = size
        storageNow += size - before
        storagePeak = math.max(storagePeak, storageNow)
        if (tracing) storageSamples += ((System.currentTimeMillis(), storageNow))
      case _ =>
    }
  }

  // removing an unpersisted RDD's blocks is not reported as block updates
  override def onUnpersistRDD(e: SparkListenerUnpersistRDD): Unit = synchronized {
    blocks.keys.filter(_.rddId == e.rddId).toSeq.foreach(blocks.remove)
    storageNow = blocks.values.sum
    if (tracing) storageSamples += ((System.currentTimeMillis(), storageNow))
  }

  private def recordPhases(qe: QueryExecution): Unit = synchronized {
    if (tracing)
      Seq("analysis", "optimization", "planning").foreach { p =>
        qe.tracker.phases.get(p).foreach(s => phases += PhaseRec(s.startTimeMs, s.endTimeMs))
      }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPhases(qe)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    recordPhases(qe)
}
