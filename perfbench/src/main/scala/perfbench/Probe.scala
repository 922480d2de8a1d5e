package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's listeners: one SparkListener, one
  * QueryExecutionListener and one StreamingQueryListener, registered
  * only when tracing is on. Events are attributed to the harness call
  * whose job group (`pb-<index>`) launched them; jobs launched from
  * other threads (stream executions set their own group) fall back to
  * the call running when the job started — the harness issues one call
  * at a time. Everything stays in memory; the harness reads it after
  * [[drain]], once the calls are done. */
final class Probe(spark: SparkSession) {
  import Probe._

  /** Call windows (index, start, end) in epoch ms, appended by the harness. */
  val windows = mutable.ArrayBuffer.empty[(Int, Long, Long)]
  @volatile var current: Int = -1

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  val jobCall = mutable.HashMap.empty[Int, Int]
  val stagesByCall = mutable.HashMap.empty[Int, Int].withDefaultValue(0)
  val tasks = mutable.ArrayBuffer.empty[Task]
  val execs = mutable.ArrayBuffer.empty[Exec]
  val batches = mutable.ArrayBuffer.empty[Batch]
  private val blocks = mutable.HashMap.empty[String, Long]
  var cachedPeak = 0L

  private def callOf(group: String, at: Long): Int =
    if (group != null && group.startsWith("pb-")) group.stripPrefix("pb-").toInt
    else windows.find { case (_, s, e) => at >= s && at <= e }.map(_._1).getOrElse(current)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Probe.this.synchronized {
      val p = Option(e.properties)
      val group = p.map(_.getProperty("spark.jobGroup.id")).orNull
      val exec = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map(_.toLong).getOrElse(-1L)
      jobs(e.jobId) = Job(e.jobId, group, exec, e.time)
      jobCall(e.jobId) = callOf(group, e.time)
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Probe.this.synchronized {
      jobs.get(e.jobId).foreach(_.end = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Probe.this.synchronized {
      val c = stageJob.get(e.stageInfo.stageId).map(jobCall).getOrElse(current)
      stagesByCall(c) += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Probe.this.synchronized {
      val m = e.taskMetrics
      val info = e.taskInfo
      val c = stageJob.get(e.stageId).map(jobCall).getOrElse(callOf(null, info.launchTime))
      if (m != null) tasks += Task(c, info.launchTime, info.finishTime, m.executorRunTime,
        m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead,
        m.shuffleReadMetrics.fetchWaitTime, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead)
      else tasks += Task(c, info.launchTime, info.finishTime, 0, 0, 0, 0, 0, 0, 0, 0, 0)
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = Probe.this.synchronized {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) {
        val size = b.memSize + b.diskSize
        if (b.storageLevel.isValid && size > 0) blocks(b.blockId.name) = size
        else blocks.remove(b.blockId.name)
        cachedPeak = math.max(cachedPeak, blocks.values.sum)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, durationNs: Long): Unit =
      record(func, qe, durationNs)
    override def onFailure(func: String, qe: QueryExecution, ex: Exception): Unit =
      record(func, qe, 0L)
    private def record(func: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs) }.toMap
      Probe.this.synchronized {
        execs += Exec(qe.id, func, System.currentTimeMillis(), durationNs, phases)
      }
    }
  }

  private val streamListener = new StreamingQueryListener {
    import StreamingQueryListener._
    override def onQueryStarted(e: QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      def ms(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
      Probe.this.synchronized {
        batches += Batch(System.currentTimeMillis(), ms("triggerExecution"), ms("addBatch"))
      }
    }
  }

  def start(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  /** Blocks until every posted event has been delivered (the execution
    * and streaming listeners are queues of the same listener bus). */
  def drain(): Unit = org.apache.spark.GraftSparkShims.drainListenerBus(spark.sparkContext)

  /** The call (by window) an execution ended in; executions attribute
    * through their jobs first. */
  def execCall(x: Exec): Int =
    jobs.values.find(_.execId == x.id).map(j => jobCall(j.id)).getOrElse(callOf(null, x.end))
}

object Probe {
  final case class Job(id: Int, group: String, execId: Long, start: Long, var end: Long = -1L)
  final case class Task(call: Int, launch: Long, finish: Long, runMs: Long, cpuNs: Long,
                        gcMs: Long, shWrite: Long, shRead: Long, fetchWaitMs: Long,
                        spill: Long, inBytes: Long, inRows: Long)
  final case class Exec(id: Long, func: String, end: Long, durationNs: Long,
                        phasesMs: Map[String, Long])
  final case class Batch(end: Long, triggerMs: Long, addBatchMs: Long)
}
