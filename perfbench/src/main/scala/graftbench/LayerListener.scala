package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Task-level counters summed over one job (or over the stages no job
  * claims). Times are in the units Spark reports them in. */
final class Counters {
  var stages, tasks, emptyTasks = 0L
  var runMs, cpuNs, gcMs, delayMs, fetchWaitMs = 0L
  var shuffleReadB, shuffleWriteB, spillB, inputB, outputB = 0L
  var peakMemB = 0L

  def add(o: Counters): Unit = {
    stages += o.stages; tasks += o.tasks; emptyTasks += o.emptyTasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    delayMs += o.delayMs; fetchWaitMs += o.fetchWaitMs
    shuffleReadB += o.shuffleReadB; shuffleWriteB += o.shuffleWriteB
    spillB += o.spillB; inputB += o.inputB; outputB += o.outputB
    peakMemB = math.max(peakMemB, o.peakMemB)
  }
}

/** One Spark job, tagged with the query that was running when it started. */
final class JobRec(val id: Int, val query: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  val counters = new Counters
}

/** Spark listener for the traced run. It maps every stage to the job that
  * submitted it and sums task metrics per job.
  *
  * Stage-to-job lookup checks the key first: a stage no job claims goes to
  * [[unattributed]], never to whichever job has id 0. A stage that fails
  * and is resubmitted completes once per attempt, but is counted once.
  *
  * `onStage` runs after every stage completion, on the listener thread
  * (the harness samples storage there). */
final class LayerListener(onStage: () => Unit = () => ()) extends SparkListener {
  /** Label attached to jobs that start from now on. */
  @volatile var current: String = ""

  private val jobs = new ConcurrentHashMap[Integer, JobRec]()
  private val stageToJob = new ConcurrentHashMap[Integer, Integer]()
  private val seenStages = ConcurrentHashMap.newKeySet[Integer]()
  private var unattributedC = new Counters

  /** Counters of stages that no job claims. */
  def unattributed: Counters = synchronized(unattributedC)

  private def countersOf(stageId: Int): Counters =
    if (stageToJob.containsKey(stageId)) {
      val j = jobs.get(stageToJob.get(stageId))
      if (j == null) unattributedC else j.counters
    } else unattributedC

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs.put(e.jobId, new JobRec(e.jobId, current, e.time))
    e.stageIds.foreach(s => stageToJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    val j = jobs.get(e.jobId)
    if (j != null) j.endMs = e.time
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    synchronized {
      if (seenStages.add(e.stageInfo.stageId)) countersOf(e.stageInfo.stageId).stages += 1
    }
    onStage()
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = countersOf(e.stageId)
    c.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      val records = m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
      if (records == 0) c.emptyTasks += 1
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      c.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      c.inputB += m.inputMetrics.bytesRead
      c.outputB += m.outputMetrics.bytesWritten
      c.peakMemB = math.max(c.peakMemB, m.peakExecutionMemory)
      val info = e.taskInfo
      if (info != null && info.finishTime > 0) {
        // Spark's own definition of scheduler delay (the web UI's)
        val delay = info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - (if (info.gettingResult) info.finishTime - info.gettingResultTime else 0L)
        c.delayMs += math.max(0L, delay)
      }
    }
  }

  /** Jobs started so far, in id order. */
  def jobRecs: Seq[JobRec] = synchronized(jobs.values().asScala.toSeq.sortBy(_.id))

  /** Forget every job, stage and counter. */
  def reset(): Unit = synchronized {
    jobs.clear(); stageToJob.clear(); seenStages.clear()
    unattributedC = new Counters
  }
}

/** One Catalyst phase (analysis, optimization or planning) of one query
  * execution, in wall-clock milliseconds. */
final case class Phase(name: String, startMs: Long, endMs: Long)

/** Records the planning phases of every query execution that finishes. */
final class PlanListener extends QueryExecutionListener {
  private val phases = new java.util.concurrent.ConcurrentLinkedQueue[Phase]()

  private def record(qe: QueryExecution): Unit =
    qe.tracker.phases.foreach { case (name, s) =>
      phases.add(Phase(name, s.startTimeMs, s.endTimeMs))
    }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = record(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = record(qe)

  /** Every phase recorded since the last drain. */
  def drain(): Seq[Phase] = {
    val out = Seq.newBuilder[Phase]
    var p = phases.poll()
    while (p != null) { out += p; p = phases.poll() }
    out.result()
  }
}
