package org.apache.spark.graftbench

import java.util.Properties

import org.apache.spark.Success
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler._
import org.scalatest.funsuite.AnyFunSuite

import graftbench.{Json, LayerListener, Main}

// In an org.apache.spark package so the specs can build listener events
// (StageInfo and TaskMetrics constructors are private[spark]).
class LayerListenerSpec extends AnyFunSuite {
  private def stage(id: Int, attempt: Int = 0): StageInfo =
    new StageInfo(id, attempt, s"s$id", 1, Nil, Nil, "", resourceProfileId = 0)

  private def jobStart(jobId: Int, stageIds: Int*): SparkListenerJobStart =
    SparkListenerJobStart(jobId, 1000L, stageIds.map(stage(_)), new Properties)

  private def taskEnd(stageId: Int): SparkListenerTaskEnd = {
    val info = new TaskInfo(0L, 0, 0, 0, 1000L, "0", "localhost", TaskLocality.PROCESS_LOCAL, false)
    SparkListenerTaskEnd(stageId, 0, "ResultTask", Success, info, null, TaskMetrics.empty)
  }

  test("a stage no job claims is never attributed to job 0") {
    val l = new LayerListener
    l.current = "q0"
    l.onJobStart(jobStart(0, 1))
    l.onStageCompleted(SparkListenerStageCompleted(stage(7)))
    l.onTaskEnd(taskEnd(7))
    val job0 = l.jobRecs.find(_.id == 0).get
    assert(job0.counters.stages == 0 && job0.counters.tasks == 0)
    assert(l.unattributed.stages == 1 && l.unattributed.tasks == 1)
  }

  test("a mapped stage counts under its own job") {
    val l = new LayerListener
    l.onJobStart(jobStart(0, 1))
    l.onJobStart(jobStart(1, 2))
    l.onStageCompleted(SparkListenerStageCompleted(stage(2)))
    l.onTaskEnd(taskEnd(2))
    val byId = l.jobRecs.map(j => j.id -> j.counters).toMap
    assert(byId(0).stages == 0 && byId(1).stages == 1 && byId(1).tasks == 1)
  }

  test("a retried stage is counted once") {
    val l = new LayerListener
    l.onJobStart(jobStart(3, 5))
    l.onStageCompleted(SparkListenerStageCompleted(stage(5, attempt = 0)))
    l.onStageCompleted(SparkListenerStageCompleted(stage(5, attempt = 1)))
    assert(l.jobRecs.head.counters.stages == 1)
  }

  test("JSON strings escape backslash, quote and control characters") {
    val s = "a\"b\\c\nd\re\tf\u0001g"
    assert(Json.str(s) == "\"a\\\"b\\\\c\\nd\\re\\tf\\u0001g\"")
    assert(Json.str("profile:q") == "\"profile:q\"")
  }

  test("union length merges overlapping and nested intervals") {
    assert(Main.unionLen(Seq((0.0, 2.0), (1.0, 3.0), (5.0, 6.0), (5.2, 5.5))) == 4.0)
    assert(Main.unionLen(Seq((3.0, 1.0))) == 0.0)
  }
}
