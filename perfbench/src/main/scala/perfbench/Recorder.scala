package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

object Recorder {
  final case class Job(id: Int, span: String, callSite: String, stages: Seq[Int],
                       startMs: Long, var endMs: Long = -1L)
  final case class Stage(id: Int, job: Int, name: String, tasks: Int, runMs: Long,
                         cpuNs: Long, shuffleRead: Long, shuffleWrite: Long,
                         spill: Long, written: Long, submitMs: Long, doneMs: Long)
}

/** The traced run's listener: one record per Spark job and per stage,
  * kept in memory and written out when the run ends.
  *
  * A job carries the benchmark span that was open when it started (the
  * `perfbench.span` local property) and a long call site: that of the
  * SQL execution it belongs to, taken on the thread that ran the action
  * (adaptive execution submits its stage jobs from a pool thread whose
  * own stack holds no caller frames), else that of its final stage.
  * `run.py` maps the innermost `graft.<module>` frame of the call site to
  * the module the job is attributed to. A stage carries its
  * summed task counters and the run time of every task, for skew.
  * Listener callbacks all arrive on the one listener-bus thread; the
  * concurrent maps only make them visible to the thread that writes out.
  */
final class Recorder extends SparkListener {
  import Recorder.{Job, Stage}

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val sqlSites = new ConcurrentHashMap[Long, String]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stages = new ConcurrentHashMap[Int, Stage]()
  private val taskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val last = e.stageInfos.maxBy(_.stageId)
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
    val site = prop("spark.sql.execution.id")
      .flatMap(id => Option(sqlSites.get(id.toLong))).getOrElse(last.details)
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    jobs.put(e.jobId, Job(e.jobId, prop("perfbench.span").getOrElse(""), site,
      e.stageIds, e.time))
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => sqlSites.put(s.executionId, s.details)
    case _ =>
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer.empty[Long]) +=
        e.taskInfo.duration

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null)
      stages.put(i.stageId, Stage(i.stageId, stageJob.getOrDefault(i.stageId, -1),
        i.name, i.numTasks, m.executorRunTime, m.executorCpuTime,
        m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled, m.outputMetrics.bytesWritten,
        i.submissionTime.getOrElse(-1L), i.completionTime.getOrElse(-1L)))
  }

  /** Waits (bounded) until the listener bus has delivered every job end. */
  def drain(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobs.values.asScala.exists(_.endMs < 0) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    Thread.sleep(200)
  }

  def writeTo(root: ObjectNode): Unit = {
    val js = root.putArray("jobs")
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val o = js.addObject().put("id", j.id).put("span", j.span)
        .put("call_site", j.callSite).put("start_ms", j.startMs).put("end_ms", j.endMs)
      val a = o.putArray("stages")
      j.stages.foreach(a.add(_))
    }
    val ss = root.putArray("stages")
    stages.values.asScala.toSeq.sortBy(_.id).foreach { s =>
      val o = ss.addObject().put("id", s.id).put("job", s.job).put("name", s.name)
        .put("tasks", s.tasks).put("run_ms", s.runMs).put("cpu_ns", s.cpuNs)
        .put("shuffle_read", s.shuffleRead).put("shuffle_write", s.shuffleWrite)
        .put("spill", s.spill).put("written", s.written)
        .put("submit_ms", s.submitMs).put("done_ms", s.doneMs)
      val t = o.putArray("task_ms")
      Option(taskMs.get(s.id)).foreach(_.foreach(ms => t.add(ms)))
    }
  }
}
