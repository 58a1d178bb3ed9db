package graftbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import Trace.q

/** Spark-side counters of the traced run, registered from outside the
  * engine through `spark.extraListeners`. Jobs are recorded when they run
  * under a call's job group (`gb-<call>`, set by [[Trace.beginCall]]);
  * stages and tasks are joined to their job when the trace is analysed.
  */
class JobProbe extends SparkListener {

  private val traced = scala.collection.concurrent.TrieMap.empty[Int, Unit]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    if (group.startsWith("gb-")) {
      traced.put(e.jobId, ())
      val site = props.flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
      Trace.record(s"""{"type":"job","job":${e.jobId},"call":${group.stripPrefix("gb-")},""" +
        s""""site":${q(site)},"start":${e.time * 1000L},"stages":${e.stageIds.mkString("[", ",", "]")}}""")
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (traced.remove(e.jobId).isDefined)
      Trace.record(s"""{"type":"job_end","job":${e.jobId},"end":${e.time * 1000L}}""")

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (Trace.enabled && m != null && e.taskInfo != null) {
      val delay = math.max(0L, e.taskInfo.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
      Trace.record(s"""{"type":"task","stage":${e.stageId},"sched_delay_ms":$delay}""")
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (Trace.enabled && m != null)
      Trace.record(s"""{"type":"stage","stage":${i.stageId},"tasks":${i.numTasks},""" +
        s""""cpu_ns":${m.executorCpuTime},"gc_ms":${m.jvmGCTime},""" +
        s""""shuffle_read_bytes":${m.shuffleReadMetrics.totalBytesRead},""" +
        s""""shuffle_write_bytes":${m.shuffleWriteMetrics.bytesWritten},""" +
        s""""spill_bytes":${m.memoryBytesSpilled + m.diskBytesSpilled}}""")
  }
}

/** Catalyst phase timings per executed query, read from the
  * `QueryPlanningTracker`; registered through
  * `spark.sql.queryExecutionListeners`, which every session picks up.
  */
class PlanProbe extends QueryExecutionListener {
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (Trace.enabled) {
      val phases = qe.tracker.phases.map { case (k, p) =>
        s"""${q(k)}:[${p.startTimeMs * 1000L},${p.endTimeMs * 1000L}]"""
      }.mkString("{", ",", "}")
      Trace.record(s"""{"type":"plan","func":${q(funcName)},"phases":$phases}""")
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
