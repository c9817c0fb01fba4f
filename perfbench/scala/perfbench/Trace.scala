package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-layer recorder for traced passes, built only on Spark's public
  * listener APIs. Each Spark job carries the benchmark's `perfbench.span`
  * local property (the build or action span it ran under), so job, stage and
  * task counts aggregate per benchmark span. Catalyst phases and actions are
  * kept with their wall-clock times; they ran on the driver thread, inside
  * the benchmark span that contains them.
  *
  * Callbacks arrive on the asynchronous listener bus; read the results only
  * after draining it.
  */
final class Trace extends SparkListener with QueryExecutionListener {
  /** Counters per benchmark span id, summed over its jobs' stages and tasks. */
  val counters = mutable.Map.empty[String, mutable.Map[String, Double]]
  /** (job id, span id, start ms, end ms) */
  val jobs = mutable.ArrayBuffer.empty[(Int, String, Long, Long)]
  /** (action name, end of its last planning phase in ms) for every Dataset action */
  val actions = mutable.ArrayBuffer.empty[(String, Long)]
  /** (phase, start ms, end ms) for analysis, optimization, planning */
  val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]

  private val jobStart = mutable.Map.empty[Int, (String, Long)]
  private val stageSpan = mutable.Map.empty[Int, String]
  private val stageSubmitted = mutable.Map.empty[Int, Long]
  private val seenQe = mutable.Set.empty[Long]

  private def add(span: String, key: String, v: Double): Unit = {
    val m = counters.getOrElseUpdate(span, mutable.Map.empty[String, Double])
    m(key) = m.getOrElse(key, 0.0) + v
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span")))
      .getOrElse("untagged")
    jobStart(e.jobId) = (span, e.time)
    e.stageIds.foreach(stageSpan(_) = span)
    add(span, "jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (span, t0) => jobs += ((e.jobId, span, t0, e.time)) }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val id = e.stageInfo.stageId
    stageSubmitted(id) = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
    add(stageSpan.getOrElse(id, "untagged"), "stages", 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val span = stageSpan.getOrElse(e.stageId, "untagged")
    val info = e.taskInfo
    add(span, "tasks", 1)
    if (info.failed || info.killed) add(span, "failed_tasks", 1)
    stageSubmitted.get(e.stageId).foreach(s =>
      add(span, "task_wait_ms", math.max(0L, info.launchTime - s).toDouble))
    val m = e.taskMetrics
    if (m != null) {
      add(span, "run_ms", m.executorRunTime.toDouble)
      add(span, "cpu_ns", m.executorCpuTime.toDouble)
      add(span, "gc_ms", m.jvmGCTime.toDouble)
      add(span, "deser_ms", m.executorDeserializeTime.toDouble)
      add(span, "input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(span, "result_bytes", m.resultSize.toDouble)
      add(span, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(span, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(span, "fetch_wait_ms", m.shuffleReadMetrics.fetchWaitTime.toDouble)
      add(span, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
    }
  }

  private def record(funcName: String, qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    actions += ((funcName, if (ph.isEmpty) 0L else ph.values.map(_.endTimeMs).max))
    // one QueryExecution serves every action on its Dataset; count its phases once
    if (seenQe.add(qe.id)) ph.foreach { case (phase, s) =>
      phases += ((phase, s.startTimeMs, s.endTimeMs))
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    record(funcName, qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    record(funcName, qe)
}
