package graftbench

import graft.app.{EventListener, RunEvent}
import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.catalog._
import org.apache.spark.sql.catalyst.plans.logical.Command
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Records produced by one benchmark run; serialised as JSON lists of
  * maps for the Python side, which turns them into metrics.
  */
final class Records {
  private val rows = mutable.ArrayBuffer.empty[Map[String, Any]]
  def add(kind: String, fields: (String, Any)*): Unit = synchronized {
    rows += (Map("kind" -> kind) ++ fields)
  }
  def all: Seq[Map[String, Any]] = synchronized(rows.toVector)
}

/** Operation timing from the engine's own event stream: every DAG task is
  * one operation, timed with `System.nanoTime` at the moment the
  * `TaskStarted`/`TaskFinished` events are emitted (emission is
  * synchronous on the executing thread). When `traced`, the run, task and
  * step events are also kept, with their millisecond wall-clock stamps,
  * for per-layer attribution.
  */
final class OpListener(records: Records, pass: Int, traced: Boolean)
    extends EventListener {
  private val started = mutable.Map.empty[String, Long]
  override def onEvent(e: RunEvent): Unit = {
    val now = System.nanoTime()
    e match {
      case RunEvent.TaskStarted(t, _, _, _) => started(t) = now
      case RunEvent.TaskFinished(t, status, _, _, _) =>
        records.add("op", "pass" -> pass, "name" -> t, "status" -> status,
          "t0_ns" -> started.getOrElse(t, now), "t1_ns" -> now)
      case _ =>
    }
    if (traced) e match {
      case RunEvent.RunStarted(_, n, ts) =>
        records.add("run_started", "pass" -> pass, "ts" -> ts, "ns" -> now, "n" -> n)
      case RunEvent.RunFinished(ok, _, ts) =>
        records.add("run_finished", "pass" -> pass, "ts" -> ts, "ns" -> now, "ok" -> ok)
      case RunEvent.StepStarted(t, s, ts) =>
        records.add("step_started", "pass" -> pass, "task" -> t, "step" -> s, "ts" -> ts)
      case RunEvent.StepFinished(t, s, ok, _, ts) =>
        records.add("step_finished", "pass" -> pass, "task" -> t, "step" -> s,
          "ts" -> ts, "ok" -> ok)
      case _ =>
    }
  }
}

/** Spark, Catalyst and catalog listeners for a traced pass. Every record
  * carries the job group of the thread that caused it (`graft:<task>` set
  * by the engine, `bench:<entry>:build|exec` set by the benchmark), which
  * is how spans of different layers share an operation id.
  */
final class LayerTracer(records: Records, pass: Int, sc: org.apache.spark.SparkContext)
    extends SparkListener with QueryExecutionListener with ExternalCatalogEventListener {

  private val jobGroup = mutable.Map.empty[Int, String]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageTasks = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val execGroup = mutable.Map.empty[Long, String]

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
      .foreach(id => execGroup(id.toLong) = g)
    records.add("job_start", "pass" -> pass, "job" -> e.jobId, "group" -> g,
      "ts" -> e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    records.add("job_end", "pass" -> pass, "job" -> e.jobId,
      "group" -> jobGroup.getOrElse(e.jobId, ""), "ts" -> e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val si = e.stageInfo
    val m = si.taskMetrics
    val durations = stageTasks.remove(si.stageId).getOrElse(mutable.ArrayBuffer.empty).sorted
    val job = stageJob.getOrElse(si.stageId, -1)
    records.add("stage", "pass" -> pass, "stage" -> si.stageId, "job" -> job,
      "group" -> jobGroup.getOrElse(job, ""), "tasks" -> si.numTasks,
      "t0" -> si.submissionTime.getOrElse(0L), "t1" -> si.completionTime.getOrElse(0L),
      "run_ms" -> (if (m == null) 0L else m.executorRunTime),
      "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
      "shuffle_read_b" -> (if (m == null) 0L else
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead),
      "shuffle_write_b" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
      "spill_b" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
      "input_b" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
      "output_b" -> (if (m == null) 0L else m.outputMetrics.bytesWritten),
      "task_max_ms" -> durations.lastOption.getOrElse(0L),
      "task_median_ms" -> (if (durations.isEmpty) 0L else durations(durations.size / 2)))
  }

  private def qeRecord(f: String, qe: QueryExecution, durationNs: Long, ok: Boolean): Unit = {
    val phases = qe.tracker.phases
    def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
    val command = qe.analyzed.isInstanceOf[Command]
    val g = synchronized(execGroup.getOrElse(qe.id, ""))
    records.add("qe", "pass" -> pass, "func" -> f, "command" -> command, "ok" -> ok,
      "group" -> g, "ts" -> System.currentTimeMillis(), "dur_ns" -> durationNs,
      "analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
      "planning_ms" -> ms("planning"))
  }

  override def onSuccess(f: String, qe: QueryExecution, durationNs: Long): Unit =
    qeRecord(f, qe, durationNs, ok = true)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
    qeRecord(f, qe, 0L, ok = false)

  /** Catalog events arrive synchronously on the thread doing the DDL, so
    * the job group and a nanosecond clock are both available here.
    */
  override def onEvent(e: ExternalCatalogEvent): Unit = {
    val name = e.getClass.getSimpleName
    val pre = name.endsWith("PreEvent")
    val op = name.stripSuffix("PreEvent").stripSuffix("Event")
    val g = Option(sc.getLocalProperty("spark.jobGroup.id")).getOrElse("")
    records.add("catalog", "pass" -> pass, "op" -> op, "pre" -> pre, "group" -> g,
      "thread" -> Thread.currentThread().getId, "ns" -> System.nanoTime(),
      "ts" -> System.currentTimeMillis())
  }
}
