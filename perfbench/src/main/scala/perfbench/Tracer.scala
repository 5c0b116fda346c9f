package perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spark counters of one op (or of the `unattributed` bucket). */
final class Counters {
  var jobs, buildJobs, stages, tasks, failedTasks, blocksDropped = 0
  var runMs, cpuNs, gcMs, planMs = 0L
  var shuffleWrite, shuffleRead, spill, input, output = 0L

  def fields: Seq[(String, Any)] = Seq(
    "jobs" -> jobs, "build_jobs" -> buildJobs, "stages" -> stages, "tasks" -> tasks,
    "failed_tasks" -> failedTasks, "blocks_dropped" -> blocksDropped,
    "exec_s" -> runMs / 1e3, "task_cpu_s" -> cpuNs / 1e9, "gc_s" -> gcMs / 1e3,
    "plan_s" -> planMs / 1e3, "shuffle_write_b" -> shuffleWrite,
    "shuffle_read_b" -> shuffleRead, "spill_b" -> spill, "input_b" -> input,
    "output_b" -> output)
}

object Tracer {
  /** Local property naming the op a job belongs to; jobs without it (cleaner
    * sweeps, anything between ops) land in `Unattributed`. */
  val OpKey = "perfbench.op"
  /** Local property naming the op's sub-phase (`build` or `exec`). */
  val PhaseKey = "perfbench.phase"
  val Unattributed = "unattributed"
}

/** One listener for the traced run: attributes jobs, stages and tasks to ops
  * through the local properties the harness sets, records each job as a span,
  * and sums planning time from `QueryExecution.tracker`. Query-execution and
  * block events carry no properties, so they go to `current`, which the
  * harness moves only after draining the listener bus. */
final class Tracer extends SparkListener with QueryExecutionListener {
  import Tracer._

  val counters = mutable.LinkedHashMap[String, Counters]()
  /** (job id, op, phase, start ms, end ms) */
  val jobSpans = mutable.ArrayBuffer[(Int, String, String, Long, Long)]()
  @volatile var current: String = Unattributed
  private val openJobs = mutable.Map[Int, (String, String, Long)]()
  private val stageOp = mutable.Map[Int, String]()

  def of(op: String): Counters = synchronized(counters.getOrElseUpdate(op, new Counters))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    val op = p.flatMap(x => Option(x.getProperty(OpKey))).getOrElse(Unattributed)
    val phase = p.flatMap(x => Option(x.getProperty(PhaseKey))).getOrElse("")
    openJobs(e.jobId) = (op, phase, e.time)
    e.stageIds.foreach(stageOp(_) = op)
    val c = of(op)
    c.jobs += 1
    if (phase == "build") c.buildJobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    openJobs.remove(e.jobId).foreach { case (op, phase, t0) =>
      jobSpans += ((e.jobId, op, phase, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val c = of(stageOp.getOrElse(i.stageId, Unattributed))
    c.stages += 1
    c.tasks += i.numTasks
    val m = i.taskMetrics
    if (m != null) {
      c.runMs += m.executorRunTime
      c.cpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.input += m.inputMetrics.bytesRead
      c.output += m.outputMetrics.bytesWritten
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.reason != Success) synchronized {
      of(stageOp.getOrElse(e.stageId, Unattributed)).failedTasks += 1
    }

  // Only RDD blocks: broadcast pieces are dropped by routine cleaner sweeps.
  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
    val b = e.blockUpdatedInfo
    if (b.blockId.isRDD && !b.storageLevel.isValid) synchronized { of(current).blocksDropped += 1 }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized { of(current).planMs += qe.tracker.phases.values.map(_.durationMs).sum }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}
