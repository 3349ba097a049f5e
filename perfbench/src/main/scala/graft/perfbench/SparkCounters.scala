package graft.perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Workload totals of the Spark scheduler, from listener events. The
  * fields are written on the listener-bus thread; read them through
  * [[snapshot]], which drains the bus first.
  */
final class SparkCounters(sc: SparkContext) extends SparkListener {

  /** Monotone totals; the difference of two snapshots is the work done
    * between them.
    */
  case class Totals(
      jobs: Long = 0, stages: Long = 0, tasks: Long = 0, taskFailures: Long = 0,
      taskMs: Long = 0, taskCpuNs: Long = 0, gcMs: Long = 0, taskWaitMs: Long = 0,
      shuffleWriteBytes: Long = 0, shuffleReadBytes: Long = 0,
      shuffleRecords: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
      outputBytes: Long = 0, storedBlockBytes: Long = 0,
      codegenCompiles: Long = 0, codegenNs: Long = 0, stagesDone: Int = 0) {
    def -(o: Totals): Totals = Totals(
      jobs - o.jobs, stages - o.stages, tasks - o.tasks,
      taskFailures - o.taskFailures, taskMs - o.taskMs,
      taskCpuNs - o.taskCpuNs, gcMs - o.gcMs, taskWaitMs - o.taskWaitMs,
      shuffleWriteBytes - o.shuffleWriteBytes,
      shuffleReadBytes - o.shuffleReadBytes,
      shuffleRecords - o.shuffleRecords, spillBytes - o.spillBytes,
      inputBytes - o.inputBytes, outputBytes - o.outputBytes,
      storedBlockBytes - o.storedBlockBytes,
      codegenCompiles - o.codegenCompiles, codegenNs - o.codegenNs,
      stagesDone)
  }

  private var t = Totals()
  private val submitted = mutable.Map.empty[(Int, Int), Long]
  private val taskTimes = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  /** (stage wall ms, task durations ms) of every completed stage. */
  private val done = mutable.ArrayBuffer.empty[(Long, Array[Long])]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    t = t.copy(jobs = t.jobs + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val i = e.stageInfo
    submitted((i.stageId, i.attemptNumber())) =
      i.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val key = (i.stageId, i.attemptNumber())
    val start = submitted.remove(key).orElse(i.submissionTime).getOrElse(0L)
    val wall = i.completionTime.getOrElse(System.currentTimeMillis()) - start
    done += ((wall, taskTimes.remove(key).map(_.toArray).getOrElse(Array.empty)))
    t = t.copy(stages = t.stages + 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val info = e.taskInfo
    val key = (e.stageId, e.stageAttemptId)
    taskTimes.getOrElseUpdate(key, mutable.ArrayBuffer.empty) += info.duration
    val wait = submitted.get(key).map(s => math.max(0L, info.launchTime - s)).getOrElse(0L)
    val m = e.taskMetrics
    t = t.copy(
      tasks = t.tasks + 1,
      taskFailures = t.taskFailures + (if (info.successful) 0 else 1),
      taskWaitMs = t.taskWaitMs + wait)
    if (m != null) t = t.copy(
      taskMs = t.taskMs + m.executorRunTime,
      taskCpuNs = t.taskCpuNs + m.executorCpuTime,
      gcMs = t.gcMs + m.jvmGCTime,
      shuffleWriteBytes = t.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      shuffleReadBytes = t.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleRecords = t.shuffleRecords + m.shuffleWriteMetrics.recordsWritten,
      spillBytes = t.spillBytes + m.memoryBytesSpilled + m.diskBytesSpilled,
      inputBytes = t.inputBytes + m.inputMetrics.bytesRead,
      outputBytes = t.outputBytes + m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val b = e.blockUpdatedInfo
    if (b.storageLevel.isValid)
      t = t.copy(storedBlockBytes = t.storedBlockBytes + b.memSize + b.diskSize)
  }

  /** Totals after every event of the actions run so far has arrived;
    * codegen counts come from the compile cache of this JVM.
    */
  def snapshot(): Totals = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      t.copy(
        codegenCompiles =
          org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
        codegenNs = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime,
        stagesDone = done.size)
    }
  }

  /** max / median task time of the slowest stage completed between two
    * snapshots (1.0 when no stage ran).
    */
  def skew(from: Totals, to: Totals): Double = synchronized {
    val stages = done.slice(from.stagesDone, to.stagesDone).filter(_._2.nonEmpty)
    if (stages.isEmpty) 1.0
    else {
      val times = stages.maxBy(_._1)._2.sorted
      val med = times(times.length / 2)
      if (med <= 0) 1.0 else times.last.toDouble / med
    }
  }
}
