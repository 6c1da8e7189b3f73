package perfbench

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark work done by one request phase, as the listener saw it. */
final class Counters {
  var jobs = 0L
  var stageSlots = 0L // stages named by the phase's jobs, run or skipped
  var stages = 0L // stages that actually ran
  var tasks = 0L
  var failedTasks = 0L
  var taskBusyNs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var peakExecMemBytes = 0L

  def skippedStages: Long = stageSlots - stages

  def +=(o: Counters): Unit = {
    jobs += o.jobs; stageSlots += o.stageSlots; stages += o.stages
    tasks += o.tasks; failedTasks += o.failedTasks; taskBusyNs += o.taskBusyNs
    shuffleWriteBytes += o.shuffleWriteBytes
    shuffleReadBytes += o.shuffleReadBytes
    spillBytes += o.spillBytes
    peakExecMemBytes = math.max(peakExecMemBytes, o.peakExecMemBytes)
  }
}

/** Counts Spark work per (job group, phase). The harness tags every job it
  * causes with the request's job group and a `perfbench.phase` local
  * property ("build" while the DataFrame is constructed, "action" while it
  * is materialized); untagged jobs land under ("", ""). Read `take` only
  * after draining the listener bus. */
final class SparkCounters extends SparkListener {
  val PhaseKey = "perfbench.phase"
  private val byKey = mutable.HashMap.empty[(String, String), Counters]
  private val stageKey = mutable.HashMap.empty[Int, (String, String)]

  private def counters(k: (String, String)) = byKey.getOrElseUpdate(k, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val group = props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val phase = props.flatMap(p => Option(p.getProperty(PhaseKey))).getOrElse("")
    val c = counters((group, phase))
    c.jobs += 1
    c.stageSlots += e.stageIds.size
    e.stageIds.foreach(id => if (!stageKey.contains(id)) stageKey(id) = (group, phase))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    counters(stageKey.getOrElse(e.stageInfo.stageId, ("", ""))).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val c = counters(stageKey.getOrElse(e.stageId, ("", "")))
    c.tasks += 1
    if (e.reason != org.apache.spark.Success) c.failedTasks += 1
    val m = e.taskMetrics
    if (m != null) {
      c.taskBusyNs += m.executorRunTime * 1000000L
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Removes and returns the counters of one job group and phase. */
  def take(group: String, phase: String): Counters = synchronized {
    byKey.remove((group, phase)).getOrElse(new Counters)
  }
}
