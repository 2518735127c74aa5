package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** What the engine did inside one wall-clock window. Times in seconds,
  * sizes in bytes.
  */
final case class EngineWindow(jobs: Int, stages: Int, shuffleStages: Int,
                              wallS: Double, stageUnionS: Double,
                              executorRunS: Double, executorCpuS: Double,
                              inputBytes: Long, shuffleReadBytes: Long,
                              shuffleWriteBytes: Long, spillBytes: Long,
                              gcS: Double) {
  def driverGapS: Double = math.max(0.0, wallS - stageUnionS)

  def +(o: EngineWindow): EngineWindow = EngineWindow(
    jobs + o.jobs, stages + o.stages, shuffleStages + o.shuffleStages,
    wallS + o.wallS, stageUnionS + o.stageUnionS, executorRunS + o.executorRunS,
    executorCpuS + o.executorCpuS, inputBytes + o.inputBytes,
    shuffleReadBytes + o.shuffleReadBytes, shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, gcS + o.gcS)
}

object EngineWindow {
  val Zero: EngineWindow = EngineWindow(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0)
}

/** A SparkListener that keeps every job start, completed stage and
  * finished task with its epoch-millisecond stamps, so any wall-clock
  * window of the run can be summarised afterwards. Registered only
  * during a traced run's traced phase.
  */
final class Tape extends SparkListener {
  private final case class Stage(submitMs: Long, doneMs: Long, shuffleMap: Boolean)
  private final case class Task(doneMs: Long, runMs: Long, cpuNs: Long, inBytes: Long,
                                shRead: Long, shWrite: Long, spill: Long, gcMs: Long)

  private val jobStarts = new ConcurrentLinkedQueue[Long]()
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val tasks = new ConcurrentLinkedQueue[Task]()

  override def onJobStart(e: SparkListenerJobStart): Unit = { jobStarts.add(e.time); () }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    for (s <- i.submissionTime; d <- i.completionTime)
      stages.add(Stage(s, d, org.apache.spark.perfbenchbus.Bus.isShuffleMap(i)))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime,
      m.executorCpuTime, m.inputMetrics.bytesRead,
      m.shuffleReadMetrics.totalBytesRead, m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled, m.jvmGCTime))
    ()
  }

  /** Summarise `[fromMs, toMs]`; call [[Tape.drain]] first. */
  def window(fromMs: Long, toMs: Long): EngineWindow = {
    def in(t: Long) = t >= fromMs && t <= toMs
    val st = stages.asScala.filter(s => in(s.doneMs)).toSeq
    val tk = tasks.asScala.filter(t => in(t.doneMs)).toSeq
    // union of the stage intervals, clipped to the window
    val spans = st.map(s => (math.max(s.submitMs, fromMs), math.min(s.doneMs, toMs)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    spans.foreach { case (a, b) =>
      if (a > curB) { covered += math.max(0L, curB - curA); curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += math.max(0L, curB - curA)
    EngineWindow(
      jobs = jobStarts.asScala.count(in),
      stages = st.length,
      shuffleStages = st.count(_.shuffleMap),
      wallS = (toMs - fromMs) / 1e3,
      stageUnionS = covered / 1e3,
      executorRunS = tk.map(_.runMs).sum / 1e3,
      executorCpuS = tk.map(_.cpuNs).sum / 1e9,
      inputBytes = tk.map(_.inBytes).sum,
      shuffleReadBytes = tk.map(_.shRead).sum,
      shuffleWriteBytes = tk.map(_.shWrite).sum,
      spillBytes = tk.map(_.spill).sum,
      gcS = tk.map(_.gcMs).sum / 1e3)
  }
}

object Tape {

  /** Block until the listener bus has delivered every posted event. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbenchbus.Bus.drain(sc)
}
