package graft.obs

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}

/** Spark job/stage counts and executor metrics accumulated between
  * [[reset]]s: jobs started, stages completed, memory and disk spill,
  * shuffle bytes written, and the largest per-stage peak execution
  * memory. The one metrics listener of the harnesses (Bench, ScaleBench,
  * ComposedSinksBench, FloorProbe).
  *
  * Events arrive on Spark's asynchronous listener bus: drain it
  * (`GraftSparkInternals.drainListenerBus`) before reading, or a
  * window's last stages land in the next one. */
private[graft] final class StageMetrics extends SparkListener {
  @volatile var jobs = 0L
  @volatile var stages = 0L
  @volatile var spillMem = 0L
  @volatile var spillDisk = 0L
  @volatile var shuffleWrite = 0L
  @volatile var peakExecMem = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages += 1
    val m = e.stageInfo.taskMetrics
    if (m != null) {
      spillMem += m.memoryBytesSpilled
      spillDisk += m.diskBytesSpilled
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      peakExecMem = math.max(peakExecMem, m.peakExecutionMemory)
    }
  }

  def reset(): Unit = {
    jobs = 0L; stages = 0L
    spillMem = 0L; spillDisk = 0L; shuffleWrite = 0L; peakExecMem = 0L
  }
}

private[graft] object StageMetrics {
  /** A fresh listener, registered with `sc`. */
  def on(sc: SparkContext): StageMetrics = {
    val m = new StageMetrics
    sc.addSparkListener(m)
    m
  }
}
