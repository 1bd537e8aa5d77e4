package perfbench

import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Task metrics summed over one measured operation. */
final case class Totals(
    jobs: Long,
    stages: Long,
    tasks: Long,
    cpuS: Double,
    gcS: Double,
    spillBytes: Long,
    shuffleWriteBytes: Long,
    shuffleReadBytes: Long,
    peakTaskMemoryBytes: Long)

/** The benchmark's own listener: it counts from outside the engine, so the
  * numbers do not depend on any instrumentation inside the program.
  */
final class Counters extends SparkListener {
  private val jobs, stages, tasks, cpuNs, gcMs, spill, shWrite, shRead, peak =
    new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      spill.addAndGet(m.diskBytesSpilled)
      shWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      peak.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
    }
  }

  private def reset(): Unit =
    Seq(jobs, stages, tasks, cpuNs, gcMs, spill, shWrite, shRead, peak).foreach(_.set(0L))

  /** Runs `body` and returns its value with the totals of the jobs it ran. */
  def measure[T](spark: SparkSession)(body: => T): (T, Totals) = {
    PerfbenchBus.drain(spark.sparkContext)
    reset()
    val out = body
    PerfbenchBus.drain(spark.sparkContext)
    (out, Totals(jobs.get, stages.get, tasks.get, cpuNs.get / 1e9, gcMs.get / 1e3,
      spill.get, shWrite.get, shRead.get, peak.get))
  }
}
