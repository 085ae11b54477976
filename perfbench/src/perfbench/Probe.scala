package perfbench

import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark runtime counters, fed by a listener the benchmark registers
  * itself. Counters only grow; callers diff two snapshots. */
final class Probe extends SparkListener {
  private val jobs, stages, tasks, runNanos, shuffleRead, shuffleWrite,
    spill, recordsRead = new AtomicLong

  override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
    stages.incrementAndGet()
    tasks.addAndGet(s.stageInfo.numTasks)
  }
  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val m = t.taskMetrics
    if (m != null) {
      runNanos.addAndGet(m.executorRunTime * 1000000L)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
      recordsRead.addAndGet(m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Probe.Snap = Probe.Snap(jobs.get, stages.get, tasks.get,
    runNanos.get, shuffleRead.get, shuffleWrite.get, spill.get,
    recordsRead.get, Probe.gcNanos())
}

object Probe {
  final case class Snap(jobs: Long, stages: Long, tasks: Long, runNanos: Long,
                        shuffleRead: Long, shuffleWrite: Long, spill: Long,
                        recordsRead: Long, gcNanos: Long) {
    def -(o: Snap): Snap = Snap(jobs - o.jobs, stages - o.stages,
      tasks - o.tasks, runNanos - o.runNanos, shuffleRead - o.shuffleRead,
      shuffleWrite - o.shuffleWrite, spill - o.spill,
      recordsRead - o.recordsRead, gcNanos - o.gcNanos)
  }

  def gcNanos(): Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime.max(0L)).sum * 1000000L
}
