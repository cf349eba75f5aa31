package perfbench

import java.lang.management.{ManagementFactory, MemoryType}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Spark work attributed to one benchmark op through its job group. */
final class OpWork {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var taskCpuNs = 0L
  var taskRunMs = 0L
  var taskGcMs = 0L
  var taskDeserMs = 0L
  var shuffleWriteBytes = 0L
  var fetchWaitMs = 0L
  var spillBytes = 0L
  var outputBytes = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** A SparkListener the benchmark registers on its own session. It keys
  * every job, stage and task by the job group the benchmark set for the
  * op that issued it; work outside any op (setup, checks) is dropped.
  * Handlers run on the single listener-bus thread; readers call
  * [[PerfbenchShim.drain]] first.
  */
final class JobMeter extends SparkListener {
  private val byGroup = mutable.HashMap.empty[String, OpWork]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val jobStart = mutable.HashMap.empty[Int, (String, Long)]

  private def groupOf(p: java.util.Properties): Option[String] =
    Option(p).flatMap(x => Option(x.getProperty("spark.jobGroup.id")))
      .filter(_.startsWith(Recorder.GroupPrefix))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    groupOf(e.properties).foreach { g =>
      byGroup.getOrElseUpdate(g, new OpWork).jobs += 1
      e.stageIds.foreach(s => stageGroup(s) = g)
      jobStart(e.jobId) = (g, e.time)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (g, t0) =>
      byGroup(g).jobIntervalsMs += ((t0, e.time))
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      groupOf(e.properties).foreach { g =>
        stageGroup(e.stageInfo.stageId) = g
        byGroup.getOrElseUpdate(g, new OpWork).stages += 1
      }
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for {
      g <- stageGroup.get(e.stageId)
      m <- Option(e.taskMetrics)
    } {
      val w = byGroup.getOrElseUpdate(g, new OpWork)
      w.tasks += 1
      w.taskCpuNs += m.executorCpuTime
      w.taskRunMs += m.executorRunTime
      w.taskGcMs += m.jvmGCTime
      w.taskDeserMs += m.executorDeserializeTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
      w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      w.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def work(group: String): OpWork = synchronized {
    byGroup.getOrElse(group, new OpWork)
  }
}

/** Process-level counters from the JVM's management beans. */
final case class JvmSample(cpuNs: Long, gcMs: Long, jitMs: Long)

object Jvm {
  private val os = ManagementFactory.getOperatingSystemMXBean match {
    case b: com.sun.management.OperatingSystemMXBean => b
    case other => throw new IllegalStateException(
      s"process CPU time needs a HotSpot OperatingSystemMXBean, got $other")
  }

  def sample(): JvmSample = JvmSample(
    os.getProcessCpuTime,
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L))

  /** Sum of the heap pools' peak usage since JVM start, in MiB. */
  def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / (1024.0 * 1024.0)

  /** Wall-clock epoch millis at which this JVM started. */
  def startMs: Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
