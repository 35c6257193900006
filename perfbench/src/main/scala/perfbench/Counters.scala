package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work counted per job group. Every op runs its jobs under a job
  * group `op<k>` (traced ops: `op<k>/<layer>`), so one listener attributes
  * tasks to ops and layers without extra jobs.
  */
final class GroupStats {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleReadB = 0L
  var shuffleWriteB = 0L
  var spillB = 0L
  var peakExecB = 0L
  val taskMs = mutable.ArrayBuffer.empty[Long]

  def add(o: GroupStats): GroupStats = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; runMs += o.runMs
    cpuNs += o.cpuNs; gcMs += o.gcMs; shuffleReadB += o.shuffleReadB
    shuffleWriteB += o.shuffleWriteB; spillB += o.spillB
    peakExecB = math.max(peakExecB, o.peakExecB); taskMs ++= o.taskMs
    this
  }

  def maxTaskOverMedian: Double =
    if (taskMs.isEmpty) 0.0
    else {
      val s = taskMs.sorted
      s.last.toDouble / math.max(1L, s(s.size / 2))
    }
}

final class Counters(sc: SparkContext) extends SparkListener {
  private val GroupKey = "spark.jobGroup.id"
  private val byGroup = mutable.HashMap.empty[String, GroupStats]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val rddBlocks = mutable.HashMap.empty[String, Long]
  private var cachedB = 0L
  private var cachedPeakB = 0L

  sc.addSparkListener(this)

  private def stats(g: String) = byGroup.getOrElseUpdate(g, new GroupStats)
  private def group(p: java.util.Properties) =
    Option(p).flatMap(x => Option(x.getProperty(GroupKey))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = group(e.properties)
    stats(g).jobs += 1
    e.stageIds.foreach(stageGroup(_) = g)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val g = Option(e.properties).map(group).getOrElse(stageGroup.getOrElse(e.stageInfo.stageId, ""))
    stageGroup(e.stageInfo.stageId) = g
    stats(g).stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stats(stageGroup.getOrElse(e.stageId, ""))
    s.tasks += 1
    s.taskMs += e.taskInfo.duration
    Option(e.taskMetrics).foreach { m =>
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.gcMs += m.jvmGCTime
      s.shuffleReadB += m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.spillB += m.memoryBytesSpilled + m.diskBytesSpilled
      s.peakExecB = math.max(s.peakExecB, m.peakExecutionMemory)
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    if (info.blockId.isRDD) {
      val key = s"${info.blockManagerId.executorId}/${info.blockId.name}"
      val size = info.memSize + info.diskSize
      cachedB += size - rddBlocks.getOrElse(key, 0L)
      if (size == 0L) rddBlocks.remove(key) else rddBlocks(key) = size
      cachedPeakB = math.max(cachedPeakB, cachedB)
    }
  }

  /** Deliver every pending event before reading or resetting. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  /** Sum over groups `prefix` and `prefix/...`. */
  def of(prefix: String): GroupStats = { drain(); synchronized {
    byGroup.collect { case (g, s) if g == prefix || g.startsWith(prefix + "/") => s }
      .foldLeft(new GroupStats)(_ add _)
  } }

  def resetCachedPeak(): Unit = { drain(); synchronized { cachedPeakB = cachedB } }
  def cachedPeak: Long = { drain(); synchronized { cachedPeakB } }
}
