package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task metrics from Spark's listener bus, totalled per job group.
  *
  * Every task is added to the running totals of the group its job was
  * tagged with (`""` when untagged), so an untraced run still gets the
  * whole-pass peak memory and spill, and a traced run gets one row
  * per layer call. Listener events arrive asynchronously; read totals
  * only after [[settle]]. */
final class Ledger extends SparkListener {
  import Ledger._

  private val jobGroup = mutable.HashMap.empty[Int, String]
  private val stageGroup = mutable.HashMap.empty[Int, String]
  private val groups = mutable.LinkedHashMap.empty[String, Totals]
  // per stage: task run times, for the skew of the heaviest stage
  private val stageTasks = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]
  private val barriersSeen = mutable.HashSet.empty[String]
  private var barriers = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty(GroupKey))).getOrElse("")
    jobGroup(e.jobId) = g
    e.stageIds.foreach(s => stageGroup.getOrElseUpdate(s, g))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobGroup.get(e.jobId).filter(_.startsWith(BarrierPrefix)).foreach { g =>
      barriersSeen += g
      notifyAll()
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val g = stageGroup.getOrElse(e.stageId, "")
    if (m != null && !g.startsWith(BarrierPrefix)) {
      val t = groups.getOrElseUpdate(g, new Totals)
      t.tasks += 1
      t.runMs += m.executorRunTime
      t.cpuNs += m.executorCpuTime
      t.gcMs += m.jvmGCTime
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.peakMem = math.max(t.peakMem, m.peakExecutionMemory)
      t.stages += e.stageId
      stageTasks.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        m.executorRunTime
    }
  }

  /** Block until the listener bus has delivered every event of the jobs
    * run so far: run a one-task barrier job and wait for its end, which
    * the bus delivers after all earlier events. The caller's job group is
    * cleared. */
  def settle(sc: SparkContext, timeoutMs: Long = 60000L): Unit = {
    val g = synchronized { barriers += 1; s"$BarrierPrefix$barriers" }
    sc.setJobGroup(g, g, interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count() finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + timeoutMs
    synchronized {
      while (!barriersSeen(g)) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) throw new IllegalStateException(
          "the listener bus did not deliver the end of a barrier job")
        wait(left)
      }
    }
  }

  /** Totals of one group, with the skew of its heaviest stage. */
  def group(name: String): Snapshot = synchronized {
    snapshot(groups.getOrElse(name, new Totals))
  }

  /** Totals over every group. */
  def all(): Snapshot = synchronized {
    val t = new Totals
    groups.values.foreach(t.add)
    snapshot(t)
  }

  def reset(): Unit = synchronized {
    groups.clear()
    stageTasks.clear()
  }

  private def snapshot(t: Totals): Snapshot = {
    val heaviest = t.stages.toSeq.map(s => stageTasks.getOrElse(s, mutable.ArrayBuffer.empty[Long]))
      .filter(_.nonEmpty).sortBy(ts => -ts.sum).headOption
    val skew = heaviest.map { ts =>
      val sorted = ts.sorted
      val med = Stats.median(sorted.map(_.toDouble).toSeq)
      if (med <= 0) 1.0 else sorted.last / med
    }.getOrElse(1.0)
    Snapshot(t.tasks, t.runMs / 1e3, t.cpuNs / 1e9, t.gcMs / 1e3,
      (t.shuffleWrite + t.shuffleRead) / Mb, t.spill / Mb, t.peakMem / Mb, skew)
  }
}

object Ledger {
  val Mb: Double = 1024.0 * 1024.0
  private val GroupKey = "spark.jobGroup.id"
  private val BarrierPrefix = "perfbench.barrier."

  private final class Totals {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var shuffleRead = 0L
    var spill = 0L
    var peakMem = 0L
    val stages = mutable.HashSet.empty[Int]
    def add(o: Totals): Unit = {
      tasks += o.tasks; runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
      shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
      spill += o.spill; peakMem = math.max(peakMem, o.peakMem)
      stages ++= o.stages
    }
  }

  /** `shuffleMb` counts bytes written plus bytes read. */
  final case class Snapshot(tasks: Long, taskS: Double, cpuS: Double,
      gcS: Double, shuffleMb: Double, spillMb: Double, peakMemMb: Double,
      taskSkew: Double)
}
