package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** Work counters of the Spark jobs run under one job group. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var inputRows = 0L

  def -(o: Work): Work = {
    val d = new Work
    d.jobs = jobs - o.jobs; d.stages = stages - o.stages; d.tasks = tasks - o.tasks
    d.taskNs = taskNs - o.taskNs; d.shuffleBytes = shuffleBytes - o.shuffleBytes
    d.spillBytes = spillBytes - o.spillBytes; d.inputBytes = inputBytes - o.inputBytes
    d.inputRows = inputRows - o.inputRows
    d
  }

  def +=(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskNs += o.taskNs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes
    inputBytes += o.inputBytes; inputRows += o.inputRows
  }
}

/** The traced run's listener: attributes every job, stage and task to
  * the job group that was set when its job started. The benchmark sets
  * one group per (pass, row), so sums over groups give per-row,
  * per-module and per-pass work. Registered only in traced runs. */
final class LayerListener extends SparkListener {
  private val byGroup = new ConcurrentHashMap[String, Work]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()

  private def work(group: String): Work = byGroup.computeIfAbsent(group, _ => new Work)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup.put(_, g))
    val w = work(g)
    w.synchronized { w.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val w = work(stageGroup.getOrDefault(e.stageInfo.stageId, ""))
    w.synchronized { w.stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val w = work(stageGroup.getOrDefault(e.stageId, ""))
      w.synchronized {
        w.tasks += 1
        w.taskNs += m.executorRunTime * 1000000L
        w.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.inputBytes += m.inputMetrics.bytesRead
        w.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  /** Sum of the work of every group whose name satisfies `p`. Call after
    * [[org.apache.spark.PerfbenchBridge.drain]]: events arrive async. */
  def sum(p: String => Boolean): Work = {
    val acc = new Work
    byGroup.asScala.foreach { case (g, w) => if (p(g)) w.synchronized(acc += w) }
    acc
  }
}
