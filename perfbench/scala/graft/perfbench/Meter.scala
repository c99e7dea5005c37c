package graft.perfbench

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Executor-side totals for a set of stages. */
final class StageTotals {
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var tasks = 0L
  var recordsRead = 0L
  /** (task count, task durations in ms) per completed stage */
  val stages = ArrayBuffer.empty[(Int, Array[Long])]

  def add(info: StageInfo, durations: Array[Long]): Unit = {
    val m = info.taskMetrics
    if (m != null) {
      cpuNs += m.executorCpuTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      spillBytes += m.diskBytesSpilled + m.memoryBytesSpilled
      recordsRead += m.inputMetrics.recordsRead
    }
    tasks += info.numTasks
    stages += ((info.numTasks, durations))
  }

  /** max / median task time of the stage with the most tasks (1 if none). */
  def taskSkew: Double = if (stages.isEmpty) 1.0 else {
    val d = stages.maxBy(_._1)._2.sorted
    if (d.isEmpty || d(d.length / 2) == 0) 1.0 else d.last.toDouble / d(d.length / 2)
  }
}

/** Listener that sums stage metrics over the whole run and per Spark job
  * group. A traced span sets its name as the job group, so every stage its
  * actions submit is charged to it. Read only after `ListenerDrain.drain`.
  */
final class Meter extends SparkListener {
  val total = new StageTotals
  private val byGroup = new ConcurrentHashMap[String, StageTotals]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val taskMs = new ConcurrentHashMap[Int, ArrayBuffer[Long]]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    g.foreach(id => e.stageIds.foreach(s => stageGroup.put(s, id)))
  }

  // the listener bus calls one listener from one thread, in event order
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (stageGroup.containsKey(e.stageId) && e.taskInfo != null)
      taskMs.computeIfAbsent(e.stageId, _ => ArrayBuffer.empty[Long]) += e.taskInfo.duration

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val id = e.stageInfo.stageId
    val durations = Option(taskMs.remove(id)).map(_.toArray).getOrElse(Array.empty[Long])
    total.add(e.stageInfo, durations)
    Option(stageGroup.get(id)).foreach { g =>
      byGroup.computeIfAbsent(g, _ => new StageTotals).add(e.stageInfo, durations)
    }
  }

  def group(id: String): StageTotals = Option(byGroup.get(id)).getOrElse(new StageTotals)
}
