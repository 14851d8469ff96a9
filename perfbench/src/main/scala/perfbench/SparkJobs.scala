package perfbench

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark's own layer, keyed by job group: jobs, stages, tasks, task
  * time, the slowest task, scheduler delay, shuffle and spill bytes, GC.
  * Counts only while `on`, so untraced passes in a traced run stay clean.
  */
final class SparkJobs extends SparkListener {
  @volatile var on: Boolean = false

  final class Agg {
    var jobs, stages, tasks = 0L
    var taskMs, taskMaxMs, schedDelayMs, gcMs = 0L
    var shuffleRead, shuffleWrite, spill = 0L
    def toMap: Map[String, Any] = Map("jobs" -> jobs, "stages" -> stages,
      "tasks" -> tasks, "task_ms" -> taskMs, "task_max_ms" -> taskMaxMs,
      "sched_delay_ms" -> schedDelayMs, "gc_ms" -> gcMs,
      "shuffle_read_bytes" -> shuffleRead, "shuffle_write_bytes" -> shuffleWrite,
      "spill_bytes" -> spill)
  }

  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val groups = new ConcurrentHashMap[String, Agg]()
  private def agg(g: String): Agg = groups.computeIfAbsent(g, _ => new Agg)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (on) {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    e.stageIds.foreach(stageGroup.put(_, g))
    val a = agg(g)
    a.synchronized(a.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.get(e.stageInfo.stageId)
    if (g != null) { val a = agg(g); a.synchronized(a.stages += 1) }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    if (g != null && e.taskInfo != null) {
      val a = agg(g)
      val dur = e.taskInfo.duration
      val m = e.taskMetrics
      a.synchronized {
        a.tasks += 1
        a.taskMs += dur
        a.taskMaxMs = math.max(a.taskMaxMs, dur)
        if (m != null) {
          a.schedDelayMs += math.max(0L, dur - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime - e.taskInfo.gettingResultTime)
          a.gcMs += m.jvmGCTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
  }

  def byGroup(sc: SparkContext): Map[String, Map[String, Any]] = {
    org.apache.spark.perfbench.Bus.drain(sc)
    import scala.jdk.CollectionConverters._
    groups.asScala.map { case (g, a) => g -> a.synchronized(a.toMap) }.toMap
  }
}
