package ingestbench

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.scheduler._
import scala.jdk.CollectionConverters._

/** SparkListener collector for the `spark.*` counters. Events carry
  * their own wall-clock times, so a window can be cut out afterwards.
  */
final class Counters extends SparkListener {
  final case class Task(finishMs: Long, runMs: Long, gcMs: Long,
      shuffleWrite: Long, shuffleRead: Long, stage: (Int, Int))

  private val tasks = new ConcurrentLinkedQueue[Task]
  private val jobs = new ConcurrentLinkedQueue[java.lang.Long]
  private val stages = new ConcurrentLinkedQueue[java.lang.Long]

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, m.executorRunTime, m.jvmGCTime,
      m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      (e.stageId, e.stageAttemptId)))
  }
  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    e.stageInfo.completionTime.foreach(t => stages.add(t))

  def clear(): Unit = { tasks.clear(); jobs.clear(); stages.clear() }

  /** Per-batch counters over wall-clock window [fromMs, toMs). */
  def window(fromMs: Long, toMs: Long, batches: Int, cores: Int): Map[String, Double] = {
    def in(t: Long) = t >= fromMs && t < toMs
    val ts = tasks.asScala.filter(t => in(t.finishMs)).toSeq
    val b = math.max(batches, 1).toDouble
    val shares = ts.groupBy(_.stage).values.map(_.map(_.runMs)).filter(_.sum > 0)
      .map(rs => rs.max.toDouble / rs.sum)
    Map(
      "spark.core_busy_frac" -> ts.map(_.runMs).sum.toDouble / ((toMs - fromMs) * cores),
      "spark.tasks_per_batch" -> ts.size / b,
      "spark.max_task_share" -> (if (shares.isEmpty) 1.0 else shares.sum / shares.size),
      "spark.jobs_per_batch" -> jobs.asScala.count(t => in(t)) / b,
      "spark.stages_per_batch" -> stages.asScala.count(t => in(t)) / b,
      "spark.gc_ms_per_batch" -> ts.map(_.gcMs).sum / b,
      "spark.shuffle_write_bytes_per_batch" -> ts.map(_.shuffleWrite).sum / b,
      "spark.shuffle_read_bytes_per_batch" -> ts.map(_.shuffleRead).sum / b,
      "spark.batches" -> batches.toDouble)
  }
}
