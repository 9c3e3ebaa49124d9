package org.apache.spark

import scala.jdk.CollectionConverters._

import org.apache.spark.status.TaskDataWrapper

/** The listener bus and the status store are private to Spark. The
  * benchmark waits for the bus to drain before it reads its own
  * listener's counters, and reads the status store that Spark's own
  * listener fills as the independent record those counters must match. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The highest job id and task id the status store holds (-1 if none). */
  def watermark(sc: SparkContext): (Int, Long) = {
    drain(sc)
    val jobs = sc.statusStore.jobsList(null).map(_.jobId)
    val tasks = sc.statusStore.store.view(classOf[TaskDataWrapper]).asScala.map(_.taskId.longValue)
    (if (jobs.isEmpty) -1 else jobs.max, if (tasks.isEmpty) -1L else tasks.max)
  }

  /** Jobs, stages and tasks after the watermark, and the summed metrics of
    * those tasks, as the status store recorded them. The store keeps a
    * failed task's metrics negated (-v - 1); they are restored here. */
  def totalsAfter(sc: SparkContext, mark: (Int, Long)): Map[String, Long] = {
    drain(sc)
    val jobs = sc.statusStore.jobsList(null).filter(_.jobId > mark._1)
    val tasks = sc.statusStore.store.view(classOf[TaskDataWrapper]).asScala
      .filter(_.taskId.longValue > mark._2).toVector
    def sum(f: TaskDataWrapper => Long): Long =
      tasks.filter(_.hasMetrics).map { t => val v = f(t); if (v < 0) -v - 1 else v }.sum
    Map(
      "jobs" -> jobs.size.toLong,
      "stages" -> jobs.map(j => (j.numCompletedStages + j.numFailedStages).toLong).sum,
      "tasks" -> tasks.size.toLong,
      "task_run_ms" -> sum(_.executorRunTime),
      "task_cpu_ns" -> sum(_.executorCpuTime),
      "shuffle_write_bytes" -> sum(_.shuffleBytesWritten),
      "shuffle_read_bytes" -> (sum(_.shuffleRemoteBytesRead) + sum(_.shuffleLocalBytesRead)),
      "spill_bytes" -> (sum(_.memoryBytesSpilled) + sum(_.diskBytesSpilled)),
      "records_read" -> sum(_.inputRecordsRead))
  }
}
