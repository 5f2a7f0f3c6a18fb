package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Work counters of one measured body: the Spark jobs, stages and tasks it
  * caused, what those tasks did, and how many classes Spark's code
  * generator compiled meanwhile. The job, stage, task and compile counts
  * do not drift with the box's load; the task times do.
  */
final case class Counts(
    jobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskRunS: Double = 0,
    taskCpuS: Double = 0,
    shuffleReadBytes: Long = 0,
    shuffleWriteBytes: Long = 0,
    compiles: Long = 0) {

  override def toString: String =
    f"jobs=$jobs stages=$stages tasks=$tasks task_run=$taskRunS%.2f s " +
      f"task_cpu=$taskCpuS%.2f s shuffle_read=$shuffleReadBytes B " +
      f"shuffle_write=$shuffleWriteBytes B compiles=$compiles"
}

/** Job census: counts every job, completed stage and finished task the
  * SparkContext runs while attached. Events arrive on the listener bus's
  * one shared-queue thread, so that thread is the only writer.
  */
final class Census extends SparkListener {
  @volatile private var c = Counts()

  def counts: Counts = c

  override def onJobStart(e: SparkListenerJobStart): Unit = c = c.copy(jobs = c.jobs + 1)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c = c.copy(stages = c.stages + 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    c =
      if (m == null) c.copy(tasks = c.tasks + 1)
      else c.copy(
        tasks = c.tasks + 1,
        taskRunS = c.taskRunS + m.executorRunTime / 1e3,
        taskCpuS = c.taskCpuS + m.executorCpuTime / 1e9,
        shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
        shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten)
  }
}

object Census {

  /** Janino compilations so far in this JVM: one per generated class that
    * missed Spark's generated-class cache (`spark.sql.codegen.cache.maxEntries`).
    */
  private def compilations: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Run `body` and return its result with the counts of every job the
    * context ran meanwhile (jobs of other threads included), and the
    * classes compiled meanwhile anywhere in the JVM. The scheduler posts a
    * job's events before its action returns, so draining the bus makes the
    * counts complete when this returns.
    */
  def measure[T](spark: SparkSession)(body: => T): (T, Counts) = {
    val sc = spark.sparkContext
    val census = new Census
    val compiled0 = compilations
    sc.addSparkListener(census)
    try {
      val r = body
      org.apache.spark.graft.ListenerBus.drain(sc)
      (r, census.counts.copy(compiles = compilations - compiled0))
    } finally sc.removeSparkListener(census)
  }
}
