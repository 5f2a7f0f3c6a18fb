package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.perfbench.ListenerBusSync
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.collection.mutable

/** Work counters of one traced scope: the Spark jobs, stages and tasks its
  * public call caused, and what those tasks did.
  */
final case class Counters(
    jobs: Long = 0,
    aqeJobs: Long = 0,
    stages: Long = 0,
    tasks: Long = 0,
    taskRunS: Double = 0,
    taskCpuS: Double = 0,
    shuffleWriteBytes: Long = 0,
    spillBytes: Long = 0,
    inputBytes: Long = 0,
    inputRecords: Long = 0,
    jsonInputBytes: Long = 0,
    outputBytes: Long = 0,
    jobsByModule: Map[String, Long] = Map.empty) {

  def +(o: Counters): Counters = Counters(
    jobs + o.jobs, aqeJobs + o.aqeJobs, stages + o.stages, tasks + o.tasks,
    taskRunS + o.taskRunS, taskCpuS + o.taskCpuS,
    shuffleWriteBytes + o.shuffleWriteBytes,
    spillBytes + o.spillBytes, inputBytes + o.inputBytes, inputRecords + o.inputRecords,
    jsonInputBytes + o.jsonInputBytes, outputBytes + o.outputBytes,
    (jobsByModule.keySet ++ o.jobsByModule.keySet).map { k =>
      k -> (jobsByModule.getOrElse(k, 0L) + o.jobsByModule.getOrElse(k, 0L))
    }.toMap)
}

/** The traced run's listener. The benchmark tags each public engine call
  * with a scope (a local property, so every job the call submits carries
  * it); this listener attributes jobs, stages and task metrics to scopes.
  *
  * Jobs that AQE submits for its query stages run on a pool thread and
  * report `CompletableFuture.java` as call site; they are attributed
  * through `spark.sql.execution.id` to their SQL execution, whose other
  * jobs carry the scope, and counted as AQE jobs. Each job is also
  * attributed to the source file whose action triggered it: the result
  * stage's call site, or for AQE jobs the SQL execution's call site.
  */
final class Trace(sc: SparkContext) extends SparkListener {
  import Trace._

  private final class StageAcc {
    var tasks = 0L
    var runMs = 0L
    var cpuNs = 0L
    var shW = 0L
    var spill = 0L
    var inB = 0L
    var inR = 0L
    var outB = 0L
  }

  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageAcc = mutable.LinkedHashMap.empty[Int, StageAcc]
  private val jsonStages = mutable.HashSet.empty[Int]
  private val execFile = mutable.HashMap.empty[Long, String]

  sc.addSparkListener(this)

  def stop(): Unit = sc.removeSparkListener(this)

  /** Run `body` with every job it submits tagged `scope`. */
  def scoped[T](scope: String)(body: => T): T = {
    sc.setLocalProperty(ScopeKey, scope)
    try body
    finally sc.setLocalProperty(ScopeKey, null)
  }

  /** Counters of every scope named `scope` so far; they are then dropped. */
  def take(scope: String): Counters = {
    ListenerBusSync.drain(sc)
    synchronized {
      val execScope = jobs.values.collect { case Job(Some(s), Some(e), _, _) => e -> s }.toMap
      def scopeOf(j: Job) = j.scope.orElse(j.exec.flatMap(execScope.get))
      val mine = jobs.filter { case (_, j) => scopeOf(j).contains(scope) }
      val myStages = stageJob.collect { case (st, jb) if mine.contains(jb) => st }.toSet
      var c = Counters(
        jobs = mine.size,
        aqeJobs = mine.values.count(_.aqe),
        jobsByModule = mine.values
          .map(j => if (j.aqe) j.exec.flatMap(execFile.get).getOrElse("unknown") else j.file)
          .groupBy(identity).map { case (f, fs) => f -> fs.size.toLong })
      for (st <- myStages; a <- stageAcc.get(st)) {
        c = c + Counters(
          stages = 1, tasks = a.tasks, taskRunS = a.runMs / 1e3, taskCpuS = a.cpuNs / 1e9,
          shuffleWriteBytes = a.shW, spillBytes = a.spill,
          inputBytes = a.inB, inputRecords = a.inR,
          jsonInputBytes = if (jsonStages(st)) a.inB else 0L, outputBytes = a.outB)
      }
      jobs --= mine.keys
      stageAcc --= myStages
      stageJob --= myStages
      jsonStages --= myStages
      c
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    val file = fileOf(site)
    jobs(e.jobId) = Job(
      props.flatMap(p => Option(p.getProperty(ScopeKey))),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id"))).map(_.toLong),
      file,
      file == AqeCallSite)
    e.stageIds.foreach(st => if (!stageJob.contains(st)) stageJob(st) = e.jobId)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val info = e.stageInfo
    stageAcc.getOrElseUpdate(info.stageId, new StageAcc)
    val scansJson = info.rddInfos.exists { r =>
      r.scope.exists(_.name.toLowerCase.contains("json")) || r.name.toLowerCase.contains("json")
    }
    if (scansJson) jsonStages += info.stageId
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
    a.tasks += 1
    if (m != null) {
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shW += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.inB += m.inputMetrics.bytesRead
      a.inR += m.inputMetrics.recordsRead
      a.outB += m.outputMetrics.bytesWritten
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { execFile(s.executionId) = fileOf(s.description) }
    case _ =>
  }
}

object Trace {
  private final case class Job(scope: Option[String], exec: Option[Long], file: String, aqe: Boolean)

  val ScopeKey = "perfbench.scope"
  val AqeCallSite = "CompletableFuture.java"
  private val SiteFile = """.* at ([^:\s]+):\d+.*""".r

  /** "count at Graph.scala:123" → "Graph.scala". */
  def fileOf(callSite: String): String = callSite match {
    case SiteFile(f) => f
    case _ => "unknown"
  }
}
