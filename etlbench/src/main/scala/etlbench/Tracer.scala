package etlbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Engine counters of one benchmark span: every Spark job, stage, task and
  * file write that ran between the span's start and end. The benchmark is
  * sequential, so everything the engine reports inside that window belongs
  * to the span.
  */
final case class Span(
    wallS: Double,
    jobs: Int,
    stages: Int,
    tasks: Int,
    taskCpuS: Double,
    taskRunS: Double,
    gcS: Double,
    shuffleReadBytes: Long,
    shuffleWriteBytes: Long,
    spillBytes: Long,
    inputBytes: Long,
    outputBytes: Long,
    jobCoveredS: Double,
    moduleS: Map[String, Double],
    writes: Seq[Tracer.Write]) {
  /** Span wall not covered by any job: work on the Spark driver between jobs. */
  def driverGapS: Double = math.max(0.0, wallS - jobCoveredS)

  /** Two spans' counters added, as if one span had run both. */
  def +(b: Span): Span =
    Span(wallS + b.wallS, jobs + b.jobs, stages + b.stages, tasks + b.tasks,
      taskCpuS + b.taskCpuS, taskRunS + b.taskRunS, gcS + b.gcS,
      shuffleReadBytes + b.shuffleReadBytes, shuffleWriteBytes + b.shuffleWriteBytes,
      spillBytes + b.spillBytes, inputBytes + b.inputBytes, outputBytes + b.outputBytes,
      jobCoveredS + b.jobCoveredS,
      (moduleS.keySet ++ b.moduleS.keySet)
        .map(k => k -> (moduleS.getOrElse(k, 0.0) + b.moduleS.getOrElse(k, 0.0))).toMap,
      writes ++ b.writes)
}

object Tracer {
  /** One file-sink write: its output path and the rows it wrote. */
  final case class Write(path: String, rows: Long)

  private val EngineFrame = """(?m)^graft\.[\w.$]+\((\w+)\.scala:\d+\)""".r.unanchored

  /** Engine source file that started a SQL execution: the innermost
    * `graft.*` frame of its call stack ("...(Pipeline.scala:612)" →
    * "Pipeline"), or "other" when the engine is not on the stack.
    */
  def module(callStack: String): String = callStack match {
    case EngineFrame(f) => f
    case _ => "other"
  }
}

/** SparkListener + QueryExecutionListener that attributes engine counters
  * to benchmark spans. Registered only in traced runs.
  */
final class Tracer(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  import Tracer._

  private final class Acc {
    var jobs, stages, tasks = 0
    var cpuNs, runMs, gcMs, shRead, shWrite, spill, in, out = 0L
    val jobStart = mutable.Map.empty[Int, (Long, String)]
    val execModule = mutable.Map.empty[Long, String]
    val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
    val moduleMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
    val writes = mutable.ArrayBuffer.empty[Write]
  }
  private var acc = new Acc

  def install(): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(this)
  }

  def uninstall(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(this)
  }

  /** Runs `body` as one span; returns its result and the span's counters. */
  def span[A](body: => A): (A, Span) = {
    drain()
    synchronized { acc = new Acc }
    val t0 = System.currentTimeMillis()
    val n0 = System.nanoTime()
    val out = body
    val wallS = (System.nanoTime() - n0) / 1e9
    val t1 = System.currentTimeMillis()
    drain()
    val a = synchronized { val a = acc; acc = new Acc; a }
    (out, Span(wallS, a.jobs, a.stages, a.tasks, a.cpuNs / 1e9, a.runMs / 1e3, a.gcMs / 1e3,
      a.shRead, a.shWrite, a.spill, a.in, a.out, covered(a.intervals.toSeq, t0, t1) / 1e3,
      a.moduleMs.map { case (k, v) => k -> v / 1e3 }.toMap, a.writes.toSeq))
  }

  /** Waits until the listener bus has delivered every event posted so far. */
  private def drain(): Unit = org.apache.spark.EtlbenchBus.drain(spark.sparkContext)

  /** Length of the union of `[start, end]` intervals clipped to `[t0, t1]`. */
  private def covered(iv: Seq[(Long, Long)], t0: Long, t1: Long): Long = {
    var total = 0L
    var reach = t0
    for ((s0, e0) <- iv.sortBy(_._1)) {
      val s = math.max(s0, reach)
      val e = math.min(e0, t1)
      if (e > s) { total += e - s; reach = e }
    }
    total
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      synchronized { acc.execModule(s.executionId) = module(s.details) }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    acc.jobs += 1
    val exec = Option(e.properties).flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    val mod = exec.flatMap(id => acc.execModule.get(id.toLong)).getOrElse("other")
    acc.jobStart(e.jobId) = (e.time, mod)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    acc.jobStart.remove(e.jobId).foreach { case (start, mod) =>
      acc.intervals += ((start, e.time))
      acc.moduleMs(mod) += e.time - start
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized { acc.stages += 1 }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    acc.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      acc.cpuNs += m.executorCpuTime
      acc.runMs += m.executorRunTime
      acc.gcMs += m.jvmGCTime
      acc.shRead += m.shuffleReadMetrics.totalBytesRead
      acc.shWrite += m.shuffleWriteMetrics.bytesWritten
      acc.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      acc.in += m.inputMetrics.bytesRead
      acc.out += m.outputMetrics.bytesWritten
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    writeNode(qe.executedPlan).foreach { w =>
      val rows = w.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      synchronized { acc.writes += Write(outputPath(w).getOrElse(""), rows) }
    }

  private def writeNode(p: SparkPlan): Option[DataWritingCommandExec] = p match {
    case w: DataWritingCommandExec => Some(w)
    case c: CommandResultExec => writeNode(c.commandPhysicalPlan)
    case a: AdaptiveSparkPlanExec => writeNode(a.executedPlan)
    case q: QueryStageExec => writeNode(q.plan)
    case other => other.children.iterator.map(writeNode).collectFirst { case Some(w) => w }
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  private def outputPath(w: DataWritingCommandExec): Option[String] = w.cmd match {
    case c: org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand =>
      Some(c.outputPath.toString)
    case _ => None
  }
}
