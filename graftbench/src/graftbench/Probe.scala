package graftbench

import scala.collection.mutable
import org.apache.spark.GraftBenchBus
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftBenchSql, SparkSession}
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand

/** Spark-side counters of one op, attributed exactly: the traced run
  * drains the listener bus before an op starts and after it ends, so
  * every event in between belongs to that op.
  */
final case class SparkCounts(
    jobs: Long = 0, stages: Long = 0, tasks: Long = 0, oneTaskStages: Long = 0,
    executorRunMs: Long = 0, shuffleReadBytes: Long = 0, shuffleWriteBytes: Long = 0,
    inputBytes: Long = 0, spillBytes: Long = 0, planMs: Long = 0,
    taskIntervals: Seq[(Long, Long)] = Nil,
    eventsScans: Long = 0, eventsScanBytes: Long = 0,
    // (output dir name, command wall ns, bytes written, rows written)
    writes: Seq[(String, Long, Long, Long)] = Nil)

/** One registered SparkListener (jobs, stages, tasks, and every finished
  * SQL execution's plan). Only the traced run creates it; the untraced run
  * registers nothing.
  */
final class Probe(spark: SparkSession) extends SparkListener {
  private var c = SparkCounts()
  private val intervals = mutable.ArrayBuffer[(Long, Long)]()
  private val writes = mutable.ArrayBuffer[(String, Long, Long, Long)]()

  spark.sparkContext.addSparkListener(this)

  def drain(): Unit = GraftBenchBus.drain(spark.sparkContext)

  /** Counters since the previous take; resets them. Call after [[drain]]. */
  def take(): SparkCounts = synchronized {
    val out = c.copy(taskIntervals = intervals.toList, writes = writes.toList)
    c = SparkCounts(); intervals.clear(); writes.clear()
    out
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    c = c.copy(jobs = c.jobs + 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val one = if (e.stageInfo.numTasks == 1) 1 else 0
    c = c.copy(stages = c.stages + 1, oneTaskStages = c.oneTaskStages + one)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    intervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    val m = e.taskMetrics
    if (m == null) c = c.copy(tasks = c.tasks + 1)
    else c = c.copy(tasks = c.tasks + 1,
      executorRunMs = c.executorRunMs + m.executorRunTime,
      shuffleReadBytes = c.shuffleReadBytes + m.shuffleReadMetrics.totalBytesRead,
      shuffleWriteBytes = c.shuffleWriteBytes + m.shuffleWriteMetrics.bytesWritten,
      inputBytes = c.inputBytes + m.inputMetrics.bytesRead,
      spillBytes = c.spillBytes + m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit =
    GraftBenchSql.finished(e).foreach { case (qe, durationNs) => execution(qe, durationNs) }

  private def execution(qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val planMs = qe.tracker.phases.values.map(_.durationMs).sum
      var scans = 0L; var scanBytes = 0L
      Probe.nodes(qe.executedPlan).foreach {
        case s: FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.getName == "events.parquet") =>
          scans += 1
          scanBytes += s.metrics.get("filesSize").map(_.value).getOrElse(0L)
        case w: DataWritingCommandExec => w.cmd match {
          case i: InsertIntoHadoopFsRelationCommand =>
            def metric(k: String) = i.metrics.get(k).map(_.value).getOrElse(0L)
            writes += ((i.outputPath.getName, durationNs,
              metric("numOutputBytes"), metric("numOutputRows")))
          case _ => ()
        }
        case _ => ()
      }
      c = c.copy(planMs = c.planMs + planMs, eventsScans = c.eventsScans + scans,
        eventsScanBytes = c.eventsScanBytes + scanBytes)
    }
}

object Probe {
  /** Every physical node a query ran, through AQE stages, command
    * wrappers and subqueries; reused exchanges are not descended (their
    * scans ran once, under the original exchange).
    */
  def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids: Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ if p.nodeName == "ReusedExchange" => Nil
      case _ => p.children ++ p.innerChildren.collect { case sp: SparkPlan => sp }
    }
    p +: (kids ++ p.subqueries).flatMap(nodes)
  }

  def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
}
