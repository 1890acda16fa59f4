package org.apache.spark.sql.erbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{CommandResultExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

import erbench.{ExecRec, TaskRec}

/** The benchmark's listener: keeps every task, job start and finished SQL
  * execution in memory, timestamped, for erbench.Trace.aggregate to charge to
  * spans once the run is over.
  *
  * It lives under org.apache.spark.sql because the SQL-execution end event
  * carries its QueryExecution only to code in that package (the same hand-off
  * Spark's own QueryExecutionListener bus uses). Reading the executed plan
  * here, on the listener bus that also delivers the execution's start time
  * and its tasks, keeps plan counters and task counters in one ordered
  * stream instead of two. */
final class BenchListener extends SparkListener {
  private val taskQ = new ConcurrentLinkedQueue[TaskRec]()
  private val jobQ = new ConcurrentLinkedQueue[java.lang.Long]()
  private val execQ = new ConcurrentLinkedQueue[ExecRec]()
  private val execStart = new ConcurrentHashMap[Long, Long]()

  def tasks: Seq[TaskRec] = taskQ.asScala.toSeq
  def jobStartsMs: Seq[Long] = jobQ.asScala.map(_.longValue).toSeq
  def execs: Seq[ExecRec] = execQ.asScala.toSeq

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskQ.add(TaskRec(e.taskInfo.launchTime, e.taskInfo.finishTime,
      m.executorRunTime, m.inputMetrics.bytesRead,
      m.shuffleWriteMetrics.bytesWritten, m.diskBytesSpilled,
      m.outputMetrics.bytesWritten))
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobQ.add(e.time)

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execStart.put(s.executionId, s.time)
    case end: SparkListenerSQLExecutionEnd if end.qe != null =>
      val start = Option(execStart.remove(end.executionId)).getOrElse(end.time)
      execQ.add(BenchListener.planStats(start, end.qe.executedPlan))
    case _ =>
  }
}

object BenchListener extends AdaptiveSparkPlanHelper {

  /** Counters of one executed plan, descending into adaptive query stages
    * and into the physical plan of an eagerly run command. */
  def planStats(startMs: Long, plan: SparkPlan): ExecRec = {
    val nodes = collectWithSubqueries(plan) { case p => p }.flatMap {
      case c: CommandResultExec => c +: collectWithSubqueries(c.commandPhysicalPlan) { case p => p }
      case p => Seq(p)
    }
    def metric(p: SparkPlan, name: String) = p.metrics.get(name).map(_.value).getOrElse(0L)
    ExecRec(startMs,
      rowsOut = nodes.collect { case w: DataWritingCommandExec => metric(w, "numOutputRows") }.sum,
      bhj = nodes.count(_.isInstanceOf[BroadcastHashJoinExec]),
      smj = nodes.count(_.isInstanceOf[SortMergeJoinExec]),
      broadcastBytes = nodes.collect { case b: BroadcastExchangeExec => metric(b, "dataSize") }.sum)
  }

  /** Register a fresh listener on the session's context. */
  def install(spark: SparkSession): BenchListener = {
    val l = new BenchListener
    spark.sparkContext.addSparkListener(l)
    l
  }

  /** Block until every event posted so far has reached the listeners. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}
