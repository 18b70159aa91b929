package org.apache.spark.sql.perfbench

import scala.collection.mutable

import org.apache.spark.Success
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
import org.apache.spark.sql.execution.joins._
import org.apache.spark.sql.execution.{FileSourceScanExec, FilterExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Exact counts read from an executed physical plan (the final AQE plan,
  * query stages and subqueries included; reused exchanges count once). */
object PlanCounts extends AdaptiveSparkPlanHelper {

  def of(plan: SparkPlan): Map[String, Double] = {
    val c = mutable.Map[String, Double]().withDefaultValue(0.0)
    def metric(p: SparkPlan, k: String): Double =
      p.metrics.get(k).map(_.value.toDouble).getOrElse(0.0)
    def isLshCandidateJoin(j: BaseJoinExec): Boolean =
      j.leftKeys.exists(_.references.exists(_.name == "bk"))
    collectWithSubqueries(plan) { case p => p }.foreach { p =>
      p match {
        case _: SortMergeJoinExec => c("smj") += 1
        case _: BroadcastHashJoinExec => c("bhj") += 1
        case _ =>
      }
      p match {
        case j: BaseJoinExec if isLshCandidateJoin(j) =>
          c("lsh_derivations") += 1
          c("lsh_candidates") += metric(p, "numOutputRows")
        case _: ShuffleExchangeExec => c("exchanges") += 1
        case _: BroadcastExchangeExec => c("broadcast_bytes") += metric(p, "dataSize")
        case _: FileSourceScanExec =>
          c("scan_rows") += metric(p, "numOutputRows")
          c("scan_bytes") += metric(p, "filesSize")
          c("scan_ms") += metric(p, "scanTime")
        case _ =>
      }
      // the exact-Jaccard verify: a filter, or a join condition once the
      // optimizer pushes the filter into the join that brings in both sets
      if ((p.isInstanceOf[FilterExec] || p.isInstanceOf[BaseJoinExec]) &&
          p.expressions.exists(_.exists(_.getClass.getSimpleName == "SortedJaccardExpr")))
        c("lsh_pairs") += metric(p, "numOutputRows")
      if (p.metrics.contains("numOutputBytes")) {
        c("writes") += 1
        c("write_bytes") += metric(p, "numOutputBytes")
      }
    }
    c.toMap
  }
}

/** The benchmark's SparkListener. It records every SQL execution as a
  * span (start, end, root execution, plan counts) and folds task metrics
  * into per-key counters, where a key is the SQL execution a job ran
  * under ("e<id>") or else the benchmark span that was open when the job
  * was submitted ("s<id>", the job group the benchmark sets per span). */
final class Probe extends SparkListener {
  import Probe._

  val execs = mutable.LinkedHashMap[Long, Exec]()
  val accs = mutable.LinkedHashMap[String, Acc]()
  private val stageKey = mutable.Map[Int, String]()
  private val stageSubmitted = mutable.Map[Int, Long]()
  private val scanStages = mutable.Set[Int]()

  override def onOtherEvent(event: SparkListenerEvent): Unit = event match {
    case e: SparkListenerSQLExecutionStart =>
      execs(e.executionId) = Exec(e.executionId, e.rootExecutionId.getOrElse(e.executionId),
        e.time, -1L, Map.empty)
    case e: SparkListenerSQLExecutionEnd =>
      execs.get(e.executionId).foreach { x =>
        x.end = e.time
        if (e.qe != null) x.counts = scala.util.Try(PlanCounts.of(e.qe.executedPlan)).getOrElse(Map.empty)
      }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).map("e" + _)
      .orElse(p.flatMap(x => Option(x.getProperty("spark.jobGroup.id"))).filter(_.startsWith("s")))
    key.foreach(k => e.stageIds.foreach(stageKey(_) = k))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    e.stageInfo.submissionTime.foreach(stageSubmitted(e.stageInfo.stageId) = _)
    if (e.stageInfo.rddInfos.exists(_.name.contains("FileScanRDD"))) scanStages += e.stageInfo.stageId
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stageKey.get(e.stageInfo.stageId).foreach(k => acc(k).stages += 1)

  private def acc(k: String) = accs.getOrElseUpdate(k, new Acc)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    stageKey.get(e.stageId).foreach { k =>
      val a = acc(k)
      a.tasks += 1
      if (e.reason != Success) a.failed += 1
      val info = e.taskInfo
      a.durations += info.duration.toDouble
      stageSubmitted.get(e.stageId).foreach(t => a.waitMs += math.max(0L, info.launchTime - t))
      Option(e.taskMetrics).foreach { m =>
        a.runMs += m.executorRunTime
        if (scanStages.contains(e.stageId)) a.scanStageRunMs += m.executorRunTime
        a.gcMs += m.jvmGCTime
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

  /** Blocks until the listener bus has delivered every posted event. */
  def drain(spark: SparkSession): Unit = spark.sparkContext.listenerBus.waitUntilEmpty()
}

object Probe {
  final case class Exec(id: Long, root: Long, start: Long, var end: Long,
                        var counts: Map[String, Double])

  final class Acc {
    var tasks, failed, stages = 0L
    var runMs, gcMs, waitMs, scanStageRunMs = 0.0
    var shuffleWrite, shuffleRead, spill = 0.0
    val durations = mutable.ArrayBuffer[Double]()
  }
}
