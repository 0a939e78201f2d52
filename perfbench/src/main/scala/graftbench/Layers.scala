package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

object Intervals {
  /** Length of the union of the intervals `xs`, clipped to the window `w`. */
  def covered(xs: Seq[(Double, Double)], w: (Double, Double)): Double = {
    val clipped = xs.map { case (a, b) => (math.max(a, w._1), math.min(b, w._2)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    for ((a, b) <- clipped) {
      if (curB.isNaN || a > curB) {
        if (!curB.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curB.isNaN) total += curB - curA
    total
  }
}

/** Task-metric sums for one job group. */
final class TaskAgg {
  var tasks = 0L; var failedTasks = 0L; var stages = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L; var fetchWaitMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L; var peakMem = 0L
  var inputBytes = 0L; var outBytes = 0L; var outRecords = 0L
}

final case class JobRec(id: Int, group: String, startMs: Long, var endMs: Long)

/** Benchmark-owned SparkListener: jobs by job group (the harness sets
  * `<query span id>/build` or `/execute` around each call), and task
  * metrics rolled up by the group that submitted the stage. Events
  * arrive on the async listener bus; readers call [[Layers.drainBus]]
  * first. */
final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  val byGroup = new ConcurrentHashMap[String, TaskAgg]()

  private def agg(g: String) = byGroup.computeIfAbsent(g, _ => new TaskAgg)

  override def onJobStart(js: SparkListenerJobStart): Unit = {
    val g = Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    jobs.put(js.jobId, JobRec(js.jobId, g, js.time, 0L))
    js.stageIds.foreach(stageGroup.put(_, g))
  }
  override def onJobEnd(je: SparkListenerJobEnd): Unit =
    Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
  override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
    Option(stageGroup.get(sc.stageInfo.stageId)).foreach { g =>
      val a = agg(g); a.synchronized { a.stages += 1 }
    }
  override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
    Option(stageGroup.get(te.stageId)).foreach { g =>
      val a = agg(g)
      val m = te.taskMetrics
      a.synchronized {
        a.tasks += 1
        if (te.taskInfo != null && te.taskInfo.failed) a.failedTasks += 1
        if (m != null) {
          a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
          a.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
          a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          a.peakMem = math.max(a.peakMem, m.peakExecutionMemory)
          a.inputBytes += m.inputMetrics.bytesRead
          a.outBytes += m.outputMetrics.bytesWritten
          a.outRecords += m.outputMetrics.recordsWritten
        }
      }
    }

  /** Remove and return the jobs and task sums of groups under `prefix`. */
  def take(prefix: String): (Seq[JobRec], Map[String, TaskAgg]) = {
    val js = jobs.values.asScala.filter(_.group.startsWith(prefix)).toSeq.sortBy(_.id)
    js.foreach(j => jobs.remove(j.id))
    val gs = byGroup.keySet.asScala.filter(_.startsWith(prefix)).toSeq
    val aggs = gs.map(g => g -> byGroup.remove(g)).toMap
    (js, aggs)
  }
}

/** Benchmark-owned QueryExecutionListener: every finished Dataset
  * action, so plan phases (`qe.tracker`) and the final adaptive plan of
  * each can be read after the query. */
final class PlanListener extends QueryExecutionListener {
  val done = new ConcurrentLinkedQueue[QueryExecution]()
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    done.add(qe); ()
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def drainAll(): Seq[QueryExecution] = Iterator.continually(done.poll()).takeWhile(_ != null).toSeq
}

/** Plan-shape and scan counts of one finished QueryExecution. */
final case class PlanStats(
    analyzeMs: Double, optimizeMs: Double, physicalMs: Double,
    phases: Seq[(String, Double, Double)],
    exchanges: Long, sorts: Long, broadcasts: Long, aqeStages: Long,
    scanBytes: Long, scanRows: Long, scanFiles: Long)

object Layers {

  /** Wait until every queued listener event has been delivered.
    * `LiveListenerBus` is private to Spark; reach it reflectively. */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty").invoke(bus); ()
  }

  /** Every node of the plan that ran: the final plan of each adaptive
    * node, descending into query stages, stopping at reused exchanges
    * (counted where they first ran), and including subqueries. */
  def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => s +: nodes(s.plan)
    case r: ReusedExchangeExec => Seq(r)
    case o => o +: (o.children ++ o.subqueries).flatMap(nodes)
  }

  def planStats(qe: QueryExecution): PlanStats = {
    val ph = qe.tracker.phases
    def ms(k: String) = ph.get(k).map(_.durationMs.toDouble).getOrElse(0.0)
    val ns = nodes(qe.executedPlan)
    def metric(n: SparkPlan, k: String) = n.metrics.get(k).map(_.value).getOrElse(0L)
    val scans = ns.filter(_.metrics.contains("filesSize"))
    PlanStats(
      ms("analysis"), ms("optimization"), ms("planning"),
      ph.toSeq.map { case (k, s) => (k, s.startTimeMs * 1000.0, s.endTimeMs * 1000.0) },
      ns.count(_.isInstanceOf[ShuffleExchangeLike]).toLong,
      ns.count(_.isInstanceOf[SortExec]).toLong,
      ns.count(_.isInstanceOf[BroadcastExchangeLike]).toLong,
      ns.count(_.isInstanceOf[QueryStageExec]).toLong,
      scans.map(metric(_, "filesSize")).sum,
      scans.map(metric(_, "numOutputRows")).sum,
      scans.map(metric(_, "numFiles")).sum)
  }

  /** Bytes held by persisted RDDs (pins and checkpoints), and how many. */
  def cached(spark: SparkSession): (Long, Int) = {
    val sc = spark.sparkContext
    val bytes = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum
    (bytes, sc.getPersistentRDDs.size)
  }
}

/** Layer values summed over one traced pass. */
final class LayerRecord {
  val v = mutable.LinkedHashMap[String, Double]().withDefaultValue(0.0)
  def add(k: String, x: Double): Unit = v(k) = v(k) + x
}
