package graftbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** The traced run's recorder. Creating it registers the benchmark's
  * [[JobListener]] and [[PlanListener]]. For every timed execution the
  * harness hands over the windows it wrapped (query, build, execute,
  * drain); after draining the listener bus the tracer adds the job
  * spans (parented by job group) and the plan-phase spans (parented by
  * the window they started in), sums the layer counts, and works out
  * each layer's self time. Spans stay in memory until the run ends.
  */
final class Tracer(spark: SparkSession) {
  private val jobs = new JobListener
  private val plans = new PlanListener
  spark.sparkContext.addSparkListener(jobs)
  spark.listenerManager.register(plans)

  val spans = mutable.ArrayBuffer[java.util.Map[String, Any]]()
  private val passes = mutable.ArrayBuffer[LayerRecord]()
  private var pass: LayerRecord = _
  /** Layer values of the most recent execution. */
  var lastQuery: Map[String, Double] = Map.empty

  private def span(id: String, parent: String, name: String, w: (Double, Double)): Unit =
    spans += Harness.jmap("id" -> id, "parent" -> parent, "name" -> name,
      "start_us" -> w._1, "end_us" -> w._2)

  def beginPass(): Unit = { pass = new LayerRecord; passes += pass }

  /** `other_s`: pass wall time outside every query span (the listener
    * bus drains and this bookkeeping) plus the harness's own time
    * inside query spans. */
  def endPass(wall: Double): Unit =
    pass.add("self.other_s", wall - Seq("self.build_s", "self.plan_s", "self.jobs_s",
      "self.driver_s", "self.drain_s").map(pass.v).sum)

  def query(id: String, q: (Double, Double), b: (Double, Double), e: (Double, Double),
            d: (Double, Double), cachedBefore: (Long, Int),
            analysis: Option[(Double, Double)]): Unit = {
    Layers.drainBus(spark)
    val (js, aggs) = jobs.take(id + "/")
    val stats = plans.drainAll().flatMap(qe => scala.util.Try(Layers.planStats(qe)).toOption)
    val rddsAfter = spark.sparkContext.getPersistentRDDs.size

    span(id, "", "query", q)
    span(id + "/build", id, "build", b)
    span(id + "/execute", id, "execute", e)
    span(id + "/drain", id, "drain", d)
    def ival(j: JobRec) = (j.startMs * 1000.0, math.max(j.endMs, j.startMs) * 1000.0)
    val jobIv = js.map(ival)
    js.foreach(j => span(s"$id/job${j.id}", j.group, "job", ival(j)))
    val qePlanIv = stats.zipWithIndex.flatMap { case (st, i) => st.phases.map { case (k, a, z) =>
      val parent = if (a < b._2) id + "/build" else id + "/execute"
      span(s"$parent/qe$i/$k", parent, s"plan.$k", (a, z))
      (a, z)
    } }
    analysis.foreach(w => span(id + "/build/analysis", id + "/build", "plan.analysis", w))
    val planIv = qePlanIv ++ analysis
    val buildJobs = js.filter(_.group.endsWith("/build")).map(ival)
    val execJobs = js.filter(_.group.endsWith("/execute")).map(ival)
    val busy = jobIv ++ planIv
    def len(w: (Double, Double)) = (w._2 - w._1) / 1e6
    def cov(xs: Seq[(Double, Double)], w: (Double, Double)) = Intervals.covered(xs, w) / 1e6
    val t = aggs.values
    def tsum(f: TaskAgg => Long) = t.map(f).sum.toDouble

    val r = Map[String, Double](
      "build.s" -> len(b), "build.jobs" -> buildJobs.size, "build.job_s" -> cov(buildJobs, b),
      "plan.analyze_ms" -> (stats.map(_.analyzeMs).sum + analysis.map(w => (w._2 - w._1) / 1e3).getOrElse(0.0)),
      "plan.optimize_ms" -> stats.map(_.optimizeMs).sum,
      "plan.physical_ms" -> stats.map(_.physicalMs).sum,
      "plan.exchanges" -> stats.map(_.exchanges).sum, "plan.sorts" -> stats.map(_.sorts).sum,
      "plan.broadcasts" -> stats.map(_.broadcasts).sum, "plan.aqe_stages" -> stats.map(_.aqeStages).sum,
      "exec.s" -> len(e), "exec.jobs" -> execJobs.size, "exec.job_s" -> cov(execJobs, e),
      "exec.driver_gap_s" -> (len(e) - cov(execJobs, e)),
      "exec.stages" -> tsum(_.stages), "exec.tasks" -> tsum(_.tasks),
      "exec.task_run_s" -> tsum(_.runMs) / 1e3, "exec.task_cpu_s" -> tsum(_.cpuNs) / 1e9,
      "exec.gc_s" -> tsum(_.gcMs) / 1e3, "exec.shuffle_fetch_wait_s" -> tsum(_.fetchWaitMs) / 1e3,
      "exec.shuffle_read_bytes" -> tsum(_.shuffleRead), "exec.shuffle_write_bytes" -> tsum(_.shuffleWrite),
      "exec.spill_bytes" -> tsum(_.spill), "exec.failed_tasks" -> tsum(_.failedTasks),
      "tables.scan_bytes" -> stats.map(_.scanBytes).sum, "tables.scan_rows" -> stats.map(_.scanRows).sum,
      "tables.scan_files" -> stats.map(_.scanFiles).sum, "tables.task_input_bytes" -> tsum(_.inputBytes),
      "store.bytes_written" -> tsum(_.outBytes), "store.records_written" -> tsum(_.outRecords),
      "store.cached_bytes" -> cachedBefore._1, "drain.s" -> len(d),
      "drain.rdds_released" -> (cachedBefore._2 - rddsAfter),
      "self.jobs_s" -> cov(jobIv, q), "self.plan_s" -> (cov(busy, q) - cov(jobIv, q)),
      "self.build_s" -> (len(b) - cov(busy, b)), "self.driver_s" -> (len(e) - cov(busy, e)),
      "self.drain_s" -> (len(d) - cov(busy, d)))
    r.foreach { case (k, v) => pass.add(k, v) }
    val peak = t.map(_.peakMem).maxOption.getOrElse(0L).toDouble
    pass.v("exec.peak_task_mem_bytes") = math.max(pass.v("exec.peak_task_mem_bytes"), peak)
    lastQuery = r + ("exec.peak_task_mem_bytes" -> peak)
  }

  /** Per-pass layer values, averaged over the kept passes (1-based). */
  def metrics(kept: Seq[Int], extra: Map[String, Double]): Seq[(String, Double, String)] = {
    val ps = kept.map(i => passes(i - 1))
    val avg = ps.head.v.keys.toSeq.map(k => k -> ps.map(_.v(k)).sum / ps.size) ++ extra
    val self = avg.filter(_._1.startsWith("self.")).toMap
    val accounted = (self - "self.other_s").values.sum / self.values.sum
    (avg :+ ("trace.accounted_frac" -> accounted)).map { case (k, v) => (k, v, Tracer.unit(k)) }
  }
}

object Tracer {
  def unit(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s") || k.endsWith(".s")) "s"
    else if (k.contains("bytes")) "bytes"
    else if (k.endsWith("_frac")) "fraction"
    else "count"
}
