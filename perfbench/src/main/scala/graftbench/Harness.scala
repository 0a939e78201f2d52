package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.{LinkedHashMap => JMap}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The benchmark harness: one JVM, one Spark session on `local[nproc]`,
  * one query at a time (a closed loop with one client).
  *
  * A run is: set-up (session, input tables, one untimed check pass that
  * compares every row's result fingerprint with the committed goldens),
  * then whole timed passes over the workload's rows, each in a
  * seed-permuted order, until `--seconds` have been measured (plus one
  * more when the host's steal time disturbed them all). Each
  * timed execution is build (`SparkEntry.queries(name)(spark, dir)`),
  * execute (a `noop` write) and drain (`Batching.releasePins()` plus
  * `clearCache()`), as in `graft.Bench`.
  *
  * With `--trace 1` the listeners are attached after the check pass and
  * the timed passes record spans and layer counts (see [[Tracer]]); the
  * tracing overhead is the traced run's `trace.workload_s` minus the
  * untraced run's `workload_s`.
  *
  * Modes: `run` (the benchmark), `goldens` (print the check-pass
  * fingerprints of every workload), `fingerprint` (fingerprint parquet
  * result directories, for the oracle cross-check) and `selftest`
  * (traced counts and scan bytes of fixed rows). Results are JSON files
  * named by `--out` and `--record`.
  */
object Harness {

  private val json = new ObjectMapper()

  final case class QRes(name: String, ok: Boolean, wall: Double, error: String)

  final class Opts(m: Map[String, String]) {
    def apply(k: String): String = m.getOrElse(k, sys.error(s"missing --$k"))
    def get(k: String, d: String): String = m.getOrElse(k, d)
  }

  def main(argv: Array[String]): Unit = {
    val o = new Opts(argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap)
    val h = new Harness(o)
    try o.get("mode", "run") match {
      case "run" => h.run()
      case "goldens" => h.goldens()
      case "fingerprint" => h.fingerprintDirs()
      case "selftest" => h.selftest()
      case other => sys.error(s"unknown mode $other")
    } finally h.stop()
  }

  def write(path: String, v: AnyRef): Unit =
    Files.writeString(Paths.get(path), json.writerWithDefaultPrettyPrinter().writeValueAsString(v) + "\n")

  def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (the "inclusive" method). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1); val lo = pos.toInt
      if (lo + 1 >= s.size) s.last else s(lo) + (pos - lo) * (s(lo + 1) - s(lo))
    }
  }

  /** Order-independent result fingerprint: row count plus the decimal
    * sum and the xor of a 64-bit hash over all columns of each row. */
  def fingerprint(df: DataFrame): (Long, String) = {
    val h = xxhash64(df.columns.map(c => col("`" + c.replace("`", "``") + "`")).toIndexedSeq: _*)
    val r = df.agg(count(lit(1)), sum(h.cast("decimal(38,0)")), bit_xor(h)).head()
    (r.getLong(0), s"${r.get(1)}:${r.get(2)}")
  }
}

final class Harness(o: Harness.Opts) {
  import Harness._

  private val launchMs = o.get("launch-ms", System.currentTimeMillis().toString).toDouble
  private val cpus = Runtime.getRuntime.availableProcessors
  private val work = Paths.get(o("work")).toAbsolutePath
  private val baseNano = System.nanoTime()
  private val baseEpochUs = System.currentTimeMillis() * 1000.0
  /** Microseconds on the epoch clock, at nanoTime resolution. */
  def nowUs(): Double = baseEpochUs + (System.nanoTime() - baseNano) / 1000.0

  Files.createDirectories(work)
  val spark: SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.local.dir", work.resolve("spark-local").toString)
    .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    .getOrCreate()
  spark.sparkContext.setLogLevel("WARN")
  private val sessionS = (System.currentTimeMillis() - launchMs) / 1000.0

  private val allQueries = graft.SparkEntry.queries ++ graft.SparkEntry.benchExtras
  private val processCpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def stop(): Unit = spark.stop()

  /** graft.Bench's shuffle-partition rule: one partition per ~128 MB of
    * on-disk input, floored at the thread count. */
  private def shufflePartitions(dir: Path): Int = {
    val s = Files.walk(dir)
    val bytes = try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum() finally s.close()
    math.max(cpus, ((bytes + (128L << 20) - 1) >> 27).toInt)
  }

  /** Make the workload's input tables under the run's work directory:
    * a copy of the committed tables, or `graft.ScaleUp` of them. */
  private def stage(w: Workload): Path = {
    val src = Paths.get(o("data")).toAbsolutePath
    val dst = work.resolve("input-" + w.name)
    if (w.scaleCopies > 1) graft.ScaleUp.run(spark, src.toString, dst.toString, w.scaleCopies, 32)
    else {
      Files.createDirectories(dst)
      Files.list(src).iterator.asScala.foreach(f =>
        Files.copy(f, dst.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    }
    spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions(dst).toString)
    dst
  }

  private def order(qs: Seq[String], seed: Long, pass: Int): Seq[String] =
    new Random(seed * 1000003L + pass).shuffle(qs)

  private def drain(): Unit = {
    graft.operators.Batching.releasePins()
    spark.catalog.clearCache()
  }

  private def errText(e: Throwable) =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString}"

  /** The untimed check pass: fingerprint each row, compare with goldens. */
  private def checkPass(w: Workload, dir: String, seed: Long,
                        goldens: Option[java.util.Map[String, Any]]): Seq[(QRes, Long, String)] =
    order(w.queries, seed, 0).map { name =>
      val t0 = nowUs()
      var rows = -1L; var hash = ""; var error = ""
      try {
        spark.sparkContext.setJobGroup(s"check/$name", name)
        val fp = fingerprint(allQueries(name)(spark, dir))
        rows = fp._1; hash = fp._2
        goldens.foreach { g =>
          val exp = g.get(name).asInstanceOf[java.util.Map[String, Any]]
          if (exp == null) error = s"no golden for $name"
          else if (exp.get("rows").toString.toLong != rows || exp.get("hash") != hash)
            error = s"fingerprint $rows/$hash != golden ${exp.get("rows")}/${exp.get("hash")}"
        }
      } catch { case e: Throwable => error = errText(e) }
      finally { spark.sparkContext.clearJobGroup(); drain() }
      if (error.nonEmpty) System.err.println(s"[perfbench] check $name FAILED: $error")
      (QRes(name, error.isEmpty, (nowUs() - t0) / 1e6, error), rows, hash)
    }

  /** One timed execution of `name`; the tracer, if any, sees its windows. */
  private def execute(name: String, dir: String, spanId: String, tracer: Option[Tracer]): QRes = {
    val sc = spark.sparkContext
    val t0 = nowUs()
    var t1 = Double.NaN
    var error = ""
    var analysis: Option[(Double, Double)] = None
    try {
      sc.setJobGroup(s"$spanId/build", name)
      val df = allQueries(name)(spark, dir)
      t1 = nowUs()
      // the returned frame was analysed eagerly while it was built
      if (tracer.isDefined) analysis = df.queryExecution.tracker.phases.get("analysis")
        .map(p => (p.startTimeMs * 1000.0, p.endTimeMs * 1000.0))
      sc.setJobGroup(s"$spanId/execute", name)
      df.write.format("noop").mode("overwrite").save()
    } catch { case e: Throwable => error = errText(e) }
    val t2 = nowUs()
    sc.clearJobGroup()
    val cachedBefore = tracer.map(_ => Layers.cached(spark))
    val t3 = nowUs()
    drain()
    val t4 = nowUs()
    if (t1.isNaN) t1 = t2
    tracer.foreach(_.query(spanId, (t0, t4), (t0, t1), (t1, t2), (t3, t4), cachedBefore.get, analysis))
    if (error.nonEmpty) System.err.println(s"[perfbench] $spanId FAILED: $error")
    QRes(name, error.isEmpty, (t4 - t0) / 1e6, error)
  }

  final case class Pass(index: Int, wall: Double, cpu: Double, steal: Double, qs: Seq[QRes]) {
    /** The hypervisor took more than 2 % of the machine's CPU time while
      * this pass ran: a neighbour, not the program, set its pace. */
    def disturbed: Boolean = steal > 0.02 * cpus * wall
  }

  private def timedPass(w: Workload, dir: String, seed: Long, pass: Int, tracer: Option[Tracer]): Pass = {
    val cpu0 = processCpu.getProcessCpuTime
    val steal0 = stealS()
    val t0 = nowUs()
    tracer.foreach(_.beginPass())
    val qs = order(w.queries, seed, pass).map(n => execute(n, dir, s"${w.name}/$pass/$n", tracer))
    val wall = (nowUs() - t0) / 1e6
    tracer.foreach(_.endPass(wall))
    Pass(pass, wall, (processCpu.getProcessCpuTime - cpu0) / 1e9, stealS() - steal0, qs)
  }

  /** graft.Bench's ambient calibration probe (context only, one run). */
  private def ambientProbe(): Double = {
    val t0 = System.nanoTime()
    spark.range(0L, 8L << 20, 1L, 32)
      .select((col("id") % 4096L).as("k"), md5(col("id").cast("string")).as("h"))
      .groupBy("k").agg(count(lit(1)).as("n"), min("h").as("mn"), max("h").as("mx"))
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(Double.NaN)

  /** Host CPU time stolen from this VM so far (all CPUs), in seconds at
    * the usual 100 ticks per second; 0 where /proc/stat has no steal. */
  private def stealS(): Double =
    scala.util.Try(scala.io.Source.fromFile("/proc/stat").getLines().next()
      .split("\\s+")(8).toDouble / 100.0).getOrElse(0.0)

  private def loadGoldens(w: Workload): java.util.Map[String, Any] = {
    val all = json.readValue(Paths.get(o("goldens")).toFile, classOf[java.util.Map[String, Any]])
    Option(all.get(w.name)).map(_.asInstanceOf[java.util.Map[String, Any]])
      .getOrElse(sys.error(s"no goldens for workload ${w.name}"))
  }

  def run(): Unit = {
    val w = Workloads.byName(o("workload"))
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val trace = o("trace") == "1"
    val goldens = loadGoldens(w)

    val d0 = nowUs()
    val input = stage(w)
    val datagenS = (nowUs() - d0) / 1e6
    val dir = input.toString
    val w0 = nowUs()
    val checks = checkPass(w, dir, seed, Some(goldens))
    val warmS = (nowUs() - w0) / 1e6
    val setupS = (System.currentTimeMillis() - launchMs) / 1000.0

    val passes = mutable.ArrayBuffer[Pass]()
    val m0 = nowUs()
    val tracer = if (trace) Some(new Tracer(spark)) else None
    def another(): Unit = passes += timedPass(w, dir, seed, passes.size + 1, tracer)
    while (passes.isEmpty || (nowUs() - m0) / 1e6 < seconds) another()
    // when the host disturbed every pass, measure once more; the metrics
    // come from the undisturbed passes, else from the least disturbed one
    if (passes.forall(_.disturbed)) another()
    val timed = passes.filterNot(_.disturbed).toSeq match {
      case Seq() => Seq(passes.minBy(p => p.steal / p.wall))
      case quiet => quiet
    }
    val rssMb = peakRssMb()
    // context only, and 3 s a run: taken in the traced run, where the
    // per-layer record that adjudicates ambient swings is written
    val probeS: Any = if (trace) ambientProbe() else null

    val execs = passes.flatMap(_.qs).toSeq
    val okWalls = timed.flatMap(_.qs).filter(_.ok).map(_.wall)
    val attempted = checks.size + execs.size
    val failed = checks.count(!_._1.ok) + execs.count(!_.ok)
    val workloadS = median(timed.map(_.wall))
    val nBeyondP90 = okWalls.count(_ > quantile(okWalls, 0.9))

    val endToEnd = Seq(
      ("workload_s", workloadS, "s"),
      // the geometric mean weighs every row's time alike, so the fixed
      // per-query floor shows; a median of 11 or 48 rows of clustered
      // sizes jumps between clusters from run to run
      ("query_gmean_s", math.exp(okWalls.map(math.log).sum / okWalls.size), "s"),
      ("cpu_s", median(timed.map(_.cpu)), "s"),
      ("peak_rss_mb", rssMb, "MB"),
      ("setup_s", setupS, "s"))
    val layers: Seq[(String, Double, String)] = tracer.map(_.metrics(timed.map(_.index), Map(
      "setup.session_s" -> sessionS, "setup.datagen_s" -> datagenS, "setup.warm_s" -> warmS,
      "trace.workload_s" -> workloadS))).getOrElse(Nil)
    val reported = if (trace) layers else endToEnd
    def metricMap(ms: Seq[(String, Double, String)]) =
      jmap(ms.map { case (k, v, u) => k -> jmap("value" -> v, "unit" -> u) }: _*)

    write(o("out"), jmap(
      "correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed, "metrics" -> metricMap(reported)))
    write(o("record"), jmap(
      "context" -> jmap(
        "commit" -> o.get("commit", "unknown"), "source_sha256" -> o.get("source-hash", "unknown"),
        "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
        "nproc" -> cpus, "heap_mb" -> (Runtime.getRuntime.maxMemory >> 20),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "sf" -> w.sfLabel, "data_dir" -> o("data"), "input_dir" -> dir,
        "ambient_probe_s" -> probeS, "host_steal_s_during_passes" -> passes.map(_.steal).sum,
        "spark" -> spark.version,
        "java" -> System.getProperty("java.version")),
      "result" -> jmap("correct" -> (failed == 0), "attempted" -> attempted, "failed" -> failed,
        "failed_frac" -> failed.toDouble / attempted),
      "end_to_end" -> metricMap(endToEnd),
      "samples" -> jmap(
        "passes" -> timed.size, "query_executions" -> okWalls.size,
        "query_p50_s" -> median(okWalls), "query_p90_s" -> quantile(okWalls, 0.9), "beyond_p90" -> nBeyondP90,
        "query_p90_supported" -> (nBeyondP90 >= 10)),
      "setup" -> jmap("session_s" -> sessionS, "datagen_s" -> datagenS, "warm_s" -> warmS),
      "per_layer" -> metricMap(layers),
      "check" -> checks.map { case (q, rows, hash) =>
        jmap("query" -> q.name, "ok" -> q.ok, "rows" -> rows, "hash" -> hash, "s" -> q.wall, "error" -> q.error)
      }.asJava,
      "passes" -> passes.map(p => jmap("pass" -> p.index, "wall_s" -> p.wall,
        "cpu_s" -> p.cpu, "host_steal_s" -> p.steal, "kept" -> timed.contains(p), "queries" -> jmap(p.qs.map(q => q.name -> q.wall): _*),
        "failed" -> p.qs.filterNot(_.ok).map(q => q.name + ": " + q.error).asJava)).asJava))
    tracer.foreach(t => write(o("spans"), t.spans.asJava))
  }

  /** Check-pass fingerprints of every workload, seed 0, for the goldens file. */
  def goldens(): Unit = {
    val out = jmap(Workloads.all.map { w =>
      val dir = stage(w).toString
      val res = checkPass(w, dir, 0L, None)
      res.find(!_._1.ok).foreach(r => sys.error(s"${r._1.name} failed: ${r._1.error}"))
      w.name -> jmap(res.sortBy(_._1.name).map { case (q, rows, hash) =>
        q.name -> jmap("rows" -> rows, "hash" -> hash) }: _*)
    }: _*)
    write(o("out"), out)
  }

  /** Fingerprints of parquet result directories `<dir>/<query>`, as
    * written by `graft.Verify`. */
  def fingerprintDirs(): Unit = {
    val dir = o("dir")
    val names = o("queries").split(",").toSeq
    write(o("out"), jmap(names.map { n =>
      val (rows, hash) = fingerprint(spark.read.parquet(s"$dir/$n"))
      n -> jmap("rows" -> rows, "hash" -> hash)
    }: _*))
  }

  /** Traced counts of fixed rows after a warm pass, plus the size and
    * row count of the one table `q_p1_project` scans in full. */
  def selftest(): Unit = {
    val w = Workloads.byName("ingest_sf0.01")
    val dir = stage(w).toString
    val names = o("queries").split(",").toSeq
    names.foreach(n => checkPass(w.copy(queries = Seq(n)), dir, 0L, None))
    val tracer = new Tracer(spark)
    val out = jmap(names.map { n =>
      tracer.beginPass()
      val r = execute(n, dir, s"selftest/1/$n", Some(tracer))
      n -> jmap(("ok" -> r.ok) +: tracer.lastQuery.toSeq: _*)
    }: _*)
    out.put("part.parquet", jmap(
      "file_bytes" -> Files.size(Paths.get(dir, "part.parquet")),
      "rows" -> spark.read.parquet(s"$dir/part.parquet").count()))
    write(o("out"), out)
  }
}
