package graftbench

import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.node.ObjectNode
import graft.GraftSession
import graft.control.StatsServer
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

final case class Metric(name: String, value: Double, unit: String)

/** Run-wide settings: the checkout-local work directory, the workload
  * seed, the measured duration and whether this is the traced run.
  */
final case class RunContext(spark: SparkSession, workDir: Path, seed: Long,
    seconds: Double, traced: Boolean, spec: Spec, statsPort: Int) {
  def fresh(name: String): Path = {
    val p = workDir.resolve(name)
    Dirs.delete(p)
    Files.createDirectories(p)
  }
}

/** One workload: prepares its inputs (repeated for the set-up median),
  * warms up, measures, and reports what it saw. Output checks that fail
  * count into `failed` and are listed in `problems`.
  */
trait Workload {
  /** Generate inputs and start the servers the workload talks to. */
  def prepare(): Unit
  /** One untimed pass through the measured path (JIT, first-use costs). */
  def warmUp(): Unit
  def measure(): Unit
  /** The stats-server path polled while measuring. */
  def statsPath: String
  def attempted: Long
  def failed: Long
  def problems: Seq[String]
  /** (throughput per s, latency samples in ms) behind the contract metrics. */
  def throughput: Double
  def latenciesMs: Seq[Double]
  /** The workload's own end-to-end figures, under their workload names. */
  def report: Seq[Metric]
  /** Per-layer figures of the traced run (missing names report 0). */
  def perLayer: Map[String, Double]
  def close(): Unit
}

object Dirs {
  def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}

/** `graftbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --spec <spec.json> --benchmark <BENCHMARK.json>`: runs one
  * workload and prints, as its last stdout line,
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..}}` — the
  * end-to-end metrics untraced, the per-layer metrics traced, with the
  * names and units BENCHMARK.json declares. The line before it is the full
  * report (workload-named metrics, checks, spans file).
  */
object Main {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a.getOrElse("workload", usage("--workload"))
    val seed = a.getOrElse("seed", usage("--seed")).toLong
    val seconds = a.getOrElse("seconds", usage("--seconds")).toDouble
    val traced = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a.getOrElse("work", usage("--work"))).toAbsolutePath
    val spec = Spec.load(Paths.get(a.getOrElse("spec", usage("--spec"))))
    val declared = Json.parse(Files.readString(Paths.get(a.getOrElse("benchmark", usage("--benchmark")))))
    require(spec.workloads.contains(workload),
      s"unknown workload '$workload' (known: ${spec.workloads.mkString(", ")})")
    val code = run(workload, seed, seconds, traced, work, spec, declared)
    System.out.flush()
    sys.exit(code)
  }

  private def usage(flag: String): Nothing = {
    System.err.println(s"missing $flag; usage: --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir> --spec <file> --benchmark <file>")
    sys.exit(2)
  }

  /** (name, unit) of each metric BENCHMARK.json declares under `key`. */
  private def metricsOf(declared: JsonNode, key: String): Seq[(String, String)] =
    declared.get(key).elements().asScala.map(m => m.get("name").asText() -> m.get("unit").asText()).toSeq

  def run(workload: String, seed: Long, seconds: Double, traced: Boolean,
      work: Path, spec: Spec, declared: JsonNode): Int = {
    JvmMetrics.install()
    val cores = math.min(spec.maxCores, Runtime.getRuntime.availableProcessors())
    val spark = GraftSession.create(master = s"local[$cores]")
    spark.sparkContext.setLogLevel("ERROR")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0

    val stats = new StatsServer(0)
    val ctx = RunContext(spark, work, seed, seconds, traced, spec, stats.start())
    val jobs = new JobCollector
    spark.sparkContext.addSparkListener(jobs)
    val w: Workload = workload match {
      case "snapshot-archive" => new SnapshotArchive(ctx, jobs)
      case "cdc-bulk" => new CdcWorkload(ctx, bulk = true)
      case "cdc-trickle" => new CdcWorkload(ctx, bulk = false)
      case "analytics-mix" => new AnalyticsMix(ctx, jobs)
    }
    try {
      val prepS = (1 to spec.setupRepeats).map { _ =>
        val t0 = System.nanoTime(); w.prepare(); (System.nanoTime() - t0) / 1e9
      }
      val t0 = System.nanoTime()
      w.warmUp()
      val warmS = (System.nanoTime() - t0) / 1e9
      val setupS = sessionS + Stats.median(prepS) + warmS

      val poller = new StatsPoller(ctx.statsPort, w.statsPath, spec.statsIntervalMs)
      val gc0 = JvmMetrics.gcMs
      val cpu0 = JvmMetrics.cpuNs
      JvmMetrics.resetHeapPeak()
      val wall0 = System.nanoTime()
      poller.start()
      try w.measure() finally poller.stop()
      val wallS = (System.nanoTime() - wall0) / 1e9
      val spansFile = work.resolve("trace").resolve(s"$workload-seed$seed.spans.jsonl")
      val selfTimes: Map[String, Double] =
        if (!traced) Map.empty
        else {
          val spans = Trace.all
          Trace.write(spansFile, spans, wall0)
          Trace.selfTimeByLayer(spans).map { case (l, ns) => s"$l.self_ms" -> ns / 1e6 }
        }
      val jvm = selfTimes ++ Map(
        "jvm.gc_ms" -> (JvmMetrics.gcMs - gc0).toDouble,
        "jvm.cpu_ms" -> (JvmMetrics.cpuNs - cpu0) / 1e6,
        "jvm.heap_after_gc_peak_mb" -> JvmMetrics.heapAfterGcPeakMb)

      val statsMs = poller.latenciesMs
      val statsFailed = poller.errors
      val lat = w.latenciesMs
      val (tailLabel, tail) = Stats.supportedTail(lat)
      val (statsTailLabel, statsTail) = Stats.supportedTail(statsMs)
      val attempted = w.attempted + poller.requests
      val failed = w.failed + statsFailed
      val problems = w.problems ++
        (if (statsFailed > 0) Seq(s"$statsFailed stats calls did not return 200") else Nil) ++
        (if (poller.requests == 0) Seq("no stats call completed") else Nil)
      val correct = problems.isEmpty && failed == 0

      val e2eValues = Map("setup_s" -> setupS, "throughput_per_s" -> w.throughput,
        "latency_p50_ms" -> Stats.median(lat), "latency_tail_ms" -> tail,
        "stats_p50_ms" -> Stats.median(statsMs))
      val e2e = metricsOf(declared, "end_to_end").map { case (n, u) =>
        Metric(n, e2eValues.getOrElse(n, throw new IllegalArgumentException(
          s"BENCHMARK.json declares end-to-end metric $n, which the harness does not measure")), u)
      }
      val layerValues = w.perLayer ++ jvm ++ Map(
        "control.stats_requests" -> poller.requests.toDouble,
        "control.stats_errors" -> statsFailed.toDouble,
        "control.stats_p99_ms" -> Stats.percentile(statsMs, 0.99))
      val layer = metricsOf(declared, "per_layer").map { case (n, u) =>
        val v = layerValues.getOrElse(n, 0.0)
        Metric(n, if (v.isNaN) 0.0 else v, u)
      }
      val reportMetrics = w.report ++ Seq(
        Metric("setup_session_s", sessionS, "s"),
        Metric("setup_inputs_s", Stats.median(prepS), "s"),
        Metric("setup_warmup_s", warmS, "s"),
        Metric("measured_s", wallS, "s"),
        Metric(s"latency_${tailLabel}_ms", tail, "ms"),
        Metric("stats_p50_ms", Stats.median(statsMs), "ms"),
        Metric(s"stats_${statsTailLabel}_ms", statsTail, "ms"),
        Metric("failed_ratio", if (attempted == 0) 1.0 else failed.toDouble / attempted, "ratio"))
      val report = Json.obj().put("report", workload).put("seed", seed).put("traced", traced)
        .put("latency_samples", lat.size).put("stats_samples", statsMs.size)
        .put("spans", if (traced) spansFile.toString else null)
      report.set[JsonNode]("metrics", metricsJson(reportMetrics))
      val problemsJson = report.putArray("problems")
      problems.take(20).foreach(p => problemsJson.add(p))
      println(Json.write(report))
      val result = Json.obj().put("correct", correct).put("attempted", math.max(1L, attempted))
        .put("failed", if (attempted == 0) 1L else failed)
      result.set[JsonNode]("metrics", metricsJson(if (traced) layer else e2e))
      println(Json.write(result))
      if (correct) 0 else 1
    } finally {
      try w.close() finally {
        stats.stop()
        spark.stop()
      }
    }
  }

  private def metricsJson(ms: Seq[Metric]): ObjectNode = {
    val o = Json.obj()
    ms.foreach(m => Json.putNum(o.putObject(m.name), "value", m.value).put("unit", m.unit))
    o
  }
}
