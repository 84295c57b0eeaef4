package graftbench

import graft.SparkEntry

import java.nio.file.{Files, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A fixed, named list of `SparkEntry.queries` over generated tables:
  * scheduler-floor queries, top-k / rank-window, iterative graph and
  * n-gram / text queries. Warm-up runs the whole list once (JIT and
  * first-use costs); then `analytics_mix.passes` passes run it again, each
  * in a seed-shuffled order, and each query's figure is the median of its
  * executions. Every result's digest must equal the one recorded in the
  * expected-digests file.
  *
  * The traced run executes exactly what the untraced run does: the job
  * listener is attached in both, and the per-query spans and job totals
  * are built afterwards from its events.
  */
final class AnalyticsMix(ctx: RunContext, jobs: JobCollector) extends Workload {
  private val spec = ctx.spec
  private val spark = ctx.spark
  private val queries = spec.queries
  private val dataDir = ctx.workDir.resolve("analytics-data").toString
  private val expectedFile = Paths.get(spec.string("analytics_mix.expected_digests"))
  private val expected: Map[String, String] =
    if (!Files.exists(expectedFile)) Map.empty
    else Json.parse(Files.readString(expectedFile)).properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
  private val recorded = mutable.LinkedHashMap.empty[String, String]

  /** (pass, query, job group, start ns, end ns) of every timed execution. */
  private val runs = mutable.ArrayBuffer.empty[(Int, String, String, Long, Long)]
  private var attemptedN = 0L
  private var failedN = 0L
  private val problemList = mutable.ArrayBuffer.empty[String]
  private val layer = mutable.Map.empty[String, Double]

  override def statsPath: String = "/api/v1/replicators"

  override def prepare(): Unit = {
    ctx.fresh("analytics-data")
    TableGen.write(spark, dataDir, spec.double("analytics_mix.scale"), spec.long("analytics_mix.data_seed"))
  }

  override def warmUp(): Unit = pass(0, queries.map(_.name), timed = false)

  /** `passes` passes over the list; a pass is the unit `analytics_mix_s`
    * reports, so the pass count, not the run length, bounds the
    * measurement.
    */
  override def measure(): Unit = {
    val rnd = new scala.util.Random(ctx.seed)
    (1 to spec.int("analytics_mix.passes")).foreach(p => pass(p, rnd.shuffle(queries.map(_.name)), timed = true))
    if (ctx.traced) traceLayers()
  }

  private def pass(p: Int, order: Seq[String], timed: Boolean): Unit =
    order.foreach { q =>
      val group = s"analytics-$p-$q"
      attemptedN += 1
      spark.sparkContext.setJobGroup(group, q)
      val t0 = System.nanoTime()
      val result =
        try Right(SparkEntry.queries(q)(spark, dataDir).collect())
        catch { case e: Throwable => Left(e) }
      val t1 = System.nanoTime()
      spark.sparkContext.clearJobGroup()
      result match {
        case Left(e) =>
          failedN += 1
          problem(s"$q threw ${e.getClass.getSimpleName}: ${e.getMessage}")
        case Right(rows) =>
          if (timed) runs += ((p, q, group, t0, t1))
          val d = Digest.ofRows(rows).render
          recorded(q) = d
          expected.get(q) match {
            case Some(e) if e == d =>
            case Some(e) => failedN += 1; problem(s"$q result digest $d != expected $e")
            case None => failedN += 1; problem(s"$q has no expected digest in $expectedFile")
          }
      }
    }

  private def problem(s: String): Unit = if (problemList.size < 50) problemList += s

  /** Median seconds per query over its executions. */
  private def perQuery: Map[String, Double] =
    runs.groupBy(_._2).map { case (q, rs) => q -> Stats.median(rs.map(r => (r._5 - r._4) / 1e9).toSeq) }

  private def mixSeconds: Double = perQuery.values.sum

  private def floorSeconds: Double = {
    val floor = queries.filter(_.floor).map(_.name).toSet
    perQuery.filter(kv => floor(kv._1)).values.sum
  }

  /** Per-query spans with their job children; scheduler and task totals
    * as the median over the passes of each pass's sum.
    */
  private def traceLayers(): Unit = {
    val byGroup = jobs.jobs.groupBy(_.group)
    runs.foreach { case (_, _, group, t0, t1) =>
      val root = Trace.record("ops.query", t0, t1)
      byGroup.getOrElse(group, Nil).foreach(j => Trace.record("ops.job", j.startNs, j.endNs, root))
    }
    val perPass = runs.groupBy(_._1).values.map(_.flatMap(r => byGroup.getOrElse(r._3, Nil))).toSeq
    def total(f: JobRecord => Double): Double = Stats.median(perPass.map(_.map(f).sum))
    perQuery.foreach { case (q, s) => layer(s"ops.$q.s") = s }
    layer("ops.jobs") = total(_ => 1.0)
    layer("ops.stages") = total(_.stages.toDouble)
    layer("ops.tasks") = total(_.tasks.toDouble)
    layer("ops.task_ms") = total(_.taskRunMs.toDouble)
    layer("ops.shuffle_read_bytes") = total(_.shuffleReadBytes.toDouble)
    layer("ops.shuffle_write_bytes") = total(_.shuffleWriteBytes.toDouble)
    layer("ops.spill_bytes") = total(_.spillBytes.toDouble)
    layer("ops.floor_queries_s") = floorSeconds
    // the traced run executes the untraced run's code: nothing to subtract
    layer("trace.overhead_pct") = 0.0
  }

  override def attempted: Long = attemptedN
  override def failed: Long = failedN
  override def problems: Seq[String] = problemList.toSeq
  override def throughput: Double = queries.size / mixSeconds
  /** Floor-query executions: the latency of a small query. */
  override def latenciesMs: Seq[Double] = {
    val floor = queries.filter(_.floor).map(_.name).toSet
    runs.filter(r => floor(r._2)).map(r => (r._5 - r._4) / 1e6).toSeq
  }
  override def report: Seq[Metric] =
    Seq(Metric("analytics_mix_s", mixSeconds, "s"),
      Metric("analytics_floor_queries_s", floorSeconds, "s"),
      Metric("analytics_floor_executions", latenciesMs.size, "count"),
      Metric("analytics_queries", queries.size, "count")) ++
      perQuery.toSeq.sortBy(_._1).map { case (q, s) => Metric(s"query.$q.s", s, "s") }
  override def perLayer: Map[String, Double] = layer.toMap

  /** Writes the digests this run computed (to refresh the expected file). */
  override def close(): Unit =
    sys.props.get("graftbench.recordDigests").foreach { path =>
      val o = Json.obj()
      recorded.toSeq.sortBy(_._1).foreach { case (q, d) => o.put(q, d) }
      Files.writeString(Paths.get(path), Json.write(o) + "\n")
    }
}
