package graft

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.Locale
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.{DataFrame, GraftSqlShim, SparkSession}

/** Benchmark main and graft's one query harness: runs
  * SparkEntry queries against SPARK_GRAFT_SF_DIR and prints per-query
  * seconds as JSON lines.
  *
  * Methodology, PER QUERY: one untimed warm run (JIT/codegen/parquet-
  * footer warmup is session cost, not query cost — a long-running engine
  * at 100 TB runs warm), then two timed runs back-to-back, min. Keeping
  * each query's three executions ADJACENT is the point: the previous
  * shape (whole-suite warmup pass, then two whole-suite timed passes) put
  * ~minutes of other queries' cache churn and garbage between a query's
  * two timings, and heavy neighbors' spillover read as phantom 30-70%
  * regressions on untouched queries (the r11 q76-q80 cluster — refuted
  * by adjacent re-timing). Each run executes via count() (forces the full
  * plan, discards row transfer).
  *
  * Self-diagnosis (the r15 q60 / r16 q280 phantom lesson — run-position
  * noise on a shared box reads as a regression): every timed run also
  * records its JVM GC time and process-CPU deltas and, from one
  * [[SparkListener]], the scheduler work it caused (jobs started, stages
  * completed, their tasks, summed task time). The listener bus is drained
  * before and after each timed run, never inside it. The kept (min) run's
  * gc_ms rides the qtimes entries as `"qNN":[sec, gc_ms]`, and the final
  * headline carries the suite totals — a query whose wall time moved
  * while its gc_ms exploded and its neighbors read flat is a box
  * artifact, refutable from the artifact alone.
  *
  * Flags:
  *  - `--only q15_sort_limit,q18_distinct` times exactly the named
  *    queries (an unknown name fails before any query runs);
  *  - `--shuffle-order <seed>` permutes the query order deterministically
  *    so a position-correlated swing can be separated from a code
  *    regression by re-running with a different seed;
  *  - `--out <path>` writes the COMPLETE per-query record (full names,
  *    position, sec/gc/cpu and the kept run's jobs/stages/tasks/task_ms)
  *    as JSON lines — a stdout tail capture keeps only the last ~2 KB,
  *    so the full surface lives in the file (committed as
  *    BENCH_r{N}_local.json by the isolated runs);
  *  - `--plans <dir>` adds one untimed `collect()` per query under a
  *    [[QueryExecutionListener]] and writes `<dir>/<query>.txt`: the
  *    plan-marker row (see [[markerRow]]), the returned frame's formatted
  *    explain, then every plan executed while the query ran. The listener
  *    matters for driver-action operators (the Newton/bootstrap/grid
  *    families), which do their real work in INTERNAL actions and return
  *    a small literal frame whose own plan reads as a LocalTableScan.
  *
  * {{{
  * SPARK_GRAFT_SF_DIR=<sf dir> sbt "runMain graft.Bench --only q115_pagerank --out b.json --plans plans"
  * }}}
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = GraftSession.create(s"local[$cpus]", Some(cpus))
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, args.toSeq) finally spark.stop()
  }

  /** One timed run: wall seconds, JVM GC and process-CPU deltas, and the
    * scheduler work the run caused. */
  private case class Timing(sec: Double, gcMs: Long, cpuMs: Long,
      jobs: Long, stages: Long, tasks: Long, taskMs: Long)

  /** Scheduler work since the last `reset()`: jobs started, stages
    * completed, the tasks of those stages and their summed duration. The
    * iterative operators' local cost is stage floor × count, and the SQL
    * plan alone cannot show the count (each localCheckpoint or
    * convergence probe is its own job). */
  private class SchedulerCounters extends SparkListener {
    private val jobs, stages, tasks, taskMs = new AtomicLong
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobs.incrementAndGet()
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      stages.incrementAndGet()
      tasks.addAndGet(e.stageInfo.numTasks)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
    def reset(): Unit = Seq(jobs, stages, tasks, taskMs).foreach(_.set(0L))
    def timing(sec: Double, gcMs: Long, cpuMs: Long): Timing =
      Timing(sec, gcMs, cpuMs, jobs.get, stages.get, tasks.get, taskMs.get)
  }

  private def gcMsNow(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  private def cpuMsNow(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean =>
      os.getProcessCpuTime / 1000000L
    case _ => 0L
  }

  /** Time the selected queries on `spark` (which the caller owns and
    * stops) and print the contract lines; `args` takes the flags listed
    * on the object. */
  def run(spark: SparkSession, sfDir: String, args: Seq[String]): Unit = {
    def argOf(flag: String): Option[String] =
      args.sliding(2).collectFirst { case Seq(f, v) if f == flag => v }
    val seed = argOf("--shuffle-order").map(_.toLong)
    val outPath = argOf("--out")
    val plansDir = argOf("--plans").map(Paths.get(_))
    val inOrder = argOf("--only")
      .map(names => SparkEntry.pick(names.split(',').toSeq))
      .getOrElse(SparkEntry.queries.toSeq)
      .sortBy(_._1)
    val sorted = seed match {
      case Some(s) => new scala.util.Random(s).shuffle(inOrder)
      case None    => inOrder
    }
    plansDir.foreach(Files.createDirectories(_))

    val counters = new SchedulerCounters
    spark.sparkContext.addSparkListener(counters)
    // Per query: warm once (untimed), time twice, min. A query that
    // THROWS is recorded as an error, never as a timing — a failed
    // query's elapsed-to-exception is not a measurement and must not
    // make the bench artifact look healthier than the correctness
    // artifact. Min of the runs that succeeded; error only if both
    // timed runs failed. The kept run's deltas and counters travel with it.
    val all: Seq[(String, Either[String, Timing])] = try {
      sorted.zipWithIndex.map { case ((name, fn), i) =>
        def once(): Either[String, Timing] = {
          GraftSqlShim.drainListenerBus(spark) // earlier runs' events
          counters.reset()
          val g0 = gcMsNow(); val c0 = cpuMsNow()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            val gc = gcMsNow() - g0
            val cpu = cpuMsNow() - c0
            GraftSqlShim.drainListenerBus(spark) // this run's events
            Right(counters.timing(sec, gc, cpu))
          } catch { case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .takeWhile(_ != '\n').take(120))
          }
        }
        once() // warm: JIT/codegen/footers, discarded
        val r = (once(), once()) match {
          case (Right(a), Right(b)) => Right(if (a.sec <= b.sec) a else b)
          case (Right(a), Left(_))  => Right(a)
          case (Left(_), Right(b))  => Right(b)
          case (Left(m), Left(_))   => Left(m)
        }
        plansDir.foreach(d => writePlans(spark, sfDir, name, fn, d))
        // Queries that persist() internally (e.g. the embedding-LSH
        // path) create a fresh cache entry per invocation — drop them
        // after each trio or orphaned blocks pile up on the heap and
        // later shuffle-heavy queries pay for them in GC. A full
        // System.gc() per query would itself distort timings on a
        // 100 GiB heap, so collect on a stride instead.
        spark.catalog.clearCache()
        if (i % 16 == 15) System.gc()
        name -> r
      }
    } finally spark.sparkContext.removeSparkListener(counters)
    val errors = all.collect { case (k, Left(m)) => (k, m) }
    val results = all.collect { case (k, Right(v)) => (k, v) }
    val qs = all.map {
      case (k, Right(v)) => Json.str(k) + ":" + v.sec
      case (k, Left(_))  => Json.str(k) + ":\"err\""
    }.mkString("{", ",", "}")
    val total = results.map(_._2.sec).sum
    val gcTotal = results.map(_._2.gcMs).sum
    val cpuTotal = results.map(_._2.cpuMs).sum / 1000.0
    val seedJson = seed.map(_.toString).getOrElse("null")
    // The complete per-query record (never truncated) when asked for:
    // one JSON line per query with its run position — the isolated
    // bench commits this as BENCH_r{N}_local.json
    outPath.foreach { p =>
      val w = new java.io.PrintWriter(p)
      try {
        w.println(s"""{"metric":"bench_meta","sf":${Json.str(sfDir)},"cpus":${spark.sparkContext.defaultParallelism},"seed":$seedJson,"n_queries":${results.size},"n_errors":${errors.size},"total_sec":$total,"gc_ms":$gcTotal,"cpu_s":$cpuTotal}""")
        all.zipWithIndex.foreach {
          case ((k, Right(v)), i) => w.println(String.format(Locale.ROOT,
            """{"q":"%s","pos":%d,"sec":%.3f,"gc_ms":%d,"cpu_ms":%d,"jobs":%d,"stages":%d,"tasks":%d,"task_ms":%d}""",
            Json.escape(k), Int.box(i), Double.box(v.sec), Long.box(v.gcMs),
            Long.box(v.cpuMs), Long.box(v.jobs), Long.box(v.stages),
            Long.box(v.tasks), Long.box(v.taskMs)))
          case ((k, Left(m)), i) => w.println(
            s"""{"q":${Json.str(k)},"pos":$i,"err":${Json.str(m)}}""")
        }
      } finally w.close()
    }
    // Output ordering is deliberate: the driver captures a bounded TAIL
    // (last ~2000 BYTES) of stdout, so anything printed early can be
    // truncated from the front. The whole per-query surface must fit in
    // that byte budget alongside the headline:
    //  1. the full contract line (full names, ns-resolution timings,
    //     metric "total_full" so no consumer confuses it with the
    //     headline) — bonus if it survives;
    //  2. grouped per-query lines, ~13 queries each: short unique "qNN"
    //     keys + [3-decimal seconds, gc_ms of the kept run] — the pair
    //     is what makes a box phantom refutable per query;
    //  3. the short final headline (metric "total" — the key the driver
    //     parses) with suite gc/cpu totals, the shuffle seed, and the
    //     earliest 7 full-name timings as a cross-check.
    println(s"""{"metric":"total_full","value":$total,"unit":"sec","queries":$qs,"errors":${errors.size},"sf":${Json.str(sfDir)}}""")
    val grouped = all.map { case (k, ev) =>
      val sk = shortKey(k)
      ev match {
        // Locale.ROOT: the f-interpolator uses the JVM default locale, and
        // a comma-decimal locale (de_DE etc.) would corrupt the JSON
        case Right(v) => String.format(Locale.ROOT,
          "\"%s\":[%.3f,%d]", Json.escape(sk), Double.box(v.sec), Long.box(v.gcMs))
        case Left(_) => Json.str(sk) + ":\"err\""
      }
    }.grouped(13).toSeq
    grouped.zipWithIndex.foreach { case (g, i) =>
      println(s"""{"metric":"qtimes","part":${i + 1},"parts":${grouped.size},"queries":${g.mkString("{", ",", "}")}}""")
    }
    errors.foreach { case (k, m) =>
      println(s"""{"metric":"qerror","query":${Json.str(k)},"err":${Json.str(m)}}""")
    }
    val head = results.take(7).map { case (k, v) => Json.str(k) + ":" + v.sec }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":$total,"unit":"sec","n_queries":${results.size},"n_errors":${errors.size},"gc_ms":$gcTotal,"cpu_s":$cpuTotal,"seed":$seedJson,"sf":${Json.str(sfDir)},"head_queries":$head}""")
    // 4. one best-effort per-query DELTA line vs the latest committed
    //    isolated record (see [[baselineRecord]]): a tail capture keeps only
    //    the stdout tail, which truncated the round-18 per-query
    //    comparison to nothing — this line carries the geomean speedup
    //    and the 10 largest absolute moves so a per-query signal survives
    //    the byte window even when the qtimes parts do not. Read-only,
    //    after every timing, inside a Try: a missing/unreadable record
    //    prints nothing and can never fail or slow the bench.
    //    Additions-only — the `total` line above is byte-identical with
    //    or without this.
    scala.util.Try {
      val files = Option(new java.io.File(".").listFiles()).toSeq.flatten
        .map(_.toPath)
      baselineRecord(files, outPath.map(Paths.get(_)), sfDir,
          spark.sparkContext.defaultParallelism).foreach { pf =>
        val rx = """"q":"([^"]+)".*?"sec":([0-9.eE+-]+)""".r
        val prev = Files.readAllLines(pf).asScala
          .flatMap(l => rx.findFirstMatchIn(l)
            .map(m => m.group(1) -> m.group(2).toDouble)).toMap
        val common = results.collect {
          case (k, v) if prev.get(k).exists(_ > 0) && v.sec > 0 =>
            (k, prev(k), v.sec)
        }
        if (common.nonEmpty) {
          val geo = math.exp(common.map { case (_, p, n) =>
            math.log(p / n) }.sum / common.size)
          val top = common.sortBy { case (_, p, n) => -math.abs(n - p) }
            .take(10).map { case (k, p, n) =>
              String.format(Locale.ROOT, "\"%s\":[%.3f,%.3f]",
                Json.escape(shortKey(k)), Double.box(p), Double.box(n))
            }.mkString("{", ",", "}")
          println(String.format(Locale.ROOT,
            """{"metric":"delta_vs_prev","prev":"%s","n_common":%d,"geomean_speedup":%.4f,"top_moves":%s}""",
            Json.escape(pf.getFileName.toString), Int.box(common.size),
            Double.box(geo), top))
        }
      }
    }
  }

  private val shortKeyRx = "^(q[0-9]+).*$".r
  /** `q115_pagerank` -> `q115`: the compact key of the stdout tail lines. */
  private def shortKey(k: String): String = k match {
    case shortKeyRx(p) => p
    case _             => k
  }

  private val localRecord = "BENCH_r(\\d+)_local\\.json".r
  /** The `delta_vs_prev` baseline among `files`: the highest-round
    * in-order isolated record `BENCH_r<N>_local.json` measured at the
    * same scale and core count (its first-line `bench_meta` carries this
    * run's `sf` and `cpus`), never `self` (the run's own `--out` file,
    * which would compare the run with itself). Chosen by round, not
    * mtime: the newest file is often a pre-change or shuffled-order
    * record (`_pre_local`, `_local_seed7`), and the r19 delta line read
    * a seed-7 record as its baseline. No matching record: no delta. */
  private[graft] def baselineRecord(files: Seq[Path], self: Option[Path],
      sf: String, cpus: Int): Option[Path] = {
    def key(p: Path) = p.toAbsolutePath.normalize
    def sameSetup(p: Path) = scala.util.Using(Files.newBufferedReader(p))(r =>
      Option(r.readLine()).exists(m => m.contains("\"metric\":\"bench_meta\"") &&
        m.contains(s"\"sf\":${Json.str(sf)},") && m.contains(s"\"cpus\":$cpus,"))
    ).getOrElse(false)
    files.filterNot(f => self.exists(key(_) == key(f)))
      .flatMap(f => f.getFileName.toString match {
        case localRecord(n) => Some(n.toInt -> f)
        case _              => None
      })
      .sortBy(-_._1).map(_._2).find(sameSetup)
  }

  /** PlanAudit's marker row over the plans one query executed: shuffles
    * (exch), broadcast hash joins (bhj), sort-merge joins (smj),
    * broadcast nested-loop joins (bnlj), cartesian products (cart), scans
    * with pushed comparison/null filters (pushedScan), whole-stage-codegen
    * spans (wscg) and the number of executed plans it sums over. */
  private[graft] def markerRow(name: String, plans: Seq[String]): String = {
    def count(marker: String) = plans.map(marker.r.findAllIn(_).size).sum
    val exchanges = count("Exchange (hashpartitioning|rangepartitioning|SinglePartition)")
    val bhj = count("BroadcastHashJoin")
    val bnlj = count("BroadcastNestedLoopJoin")
    val cartesian = count("CartesianProduct")
    val smj = count("SortMergeJoin")
    val pushed = count("PushedFilters: \\[[^\\]]*Is|PushedFilters: \\[[^\\]]*(Less|Greater|Equal)")
    // codegen stages render as "*(n) Op" prefixes; distinct ids are per
    // plan (they restart at 1 each execution), so sum per-plan
    val codegen = plans.map("\\*\\(\\d+\\)".r.findAllIn(_).toSet.size).sum
    f"$name%-28s exch=$exchanges%-3d bhj=$bhj%-2d smj=$smj%-2d " +
      f"bnlj=$bnlj%-2d cart=$cartesian%-2d pushedScan=$pushed%-2d " +
      f"wscg=$codegen%-3d plans=${plans.size}%-3d"
  }

  /** Write `<dir>/<name>.txt`: marker row, the returned frame's formatted
    * explain, then every plan executed while building and collecting the
    * frame (driver-action operators run internal jobs while building). */
  private def writePlans(spark: SparkSession, sfDir: String, name: String,
      fn: (SparkSession, String) => DataFrame, dir: Path): Unit = {
    val captured = new ConcurrentLinkedQueue[String]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.add(qe.executedPlan.toString())
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    GraftSqlShim.drainListenerBus(spark) // keep the timed runs' plans out
    spark.listenerManager.register(listener)
    val lines = try {
      val df = fn(spark, sfDir)
      val explain = df.queryExecution.explainString(FormattedMode)
      df.collect() // finalizes AQE on THIS frame (count() plans another query)
      GraftSqlShim.drainListenerBus(spark)
      val plans = captured.asScala.toSeq
      Seq(markerRow(name, plans), "", explain,
        s"== Executed plans captured during the run (${plans.size}, listener order) ==") ++
        plans.zipWithIndex.flatMap { case (p, i) =>
          Seq("", s"-- executed plan ${i + 1} --", p) }
    } catch {
      case e: Exception =>
        Seq(f"$name%-28s AUDIT FAILED: ${String.valueOf(e.getMessage).take(80)}")
    } finally spark.listenerManager.unregister(listener)
    Files.write(dir.resolve(s"$name.txt"), lines.asJava)
  }
}
