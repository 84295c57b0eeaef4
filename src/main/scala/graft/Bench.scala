package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line with per-query seconds.
  *
  * Methodology (TimeQuery's, applied PER QUERY): one untimed warm run
  * (JIT/codegen/parquet-footer warmup is session cost, not query cost —
  * a long-running engine at 100 TB runs warm), then two timed runs
  * back-to-back, min. Keeping each query's three executions ADJACENT is
  * the point: the previous shape (whole-suite warmup pass, then two
  * whole-suite timed passes) put ~minutes of other queries' cache churn
  * and garbage between a query's two timings, and heavy neighbors'
  * spillover read as phantom 30-70% regressions on untouched queries
  * (the r11 q76-q80 cluster — refuted by adjacent re-timing). Each run
  * executes via count() (forces the full plan, discards row transfer).
  *
  * Self-diagnosis (the r15 q60 / r16 q280 phantom lesson — run-position
  * noise on a shared box reads as a regression): every timed run also
  * records its JVM GC time and process-CPU deltas, the kept (min) run's
  * pair rides the qtimes entries as `"qNN":[sec, gc_ms]`, and the final
  * headline carries the suite totals — a query whose wall time moved
  * while its gc_ms exploded and its neighbors read flat is a box
  * artifact, refutable from the artifact alone. `--shuffle-order <seed>`
  * permutes the query order deterministically so a position-correlated
  * swing can be separated from a code regression by re-running with a
  * different seed. `--out <path>` writes the COMPLETE per-query record
  * (full names, position, sec/gc/cpu) as JSON lines — the driver's
  * stdout tail keeps only the last ~2 KB, so the full surface lives in
  * the file (committed as BENCH_r{N}_local.json by the isolated runs).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    def argOf(flag: String): Option[String] =
      args.sliding(2).collectFirst {
        case Array(f, v) if f == flag => v }
    val seed = argOf("--shuffle-order").map(_.toLong)
    val outPath = argOf("--out")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-bench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val inOrder = SparkEntry.queries.toSeq.sortBy(_._1)
    val sorted = seed match {
      case Some(s) => new scala.util.Random(s).shuffle(inOrder)
      case None    => inOrder
    }

    import java.lang.management.ManagementFactory
    def gcMsNow(): Long = {
      import scala.jdk.CollectionConverters._
      ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(b => math.max(0L, b.getCollectionTime)).sum
    }
    def cpuMsNow(): Long = ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean =>
        os.getProcessCpuTime / 1000000L
      case _ => 0L
    }

    // Per query: warm once (untimed), time twice, min. A query that
    // THROWS is recorded as an error, never as a timing — a failed
    // query's elapsed-to-exception is not a measurement and must not
    // make the bench artifact look healthier than the correctness
    // artifact. Min of the runs that succeeded; error only if both
    // timed runs failed. The kept run's gc/cpu deltas travel with it.
    case class Timing(sec: Double, gcMs: Long, cpuMs: Long)
    val all: Seq[(String, Either[String, Timing])] =
      sorted.zipWithIndex.map { case ((name, fn), i) =>
        def run(): Either[String, Timing] = {
          val g0 = gcMsNow(); val c0 = cpuMsNow()
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            Right(Timing((System.nanoTime() - t0) / 1e9,
              gcMsNow() - g0, cpuMsNow() - c0))
          } catch { case e: Throwable =>
            Left(Option(e.getMessage).getOrElse(e.getClass.getName)
              .takeWhile(_ != '\n').take(120))
          }
        }
        run() // warm: JIT/codegen/footers, discarded
        val r = (run(), run()) match {
          case (Right(a), Right(b)) => Right(if (a.sec <= b.sec) a else b)
          case (Right(a), Left(_))  => Right(a)
          case (Left(_), Right(b))  => Right(b)
          case (Left(m), Left(_))   => Left(m)
        }
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
        w.println(s"""{"metric":"bench_meta","sf":${Json.str(sfDir)},"cpus":$cpus,"seed":$seedJson,"n_queries":${results.size},"n_errors":${errors.size},"total_sec":$total,"gc_ms":$gcTotal,"cpu_s":$cpuTotal}""")
        all.zipWithIndex.foreach {
          case ((k, Right(v)), i) => w.println(String.format(
            java.util.Locale.ROOT,
            """{"q":"%s","pos":%d,"sec":%.3f,"gc_ms":%d,"cpu_ms":%d}""",
            Json.escape(k), Int.box(i), Double.box(v.sec), Long.box(v.gcMs),
            Long.box(v.cpuMs)))
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
    val shortKey = "^(q[0-9]+).*$".r
    val grouped = all.map { case (k, ev) =>
      val sk = k match { case shortKey(p) => p; case _ => k }
      ev match {
        // Locale.ROOT: the f-interpolator uses the JVM default locale, and
        // a comma-decimal locale (de_DE etc.) would corrupt the JSON
        case Right(v) => String.format(java.util.Locale.ROOT,
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
    // 4. one best-effort per-query DELTA line vs the newest committed
    //    isolated record (BENCH_r*_local*.json in the working dir):
    //    the driver keeps only the stdout tail, which truncated the
    //    round-18 per-query comparison to nothing — this line carries
    //    the geomean speedup and the 10 largest absolute moves so a
    //    per-query signal survives the byte window even when the
    //    qtimes parts do not. Read-only, after every timing, inside a
    //    Try: a missing/unreadable record prints nothing and can never
    //    fail or slow the bench. Additions-only — the `total` line
    //    above is byte-identical with or without this.
    scala.util.Try {
      val dir = new java.io.File(".")
      // an isolated run's own --out record is newest by construction —
      // exclude it, or the line would compare the run against itself
      val self = outPath.map(p => new java.io.File(p).getCanonicalPath)
      val prevFile = Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.matches("BENCH_r\\d+.*local.*\\.json") &&
          !self.contains(f.getCanonicalPath))
        .sortBy(_.lastModified).lastOption
      prevFile.foreach { pf =>
        val rx = """"q":"([^"]+)".*?"sec":([0-9.eE+-]+)""".r
        val prev = scala.io.Source.fromFile(pf).getLines()
          .flatMap(l => rx.findFirstMatchIn(l)
            .map(m => m.group(1) -> m.group(2).toDouble)).toMap
        val common = results.collect {
          case (k, v) if prev.get(k).exists(_ > 0) && v.sec > 0 =>
            (k, prev(k), v.sec)
        }
        if (common.nonEmpty) {
          val geo = math.exp(common.map { case (_, p, n) =>
            math.log(p / n) }.sum / common.size)
          val shortK = "^(q[0-9]+).*$".r
          val top = common.sortBy { case (_, p, n) => -math.abs(n - p) }
            .take(10).map { case (k, p, n) =>
              val sk = k match { case shortK(x) => x; case _ => k }
              String.format(java.util.Locale.ROOT,
                "\"%s\":[%.3f,%.3f]", Json.escape(sk), Double.box(p),
                Double.box(n))
            }.mkString("{", ",", "}")
          println(String.format(java.util.Locale.ROOT,
            """{"metric":"delta_vs_prev","prev":"%s","n_common":%d,"geomean_speedup":%.4f,"top_moves":%s}""",
            Json.escape(pf.getName), Int.box(common.size), Double.box(geo), top))
        }
      }
    }
    spark.stop()
  }
}
