package graft

import java.nio.file.attribute.FileTime
import java.nio.file.{Files, Path}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftSqlShim
import org.scalatest.funsuite.AnyFunSuite

class BenchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val picked = Seq("q15_sort_limit", "q18_distinct")
  private val json = new ObjectMapper

  /** One `--only` run over two queries at sf0.001: its stdout lines, its
    * `--out` records and its `--plans` directory. */
  private lazy val (stdout, records, plansDir) = {
    val dir = Files.createTempDirectory("bench-spec")
    val out = dir.resolve("record.json")
    val plans = dir.resolve("plans")
    val buf = new java.io.ByteArrayOutputStream
    Console.withOut(buf) {
      Bench.run(spark, SparkTestSession.sf0001, Seq("--only",
        picked.mkString(","), "--out", out.toString, "--plans", plans.toString))
    }
    (buf.toString("UTF-8").linesIterator.toSeq,
      Files.readAllLines(out).asScala.toSeq.map(json.readTree), plans)
  }

  test("--only times exactly the named queries and keeps the stdout line kinds") {
    val metrics = stdout.filter(_.startsWith("{"))
      .map(json.readTree(_).get("metric").asText())
    assert(metrics.take(3) == Seq("total_full", "qtimes", "total"), stdout)
    val total = stdout.find(_.startsWith("""{"metric":"total","""))
      .map(json.readTree).get
    assert(total.get("n_queries").asInt + total.get("n_errors").asInt == 2)
    assert(records.head.get("metric").asText() == "bench_meta")
    assert(records.tail.map(_.get("q").asText()) == picked)
  }

  test("--out records carry sec, gc_ms, cpu_ms and the scheduler counters") {
    records.tail.foreach { r =>
      assert(!r.has("err"), r)
      assert(r.get("sec").asDouble > 0, r)
      Seq("gc_ms", "cpu_ms", "task_ms").foreach(k => assert(r.has(k), r))
      Seq("jobs", "stages", "tasks").foreach(k =>
        assert(r.get(k).asLong > 0, s"$k in $r"))
    }
  }

  test("--plans writes one file per query: marker row, explain, executed plans") {
    assert(Files.list(plansDir).iterator().asScala.map(_.getFileName.toString)
      .toSet == picked.map(_ + ".txt").toSet)
    picked.foreach { q =>
      val lines = Files.readAllLines(plansDir.resolve(s"$q.txt")).asScala
      val marker = lines.head
      assert(marker.startsWith(q), marker)
      Seq("exch=", "bhj=", "smj=", "bnlj=", "cart=", "pushedScan=", "wscg=",
        "plans=").foreach(m => assert(marker.contains(m), marker))
      assert(!marker.contains("plans=0 "), marker)
      assert(lines.exists(_.startsWith("== Physical Plan ==")), q)
      assert(lines.exists(
        _.startsWith("== Executed plans captured during the run (")), q)
      assert(lines.contains("-- executed plan 1 --"), q)
    }
  }

  test("an unknown --only name throws before any query runs") {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftSqlShim.drainListenerBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val e = intercept[IllegalArgumentException] {
        Bench.run(spark, SparkTestSession.sf0001,
          Seq("--only", "q15_sort_limit,q15_sort_limt"))
      }
      assert(e.getMessage.contains("q15_sort_limt"))
      GraftSqlShim.drainListenerBus(spark)
      assert(jobs.get == 0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("run leaves the shared session alive") {
    assert(records.nonEmpty) // the run has happened
    assert(!spark.sparkContext.isStopped)
    assert(spark.range(3).count() == 3)
  }

  test("delta baseline: highest-round in-order local record, by round not mtime") {
    val dir = Files.createTempDirectory("bench-baseline")
    def touch(name: String, mtime: Long, sf: String = "/data/sf0.1",
        cpus: Int = 32): Path = {
      val p = Files.writeString(dir.resolve(name),
        s"""{"metric":"bench_meta","sf":"$sf","cpus":$cpus,"seed":null}""" + "\n" +
          """{"q":"q15_sort_limit","pos":0,"sec":0.5}""" + "\n")
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtime))
    }
    def pick(files: Seq[Path], self: Option[Path] = None,
        sf: String = "/data/sf0.1", cpus: Int = 32) =
      Bench.baselineRecord(files, self, sf, cpus)
    val r18 = touch("BENCH_r18_local.json", 1000L)
    val r19 = touch("BENCH_r19_local.json", 2000L)
    touch("BENCH_r19_pre_local.json", 3000L)
    touch("BENCH_r19_local_seed7.json", 4000L)
    touch("BENCH_r19.json", 5000L)
    // higher rounds measured at another scale / core count never qualify
    touch("BENCH_r21_local.json", 500L, sf = "/data/sf0.001")
    touch("BENCH_r22_local.json", 600L, cpus = 4)
    val files = Files.list(dir).iterator().asScala.toSeq
    assert(pick(files).contains(r19))
    // the run's own --out record never serves as its baseline
    assert(pick(files, Some(r19)).contains(r18))
    val own = touch("BENCH_r20_local.json", 6000L)
    assert(pick(files :+ own, Some(own)).contains(r19))
    assert(pick(Seq(dir.resolve("BENCH_r19.json"))).isEmpty)
    // the smoke run matches only its own setup; no match -> no delta
    assert(pick(files, sf = "/data/sf0.001", cpus = 32)
      .contains(dir.resolve("BENCH_r21_local.json")))
    assert(pick(files, cpus = 4).contains(dir.resolve("BENCH_r22_local.json")))
    assert(pick(files, sf = "/data/sf0.001", cpus = 4).isEmpty)
    // a record without a bench_meta first line never qualifies
    val bare = Files.writeString(dir.resolve("BENCH_r30_local.json"), "{}\n")
    assert(pick(files :+ bare).contains(r19))
  }
}
