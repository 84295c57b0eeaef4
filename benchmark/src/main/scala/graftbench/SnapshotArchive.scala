package graftbench

import graft.schema.FieldSpec
import graft.snapshot.{Archiver, ParquetSnapshotSource}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The archive product path: `Archiver.run` over a seeded table shaped
  * like the property-sales fixture (decimals, dates, strings, NULLs),
  * through a user SQL query, a declared typed `FieldSpec` schema and
  * `batch_size_num_records` part rotation. Snapshots repeat for the run
  * length; each is checked (catalog audit, part sizes, row count, content
  * digest against the source query).
  *
  * The traced run executes exactly what the untraced run does: the job
  * listener is attached in both, and the per-snapshot spans and job
  * splits are built afterwards from its events.
  */
final class SnapshotArchive(ctx: RunContext, jobs: JobCollector) extends Workload {
  private val spec = ctx.spec
  private val spark = ctx.spark
  private val rows = spec.long("snapshot_archive.rows")
  private val batch = spec.long("snapshot_archive.batch_size_num_records")
  private val query = spec.string("snapshot_archive.query")
  private val fieldNodes = spec.root.get("snapshot_archive").get("fields").elements().asScala.toIndexedSeq
  private val fields = fieldNodes.map { f =>
    FieldSpec(f.get("name").asText(), f.get("type").asText(),
      Option(f.get("converted")).map(_.asText()), None,
      Option(f.get("scale")).map(_.asInt()), Option(f.get("precision")).map(_.asInt()))
  }
  /** The Spark type each declared field must come out as. */
  private val expectTypes = fieldNodes.map(f => f.get("name").asText() -> f.get("expect").asText())

  private var srcDir: Path = _
  private var expected: (Long, String) = _
  private var attemptedN = 0L
  private var failedN = 0L
  private val problemList = mutable.ArrayBuffer.empty[String]
  private val layer = mutable.Map.empty[String, Double]
  private val snapshots = mutable.ArrayBuffer.empty[(String, Long, Long, Int)] // (group, start, end, parts)
  private var ordinal = 0

  override def statsPath: String = "/api/v1/replicators"

  override def prepare(): Unit = {
    srcDir = ctx.fresh("snapshot-source")
    SnapshotArchive.table(spark, rows, ctx.seed).repartition(4)
      .write.parquet(srcDir.resolve("sales.parquet").toString)
    expected = digest(typed(sourceQuery))
  }

  private def sourceQuery: DataFrame = {
    spark.read.parquet(srcDir.resolve("sales.parquet").toString).createOrReplaceTempView("sales")
    spark.sql(query)
  }

  private def typed(df: DataFrame): DataFrame =
    df.select(expectTypes.map { case (n, t) => col(n).cast(t).as(n) }: _*)

  /** (row count, order-insensitive digest) of a frame. */
  private def digest(df: DataFrame): (Long, String) = {
    val r = df.select(xxhash64(to_json(struct(df.columns.map(col).toIndexedSeq: _*))).cast(DecimalType(38, 0)).as("h"))
      .agg(count(lit(1)), coalesce(sum("h"), lit(0).cast(DecimalType(38, 0)))).head()
    (r.getLong(0), r.getDecimal(1).toPlainString)
  }

  /** The first snapshots keep speeding up (JIT); measure after them. */
  override def warmUp(): Unit = {
    (1 to spec.int("snapshot_archive.warmup_snapshots")).foreach(_ => snapshot(verifyContent = true))
    snapshots.clear()
  }

  override def measure(): Unit = {
    val deadline = System.nanoTime() + (ctx.seconds * 1e9).toLong
    val every = spec.int("snapshot_archive.digest_every")
    var i = 0
    while (i < 3 || System.nanoTime() < deadline) {
      snapshot(verifyContent = i % every == 0)
      i += 1
    }
    if (ctx.traced) traceLayers()
  }

  /** One timed `Archiver.run`, then its (untimed) output checks. */
  private def snapshot(verifyContent: Boolean): Unit = {
    ordinal += 1
    val id = s"snap-$ordinal"
    val dest = ctx.workDir.resolve("snapshot-out").resolve(id)
    Dirs.delete(dest)
    attemptedN += 1
    spark.sparkContext.setJobGroup(id, id)
    val t0 = System.nanoTime()
    val catalog =
      try Some(Archiver.run(spark, ParquetSnapshotSource(srcDir.toString, "sales", Some(query)),
        fields, dest.toString, Some(batch), id))
      catch { case e: Exception => problem(s"$id threw ${e.getMessage}"); None }
    val t1 = System.nanoTime()
    spark.sparkContext.clearJobGroup()
    if (catalog.isEmpty) { failedN += 1; return }
    val c = catalog.get
    val errs = mutable.ArrayBuffer.empty[String]
    if (!c.success) errs += "catalog success=false"
    if (c.numSourceRecords != expected._1) errs += s"num_source_records ${c.numSourceRecords} != ${expected._1}"
    if (c.numRecordsProcessed != expected._1) errs += s"num_records_processed ${c.numRecordsProcessed} != ${expected._1}"
    val catalogFile = dest.resolve(Archiver.CatalogFileName)
    if (!Files.exists(catalogFile) || !Files.readString(catalogFile).contains(s""""num_records_processed":${expected._1}"""))
      errs += "catalog.json missing or disagrees"
    val parts = SnapshotArchive.partRowCounts(spark, dest)
    if (parts.sum != expected._1) errs += s"parquet holds ${parts.sum} rows, expected ${expected._1}"
    if (parts.exists(_ > batch)) errs += s"a part holds ${parts.max} rows > batch_size_num_records $batch"
    snapshots += ((id, t0, t1, parts.size))
    if (verifyContent) {
      val out = spark.read.parquet(dest.toString)
      val gotTypes = out.schema.fields.map(f => f.name -> f.dataType.simpleString).toSeq
      if (gotTypes != expectTypes) errs += s"archived schema $gotTypes != declared $expectTypes"
      else if (digest(out) != expected) errs += "archived content digest differs from the source query's"
    }
    if (errs.nonEmpty) { failedN += 1; errs.foreach(e => problem(s"$id: $e")) }
    Dirs.delete(dest)
  }

  private def problem(s: String): Unit = if (problemList.size < 50) problemList += s

  /** Per-snapshot medians, and the spans: snapshot.run with its
    * pre-count-job, write-job and catalog children.
    */
  private def traceLayers(): Unit = {
    val all = jobs.jobs
    val per = snapshots.map { case (group, t0, t1, parts) =>
      val js = all.filter(_.group == group)
      // jobs that write nothing are the source listing and the audit pre-count
      val (writeJobs, countJobs) = js.partition(_.bytesWritten > 0)
      val root = Trace.record("snapshot.run", t0, t1)
      js.foreach(j => Trace.record(if (countJobs.contains(j)) "snapshot.precount_job" else "snapshot.write_job",
        j.startNs, j.endNs, root))
      val lastJobEnd = if (js.isEmpty) t0 else js.map(_.endNs).max
      Trace.record("snapshot.catalog", lastJobEnd, t1, root)
      (countJobs.map(j => j.endNs - j.startNs).sum / 1e6, writeJobs.map(j => j.endNs - j.startNs).sum / 1e6,
        (t1 - lastJobEnd) / 1e6, js.map(_.bytesRead).sum.toDouble, js.map(_.bytesWritten).sum.toDouble,
        js.map(_.tasks).sum.toDouble, js.map(_.taskCpuNs).sum / 1e6, parts.toDouble)
    }
    layer("snapshot.precount_ms") = Stats.median(per.map(_._1).toSeq)
    layer("snapshot.write_ms") = Stats.median(per.map(_._2).toSeq)
    layer("snapshot.catalog_ms") = Stats.median(per.map(_._3).toSeq)
    layer("snapshot.bytes_read") = Stats.median(per.map(_._4).toSeq)
    layer("snapshot.bytes_written") = Stats.median(per.map(_._5).toSeq)
    layer("snapshot.tasks") = Stats.median(per.map(_._6).toSeq)
    layer("snapshot.task_cpu_ms") = Stats.median(per.map(_._7).toSeq)
    layer("snapshot.files_written") = Stats.median(per.map(_._8).toSeq)
    // the traced run executes the untraced run's code: nothing to subtract
    layer("trace.overhead_pct") = 0.0
  }

  /** Wall time of each measured snapshot that produced a catalog. */
  private def snapshotMs: Seq[Double] = snapshots.map(s => (s._3 - s._2) / 1e6).toSeq

  override def attempted: Long = attemptedN
  override def failed: Long = failedN
  override def problems: Seq[String] = problemList.toSeq
  override def throughput: Double = expected._1 / (Stats.median(snapshotMs) / 1000)
  override def latenciesMs: Seq[Double] = snapshotMs
  override def report: Seq[Metric] = Seq(
    Metric("snapshot_rows_per_s", throughput, "1/s"),
    Metric("snapshot_rows", expected._1.toDouble, "count"),
    Metric("snapshots", snapshotMs.size.toDouble, "count"))
  override def perLayer: Map[String, Double] = layer.toMap
  override def close(): Unit = ()
}

object SnapshotArchive {

  /** A seeded table shaped like the property-sales fixture: per-row
    * pseudo-random values from `xxhash64(id, seed, salt)`.
    */
  def table(spark: SparkSession, rows: Long, seed: Long): DataFrame = {
    def u01(salt: Int) =
      pmod(xxhash64(col("id"), lit(seed), lit(salt)), lit(1000000L)).cast("double") / 1000000.0
    def maybe(salt: Int, nullShare: Double, c: org.apache.spark.sql.Column) =
      when(u01(salt) >= nullShare, c)
    spark.range(rows).select(
      (col("id") + 1).as("serial_number"),
      (lit(2001) + (u01(1) * 23).cast("int")).cast("long").as("list_year"),
      date_add(lit("2001-01-01").cast("date"), (u01(2) * 8000).cast("int")).as("date_recorded"),
      concat(lit("town_"), (u01(3) * 170).cast("int").cast("string")).as("town"),
      concat((u01(4) * 9999).cast("int").cast("string"), lit(" main st")).as("address"),
      (u01(5) * 1000000).cast(DecimalType(12, 2)).as("assessed_value"),
      (u01(6) * 1500000).cast(DecimalType(12, 2)).as("sale_amount"),
      (u01(7) * 10).cast(DecimalType(10, 2)).as("sales_ratio"),
      element_at(array(lit("Residential"), lit("Commercial"), lit("Vacant Land"),
        lit("Apartments"), lit("Industrial")), (u01(8) * 5).cast("int") + 1).as("property_type"),
      maybe(9, 0.2, element_at(array(lit("Single Family"), lit("Two Family"),
        lit("Three Family"), lit("Condo")), (u01(10) * 4).cast("int") + 1)).as("residential_type"),
      maybe(11, 0.7, concat(lit("code_"), (u01(12) * 30).cast("int").cast("string"))).as("non_use_code"),
      maybe(13, 0.9, lit("estate sale; verify")).as("assessor_remarks"),
      lit(null).cast("string").as("opm_remarks"))
  }

  /** Row count of every parquet part under `dir`, read from the footers. */
  def partRowCounts(spark: SparkSession, dir: Path): Seq[Long] = {
    val conf = spark.sparkContext.hadoopConfiguration
    val s = Files.list(dir)
    try s.iterator().asScala.filter(_.getFileName.toString.endsWith(".parquet")).map { p =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(p.toUri), conf)
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try r.getRecordCount finally r.close()
    }.toSeq
    finally s.close()
  }
}
