package graft.snapshot

import graft.Json
import graft.config.GraftConfig
import graft.model.Catalog
import graft.schema.FieldSpec
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths, StandardCopyOption}

/** Batch-archive ("snapshot") pipeline: source -> typed parquet parts ->
  * catalog.json audit record. Mirrors the reference lifecycle
  * (`internal/archiver/archiver.go:57-130`, SURVEY.md §3.1) but is a
  * distributed single-pass Spark job instead of a row-at-a-time loop:
  *
  *   - the audit pre-count (`SELECT COUNT(*) FROM (<query>)`,
  *     `internal/sql/source.go:43-49`) is `df.count()` — metadata-only for
  *     parquet, pushed down for JDBC;
  *   - the per-row processed counter (`internal/parquet/preserver.go:74`)
  *     is an `observe()` metric collected during the write pass itself, so
  *     the data is scanned once, not twice;
  *   - part-size bounding (`batch_size_num_records` rotation,
  *     `internal/parquet/preserver.go:79-86`) is `maxRecordsPerFile`, which
  *     bounds parts per-task without any driver-side buffering — this is
  *     what survives 100 TB, where the reference's single in-memory buffer
  *     would not.
  */
trait SnapshotSource {
  /** The (already pushed-down) frame to archive. */
  def frame(spark: SparkSession): DataFrame
  /** Human-readable description recorded in the catalog. */
  def description: String
}

/** Parquet-backed source: registers the scale-factor tables as temp views
  * and runs the user's SQL verbatim (the reference's total-pushdown model,
  * `internal/sql/source.go:157-175` — here the "source database" is Spark
  * itself, so Catalyst does the pushdown into the parquet scan).
  */
case class ParquetSnapshotSource(dir: String, table: String,
    query: Option[String] = None) extends SnapshotSource {
  override def frame(spark: SparkSession): DataFrame = {
    spark.read.parquet(s"$dir/$table.parquet").createOrReplaceTempView(table)
    spark.sql(query.getOrElse(s"SELECT * FROM $table"))
  }
  override def description: String =
    s"parquet:$dir/$table ${query.getOrElse("SELECT *")}"
}

/** JDBC source with whole-query pushdown — same semantics as the
  * reference's single-tx snapshot (`internal/sql/source.go:124-135`): the
  * database executes the query; Spark reads the result. `numPartitions` +
  * a partition column parallelize the read when provided (the scale path
  * the reference lacks). Compiles offline; exercised only with a live DB.
  */
case class JdbcSnapshotSource(url: String, query: String,
    partitionColumn: Option[String] = None, numPartitions: Int = 1,
    lowerBound: Long = 0L, upperBound: Long = 0L) extends SnapshotSource {
  override def frame(spark: SparkSession): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
    val withQuery = partitionColumn match {
      case Some(pc) if numPartitions > 1 =>
        base.option("dbtable", s"($query) graft_snap")
          .option("partitionColumn", pc)
          .option("numPartitions", numPartitions)
          .option("lowerBound", lowerBound)
          .option("upperBound", upperBound)
      case _ => base.option("query", query)
    }
    withQuery.load()
  }
  override def description: String = s"jdbc:$url $query"
}

/** Output location resolution (`internal/integrations/local/repository.go`,
  * `internal/s3/repository.go`): snapshot id becomes the key prefix; the
  * actual byte shuffling is the parquet writer's job.
  */
object Repository {
  def resolve(tpe: String, basePath: String, prefix: String): String =
    tpe match {
      case "local" => s"$basePath/$prefix"
      case "s3"    =>
        val p = basePath.stripPrefix("s3://").stripPrefix("s3a://")
        s"s3a://$p/$prefix"
      case other => throw new IllegalArgumentException(s"unknown repository type: $other")
    }
}

/** Typed-parquet preserver: applies the declared schema (arity- and
  * name-checked like `RecordToParquetRow`, `internal/parquet/schema.go:53-73`)
  * as column casts, then writes size-bounded parts.
  */
object Preserver {

  /** Cast the frame to the declared schema. Column count must match the
    * declared field count (reference errors likewise); names must resolve.
    */
  def applySchema(df: DataFrame, fields: Seq[FieldSpec]): DataFrame = {
    if (fields.isEmpty) df
    else {
      require(df.columns.length == fields.length,
        s"record has ${df.columns.length} fields, schema expects ${fields.length}")
      val target: StructType = FieldSpec.toStructType(fields)
      df.select(target.fields.map(f => col(f.name).cast(f.dataType).as(f.name)).toSeq: _*)
    }
  }

  def write(df: DataFrame, dest: String, batchSizeNumRecords: Option[Long]): Unit = {
    val w = df.write.mode("overwrite")
    batchSizeNumRecords
      .filter(_ > 0)
      .fold(w)(n => w.option("maxRecordsPerFile", n))
      .parquet(dest)
  }
}

object Archiver {

  /** Run one snapshot; returns the audit catalog (also written as
    * `catalog.json` under the destination prefix, like
    * `internal/archiver/archiver.go:115-129`).
    */
  def snapshot(spark: SparkSession, cfg: GraftConfig,
      snapshotId: String = java.util.UUID.randomUUID().toString): Catalog = {
    val a = cfg.archiver
    val source: SnapshotSource = a.source.tpe match {
      case "parquet" => ParquetSnapshotSource(
        a.source.path.getOrElse(throw new IllegalArgumentException("parquet source needs 'path'")),
        a.source.table.getOrElse(throw new IllegalArgumentException("parquet source needs 'table'")),
        a.source.query)
      case "jdbc" => JdbcSnapshotSource(
        a.source.url.getOrElse(throw new IllegalArgumentException("jdbc source needs 'url'")),
        a.source.query.getOrElse(s"SELECT * FROM ${a.source.schema.fold("")(_ + ".")}${a.source.table.getOrElse("")}"))
      case other => throw new IllegalArgumentException(s"unknown source type: $other")
    }
    val dest = Repository.resolve(a.repository.tpe, a.repository.path, snapshotId)
    run(spark, source, a.preserver.fields, dest,
      a.preserver.batchSizeNumRecords, snapshotId)
  }

  def run(spark: SparkSession, source: SnapshotSource, fields: Seq[FieldSpec],
      dest: String, batchSizeNumRecords: Option[Long], snapshotId: String): Catalog = {
    val start = System.currentTimeMillis()
    var success = false
    var processed = 0L
    var failure: Option[Throwable] = None

    val df = source.frame(spark)
    val numSourceRecords = df.count() // audit pre-count (metadata-only for parquet)
    // Collect the rows-written count from the write pass itself (single
    // scan — no second pass over the data).
    val obs = org.apache.spark.sql.Observation(s"graft_snapshot_$snapshotId")
    val typed = Preserver.applySchema(df, fields)
      .observe(obs, count(lit(1)).as("rows_written"))

    try {
      Preserver.write(typed, dest, batchSizeNumRecords)
      processed = obs.get("rows_written").asInstanceOf[Long]
      success = true
    } catch {
      case e: Throwable => failure = Some(e)
    }

    val catalog = Catalog(
      id = snapshotId,
      startTimeMs = start,
      endTimeMs = System.currentTimeMillis(),
      source = source.description,
      numSourceRecords = numSourceRecords,
      numRecordsProcessed = processed,
      success = success)
    // a failed snapshot still leaves an audit record (success=false),
    // like the reference's catalog path — then the error propagates
    try writeCatalog(catalog, dest, spark)
    catch { case e: Throwable => if (failure.isEmpty) failure = Some(e) }
    failure.foreach(throw _)
    catalog
  }

  /** Audit-record file name. The reference writes `catalog.json`
    * (`internal/archiver/archiver.go:120-129`); we prefix with `_` so the
    * output directory stays directly readable as a parquet dataset (Hadoop
    * FileInputFormat skips `_`/`.`-prefixed files, same convention as
    * `_SUCCESS`).
    */
  val CatalogFileName = "_catalog.json"

  /** Write the catalog under the destination prefix (local path or via the
    * Hadoop FS API for object stores — using the SESSION's Hadoop conf so
    * s3a credentials/endpoints configured on the session apply here too).
    */
  private def writeCatalog(c: Catalog, dest: String, spark: SparkSession): Unit = {
    val json =
      s"""{"id":"${c.id}","start_time_ms":${c.startTimeMs},"end_time_ms":${c.endTimeMs},
         |"source":${Json.str(c.source)},"num_source_records":${c.numSourceRecords},
         |"num_records_processed":${c.numRecordsProcessed},"success":${c.success}}""".stripMargin.replace("\n", "")
    if (dest.startsWith("s3a://") || dest.startsWith("hdfs://")) {
      // route through Hadoop FS so the same code works on object stores
      val path = new org.apache.hadoop.fs.Path(dest, CatalogFileName)
      val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(path, true)
      try out.write(json.getBytes("UTF-8")) finally out.close()
    } else {
      val dir = Paths.get(dest.stripPrefix("file:"))
      Files.createDirectories(dir)
      // atomic tmp+rename, like the reference checkpoint writer
      val tmp = dir.resolve(s".$CatalogFileName.tmp")
      Files.writeString(tmp, json)
      Files.move(tmp, dir.resolve(CatalogFileName),
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    }
  }
}
