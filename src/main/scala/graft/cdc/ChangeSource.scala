package graft.cdc

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row

/** Streaming change sources. The reference's `Source` interface
  * (`pkg/replicator/replicator.go:46-51`) is a pull-based `Next()`;
  * Spark-first that becomes "produce a streaming DataFrame of raw change
  * rows" — offsets/resume are the stream's own (checkpointLocation), which
  * subsumes the reference's LSN/resume-token bookkeeping (SURVEY.md ST3/ST6).
  *
  * Raw-change row contract (consumed by [[Envelope]]):
  *   db, schema, table: String     — identity of the changed relation
  *   op: String                    — c|u|d|r (or source-native, map first)
  *   ts_ms: Long                   — source event time, epoch millis
  *   before, after: Map[String,String] — images (null per op semantics)
  *   lsn, txId: Long               — source positions (0 when N/A)
  *
  * The real PG-pgoutput / Mongo change-stream connectors are network
  * clients that cannot run in this offline environment; the JSON-lines
  * file source below is the deterministic double that exercises every
  * downstream stage (envelope, sink, checkpoint/resume, control plane)
  * through public APIs only.
  */
object ChangeSource {
  val rawSchema: StructType = StructType(Seq(
    StructField("db", StringType),
    StructField("schema", StringType),
    StructField("table", StringType),
    StructField("op", StringType),
    StructField("ts_ms", LongType),
    StructField("before", MapType(StringType, StringType)),
    StructField("after", MapType(StringType, StringType)),
    StructField("lsn", LongType),
    StructField("txId", LongType)))
}

trait ChangeSource {
  /** A STREAMING DataFrame of raw change rows (ChangeSource.rawSchema). */
  def changes(spark: SparkSession): DataFrame
}

/** Deterministic file-backed change stream: JSON-lines files dropped into
  * `dir` become micro-batches (`maxFilesPerTrigger` throttles). This is the
  * offline stand-in for the PG/Mongo connectors.
  */
case class FileChangeSource(dir: String, maxFilesPerTrigger: Int = 10)
    extends ChangeSource {
  override def changes(spark: SparkSession): DataFrame =
    spark.readStream
      .schema(ChangeSource.rawSchema)
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .json(dir)
}

/** End-to-end replicate-pipeline wiring: change source -> Debezium
  * envelope -> sink. The Kafka shape matches the reference target
  * (`internal/integrations/kafka/repository.go`): key = db.schema.table,
  * value = envelope JSON; producer tuning rides on `kafka.`-prefixed
  * options (acks=1, linger.ms=5, batch.size=16384, snappy — the
  * reference's defaults, BASELINE.md).
  */
object ReplicatePipeline {

  def envelopeFrame(source: ChangeSource, spark: SparkSession,
      connector: String, name: String): DataFrame =
    Envelope.toKafkaFrame(source.changes(spark), connector, name)

  /** The reference target's producer tuning
    * (`internal/integrations/kafka/repository.go:49-60`), expressed as the
    * `kafka.`-prefixed options Spark's Kafka sink forwards to the
    * producer. A first-class map so specs (and callers layering their own
    * overrides — the reference lets URL query params override config,
    * `repository.go:62-81`) see exactly what the sink gets.
    */
  def kafkaProducerOptions(brokers: String, topic: String,
      overrides: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> brokers,
      "topic" -> topic,
      "kafka.acks" -> "1",
      "kafka.retries" -> "3",
      "kafka.batch.size" -> "16384",
      "kafka.linger.ms" -> "5",
      "kafka.compression.type" -> "snappy",
      "kafka.max.in.flight.requests.per.connection" -> "5",
      "kafka.request.timeout.ms" -> "5000",
      "kafka.delivery.timeout.ms" -> "10000") ++
      overrides.map { case (k, v) =>
        (if (k.startsWith("kafka.") || k == "topic") k else s"kafka.$k") -> v
      }

  /** Kafka sink writer (compiles offline; needs brokers to run). */
  def kafkaWriter(frame: DataFrame, brokers: String, topic: String,
      checkpointDir: String,
      overrides: Map[String, String] = Map.empty): DataStreamWriter[Row] =
    frame.writeStream
      .format("kafka")
      .options(kafkaProducerOptions(brokers, topic, overrides))
      .option("checkpointLocation", checkpointDir)

  /** Per-batch delivery-report seam. The reference surfaces async produce
    * failures through a delivery-report loop that logs and counts them
    * ("Add your retry logic, DLQ, or alerting here",
    * `internal/integrations/kafka/repository.go:100-119`); Spark's sink
    * fails the micro-batch instead, so the parity hook is per-batch:
    * `onError` fires with (batchId, error) before the failure propagates,
    * and the batch retries under the stream's at-least-once contract.
    *
    * Commit path: before each batch the stream writes its offset-log entry
    * (`walCommit`), and after `writeBatch` returns its commit-log entry
    * (`commitOffsets`); both sit on the commit-to-ack critical path and go
    * through the session's checkpoint file manager. Under
    * [[graft.GraftSession.create]] that is
    * [[graft.replicate.LocalCheckpointFileManager]], which commits a local
    * `checkpointDir` without starting a process; other schemes keep
    * Spark's default manager.
    */
  def startWithDeliveryReports(frame: DataFrame,
      writeBatch: (DataFrame, Long) => Unit,
      onError: (Long, Throwable) => Unit,
      checkpointDir: String,
      triggerMs: Long = 100L): StreamingQuery =
    frame.writeStream
      .foreachBatch { (df: DataFrame, batchId: Long) =>
        try writeBatch(df, batchId)
        catch {
          case e: Throwable =>
            onError(batchId, e)
            throw e // keep at-least-once: the batch must not be committed
        }
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()

  /** Kafka sink over the library's own wire client ([[KafkaWireCluster]]
    * — no client jar): each micro-batch partition opens its own
    * leader-routed connections and produces its rows with murmur2 key
    * partitioning, so the work stays on the executors (no driver
    * collect) and record batches stay under the broker's
    * `message.max.bytes` via size-bounded chunking. Failures raise
    * through `onError` and fail the batch — at-least-once, identical to
    * [[startWithDeliveryReports]]. Connections are per-task by design
    * (simple, correct under retries); a long-lived deployment would pool
    * them per executor.
    */
  def startToKafkaWire(frame: DataFrame, host: String, port: Int,
      topic: String, checkpointDir: String,
      onError: (Long, Throwable) => Unit = (_, _) => (),
      triggerMs: Long = 100L): StreamingQuery =
    startWithDeliveryReports(frame,
      writeBatch = (df, _) => {
        import org.apache.spark.sql.functions.col
        df.select(col("key").cast("string"), col("value").cast("string"))
          .foreachPartition { (rows: Iterator[Row]) =>
            if (rows.hasNext) {
              val cluster = new KafkaWireCluster(host, port)
              try {
                val now = System.currentTimeMillis()
                val records = rows.map { r =>
                  // A null key/value means the frame wasn't built by
                  // Envelope.toKafkaFrame — fail with context instead of
                  // an anonymous executor NPE.
                  require(!r.isNullAt(0) && !r.isNullAt(1),
                    s"null key or value in Kafka frame for topic '$topic'; " +
                      "frames must carry non-null key and value columns " +
                      "(see Envelope.toKafkaFrame)")
                  (r.getString(0).getBytes(java.nio.charset.StandardCharsets.UTF_8),
                    r.getString(1).getBytes(java.nio.charset.StandardCharsets.UTF_8),
                    now)
                }.toSeq
                cluster.send(topic, records)
                ()
              } finally cluster.close()
            }
          }
      },
      onError = onError,
      checkpointDir = checkpointDir,
      triggerMs = triggerMs)

  /** File sink used offline (same envelope frame, parquet instead of
    * Kafka) — lets tests and the archiver-to-lake path share wiring.
    */
  def startToParquet(source: ChangeSource, spark: SparkSession,
      connector: String, name: String, outDir: String,
      checkpointDir: String,
      triggerMs: Long = 100L): StreamingQuery =
    envelopeFrame(source, spark, connector, name)
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerMs))
      .start()
}
