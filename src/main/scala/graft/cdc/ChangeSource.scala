package graft.cdc

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The raw-change row contract every CDC source emits (the DSv2
  * [[graft.sources.CdcSourceProvider]] and
  * [[graft.sources.TokenStreamProvider]]) and [[Envelope]] consumes.
  * Offsets and resume are the stream's own (`checkpointLocation`), which
  * subsumes the reference's LSN/resume-token bookkeeping (SURVEY.md
  * ST3/ST6):
  *
  *   db, schema, table: String     — identity of the changed relation
  *   op: String                    — c|u|d|r (or source-native, map first)
  *   ts_ms: Long                   — source event time, epoch millis
  *   before, after: Map[String,String] — images (null per op semantics)
  *   lsn, txId: Long               — source positions (0 when N/A)
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

/** End-to-end replicate-pipeline wiring: a raw-change stream, projected
  * by [[Envelope.toKafkaFrame]], produced to Kafka over the library's own
  * wire client. The Kafka shape matches the reference target
  * (`internal/integrations/kafka/repository.go`): key = db.schema.table,
  * value = envelope JSON, acks=1.
  */
object ReplicatePipeline {

  /** The source offset JSON a query restarted on `checkpointDir` plans
    * its first batch from (the last committed batch's end; None before
    * the first commit). Live clients connect before the stream hands them
    * a position, so a restart passes this as their start (`pg.start.lsn`,
    * `mongo.resume.after`). Single-source queries only. */
  def checkpointedOffset(spark: SparkSession, checkpointDir: String): Option[String] = {
    import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, OffsetSeqLog}
    new CommitLog(spark, s"$checkpointDir/commits").getLatestBatchId()
      .flatMap(new OffsetSeqLog(spark, s"$checkpointDir/offsets").get(_))
      .flatMap(_.offsets.headOption.flatten).map(_.json)
  }

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
}
