package graft.cdc

import org.apache.spark.sql.types._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener}

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

  /** The batch a query on `checkpointDir` planned and did not commit:
    * its offset-log entry is written before the batch runs, its
    * commit-log entry only after every task succeeded. */
  private def uncommittedBatch(spark: SparkSession, checkpointDir: String): Option[Long] = {
    import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, OffsetSeqLog}
    val committed = new CommitLog(spark, s"$checkpointDir/commits").getLatestBatchId()
    new OffsetSeqLog(spark, s"$checkpointDir/offsets").getLatestBatchId()
      .filter(b => !committed.exists(_ >= b))
  }

  /** Kafka sink over the library's own wire client: the frame's key and
    * value, as strings, go to [[KafkaWireSinkProvider]], whose writer runs
    * inside each micro-batch's own job (one [[KafkaWireCluster]] per task,
    * murmur2 key partitioning, chunks bounded by the record-batch cap).
    * Micro-batches run back to back: the next one starts as soon as the
    * last one commits (Spark's default trigger), and a batch commits only
    * after every record is acked (at-least-once).
    *
    * Delivery reports (the reference's delivery-report loop, "Add your
    * retry logic, DLQ, or alerting here",
    * `internal/integrations/kafka/repository.go:100-119`): when a batch
    * fails, the query stops with the broker error, and `onError` fires
    * once, on the driver, with that batch's id and the error's root cause.
    * A restart on the same checkpoint replays the batch. The hook comes
    * from a listener registered for this query alone and removed when it
    * terminates, so `onError` is never serialized into a task.
    *
    * Commit path: before each batch the stream writes its offset-log entry
    * (`walCommit`), and after the write its commit-log entry
    * (`commitOffsets`); both sit on the commit-to-ack critical path and go
    * through the session's checkpoint file manager. Under
    * [[graft.GraftSession.create]] that is
    * [[graft.replicate.LocalCheckpointFileManager]], which commits a local
    * `checkpointDir` without starting a process; other schemes keep
    * Spark's default manager.
    */
  def startToKafkaWire(frame: DataFrame, host: String, port: Int,
      topic: String, checkpointDir: String,
      onError: (Long, Throwable) => Unit = (_, _) => ()): StreamingQuery = {
    import org.apache.spark.sql.functions.col
    val spark = frame.sparkSession
    val reports = new DeliveryReports(spark, checkpointDir, onError)
    spark.streams.addListener(reports)
    var query: StreamingQuery = null
    try {
      query = frame.select(col("key").cast("string"), col("value").cast("string"))
        .writeStream.format(classOf[KafkaWireSinkProvider].getName)
        .option("host", host).option("port", port.toString).option("topic", topic)
        .option("checkpointLocation", checkpointDir)
        .start()
      query
    } finally {
      if (query == null) spark.streams.removeListener(reports)
      reports.watch(query)
    }
  }

  /** The driver-side `onError` of one [[startToKafkaWire]] query. A query
    * can terminate before `start()` returns its handle, so termination
    * events wait for [[watch]]. */
  private final class DeliveryReports(spark: SparkSession, checkpointDir: String,
      onError: (Long, Throwable) => Unit) extends StreamingQueryListener {
    private val started = new java.util.concurrent.CountDownLatch(1)
    @volatile private var query: StreamingQuery = _

    def watch(q: StreamingQuery): Unit = { query = q; started.countDown() }

    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = {
      started.await()
      val q = query
      if (q != null && e.runId == q.runId) {
        spark.streams.removeListener(this)
        for {
          failure <- q.exception
          batch <- uncommittedBatch(spark, checkpointDir)
        } onError(batch, rootCause(failure))
      }
    }

    private def rootCause(t: Throwable): Throwable =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
  }
}
