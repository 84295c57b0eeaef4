package graft.cdc

import graft.SparkTestSession
import graft.replicate.ReplicatorStats
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

/** The delivery-report parity path of the Kafka egress
  * (`internal/integrations/kafka/repository.go:100-119`): a failed
  * micro-batch write surfaces through the per-batch hook, counts as a
  * write error, and is redelivered after a restart (at-least-once).
  */
class KafkaSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def walFrame(walId: String): DataFrame = {
    InMemoryWal.clear(walId)
    InMemoryWal.append(walId, WalRecord(1L, "appdb", "public", "users", "c",
      1000L, null, Map("id" -> "1"), 1L))
    InMemoryWalStream(spark, walId)
  }

  test("delivery-report hook fires per failed batch, counts write errors, keeps at-least-once") {
    val stats = new ReplicatorStats
    val failures = new AtomicInteger(0)
    val okBatches = new AtomicInteger(0)
    val out = Files.createTempDirectory("dr-out").toString
    val ckpt = Files.createTempDirectory("dr-ckpt").toString

    val frame = Envelope.toKafkaFrame(walFrame("kafka-dlq"), "postgres", "r2")
    val q = ReplicatePipeline.startWithDeliveryReports(
      frame,
      writeBatch = (df, _) => {
        // first delivery attempt of a non-empty batch fails (broker-down
        // stand-in); the retry succeeds
        if (df.count() > 0 && failures.get == 0) {
          failures.incrementAndGet()
          throw new RuntimeException("delivery failed: broker unreachable")
        }
        df.write.mode("append").parquet(out)
        okBatches.incrementAndGet()
      },
      onError = (batchId, e) => stats.recordWriteError(batchId, e),
      checkpointDir = ckpt)
    try {
      // first attempt fails the query; error is reported
      intercept[Exception](q.processAllAvailable())
    } finally q.stop()

    assert(failures.get == 1)
    assert(stats.writeErrors.get == 1)
    assert(stats.lastError.get.contains("broker unreachable"))
    assert(stats.toJson("streaming", healthy = true)
      .contains(""""write_error_count":1"""))

    // restart from the same checkpoint: the failed batch is redelivered
    // (at-least-once), not skipped
    val q2 = ReplicatePipeline.startWithDeliveryReports(
      Envelope.toKafkaFrame(walFrame("kafka-dlq"), "postgres", "r2"),
      writeBatch = (df, _) => {
        df.write.mode("append").parquet(out)
        okBatches.incrementAndGet()
      },
      onError = (batchId, e) => stats.recordWriteError(batchId, e),
      checkpointDir = ckpt)
    try q2.processAllAvailable() finally q2.stop()

    val rows = spark.read.parquet(out)
    assert(rows.count() == 1, "exactly the redelivered event")
    assert(rows.head.getString(0) == "appdb.public.users")
    assert(stats.writeErrors.get == 1, "successful redelivery adds no errors")
  }
}
