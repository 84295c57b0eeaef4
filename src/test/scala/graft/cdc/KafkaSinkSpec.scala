package graft.cdc

import graft.SparkTestSession
import graft.cdc.KafkaWire.{decodeRecordBatch, partitionFor}
import graft.replicate.ReplicatorStats
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

/** The Kafka egress of the replicate pipeline: the DSv2 sink
  * ([[KafkaWireSinkProvider]]) behind [[ReplicatePipeline.startToKafkaWire]].
  * A partition larger than one chunk goes out chunk by chunk, and a failed
  * batch surfaces through the delivery-report hook
  * (`internal/integrations/kafka/repository.go:100-119`), counts as a write
  * error, and is redelivered after a restart (at-least-once).
  */
class KafkaSinkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val key = "appdb.public.users"

  private def walFrame(walId: String): DataFrame = {
    InMemoryWal.clear(walId)
    InMemoryWal.append(walId, WalRecord(1L, "appdb", "public", "users", "c",
      1000L, null, Map("id" -> "1"), 1L))
    InMemoryWalStream(spark, walId)
  }

  private def eventually(what: String)(cond: => Boolean): Unit = {
    val deadline = System.nanoTime() + 30L * 1000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    assert(cond, what)
  }

  test("delivery-report hook fires per failed batch, counts write errors, keeps at-least-once") {
    val stats = new ReplicatorStats
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val ckpt = Files.createTempDirectory("dr-ckpt").toString
    // error 7 = REQUEST_TIMED_OUT on the partition the change's key maps to
    val errPartition = partitionFor(key.getBytes(UTF_8), 3)
    val failing = new ScriptedKafkaBroker("changes", 3,
      produceErrors = Map(errPartition -> (7: Short)))
    val q = try {
      val q = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(walFrame("kafka-dlq"), "postgres", "r2"),
        "127.0.0.1", failing.port, "changes", ckpt,
        onError = (batchId, e) => { batches.add(batchId); stats.recordWriteError(batchId, e) })
      // the broker error fails the batch and stops the query
      intercept[Exception](q.processAllAvailable())
      q
    } finally failing.stop()

    // the hook runs on the listener bus after the query terminates
    eventually("onError never fired")(stats.writeErrors.get == 1)
    assert(batches.toArray.toSeq == Seq(0L), "the very first batch failed, once")
    assert(stats.lastError.get == s"batch 0: produce failed on partition $errPartition (err 7)")
    assert(stats.toJson("streaming", healthy = true)
      .contains(""""write_error_count":1"""))
    assert(q.exception.isDefined)
    // nothing committed: the restart plans the failed batch again
    assert(ReplicatePipeline.checkpointedOffset(spark, ckpt).isEmpty)
    assert(!spark.streams.listListeners().exists(_.getClass.getName.contains("DeliveryReports")),
      "the query's listener is removed when it terminates")

    // restart from the same checkpoint against a healthy broker: the
    // failed batch is redelivered (at-least-once), not skipped
    val healthy = new ScriptedKafkaBroker("changes", 3)
    try {
      val q2 = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(walFrame("kafka-dlq"), "postgres", "r2"),
        "127.0.0.1", healthy.port, "changes", ckpt,
        onError = (batchId, e) => stats.recordWriteError(batchId, e))
      try q2.processAllAvailable() finally q2.stop()
      val delivered = healthy.produced.toArray(Array.empty[healthy.Captured]).toSeq
        .flatMap(c => decodeRecordBatch(c.recordSet).map(r => (c.partition, r)))
      assert(delivered.size == 1, "exactly the redelivered event")
      assert(delivered.head._1 == errPartition)
      assert(new String(delivered.head._2.key.get, UTF_8) == key)
      assert(ReplicatePipeline.checkpointedOffset(spark, ckpt).contains("1"))
      assert(healthy.failure == null, s"broker failure: ${healthy.failure}")
    } finally healthy.stop()
    assert(stats.writeErrors.get == 1, "successful redelivery adds no errors")
  }

  test("a partition larger than one chunk goes out in capped produce requests, key order kept") {
    val walId = "kafka-chunks"
    InMemoryWal.clear(walId)
    // 2400 changes over 8 keys, ~1.3 KB envelopes: ~3 MB in one micro-batch
    // (two tasks of four relations each, ~1.5 MB apiece), over three
    // chunks' worth
    val pad = "x" * 1000
    val n = 2400
    (1 to n).foreach { i =>
      InMemoryWal.append(walId, WalRecord(i.toLong, "appdb", "public", s"t${i % 8}", "c",
        1000L + i, null, Map("id" -> i.toString, "pad" -> pad), i.toLong))
    }
    val broker = new ScriptedKafkaBroker("changes", 4)
    val ckpt = Files.createTempDirectory("chunk-ckpt").toString
    try {
      val q = ReplicatePipeline.startToKafkaWire(
        Envelope.toKafkaFrame(InMemoryWalStream(spark, walId), "postgresql", "c1"),
        "127.0.0.1", broker.port, "changes", ckpt)
      try q.processAllAvailable() finally q.stop()
      assert(q.recentProgress.map(_.numInputRows).toSeq.filter(_ > 0) == Seq(n.toLong),
        "one micro-batch")

      val captured = broker.produced.toArray(Array.empty[broker.Captured]).toSeq
      captured.foreach(c => assert(c.recordSet.length <= KafkaWire.MaxBatchBytes,
        s"record batch of ${c.recordSet.length} bytes over the cap"))
      val bytes = captured.map(_.recordSet.length.toLong).sum
      assert(bytes > 3L * KafkaWire.MaxBatchBytes, s"only $bytes bytes produced")
      // the writer sends each chunk before it buffers the next, so Kafka
      // partitions interleave chunk by chunk; a whole-batch send would
      // finish one partition before it starts the next
      val order = captured.map(_.partition)
      assert(order.distinct.size > 1)
      assert(order.lastIndexOf(order.min) > order.indexOf(order.max),
        s"produce requests went partition by partition: $order")
      val records = captured.flatMap(c => decodeRecordBatch(c.recordSet).map(r =>
        (new String(r.key.get, UTF_8), "\"lsn\":(\\d+)".r.findFirstMatchIn(new String(r.value, UTF_8))
          .map(_.group(1).toLong).get)))
      assert(records.map(_._2).sorted == (1L to n.toLong), "every change exactly once")
      records.groupBy(_._1).foreach { case (k, rs) =>
        val lsns = rs.map(_._2)
        assert(lsns == lsns.sorted, s"key $k out of order across chunks")
      }
      assert(broker.failure == null, s"broker failure: ${broker.failure}")
    } finally broker.stop()
  }
}
