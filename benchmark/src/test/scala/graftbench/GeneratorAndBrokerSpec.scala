package graftbench

import graft.cdc.{KafkaWire, KafkaWireCluster, KafkaWireProducer}
import graft.sources.{PgOutputSession, ScriptedTransport}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets

class GeneratorAndBrokerSpec extends AnyFunSuite {

  private def txs(seed: Long): IndexedSeq[GeneratedTx] = {
    val g = new PgFrames(seed, RelSpec.wide(3))
    (0 until 40).map(i => g.transaction(1 + i % 7, 1700000000000000L + i * 1000L))
  }

  test("the frame generator is byte-identical for a given seed") {
    val a = txs(7).flatMap(_.frames)
    val b = txs(7).flatMap(_.frames)
    assert(a.length == b.length)
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x, y) })
    val c = txs(8).flatMap(_.frames)
    assert(!a.zip(c).forall { case (x, y) => java.util.Arrays.equals(x, y) })
  }

  test("generated frames decode through the program's session into the expected changes") {
    val all = txs(3)
    val session = new PgOutputSession(new ScriptedTransport(all.flatMap(_.frames)))
    val decoded = Iterator.continually(session.poll()).takeWhile(_.isDefined).flatten.toIndexedSeq
    val expected = all.flatMap(_.events)
    assert(decoded.length == expected.length)
    assert(expected.map(_.op).toSet == Set("c", "u", "d"))
    decoded.zip(expected).foreach { case (ch, e) =>
      assert(ch.op == e.op && ch.table == e.table && ch.commitLsn == e.lsn && ch.xid == e.txId)
      assert(ch.commitTimeMillis == e.tsMs)
      assert(ch.before == e.before && ch.after == e.after)
    }
    // a key is touched at most once per transaction, so identities are unique
    assert(expected.map(_.identity).distinct.length == expected.length)
  }

  private def keyed(n: Int) = (0 until n).map { i =>
    (s"appdb.public.t${i % 5}".getBytes(StandardCharsets.UTF_8),
      s"""{"v":$i}""".getBytes(StandardCharsets.UTF_8), 1000L + i)
  }

  test("the broker accepts KafkaWireProducer and KafkaWireCluster traffic") {
    val broker = new LoopbackBroker("cdc", 4)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try producer.send("cdc", 4, keyed(20)) finally producer.close()
      val cluster = new KafkaWireCluster("127.0.0.1", broker.port)
      try cluster.send("cdc", keyed(30)) finally cluster.close()
      val log = broker.drain()
      assert(log.length == 50)
      log.foreach(r => assert(KafkaWire.partitionFor(r.key, 4) == r.partition))
      assert(broker.connections.get == 2)
      // ApiVersions per client; only the cluster asks for Metadata (the
      // producer is told the partition count)
      assert(broker.handshakeRequests.get == 3)
      assert(broker.produceRequests.get == broker.produceSpans.size)
      assert(broker.maxInflight.get == 1)
      assert(broker.failure == null)
    } finally broker.stop()
  }

  test("the broker rejects a record batch whose CRC is corrupted") {
    val broker = new LoopbackBroker("cdc", 2)
    try {
      val batch = KafkaWire.recordBatch(Seq(KafkaWire.Record(Some("k".getBytes), "v".getBytes, 1L)))
      batch(batch.length - 1) = (batch(batch.length - 1) ^ 0x5a).toByte
      val s = new Socket(InetAddress.getLoopbackAddress, broker.port)
      try {
        val out = new DataOutputStream(s.getOutputStream)
        out.write(KafkaWire.produceRequest(1, "t", "cdc", 1, 1000, Seq(0 -> batch)))
        out.flush()
        val (cid, body) = KafkaWire.readResponse(new DataInputStream(s.getInputStream))
        assert(cid == 1)
        val acks = KafkaWire.parseProduceResponse(body)
        assert(acks.map(_.errorCode) == Seq(2: Short)) // CORRUPT_MESSAGE
      } finally s.close()
      assert(broker.rejectedBatches.get == 1)
      assert(broker.drain().isEmpty)
    } finally broker.stop()
  }

  test("digests ignore row order but not content") {
    val rows = (0 until 50).map(i => org.apache.spark.sql.Row(i, s"x$i", if (i % 3 == 0) null else i * 0.5))
    val d = Digest.ofRows(rows)
    assert(Digest.ofRows(scala.util.Random.shuffle(rows)) == d)
    assert(Digest.ofRows(rows.tail) != d)
    assert(Digest.ofRows(rows :+ rows.head) != d)
    assert(Digest.ofRows(rows.updated(3, org.apache.spark.sql.Row(3, "x3", 1.25))) != d)
    val m1 = Map("a" -> "1", "b" -> null)
    assert(ExpectedEvent.digest("u", "t", 1, 2, 3, m1, null) ==
      ExpectedEvent.digest("u", "t", 1, 2, 3, Map("b" -> null, "a" -> "1"), null))
  }
}
