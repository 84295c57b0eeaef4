package graft.cdc

import graft.cdc.KafkaWire._
import graft.sources.{InMemoryWal, InMemoryWalStream, WalRecord}
import org.scalatest.funsuite.AnyFunSuite

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

/** Scripted Kafka broker on a real localhost socket: decodes request
  * frames with its own header parser (not the producer's encoder),
  * answers canned ApiVersions/Metadata responses, captures Produce record
  * sets verbatim, and can inject per-partition error codes — the offline
  * test bed for the wire producer (the live-broker half the KafkaSinkSpec
  * stubs out).
  */
class ScriptedKafkaBroker(topic: String, numPartitions: Int,
    produceErrors: Map[Int, Short] = Map.empty,
    maxProduceVersion: Short = 9,
    maxFetchVersion: Short = 11,
    nodeId: Int = 0,
    // multi-broker scripting: full broker table (id, host, port), leader
    // nodeId per (metadata-request-ordinal, partition), and the partition
    // set THIS broker accepts produce for (others get NOT_LEADER = 6)
    brokerTable: () => Seq[(Int, String, Int)] = null,
    partitionLeaders: (Int, Int) => Int = (_, _) => 0,
    owned: Int => Boolean = _ => true,
    // when set, every fetch that leaves batches unserved appends a 20-byte
    // prefix of the next batch — the mid-batch cut real brokers make at
    // partition_max_bytes, which consumers must drop and re-fetch
    fetchTruncatesTail: Boolean = false) {

  val metadataCalls = new java.util.concurrent.atomic.AtomicInteger(0)

  // in-memory log: accepted produce batches with broker-assigned base
  // offsets, re-served by Fetch. Starts at a NONZERO offset (100 + p) so
  // client code can't get away with assuming 0-based logs.
  private case class StoredBatch(baseOffset: Long, bytes: Array[Byte], count: Int)
  private val logLock = new Object
  private val logs = scala.collection.mutable.Map.empty[Int, Vector[StoredBatch]]
  private def logStart(p: Int): Long = 100L + p
  private def logEnd(p: Int): Long = logLock.synchronized {
    logs.getOrElse(p, Vector.empty).lastOption
      .map(b => b.baseOffset + b.count).getOrElse(logStart(p))
  }
  private def append(p: Int, set: Array[Byte]): Long = logLock.synchronized {
    val base = logEnd(p)
    val stored = set.clone()
    // brokers rewrite baseOffset on append (the batch ships with 0)
    java.nio.ByteBuffer.wrap(stored).putLong(0, base)
    val count = decodeRecordBatch(set).size
    logs(p) = logs.getOrElse(p, Vector.empty) :+ StoredBatch(base, stored, count)
    base
  }

  private val server = new ServerSocket(0, 16, java.net.InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  case class Captured(partition: Int, recordSet: Array[Byte], acks: Short)
  val produced = new ConcurrentLinkedQueue[Captured]()
  val clientIds = new ConcurrentLinkedQueue[String]()
  @volatile var failure: Throwable = _

  private val acceptThread = new Thread(() => {
    try {
      while (!server.isClosed) {
        val sock = server.accept()
        val h = new Thread(() => {
          try serve(sock)
          catch { case t: Throwable => failure = t }
        }, "scripted-kafka-conn")
        h.setDaemon(true)
        h.start()
      }
    } catch { case _: java.io.IOException => } // closed
  }, "scripted-kafka-accept")
  acceptThread.setDaemon(true)
  acceptThread.start()

  private def serve(sock: java.net.Socket): Unit = {
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    try {
      while (true) {
        val len = in.readInt()
        val frame = new Array[Byte](len)
        in.readFully(frame)
        val buf = ByteBuffer.wrap(frame)
        val apiKey = buf.getShort
        val apiVersion = buf.getShort
        val cid = buf.getInt
        val clientIdLen = buf.getShort
        val cidBytes = new Array[Byte](clientIdLen)
        buf.get(cidBytes)
        clientIds.add(new String(cidBytes, StandardCharsets.UTF_8))

        val body = new ByteArrayOutputStream()
        writeInt(body, cid)
        apiKey match {
          case ApiVersions =>
            require(apiVersion == 0, s"expected ApiVersions v0, got $apiVersion")
            writeShort(body, 0)
            val ranges = Seq((ApiProduce, 0: Short, maxProduceVersion),
              (ApiFetch, 0: Short, maxFetchVersion),
              (ApiListOffsets, 0: Short, 5: Short),
              (ApiMetadata, 0: Short, 12: Short),
              (ApiVersions, 0: Short, 3: Short))
            writeInt(body, ranges.size)
            ranges.foreach { case (k, lo, hi) =>
              writeShort(body, k); writeShort(body, lo); writeShort(body, hi)
            }
          case ApiMetadata =>
            require(apiVersion == 1, s"expected Metadata v1, got $apiVersion")
            val ordinal = metadataCalls.getAndIncrement()
            val nTopics = buf.getInt
            val requested = (0 until nTopics).map(_ => readString(buf))
            val brokers =
              if (brokerTable != null) brokerTable()
              else Seq((nodeId, "127.0.0.1", port))
            writeInt(body, brokers.size)
            brokers.foreach { case (id, h, p) =>
              writeInt(body, id)
              writeStringTo(body, h)
              writeInt(body, p)
              writeShort(body, -1) // rack = null
            }
            writeInt(body, brokers.head._1) // controller_id
            writeInt(body, requested.size)
            requested.foreach { t =>
              writeShort(body, if (t == topic) 0 else 3) // 3 = UNKNOWN_TOPIC
              writeStringTo(body, t)
              body.write(0) // is_internal
              val parts = if (t == topic) numPartitions else 0
              writeInt(body, parts)
              (0 until parts).foreach { p =>
                writeShort(body, 0)
                writeInt(body, p)
                writeInt(body, partitionLeaders(ordinal, p)) // leader
                writeInt(body, 1); writeInt(body, 0) // replicas [0]
                writeInt(body, 1); writeInt(body, 0) // isr [0]
              }
            }
          case ApiProduce =>
            require(apiVersion == 3, s"expected Produce v3, got $apiVersion")
            val txLen = buf.getShort // transactional_id (null = -1)
            if (txLen > 0) buf.position(buf.position() + txLen)
            val acks = buf.getShort
            buf.getInt // timeout
            val nTopics = buf.getInt
            writeInt(body, nTopics)
            (0 until nTopics).foreach { _ =>
              val t = readString(buf)
              val nParts = buf.getInt
              writeStringTo(body, t)
              writeInt(body, nParts)
              (0 until nParts).foreach { _ =>
                val p = buf.getInt
                val setLen = buf.getInt
                val set = new Array[Byte](setLen)
                buf.get(set)
                produced.add(Captured(p, set, acks))
                val err: Short =
                  if (!owned(p)) 6 // NOT_LEADER_OR_FOLLOWER
                  else produceErrors.getOrElse(p, 0: Short)
                val base = if (err == 0) append(p, set) else -1L
                writeInt(body, p)
                writeShort(body, err)
                writeLong(body, base)
                writeLong(body, -1L) // log_append_time
              }
            }
            writeInt(body, 0) // throttle_time_ms
          case ApiListOffsets =>
            require(apiVersion == 1, s"expected ListOffsets v1, got $apiVersion")
            buf.getInt // replica_id
            val nTopics = buf.getInt
            writeInt(body, nTopics)
            (0 until nTopics).foreach { _ =>
              val t = readString(buf)
              val nParts = buf.getInt
              writeStringTo(body, t)
              writeInt(body, nParts)
              (0 until nParts).foreach { _ =>
                val p = buf.getInt
                val ts = buf.getLong
                writeInt(body, p)
                writeShort(body, if (t == topic) 0 else 3)
                writeLong(body, -1L) // timestamp
                writeLong(body, if (ts == -1L) logEnd(p) else logStart(p))
              }
            }
          case ApiFetch =>
            require(apiVersion == 4, s"expected Fetch v4, got $apiVersion")
            buf.getInt // replica_id
            buf.getInt // max_wait_ms
            buf.getInt // min_bytes
            buf.getInt // max_bytes
            buf.get() // isolation_level
            val nTopics = buf.getInt
            writeInt(body, 0) // throttle_time_ms
            writeInt(body, nTopics)
            (0 until nTopics).foreach { _ =>
              val t = readString(buf)
              val nParts = buf.getInt
              writeStringTo(body, t)
              writeInt(body, nParts)
              (0 until nParts).foreach { _ =>
                val p = buf.getInt
                val fetchOffset = buf.getLong
                val partMaxBytes = buf.getInt
                val (start, end, batches) = logLock.synchronized {
                  (logStart(p), logEnd(p), logs.getOrElse(p, Vector.empty))
                }
                writeInt(body, p)
                if (t != topic || fetchOffset < start || fetchOffset > end) {
                  writeShort(body, 1) // OFFSET_OUT_OF_RANGE
                  writeLong(body, end); writeLong(body, end)
                  writeInt(body, 0) // aborted
                  writeInt(body, 0) // empty record set
                } else {
                  // batch-granular serving: every batch whose LAST offset
                  // is at or past the fetch position, within the byte cap
                  // (always at least one so the consumer makes progress)
                  val eligible = batches.filter(b =>
                    b.baseOffset + b.count - 1 >= fetchOffset)
                  var size = 0
                  val served = eligible.takeWhile { b =>
                    val keep = size == 0 || size + b.bytes.length <= partMaxBytes
                    if (keep) size += b.bytes.length
                    keep
                  }
                  val set = new ByteArrayOutputStream()
                  served.foreach(b => set.write(b.bytes))
                  if (fetchTruncatesTail && served.nonEmpty &&
                      eligible.length > served.length)
                    set.write(eligible(served.length).bytes, 0, 20)
                  val setBytes = set.toByteArray
                  writeShort(body, 0)
                  writeLong(body, end) // high_watermark
                  writeLong(body, end) // last_stable_offset
                  writeInt(body, 0) // aborted_transactions
                  writeInt(body, setBytes.length)
                  body.write(setBytes)
                }
              }
            }
          case other => throw new IllegalStateException(s"broker got api $other")
        }
        val b = body.toByteArray
        out.writeInt(b.length)
        out.write(b)
        out.flush()
      }
    } catch { case _: java.io.IOException => } // client closed
  }

  private def writeStringTo(out: ByteArrayOutputStream, s: String): Unit =
    writeString(out, s)

  def stop(): Unit = server.close()
}

class KafkaWireSpec extends AnyFunSuite {

  test("murmur2 matches Kafka's published test vectors") {
    // the values asserted in Apache Kafka's own UtilsTest (public repo),
    // independently reproduced with a python reimplementation of the
    // published algorithm before being pinned here
    val vectors = Seq(
      "21" -> -973932308,
      "foobar" -> -790332482,
      "a-little-bit-long-string" -> -985981536,
      "a-little-bit-longer-string" -> -1486304829,
      "lkjh234lh9fiuh90y23oiuhsafujhadof229phr9h19h89h8" -> -58897971,
      "abc" -> 479470107)
    vectors.foreach { case (s, expected) =>
      assert(murmur2(s.getBytes(StandardCharsets.UTF_8)) == expected,
        s"murmur2('$s')")
    }
    assert(partitionFor("abc".getBytes, 4) == (479470107 & 0x7fffffff) % 4)
  }

  test("varint/varlong zigzag round-trips the int/long edges") {
    val ints = Seq(0, 1, -1, 63, 64, -64, -65, 300, -300,
      Int.MaxValue, Int.MinValue)
    def encoded(v: Long): ByteBuffer = {
      val buf = ByteBuffer.allocate(10)
      writeVarlong(buf, v)
      assert(buf.position() == varlongSize(v), s"size of $v")
      buf.flip()
    }
    ints.foreach(v => assert(readVarint(encoded(v)) == v, s"varint $v"))
    val longs = Seq(0L, 1L, -1L, 1234567890123L, -1234567890123L,
      Long.MaxValue, Long.MinValue)
    longs.foreach(v => assert(readVarlong(encoded(v)) == v, s"varlong $v"))
  }

  test("record batch v2 round-trips through its own decoder with CRC intact") {
    val records = Seq(
      Record(Some("k1".getBytes), "v1".getBytes, 1000L),
      Record(None, "v2-no-key".getBytes, 1005L),
      Record(Some("k3".getBytes), Array.emptyByteArray, 1010L))
    val batch = recordBatch(records)
    val decoded = decodeRecordBatch(batch)
    assert(decoded.size == 3)
    assert(decoded(0).key.map(new String(_)).contains("k1"))
    assert(new String(decoded(0).value) == "v1")
    assert(decoded(0).timestampMs == 1000L)
    assert(decoded(1).key.isEmpty)
    assert(decoded(2).value.isEmpty)
    assert(decoded(2).timestampMs == 1010L)

    // a flipped payload byte must fail the CRC, not decode garbage
    val corrupt = batch.clone()
    corrupt(corrupt.length - 1) = (corrupt(corrupt.length - 1) ^ 0x01).toByte
    val e = intercept[IllegalArgumentException](decodeRecordBatch(corrupt))
    assert(e.getMessage.contains("CRC"))
  }

  test("record batch v2 bytes match the golden encoding") {
    // multi-byte varints (a 139-byte value, so its length and the record's
    // take two bytes), a keyless record, an empty value, a timestamp below
    // the first record's (baseTimestamp is the minimum) and a 9999 ms delta
    val pad = "x" * 120
    val small = recordBatch(Seq(
      Record(Some("appdb.public.users".getBytes(StandardCharsets.UTF_8)),
        s"""{"id":"1","pad":"$pad"}""".getBytes(StandardCharsets.UTF_8), 1700000000123L),
      Record(None, "v2-no-key".getBytes(StandardCharsets.UTF_8), 1700000000000L),
      Record(Some("k3".getBytes(StandardCharsets.UTF_8)), Array.emptyByteArray, 1700000009999L)))
    val hex = small.map(b => f"${b & 0xff}%02x").mkString
    assert(hex ==
      "0000000000000000000000f3ffffffff0295af39380000000000020000018bcf" +
      "e568000000018bcfe58f0fffffffffffffffffffffffffffff00000003ca0200" +
      "f601002461707064622e7075626c69632e757365727396027b226964223a2231" +
      "222c22706164223a227878787878787878787878787878787878787878787878" +
      "7878787878787878787878787878787878787878787878787878787878787878" +
      "7878787878787878787878787878787878787878787878787878787878787878" +
      "7878787878787878787878787878787878787878787878787878787878787878" +
      "78227d001e000002011276322d6e6f2d6b65790014009e9c0104046b330000")
    // offset deltas past 63 take two varint bytes
    val many = recordBatch((0 until 70).map(i => Record(Some(s"k$i".getBytes(StandardCharsets.UTF_8)),
      s"v$i".getBytes(StandardCharsets.UTF_8), 1700000000000L + i * 1000L)))
    val sha = java.security.MessageDigest.getInstance("SHA-256").digest(many)
      .map(b => f"${b & 0xff}%02x").mkString
    assert((many.length, sha) ==
      ((1087, "a32cedaf1d4d095c2fe0561c51630932a0745df80f9b278d2afa18de63d0c38f")))
  }

  test("produce end-to-end through a real socket: partitioning, framing, offsets") {
    val broker = new ScriptedKafkaBroker("changes", numPartitions = 3)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port, "graft-test")
      try {
        val n = producer.partitionCount("changes")
        assert(n == 3)
        val records = Seq(
          ("db.public.users".getBytes, """{"op":"c"}""".getBytes, 1700000000000L),
          ("db.public.users".getBytes, """{"op":"u"}""".getBytes, 1700000000001L),
          ("db.public.orders".getBytes, """{"op":"d"}""".getBytes, 1700000000002L))
        val offsets = producer.send("changes", n, records)

        // every batch the broker captured decodes with a valid CRC and
        // carries the keys to the murmur2-assigned partition
        val captured = broker.produced.toArray(Array.empty[broker.Captured])
        assert(captured.nonEmpty)
        assert(captured.forall(_.acks == 1), "reference target uses acks=1")
        val decoded = captured.flatMap(c =>
          decodeRecordBatch(c.recordSet).map(r => (c.partition, r)))
        assert(decoded.length == 3)
        decoded.foreach { case (p, r) =>
          assert(p == partitionFor(r.key.get, 3),
            s"record on partition $p but key hashes to ${partitionFor(r.key.get, 3)}")
        }
        val users = decoded.filter(r => new String(r._2.key.get) == "db.public.users")
        assert(users.length == 2 && users.map(_._1).distinct.length == 1,
          "same key must land on one partition")
        assert(offsets.values.forall(_ >= 100L), s"base offsets: $offsets")
      } finally producer.close()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("per-partition broker errors surface through onError and raise") {
    // error 7 = REQUEST_TIMED_OUT; planted on whatever partition the key maps to
    val key = "db.public.users".getBytes
    val errPartition = partitionFor(key, 3)
    val broker = new ScriptedKafkaBroker("changes", 3,
      produceErrors = Map(errPartition -> (7: Short)))
    try {
      val seen = new ConcurrentLinkedQueue[(Int, Short)]()
      val producer = new KafkaWireProducer("127.0.0.1", broker.port,
        onError = (p, e) => seen.add((p, e)))
      try {
        val e = intercept[IllegalStateException] {
          producer.send("changes", 3, Seq((key, "v".getBytes, 1L)))
        }
        assert(e.getMessage.contains(s"$errPartition(err 7)"))
        assert(seen.toArray(Array.empty[(Int, Short)]).toSeq == Seq((errPartition, 7: Short)),
          "delivery-report hook must see the failed partition")
      } finally producer.close()
    } finally broker.stop()
  }

  test("handshake fails fast when the broker cannot speak Produce v3") {
    val broker = new ScriptedKafkaBroker("changes", 1, maxProduceVersion = 2)
    try {
      val e = intercept[IllegalArgumentException] {
        new KafkaWireProducer("127.0.0.1", broker.port)
      }
      assert(e.getMessage.contains("Produce v3"))
    } finally broker.stop()
  }

  test("cluster client routes each partition to its leader broker") {
    // two brokers: A (node 0) leads partition 0, B (node 1) leads 1;
    // produce to the wrong broker would answer NOT_LEADER — owned() guards
    var table: Seq[(Int, String, Int)] = Nil
    val leaders = (_: Int, p: Int) => p // partition p led by node p
    val a = new ScriptedKafkaBroker("changes", 2, nodeId = 0,
      brokerTable = () => table, partitionLeaders = leaders, owned = _ == 0)
    val b = new ScriptedKafkaBroker("changes", 2, nodeId = 1,
      brokerTable = () => table, partitionLeaders = leaders, owned = _ == 1)
    table = Seq((0, "127.0.0.1", a.port), (1, "127.0.0.1", b.port))
    try {
      // keys chosen to cover both partitions
      val keys = (0 until 20).map(i => s"key-$i".getBytes)
      assert(keys.map(partitionFor(_, 2)).toSet == Set(0, 1))
      val cluster = new KafkaWireCluster("127.0.0.1", a.port)
      try {
        val offsets = cluster.send("changes",
          keys.map(k => (k, "v".getBytes, 1L)))
        assert(offsets.keySet == Set(0, 1))
        val aParts = a.produced.toArray(Array.empty[a.Captured]).map(_.partition).toSet
        val bParts = b.produced.toArray(Array.empty[b.Captured]).map(_.partition).toSet
        assert(aParts == Set(0), s"broker A got partitions $aParts")
        assert(bParts == Set(1), s"broker B got partitions $bParts")
      } finally cluster.close()
      assert(a.failure == null, s"broker A failure: ${a.failure}")
      assert(b.failure == null, s"broker B failure: ${b.failure}")
    } finally { a.stop(); b.stop() }
  }

  test("cluster client refreshes metadata and retries once on NOT_LEADER") {
    // broker A's FIRST metadata claims it leads partition 0; every later
    // response says node 1 (broker B) does. A rejects produce with 6.
    var table: Seq[(Int, String, Int)] = Nil
    val a: ScriptedKafkaBroker = new ScriptedKafkaBroker("changes", 1, nodeId = 0,
      brokerTable = () => table,
      partitionLeaders = (ordinal, _) => if (ordinal == 0) 0 else 1,
      owned = _ => false)
    val b = new ScriptedKafkaBroker("changes", 1, nodeId = 1,
      brokerTable = () => table, partitionLeaders = (_, _) => 1, owned = _ => true)
    table = Seq((0, "127.0.0.1", a.port), (1, "127.0.0.1", b.port))
    try {
      val cluster = new KafkaWireCluster("127.0.0.1", a.port)
      try {
        val offsets = cluster.send("changes",
          Seq(("k".getBytes, "v".getBytes, 1L)))
        assert(offsets == Map(0 -> 100L))
        // the stale attempt hit A, the retried one landed on B
        assert(a.produced.size == 1 && b.produced.size == 1,
          s"A=${a.produced.size} B=${b.produced.size}")
        // the refreshed leader is kept: the next send goes straight to B
        cluster.send("changes", Seq(("k".getBytes, "v".getBytes, 2L)))
        assert(a.produced.size == 1 && b.produced.size == 2)
        assert(a.metadataCalls.get == 2, "one Metadata at the first send, one refresh")
      } finally cluster.close()
    } finally { a.stop(); b.stop() }
  }

  test("cluster client fetches Metadata once for its lifetime, not per send") {
    val broker = new ScriptedKafkaBroker("changes", 3)
    try {
      val cluster = new KafkaWireCluster("127.0.0.1", broker.port)
      try (1 to 5).foreach(i =>
        cluster.send("changes", Seq((s"k$i".getBytes, "v".getBytes, i.toLong))))
      finally cluster.close()
      assert(broker.produced.size == 5)
      assert(broker.metadataCalls.get == 1, s"${broker.metadataCalls.get} Metadata requests for 5 sends")
    } finally broker.stop()
  }

  test("produce chunks record batches under maxBatchBytes") {
    val broker = new ScriptedKafkaBroker("changes", 1)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try {
        val records = (0 until 10).map(i =>
          KafkaWire.Record(Some(s"k$i".getBytes), Array.fill(400)('x'.toByte), 1L))
        // ~432 bytes per record against a 1000-byte cap -> 2 per batch
        val acks = producer.produce("changes", 0, records, maxBatchBytes = 1000)
        assert(acks.forall(_.errorCode == 0))
        val captured = broker.produced.toArray(Array.empty[broker.Captured])
        assert(captured.length == 5, s"expected 5 chunks, got ${captured.length}")
        val decoded = captured.flatMap(c => decodeRecordBatch(c.recordSet))
        assert(decoded.length == 10, "chunking must not lose records")
        assert(decoded.map(r => new String(r.key.get)).toSet ==
          records.map(r => new String(r.key.get)).toSet)
      } finally producer.close()
      assert(broker.failure == null, s"broker failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("streaming envelope frame lands on the scripted broker end-to-end") {
    val spark = graft.SparkTestSession.spark
    import spark.implicits._
    val broker = new ScriptedKafkaBroker("changes", numPartitions = 3)
    val ckpt = java.nio.file.Files.createTempDirectory("kwire-ckpt").toString
    val walId = "kwire-envelope"
    InMemoryWal.clear(walId)
    try {
      InMemoryWal.append(walId, WalRecord(8448L, "appdb", "public", "users", "c",
        1700000000000L, null, Map("id" -> "7", "name" -> "ada"), 9L))
      InMemoryWal.append(walId, WalRecord(8449L, "appdb", "public", "orders", "d",
        1700000000001L, Map("id" -> "3"), null, 9L))
      val frame = Envelope.toKafkaFrame(InMemoryWalStream(spark, walId), "postgresql", "graft")
      val q = ReplicatePipeline.startToKafkaWire(frame, "127.0.0.1",
        broker.port, "changes", ckpt)
      try q.processAllAvailable()
      finally q.stop()

      val captured = broker.produced.toArray(Array.empty[broker.Captured])
      val decoded = captured.flatMap(c =>
        decodeRecordBatch(c.recordSet).map(r => (c.partition, r)))
      assert(decoded.length == 2, s"expected 2 records, got ${decoded.length}")
      val byKey = decoded.map(r => new String(r._2.key.get) ->
        ((r._1, new String(r._2.value)))).toMap
      assert(byKey.keySet == Set("appdb.public.users", "appdb.public.orders"))
      assert(byKey("appdb.public.users")._2.contains(""""op":"c""""))
      byKey.foreach { case (k, (p, _)) =>
        assert(p == partitionFor(k.getBytes, 3), s"key $k on wrong partition $p")
      }
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally {
      broker.stop()
    }
  }

  test("record set decode: absolute offsets across batches, truncated tail dropped") {
    def patched(records: Seq[Record], baseOffset: Long): Array[Byte] = {
      val b = recordBatch(records)
      ByteBuffer.wrap(b).putLong(0, baseOffset) // what a broker does on append
      b
    }
    val b1 = patched(Seq(
      Record(Some("a".getBytes), "v0".getBytes, 10L),
      Record(Some("b".getBytes), "v1".getBytes, 11L)), 100L)
    val b2 = patched(Seq(
      Record(None, "v2".getBytes, 12L),
      Record(None, "v3".getBytes, 13L)), 102L)
    val set = new ByteArrayOutputStream()
    set.write(b1); set.write(b2)
    set.write(b2, 0, 20) // a mid-batch cut at partition_max_bytes
    val decoded = decodeRecordSet(set.toByteArray)
    assert(decoded.map(_.offset) == Seq(100L, 101L, 102L, 103L))
    assert(decoded.map(r => new String(r.record.value)) ==
      Seq("v0", "v1", "v2", "v3"))
    // a corrupt NON-tail batch must still fail loudly, not skip
    val corrupt = set.toByteArray
    corrupt(30) = (corrupt(30) ^ 0x01).toByte
    assert(intercept[IllegalArgumentException](
      decodeRecordSet(corrupt)).getMessage.contains("CRC"))
  }

  test("consumer reads back exactly what the producer sent, with offsets") {
    val broker = new ScriptedKafkaBroker("changes", numPartitions = 3)
    try {
      val records = (0 until 12).map(i =>
        (s"key-$i".getBytes, s"value-$i".getBytes, 1700000000000L + i))
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      val sent = try producer.send("changes", 3, records) finally producer.close()

      val consumer = new KafkaWireConsumer("127.0.0.1", broker.port, "graft-read")
      try {
        val got = (0 until 3).flatMap { p =>
          val from = consumer.earliestOffset("changes", p)
          val until = consumer.latestOffset("changes", p)
          assert(from == 100L + p, s"log starts at $from for partition $p")
          val recs = consumer.readRange("changes", p, from, until)
          assert(recs.map(_.offset) == (from until until),
            s"offsets must be gapless on partition $p")
          // the produce ack's base offset is where the read finds the data
          sent.get(p).foreach(base => assert(base == from))
          recs.map(r => (p, new String(r.record.key.get),
            new String(r.record.value), r.record.timestampMs))
        }
        assert(got.size == 12)
        records.foreach { case (k, v, ts) =>
          val key = new String(k)
          val hit = got.find(_._2 == key).get
          assert(hit._1 == partitionFor(k, 3), s"$key on wrong partition")
          assert(hit._3 == new String(v) && hit._4 == ts, s"$key payload")
        }
      } finally consumer.close()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("fetch from a mid-batch offset trims the records below it") {
    val broker = new ScriptedKafkaBroker("changes", 1)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try {
        // one 3-record batch at base 100: brokers serve WHOLE batches, so
        // a fetch at 101 gets the batch from 100 — the consumer must trim
        producer.produce("changes", 0, (0 until 3).map(i =>
          Record(Some(s"k$i".getBytes), s"v$i".getBytes, 1L)))
      } finally producer.close()
      val consumer = new KafkaWireConsumer("127.0.0.1", broker.port)
      try {
        val res = consumer.fetch("changes", 0, 101L)
        assert(res.records.map(_.offset) == Seq(101L, 102L))
        assert(res.highWatermark == 103L)
      } finally consumer.close()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("fetch outside the retention window raises OFFSET_OUT_OF_RANGE") {
    val broker = new ScriptedKafkaBroker("changes", 1)
    try {
      val consumer = new KafkaWireConsumer("127.0.0.1", broker.port)
      try {
        val e = intercept[IllegalArgumentException] {
          consumer.fetch("changes", 0, 99L) // log starts at 100
        }
        assert(e.getMessage.contains("OFFSET_OUT_OF_RANGE"))
      } finally consumer.close()
    } finally broker.stop()
  }

  test("a tail batch cut at partition_max_bytes is dropped and re-fetched") {
    val broker = new ScriptedKafkaBroker("changes", 1, fetchTruncatesTail = true)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try {
        // two separate one-record batches: every fetch that serves batch 1
        // but not batch 2 gets 20 bytes of batch 2 appended by the broker
        producer.produce("changes", 0,
          Seq(Record(Some("k0".getBytes), "v0".getBytes, 1L)), maxBatchBytes = 1)
        producer.produce("changes", 0,
          Seq(Record(Some("k1".getBytes), "v1".getBytes, 2L)), maxBatchBytes = 1)
      } finally producer.close()
      val consumer = new KafkaWireConsumer("127.0.0.1", broker.port)
      try {
        val first = consumer.fetch("changes", 0, 100L,
          maxBytes = 120) // under two batches: serves batch 1 + cut tail
        assert(first.records.map(_.offset) == Seq(100L),
          "the partial tail must not decode")
        val all = consumer.readRange("changes", 0, 100L, 102L)
        assert(all.map(_.offset) == Seq(100L, 101L),
          "paging must recover the cut batch whole")
        assert(all.map(r => new String(r.record.value)) == Seq("v0", "v1"))
      } finally consumer.close()
      assert(broker.failure == null, s"broker-side failure: ${broker.failure}")
    } finally broker.stop()
  }

  test("handshake fails fast when the broker cannot speak Fetch v4") {
    val broker = new ScriptedKafkaBroker("changes", 1, maxFetchVersion = 3)
    try {
      val e = intercept[IllegalArgumentException] {
        new KafkaWireConsumer("127.0.0.1", broker.port)
      }
      assert(e.getMessage.contains("Fetch v4"))
    } finally broker.stop()
  }

  test("unknown topic surfaces the metadata error code") {
    val broker = new ScriptedKafkaBroker("changes", 1)
    try {
      val producer = new KafkaWireProducer("127.0.0.1", broker.port)
      try {
        val e = intercept[IllegalArgumentException] {
          producer.partitionCount("nope")
        }
        assert(e.getMessage.contains("metadata error 3"))
      } finally producer.close()
    } finally broker.stop()
  }
}
