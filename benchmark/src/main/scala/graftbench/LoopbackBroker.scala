package graftbench

import graft.cdc.KafkaWire
import graft.cdc.KafkaWire._

import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetAddress, ServerSocket, Socket, SocketException}
import java.nio.ByteBuffer
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}
import scala.collection.mutable

/** Faults a test can plant in the broker. `errorPartition`: every produce
  * to that partition is answered with error code 2 (CORRUPT_MESSAGE) and
  * not stored. `dropAckOnRequest`: the n-th produce request (1-based) is
  * read, not stored, and its connection closed without a response.
  */
final case class BrokerFaults(errorPartition: Option[Int] = None,
    dropAckOnRequest: Option[Int] = None)

/** A record the broker acknowledged, in partition-log order. */
final case class AckedRecord(partition: Int, key: Array[Byte], value: Array[Byte], ackNs: Long)

/** Loopback Kafka broker standing in for a live cluster: one node that
  * leads every partition of one topic, speaking exactly the API versions
  * the program's wire client uses (ApiVersions v0, Metadata v1, Produce
  * v3). Every produced batch is CRC-verified with
  * [[KafkaWire.decodeRecordBatch]] before it is acked; acks are
  * timestamped. One thread accepts, one thread serves each connection.
  *
  * Counters (connections, handshake requests, produce requests, records,
  * bytes, pipelining depth, idle time waiting on the client) are read by
  * the benchmark's cdc layer metrics.
  */
final class LoopbackBroker(val topic: String, val numPartitions: Int,
    faults: BrokerFaults = BrokerFaults()) {

  private val server = new ServerSocket(0, 50, InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort

  val connections = new AtomicLong
  val handshakeRequests = new AtomicLong
  val produceRequests = new AtomicLong
  val producedRecords = new AtomicLong
  val producedBytes = new AtomicLong
  val rejectedBatches = new AtomicLong
  val maxInflight = new AtomicInteger(0)
  val idleNs = new AtomicLong
  @volatile var failure: Throwable = _

  /** (received, acked) nanoTime of every answered produce request. */
  val produceSpans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  private val lock = new Object
  private val log = mutable.ArrayBuffer.empty[AckedRecord]
  private val nextOffset = Array.fill(numPartitions)(0L)
  private val produceOrdinal = new AtomicInteger(0)
  private val handlers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()

  private val acceptor = new Thread(() => {
    try {
      while (!server.isClosed) {
        val sock = server.accept()
        connections.incrementAndGet()
        val t = new Thread(() => serve(sock), "loopback-broker-conn")
        t.setDaemon(true)
        handlers.add(t)
        t.start()
      }
    } catch { case _: SocketException => } // closed by stop()
  }, "loopback-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  /** Take (and forget) everything acked so far, in log order. */
  def drain(): IndexedSeq[AckedRecord] = lock.synchronized {
    val out = log.toIndexedSeq
    log.clear()
    out
  }

  def stop(): Unit = {
    server.close()
    acceptor.join(5000)
    handlers.forEach(t => t.join(5000))
  }

  private def serve(sock: Socket): Unit = {
    sock.setTcpNoDelay(true)
    val in = new DataInputStream(new BufferedInputStream(sock.getInputStream, 1 << 16))
    val out = new DataOutputStream(new BufferedOutputStream(sock.getOutputStream, 1 << 16))
    var lastReply = System.nanoTime()
    try {
      while (true) {
        val len = in.readInt()
        val received = System.nanoTime()
        idleNs.addAndGet(received - lastReply)
        val frame = new Array[Byte](len)
        in.readFully(frame)
        // bytes already waiting behind this request mean the client sent
        // the next one before this one was answered
        val depth = if (in.available() > 0) 2 else 1
        maxInflight.accumulateAndGet(depth, math.max)
        val buf = ByteBuffer.wrap(frame)
        val apiKey = buf.getShort
        val apiVersion = buf.getShort
        val cid = buf.getInt
        readNullableString(buf) // client id
        val body = new ByteArrayOutputStream()
        writeInt(body, cid)
        val answer = apiKey match {
          case ApiVersions =>
            require(apiVersion == 0, s"ApiVersions v$apiVersion")
            handshakeRequests.incrementAndGet()
            apiVersions(body); true
          case ApiMetadata =>
            require(apiVersion == 1, s"Metadata v$apiVersion")
            handshakeRequests.incrementAndGet()
            metadata(buf, body); true
          case ApiProduce =>
            require(apiVersion == 3, s"Produce v$apiVersion")
            produce(buf, body, received)
          case other => throw new IllegalStateException(s"unsupported api key $other")
        }
        if (!answer) { sock.close(); return }
        val bytes = body.toByteArray
        out.writeInt(bytes.length)
        out.write(bytes)
        out.flush()
        lastReply = System.nanoTime()
        if (apiKey == ApiProduce) produceSpans.add((received, lastReply))
      }
    } catch {
      case _: EOFException | _: SocketException => // client closed
      case t: Throwable => failure = t
    } finally {
      sock.close()
      handlers.remove(Thread.currentThread())
    }
  }

  private def apiVersions(body: ByteArrayOutputStream): Unit = {
    writeShort(body, 0)
    val ranges = Seq((ApiProduce, 3), (ApiMetadata, 1), (ApiVersions, 0))
    writeInt(body, ranges.size)
    ranges.foreach { case (k, v) =>
      writeShort(body, k); writeShort(body, 0); writeShort(body, v.toShort)
    }
  }

  private def metadata(req: ByteBuffer, body: ByteArrayOutputStream): Unit = {
    val requested = (0 until req.getInt).map(_ => readString(req))
    writeInt(body, 1) // brokers
    writeInt(body, 0)
    writeString(body, "127.0.0.1")
    writeInt(body, port)
    writeShort(body, -1) // rack: null
    writeInt(body, 0) // controller id
    writeInt(body, requested.size)
    requested.foreach { t =>
      val known = t == topic
      writeShort(body, if (known) 0 else 3) // 3 = UNKNOWN_TOPIC_OR_PARTITION
      writeString(body, t)
      body.write(0) // is_internal
      val parts = if (known) numPartitions else 0
      writeInt(body, parts)
      (0 until parts).foreach { p =>
        writeShort(body, 0); writeInt(body, p); writeInt(body, 0) // leader
        writeInt(body, 1); writeInt(body, 0) // replicas
        writeInt(body, 1); writeInt(body, 0) // isr
      }
    }
  }

  /** Returns false when the planted fault drops this request's ack. */
  private def produce(req: ByteBuffer, body: ByteArrayOutputStream, received: Long): Boolean = {
    val ordinal = produceOrdinal.incrementAndGet()
    produceRequests.incrementAndGet()
    readNullableString(req) // transactional id
    req.getShort // acks
    req.getInt // timeout
    val nTopics = req.getInt
    val answers = mutable.ArrayBuffer.empty[(String, Int, Short, Long)]
    val accepted = mutable.ArrayBuffer.empty[(Int, Seq[Record])]
    (0 until nTopics).foreach { _ =>
      val t = readString(req)
      (0 until req.getInt).foreach { _ =>
        val p = req.getInt
        val set = new Array[Byte](req.getInt)
        req.get(set)
        producedBytes.addAndGet(set.length)
        val decoded =
          try Some(KafkaWire.decodeRecordBatch(set))
          catch { case _: IllegalArgumentException => None } // CRC or framing
        val code: Short =
          if (t != topic || p < 0 || p >= numPartitions) 3
          else if (decoded.isEmpty) { rejectedBatches.incrementAndGet(); 2 }
          else if (faults.errorPartition.contains(p)) 2
          else 0
        if (code == 0) accepted += ((p, decoded.get))
        answers += ((t, p, code, -1L))
      }
    }
    if (faults.dropAckOnRequest.contains(ordinal)) return false
    val ackNs = System.nanoTime()
    val baseOffsets = lock.synchronized {
      accepted.map { case (p, recs) =>
        val base = nextOffset(p)
        nextOffset(p) += recs.size
        recs.foreach(r => log += AckedRecord(p, r.key.orNull, r.value, ackNs))
        producedRecords.addAndGet(recs.size)
        p -> base
      }.toMap
    }
    val byTopic = answers.groupBy(_._1)
    writeInt(body, byTopic.size)
    byTopic.foreach { case (t, parts) =>
      writeString(body, t)
      writeInt(body, parts.size)
      parts.foreach { case (_, p, code, _) =>
        writeInt(body, p)
        writeShort(body, code)
        writeLong(body, if (code == 0) baseOffsets(p) else -1L)
        writeLong(body, -1L) // log_append_time
      }
    }
    writeInt(body, 0) // throttle
    true
  }
}
