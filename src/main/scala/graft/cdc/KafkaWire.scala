package graft.cdc

import java.io.{ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.zip.CRC32C

/** Kafka wire-protocol codec (public Kafka protocol docs, KIP-98 record
  * batch format v2) — the live-socket half of the reference's Kafka
  * target (`internal/integrations/kafka/repository.go`), written against
  * the published protocol the same way [[graft.sources.PgWire]] and
  * [[graft.sources.MongoWire]] are: no client library, which also makes
  * it testable against a scripted localhost broker.
  *
  * Non-flexible API versions are used throughout (ApiVersions v0,
  * Metadata v1, Produce v3) so the codec stays in the fixed-width
  * encoding; record batches are the modern v2 format (magic 2, CRC32C,
  * zigzag-varint records) that every broker since 0.11 stores natively.
  */
object KafkaWire {

  val ApiProduce: Short = 0
  val ApiFetch: Short = 1
  val ApiListOffsets: Short = 2
  val ApiMetadata: Short = 3
  val ApiVersions: Short = 18

  /** Cap on one produce request's record batch, under the broker's
    * default `message.max.bytes` (1 MB). Chunks are cut by
    * [[chunkBytes]], an estimate with slack for each record's framing.
    */
  val MaxBatchBytes: Int = 900000

  /** One record's share of a chunk: key + value + framing slack. */
  def chunkBytes(key: Array[Byte], value: Array[Byte]): Int =
    (if (key == null) 0 else key.length) + value.length + 32

  // -------------------------------------------------------- primitives —

  def writeString(out: ByteArrayOutputStream, s: String): Unit = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    out.write(Array[Byte]((b.length >> 8).toByte, b.length.toByte))
    out.write(b)
  }

  def writeNullableString(out: ByteArrayOutputStream, s: Option[String]): Unit =
    s match {
      case Some(v) => writeString(out, v)
      case None => out.write(Array[Byte](0xFF.toByte, 0xFF.toByte))
    }

  def writeInt(out: ByteArrayOutputStream, v: Int): Unit =
    out.write(ByteBuffer.allocate(4).putInt(v).array())

  def writeShort(out: ByteArrayOutputStream, v: Short): Unit =
    out.write(ByteBuffer.allocate(2).putShort(v).array())

  def writeLong(out: ByteArrayOutputStream, v: Long): Unit =
    out.write(ByteBuffer.allocate(8).putLong(v).array())

  /** Zigzag varlong (protobuf encoding, as the record format specifies).
    * An Int widened to Long encodes to the same bytes as its zigzag
    * varint, so this one writer serves both. */
  def writeVarlong(buf: ByteBuffer, v: Long): Unit = {
    var z = (v << 1) ^ (v >> 63)
    while ((z & ~0x7FL) != 0L) {
      buf.put(((z & 0x7F) | 0x80).toByte)
      z >>>= 7
    }
    buf.put(z.toByte)
  }

  /** Bytes [[writeVarlong]] writes for `v`. */
  def varlongSize(v: Long): Int = {
    val z = (v << 1) ^ (v >> 63)
    (64 - java.lang.Long.numberOfLeadingZeros(z | 1L) + 6) / 7
  }

  def readVarint(buf: ByteBuffer): Int = {
    val raw = readUnsignedVarlong(buf)
    (((raw >>> 1) ^ -(raw & 1)).toInt)
  }

  def readVarlong(buf: ByteBuffer): Long = {
    val raw = readUnsignedVarlong(buf)
    (raw >>> 1) ^ -(raw & 1)
  }

  private def readUnsignedVarlong(buf: ByteBuffer): Long = {
    var value = 0L
    var shift = 0
    var b = buf.get()
    while ((b & 0x80) != 0) {
      value |= (b & 0x7FL) << shift
      shift += 7
      require(shift <= 63, "varlong too long")
      b = buf.get()
    }
    value | ((b & 0x7FL) << shift)
  }

  def readString(buf: ByteBuffer): String = {
    val len = buf.getShort()
    require(len >= 0 && len <= buf.remaining(), s"bad string length $len")
    val b = new Array[Byte](len)
    buf.get(b)
    new String(b, StandardCharsets.UTF_8)
  }

  def readNullableString(buf: ByteBuffer): Option[String] = {
    val len = buf.getShort()
    if (len < 0) None
    else {
      require(len <= buf.remaining(), s"bad string length $len")
      val b = new Array[Byte](len)
      buf.get(b)
      Some(new String(b, StandardCharsets.UTF_8))
    }
  }

  // ------------------------------------------------------ record batch —

  case class Record(key: Option[Array[Byte]], value: Array[Byte],
      timestampMs: Long)

  /** Offset of the CRC field, and of the attributes field where the CRC'd
    * span starts: baseOffset(8) + batchLength(4) + partitionLeaderEpoch(4)
    * + magic(1), then crc(4). */
  private val CrcAt = 17
  private val CrcFrom = 21
  /** Header bytes before the first record: CrcFrom + attributes(2) +
    * lastOffsetDelta(4) + first/max timestamp(16) + producerId(8) +
    * producerEpoch(2) + baseSequence(4) + record count(4). */
  private val HeaderBytes = CrcFrom + 40

  /** RecordBatch v2 (magic 2): batch header + zigzag-varint records, CRC32C
    * over attributes..end (the store format, so `acks=1` appends verbatim).
    * Encoded in two passes: the first sizes every record, the second
    * writes the batch into one array of exactly that size.
    */
  def recordBatch(records: Seq[Record]): Array[Byte] = {
    require(records.nonEmpty, "empty record batch")
    val n = records.size
    var baseTs = Long.MaxValue
    var maxTs = Long.MinValue
    records.foreach { r =>
      baseTs = math.min(baseTs, r.timestampMs)
      maxTs = math.max(maxTs, r.timestampMs)
    }
    // record body: attributes, timestamp delta, offset delta, key, value,
    // header count (0, one byte)
    val recLens = new Array[Int](n)
    var total = HeaderBytes
    var i = 0
    records.foreach { r =>
      val keyLen = r.key.fold(-1)(_.length)
      val len = 1 + varlongSize(r.timestampMs - baseTs) + varlongSize(i) +
        varlongSize(keyLen) + math.max(keyLen, 0) +
        varlongSize(r.value.length) + r.value.length + 1
      recLens(i) = len
      total += varlongSize(len) + len
      i += 1
    }

    val bytes = new Array[Byte](total)
    val buf = ByteBuffer.wrap(bytes)
    buf.putLong(0L) // baseOffset (broker reassigns)
    buf.putInt(total - 12) // batchLength: everything after this field
    buf.putInt(-1) // partitionLeaderEpoch
    buf.put(2: Byte) // magic
    buf.putInt(0) // crc, filled in below
    buf.putShort(0) // attributes: no compression, create-time
    buf.putInt(n - 1) // lastOffsetDelta
    buf.putLong(baseTs)
    buf.putLong(maxTs)
    buf.putLong(-1L) // producerId (idempotence off, reference parity)
    buf.putShort(-1) // producerEpoch
    buf.putInt(-1) // baseSequence
    buf.putInt(n)
    i = 0
    records.foreach { r =>
      writeVarlong(buf, recLens(i))
      buf.put(0: Byte) // record attributes
      writeVarlong(buf, r.timestampMs - baseTs)
      writeVarlong(buf, i) // offsetDelta
      r.key match {
        case Some(k) => writeVarlong(buf, k.length); buf.put(k)
        case None => writeVarlong(buf, -1)
      }
      writeVarlong(buf, r.value.length)
      buf.put(r.value)
      buf.put(0: Byte) // headers
      i += 1
    }

    val crc = new CRC32C()
    crc.update(bytes, CrcFrom, total - CrcFrom)
    buf.putInt(CrcAt, crc.getValue.toInt)
    bytes
  }

  /** A record as fetched from the log: its absolute offset
    * (batch baseOffset + offsetDelta) alongside the payload.
    */
  case class FetchedRecord(offset: Long, record: Record)

  /** Decode + CRC-verify a RecordBatch v2 (consumer-side half; also the
    * spec's proof the producer's bytes are what a broker would store).
    * Expects exactly one whole batch — the producer/spec contract; fetch
    * record SETS (0..n batches + a possibly truncated tail) go through
    * [[decodeRecordSet]].
    */
  def decodeRecordBatch(bytes: Array[Byte]): Seq[Record] = {
    require(bytes.length >= 12, s"record batch too short: ${bytes.length} bytes")
    val buf = ByteBuffer.wrap(bytes)
    val batchLength = buf.getInt(8)
    require(batchLength == bytes.length - 12,
      s"batch length $batchLength != remaining ${bytes.length - 12}")
    decodeOneBatch(buf).map(_.record)
  }

  /** Decode a fetch record set: concatenated RecordBatch v2 frames, each
    * CRC-verified, offsets made absolute. A truncated final batch is NOT
    * an error — brokers cut the set at `partition_max_bytes` mid-batch
    * (the protocol tells consumers to drop the partial tail and fetch on).
    */
  def decodeRecordSet(bytes: Array[Byte]): Seq[FetchedRecord] = {
    val buf = ByteBuffer.wrap(bytes)
    val out = Seq.newBuilder[FetchedRecord]
    var done = false
    while (!done) {
      if (buf.remaining() < 12) done = true // header shorter than baseOffset+length
      else {
        val batchLength = buf.getInt(buf.position() + 8)
        // A negative length is corruption, never a partition_max_bytes
        // cut — fail loudly instead of masquerading as an empty fetch.
        require(batchLength >= 0,
          s"corrupt record set: negative batch length $batchLength at offset ${buf.position()}")
        if (buf.remaining() - 12 < batchLength) done = true // truncated tail
        else out ++= decodeOneBatch(buf)
      }
    }
    out.result()
  }

  /** Decode one batch starting at `buf.position()`, leaving the buffer
    * positioned at the next batch. CRC spans attributes..end OF THE BATCH
    * (not of the buffer — fetch sets carry several batches back to back).
    */
  private def decodeOneBatch(buf: ByteBuffer): Seq[FetchedRecord] = {
    val baseOffset = buf.getLong
    val batchLength = buf.getInt
    require(batchLength >= 0 && batchLength <= buf.remaining(),
      s"bad batch length $batchLength with ${buf.remaining()} remaining")
    val end = buf.position() + batchLength
    buf.getInt // partitionLeaderEpoch
    val magic = buf.get()
    require(magic == 2, s"unsupported record batch magic $magic")
    val crcStored = buf.getInt
    val crcStart = buf.position()
    val crc = new CRC32C()
    crc.update(buf.array(), buf.arrayOffset() + crcStart, end - crcStart)
    require(crc.getValue.toInt == crcStored,
      f"record batch CRC mismatch: stored $crcStored%08x computed ${crc.getValue.toInt}%08x")
    buf.getShort // attributes
    buf.getInt // lastOffsetDelta
    val baseTs = buf.getLong
    buf.getLong // maxTimestamp
    buf.getLong // producerId
    buf.getShort // producerEpoch
    buf.getInt // baseSequence
    val n = buf.getInt
    require(n >= 0 && n <= batchLength, s"bad record count $n")
    val records = (0 until n).map { _ =>
      val len = readVarint(buf)
      require(len >= 0 && len <= end - buf.position(), s"bad record length $len")
      val recEnd = buf.position() + len
      buf.get() // record attributes
      val tsDelta = readVarlong(buf)
      val offsetDelta = readVarint(buf)
      val keyLen = readVarint(buf)
      require(keyLen <= buf.remaining(), s"bad key length $keyLen")
      val key =
        if (keyLen < 0) None
        else { val k = new Array[Byte](keyLen); buf.get(k); Some(k) }
      val valLen = readVarint(buf)
      require(valLen >= 0 && valLen <= buf.remaining(), s"bad value length $valLen")
      val value = new Array[Byte](valLen)
      buf.get(value)
      val nHeaders = readVarint(buf)
      (0 until nHeaders).foreach { _ =>
        val klen = readVarint(buf); buf.position(buf.position() + klen)
        val vlen = readVarint(buf)
        if (vlen > 0) buf.position(buf.position() + vlen)
      }
      require(buf.position() == recEnd, "record length mismatch")
      FetchedRecord(baseOffset + offsetDelta, Record(key, value, baseTs + tsDelta))
    }
    require(buf.position() == end, "batch length mismatch")
    records
  }

  // --------------------------------------------------------- partitioner —

  /** Kafka's default partitioner: murmur2 (seed 0x9747b28c) of the key
    * bytes, sign-masked, mod partition count — keyed records land on the
    * same partition as any stock client would send them to.
    */
  def murmur2(data: Array[Byte]): Int = {
    val seed = 0x9747b28c
    val m = 0x5bd1e995
    val r = 24
    var h = seed ^ data.length
    val n4 = data.length / 4
    var i = 0
    while (i < n4) {
      val i4 = i * 4
      var k = (data(i4) & 0xff) | ((data(i4 + 1) & 0xff) << 8) |
        ((data(i4 + 2) & 0xff) << 16) | ((data(i4 + 3) & 0xff) << 24)
      k *= m
      k ^= k >>> r
      k *= m
      h *= m
      h ^= k
      i += 1
    }
    val tail = data.length & 3
    if (tail >= 3) h ^= (data(n4 * 4 + 2) & 0xff) << 16
    if (tail >= 2) h ^= (data(n4 * 4 + 1) & 0xff) << 8
    if (tail >= 1) { h ^= data(n4 * 4) & 0xff; h *= m }
    h ^= h >>> 13
    h *= m
    h ^= h >>> 15
    h
  }

  def partitionFor(key: Array[Byte], numPartitions: Int): Int =
    (murmur2(key) & 0x7fffffff) % numPartitions

  // ----------------------------------------------------------- requests —

  /** Request header v1 + body, length-prefixed. */
  def request(apiKey: Short, apiVersion: Short, correlationId: Int,
      clientId: String, body: Array[Byte]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    writeShort(out, apiKey)
    writeShort(out, apiVersion)
    writeInt(out, correlationId)
    writeString(out, clientId)
    out.write(body)
    val b = out.toByteArray
    val framed = new ByteArrayOutputStream()
    writeInt(framed, b.length)
    framed.write(b)
    framed.toByteArray
  }

  def apiVersionsRequest(correlationId: Int, clientId: String): Array[Byte] =
    request(ApiVersions, 0, correlationId, clientId, Array.emptyByteArray)

  def metadataRequest(correlationId: Int, clientId: String,
      topics: Seq[String]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    writeInt(body, topics.size)
    topics.foreach(writeString(body, _))
    request(ApiMetadata, 1, correlationId, clientId, body.toByteArray)
  }

  /** Produce v3: transactional_id(null), acks, timeout, one topic, record
    * batches per partition.
    */
  def produceRequest(correlationId: Int, clientId: String, topic: String,
      acks: Short, timeoutMs: Int,
      partitionBatches: Seq[(Int, Array[Byte])]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    writeNullableString(body, None) // transactional_id
    writeShort(body, acks)
    writeInt(body, timeoutMs)
    writeInt(body, 1) // topics
    writeString(body, topic)
    writeInt(body, partitionBatches.size)
    partitionBatches.foreach { case (partition, batch) =>
      writeInt(body, partition)
      writeInt(body, batch.length)
      body.write(batch)
    }
    request(ApiProduce, 3, correlationId, clientId, body.toByteArray)
  }

  /** Fetch v4 (first version serving record-batch v2 sets): one topic,
    * offset + byte budget per partition, read_uncommitted.
    */
  def fetchRequest(correlationId: Int, clientId: String, topic: String,
      partitionOffsets: Seq[(Int, Long)], maxWaitMs: Int, minBytes: Int,
      maxBytes: Int, partitionMaxBytes: Int): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    writeInt(body, -1) // replica_id (consumer)
    writeInt(body, maxWaitMs)
    writeInt(body, minBytes)
    writeInt(body, maxBytes)
    body.write(0) // isolation_level = read_uncommitted
    writeInt(body, 1) // topics
    writeString(body, topic)
    writeInt(body, partitionOffsets.size)
    partitionOffsets.foreach { case (partition, offset) =>
      writeInt(body, partition)
      writeLong(body, offset)
      writeInt(body, partitionMaxBytes)
    }
    request(ApiFetch, 4, correlationId, clientId, body.toByteArray)
  }

  /** ListOffsets v1: resolve a timestamp per partition to a log offset
    * (-2 = earliest, -1 = latest — the log-end offset).
    */
  def listOffsetsRequest(correlationId: Int, clientId: String, topic: String,
      partitionTimestamps: Seq[(Int, Long)]): Array[Byte] = {
    val body = new ByteArrayOutputStream()
    writeInt(body, -1) // replica_id
    writeInt(body, 1) // topics
    writeString(body, topic)
    writeInt(body, partitionTimestamps.size)
    partitionTimestamps.foreach { case (partition, ts) =>
      writeInt(body, partition)
      writeLong(body, ts)
    }
    request(ApiListOffsets, 1, correlationId, clientId, body.toByteArray)
  }

  // ---------------------------------------------------------- responses —

  /** (correlationId, body) — response header v0. */
  def readResponse(in: DataInputStream): (Int, ByteBuffer) = {
    val len = in.readInt()
    require(len >= 4 && len <= (1 << 26), s"bad response length $len")
    val b = new Array[Byte](len)
    in.readFully(b)
    val buf = ByteBuffer.wrap(b)
    (buf.getInt, buf)
  }

  case class ApiVersionRange(apiKey: Short, minVersion: Short, maxVersion: Short)

  def parseApiVersionsResponse(buf: ByteBuffer): Seq[ApiVersionRange] = {
    val err = buf.getShort
    require(err == 0, s"ApiVersions error code $err")
    val n = buf.getInt
    require(n >= 0 && n <= 1024, s"bad api count $n")
    (0 until n).map(_ => ApiVersionRange(buf.getShort, buf.getShort, buf.getShort))
  }

  case class PartitionMeta(partition: Int, leader: Int, errorCode: Short)
  case class TopicMeta(name: String, errorCode: Short,
      partitions: Seq[PartitionMeta])
  case class BrokerMeta(nodeId: Int, host: String, port: Int)
  case class ClusterMeta(brokers: Seq[BrokerMeta], topics: Seq[TopicMeta])

  def parseMetadataResponse(buf: ByteBuffer): ClusterMeta = {
    val nBrokers = buf.getInt
    require(nBrokers >= 0 && nBrokers <= 65536, s"bad broker count $nBrokers")
    val brokers = (0 until nBrokers).map { _ =>
      val nodeId = buf.getInt
      val host = readString(buf)
      val port = buf.getInt
      readNullableString(buf) // rack
      BrokerMeta(nodeId, host, port)
    }
    buf.getInt // controller_id
    val nTopics = buf.getInt
    require(nTopics >= 0 && nTopics <= 65536, s"bad topic count $nTopics")
    val topics = (0 until nTopics).map { _ =>
      val err = buf.getShort
      val name = readString(buf)
      buf.get() // is_internal
      val nParts = buf.getInt
      require(nParts >= 0 && nParts <= (1 << 20), s"bad partition count $nParts")
      val parts = (0 until nParts).map { _ =>
        val perr = buf.getShort
        val pid = buf.getInt
        val leader = buf.getInt
        val nr = buf.getInt
        buf.position(buf.position() + 4 * nr) // replicas
        val ni = buf.getInt
        buf.position(buf.position() + 4 * ni) // isr
        PartitionMeta(pid, leader, perr)
      }
      TopicMeta(name, err, parts)
    }
    ClusterMeta(brokers, topics)
  }

  case class PartitionAck(partition: Int, errorCode: Short, baseOffset: Long)

  def parseProduceResponse(buf: ByteBuffer): Seq[PartitionAck] = {
    val nTopics = buf.getInt
    require(nTopics >= 0 && nTopics <= 65536, s"bad topic count $nTopics")
    val acks = (0 until nTopics).flatMap { _ =>
      readString(buf) // topic name
      val nParts = buf.getInt
      require(nParts >= 0 && nParts <= (1 << 20), s"bad partition count $nParts")
      (0 until nParts).map { _ =>
        val pid = buf.getInt
        val err = buf.getShort
        val baseOffset = buf.getLong
        buf.getLong // log_append_time
        PartitionAck(pid, err, baseOffset)
      }
    }
    buf.getInt // throttle_time_ms
    acks
  }

  /** One partition's slice of a Fetch v4 response; `recordSet` is the raw
    * concatenated-batch bytes (decode with [[decodeRecordSet]]).
    */
  case class FetchData(partition: Int, errorCode: Short, highWatermark: Long,
      recordSet: Array[Byte])

  def parseFetchResponse(buf: ByteBuffer): Seq[FetchData] = {
    buf.getInt // throttle_time_ms
    val nTopics = buf.getInt
    require(nTopics >= 0 && nTopics <= 65536, s"bad topic count $nTopics")
    (0 until nTopics).flatMap { _ =>
      readString(buf) // topic name
      val nParts = buf.getInt
      require(nParts >= 0 && nParts <= (1 << 20), s"bad partition count $nParts")
      (0 until nParts).map { _ =>
        val pid = buf.getInt
        val err = buf.getShort
        val hw = buf.getLong
        buf.getLong // last_stable_offset
        val nAborted = buf.getInt // nullable array: -1 == null
        require(nAborted >= -1 && nAborted <= (1 << 20),
          s"bad aborted-tx count $nAborted")
        if (nAborted > 0) buf.position(buf.position() + 16 * nAborted)
        val setLen = buf.getInt // nullable bytes
        require(setLen >= -1 && setLen <= buf.remaining(),
          s"bad record set length $setLen")
        val set =
          if (setLen <= 0) Array.emptyByteArray
          else { val b = new Array[Byte](setLen); buf.get(b); b }
        FetchData(pid, err, hw, set)
      }
    }
  }

  case class PartitionOffset(partition: Int, errorCode: Short, offset: Long)

  def parseListOffsetsResponse(buf: ByteBuffer): Seq[PartitionOffset] = {
    val nTopics = buf.getInt
    require(nTopics >= 0 && nTopics <= 65536, s"bad topic count $nTopics")
    (0 until nTopics).flatMap { _ =>
      readString(buf) // topic name
      val nParts = buf.getInt
      require(nParts >= 0 && nParts <= (1 << 20), s"bad partition count $nParts")
      (0 until nParts).map { _ =>
        val pid = buf.getInt
        val err = buf.getShort
        buf.getLong // timestamp
        PartitionOffset(pid, err, buf.getLong)
      }
    }
  }
}

/** Shared connection layer for the wire producer/consumer: framed
  * request/response over one socket, correlation-id bookkeeping, the
  * ApiVersions handshake (each side declares the API versions it needs —
  * a failed handshake closes the socket before propagating), and topic
  * metadata.
  */
abstract class KafkaWireClient(host: String, port: Int, val clientId: String,
    connectTimeoutMillis: Int, protected val requestTimeoutMillis: Int) {

  import KafkaWire._

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMillis)
  socket.setTcpNoDelay(true)
  socket.setSoTimeout(requestTimeoutMillis)
  private val in = new DataInputStream(socket.getInputStream)
  private val out = new DataOutputStream(socket.getOutputStream)
  private var correlation = 0

  protected def roundTrip(bytes: Array[Byte]): ByteBuffer = {
    out.write(bytes)
    out.flush()
    val (cid, buf) = readResponse(in)
    require(cid == correlation, s"correlation mismatch: sent $correlation got $cid")
    buf
  }

  protected def nextCorrelation(): Int = { correlation += 1; correlation }

  /** (apiKey, version, label) triples this client refuses to run without. */
  protected def requiredApis: Seq[(Short, Short, String)]

  /** Broker-supported version ranges (handshake; verifies the broker
    * speaks every [[requiredApis]] entry before any data moves).
    */
  val apiVersions: Seq[ApiVersionRange] =
    try {
      val buf = roundTrip(apiVersionsRequest(nextCorrelation(), clientId))
      val ranges = parseApiVersionsResponse(buf)
      def supports(key: Short, v: Short): Boolean =
        ranges.exists(r => r.apiKey == key && r.minVersion <= v && v <= r.maxVersion)
      requiredApis.foreach { case (key, v, label) =>
        require(supports(key, v), s"broker does not support $label")
      }
      ranges
    } catch {
      case t: Throwable =>
        try socket.close() catch { case _: Exception => }
        throw t
    }

  /** Full cluster metadata for a topic: broker table + per-partition
    * leaders (what [[KafkaWireCluster]] routes on).
    */
  def topicMeta(topic: String): (ClusterMeta, TopicMeta) = {
    val buf = roundTrip(metadataRequest(nextCorrelation(), clientId, Seq(topic)))
    val meta = parseMetadataResponse(buf)
    val t = meta.topics.find(_.name == topic).getOrElse(
      throw new IllegalStateException(s"topic '$topic' missing from metadata"))
    require(t.errorCode == 0, s"metadata error ${t.errorCode} for topic '$topic'")
    (meta, t)
  }

  def partitionCount(topic: String): Int = topicMeta(topic)._2.partitions.size

  def close(): Unit = socket.close()
}

/** A minimal at-least-once Kafka producer over a JDK socket: ApiVersions
  * handshake, Metadata for the partition count, murmur2 key partitioning,
  * Produce v3 with acks=1 (the reference target's setting). Per-partition
  * broker errors surface through `onError` — the reference's
  * delivery-report loop (`repository.go:100-119`) — AND raise, so a
  * streaming caller's batch fails and is replayed (at-least-once, the
  * contract of [[ReplicatePipeline.startToKafkaWire]]).
  */
class KafkaWireProducer(host: String, port: Int, clientId: String = "graft",
    connectTimeoutMillis: Int = 10000, requestTimeoutMillis: Int = 5000,
    onError: (Int, Short) => Unit = (_, _) => ())
  extends KafkaWireClient(host, port, clientId, connectTimeoutMillis,
    requestTimeoutMillis) {

  import KafkaWire._

  override protected def requiredApis: Seq[(Short, Short, String)] =
    Seq((ApiProduce, 3, "Produce v3"), (ApiMetadata, 1, "Metadata v1"))

  /** Produce records to ONE partition (this broker must lead it), chunked
    * into record batches of at most ~`maxBatchBytes` framed payload — the
    * broker-side `message.max.bytes` cap applies per batch, so unbounded
    * micro-batch partitions must not collapse into one giant batch.
    * Returns the acks (one per chunk), errors NOT raised — callers
    * decide (the cluster router retries NOT_LEADER, [[send]] throws).
    */
  def produce(topic: String, partition: Int, records: Seq[Record],
      maxBatchBytes: Int = KafkaWire.MaxBatchBytes): Seq[PartitionAck] = {
    require(records.nonEmpty, "produce with no records")
    val acks = Seq.newBuilder[PartitionAck]
    var chunk = Vector.empty[Record]
    var bytes = 0
    def flush(): Unit = if (chunk.nonEmpty) {
      val buf = roundTrip(produceRequest(nextCorrelation(), clientId, topic,
        acks = 1, timeoutMs = requestTimeoutMillis,
        Seq(partition -> recordBatch(chunk))))
      acks ++= parseProduceResponse(buf)
      chunk = Vector.empty
      bytes = 0
    }
    records.foreach { r =>
      val size = chunkBytes(r.key.orNull, r.value)
      if (chunk.nonEmpty && bytes + size > maxBatchBytes) flush()
      chunk :+= r
      bytes += size
    }
    flush()
    acks.result()
  }

  /** Send keyed records to a single-broker cluster; returns per-partition
    * base offsets. Raises on any partition error after surfacing it to
    * `onError`. For multi-broker clusters use [[KafkaWireCluster]], which
    * routes each partition to its leader.
    */
  def send(topic: String, numPartitions: Int,
      records: Seq[(Array[Byte], Array[Byte], Long)],
      maxBatchBytes: Int = KafkaWire.MaxBatchBytes): Map[Int, Long] = {
    val byPartition = records.groupBy { case (key, _, _) =>
      partitionFor(key, numPartitions)
    }
    val acks = byPartition.toSeq.sortBy(_._1).flatMap { case (p, rs) =>
      produce(topic, p, rs.map { case (k, v, ts) => Record(Some(k), v, ts) },
        maxBatchBytes)
    }
    val failed = acks.filter(_.errorCode != 0)
    failed.foreach(a => onError(a.partition, a.errorCode))
    if (failed.nonEmpty) throw new IllegalStateException(
      s"produce failed on partitions ${failed.map(a => s"${a.partition}(err ${a.errorCode})").mkString(", ")}")
    acks.groupBy(_.partition).map { case (p, as) => p -> as.map(_.baseOffset).min }
  }
}

/** A minimal Kafka consumer over a JDK socket: ListOffsets v1 to resolve
  * earliest/latest positions, Fetch v4 returning CRC-verified record-batch
  * v2 sets. Batch-granular serving means a fetch can return records BELOW
  * the requested offset (the broker sends whole batches); [[fetch]] trims
  * those, so callers see exactly `offset..` like any stock consumer.
  */
class KafkaWireConsumer(host: String, port: Int, clientId: String = "graft",
    connectTimeoutMillis: Int = 10000, requestTimeoutMillis: Int = 5000)
  extends KafkaWireClient(host, port, clientId, connectTimeoutMillis,
    requestTimeoutMillis) {

  import KafkaWire._

  override protected def requiredApis: Seq[(Short, Short, String)] =
    Seq((ApiFetch, 4, "Fetch v4"), (ApiListOffsets, 1, "ListOffsets v1"),
      (ApiMetadata, 1, "Metadata v1"))

  private def offsetAt(topic: String, partition: Int, timestamp: Long): Long = {
    val buf = roundTrip(listOffsetsRequest(nextCorrelation(), clientId, topic,
      Seq(partition -> timestamp)))
    val po = parseListOffsetsResponse(buf).find(_.partition == partition)
      .getOrElse(throw new IllegalStateException(
        s"partition $partition missing from ListOffsets response"))
    require(po.errorCode == 0,
      s"ListOffsets error ${po.errorCode} for $topic/$partition")
    po.offset
  }

  /** First offset still in the log. */
  def earliestOffset(topic: String, partition: Int): Long =
    offsetAt(topic, partition, -2L)

  /** Log-end offset (the offset the NEXT record will get). */
  def latestOffset(topic: String, partition: Int): Long =
    offsetAt(topic, partition, -1L)

  case class FetchResult(records: Seq[FetchedRecord], highWatermark: Long)

  /** One fetch round: records with `offset >= fromOffset` (broker may wait
    * up to `maxWaitMs` for `minBytes`; a truncated tail batch is dropped
    * and re-fetched next round). Raises on partition errors — notably 1 =
    * OFFSET_OUT_OF_RANGE when `fromOffset` fell off the retention window.
    */
  def fetch(topic: String, partition: Int, fromOffset: Long,
      maxWaitMs: Int = 500, minBytes: Int = 1,
      maxBytes: Int = 1 << 22): FetchResult = {
    val buf = roundTrip(fetchRequest(nextCorrelation(), clientId, topic,
      Seq(partition -> fromOffset), maxWaitMs, minBytes, maxBytes, maxBytes))
    val data = parseFetchResponse(buf).find(_.partition == partition)
      .getOrElse(throw new IllegalStateException(
        s"partition $partition missing from Fetch response"))
    require(data.errorCode == 0,
      s"Fetch error ${data.errorCode} for $topic/$partition at offset $fromOffset" +
        (if (data.errorCode == 1) " (OFFSET_OUT_OF_RANGE)" else ""))
    FetchResult(decodeRecordSet(data.recordSet).filter(_.offset >= fromOffset),
      data.highWatermark)
  }

  /** Read `[fromOffset, untilExclusive)` completely, paging fetches. The
    * stall guard caps consecutive empty rounds so a broker that stops
    * serving mid-range raises instead of spinning forever.
    */
  def readRange(topic: String, partition: Int, fromOffset: Long,
      untilExclusive: Long, maxStalls: Int = 100): Seq[FetchedRecord] = {
    val out = Seq.newBuilder[FetchedRecord]
    var pos = fromOffset
    var stalls = 0
    while (pos < untilExclusive) {
      val res = fetch(topic, partition, pos)
      val kept = res.records.filter(_.offset < untilExclusive)
      out ++= kept
      val advanced = res.records.nonEmpty
      if (advanced) { pos = res.records.map(_.offset).max + 1; stalls = 0 }
      else {
        stalls += 1
        require(stalls < maxStalls,
          s"fetch stalled at $topic/$partition offset $pos (hw ${res.highWatermark})")
      }
    }
    out.result()
  }
}

/** Leader-routing producer for multi-broker clusters: resolves the
  * partition->leader map from bootstrap metadata once per topic and keeps
  * it for the client's lifetime, keeps one [[KafkaWireProducer]]
  * connection per leader, routes each keyed record to its partition's
  * leader, and refreshes metadata + retries ONCE on NOT_LEADER_OR_FOLLOWER
  * (error 6 — leadership moved between metadata and produce). Everything
  * else surfaces through `onError` and raises (the at-least-once batch
  * retry owns further recovery).
  */
class KafkaWireCluster(bootstrapHost: String, bootstrapPort: Int,
    clientId: String = "graft", maxBatchBytes: Int = KafkaWire.MaxBatchBytes,
    onError: (Int, Short) => Unit = (_, _) => ()) {

  import KafkaWire._

  private val NotLeader: Short = 6
  private val producers =
    scala.collection.mutable.Map.empty[(String, Int), KafkaWireProducer]

  private def producerAt(host: String, port: Int): KafkaWireProducer =
    producers.getOrElseUpdate((host, port),
      new KafkaWireProducer(host, port, clientId, onError = onError))

  /** topic -> (partition count, partition -> leader), fetched at the
    * topic's first send and kept until a NOT_LEADER answer. */
  private val routeCache = scala.collection.mutable.Map.empty[String, (Int, Map[Int, (String, Int)])]

  private def routes(topic: String): (Int, Map[Int, (String, Int)]) = {
    val (cluster, t) = producerAt(bootstrapHost, bootstrapPort).topicMeta(topic)
    val brokerById = cluster.brokers.map(b => b.nodeId -> ((b.host, b.port))).toMap
    val leaderOf = t.partitions.map { p =>
      p.partition -> brokerById.getOrElse(p.leader,
        throw new IllegalStateException(
          s"partition ${p.partition} leader ${p.leader} not in broker table"))
    }.toMap
    (t.partitions.size, leaderOf)
  }

  /** Send keyed records, routing each partition to its leader. */
  def send(topic: String,
      records: Seq[(Array[Byte], Array[Byte], Long)]): Map[Int, Long] = {
    val numPartitions = routeCache.getOrElseUpdate(topic, routes(topic))._1
    val byPartition = records
      .map { case (k, v, ts) => (partitionFor(k, numPartitions), Record(Some(k), v, ts)) }
      .groupBy(_._1)
    val offsets = Map.newBuilder[Int, Long]
    byPartition.toSeq.sortBy(_._1).foreach { case (p, rs) =>
      val recs = rs.map(_._2)
      def attempt(): Seq[PartitionAck] = {
        val (host, port) = routeCache(topic)._2.getOrElse(p,
          throw new IllegalStateException(s"no leader for partition $p"))
        producerAt(host, port).produce(topic, p, recs, maxBatchBytes)
      }
      var acks = attempt()
      if (acks.exists(_.errorCode == NotLeader)) {
        // leadership moved: refresh the leaders, retry once
        routeCache(topic) = (numPartitions, routes(topic)._2)
        acks = attempt()
      }
      val failed = acks.filter(_.errorCode != 0)
      failed.foreach(a => onError(a.partition, a.errorCode))
      if (failed.nonEmpty) throw new IllegalStateException(
        s"produce failed on partition $p (err ${failed.head.errorCode})")
      offsets += p -> acks.map(_.baseOffset).min
    }
    offsets.result()
  }

  def close(): Unit = {
    producers.values.foreach(p => try p.close() catch { case _: Exception => })
    producers.clear()
  }
}
