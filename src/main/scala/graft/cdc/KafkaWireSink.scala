package graft.cdc

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Streaming DataSource v2 sink producing (key, value) string rows to a
  * Kafka topic through the library's wire client ([[KafkaWireCluster]]),
  * the write-side mirror of [[graft.sources.KafkaWireSourceProvider]]:
  *
  * {{{
  * frame.select(col("key"), col("value"))   // both strings
  *   .writeStream.format("graft.cdc.KafkaWireSinkProvider")
  *   .option("host", "broker1").option("port", "9092")
  *   .option("topic", "changes")
  *   .option("checkpointLocation", dir)
  *   .start()
  * }}}
  *
  * The write is part of each micro-batch's own job: every task streams its
  * rows into chunks of at most [[KafkaWire.MaxBatchBytes]] (the wire
  * client's record-batch cap) and sends each full chunk through one
  * [[KafkaWireCluster]] per task before it buffers the next, so memory is
  * one chunk, not the micro-batch. A task commits only after every chunk
  * is acked, and the batch commits only after every task, so delivery is
  * at-least-once: a failed batch is replayed from the offset log.
  */
object KafkaWireSink {
  val schema: StructType = StructType(Seq(
    StructField("key", StringType, nullable = false),
    StructField("value", StringType, nullable = false)))
}

class KafkaWireSinkProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KafkaWireSink.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KafkaWireSinkTable(properties.asScala.toMap)
}

class KafkaWireSinkTable(options: Map[String, String]) extends Table with SupportsWrite {
  private def required(key: String): String = options.getOrElse(key,
    throw new IllegalArgumentException(s"graft-kafka sink needs option $key"))

  override def name(): String = s"graft-kafka-sink(${options.getOrElse("topic", "?")})"
  override def schema(): StructType = KafkaWireSink.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.Set.of(TableCapability.STREAMING_WRITE)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val fields = info.schema().fields.map(f => (f.name, f.dataType)).toSeq
    require(fields == Seq("key" -> StringType, "value" -> StringType),
      s"graft-kafka sink writes (key string, value string) rows, got ${info.schema().simpleString}")
    val factory = KafkaWireWriterFactory(required("host"), required("port").toInt,
      required("topic"))
    new WriteBuilder {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new StreamingWrite {
          override def createStreamingWriterFactory(p: PhysicalWriteInfo): StreamingDataWriterFactory =
            factory
          // a task sends before it commits; Spark's commit log is the commit
          override def useCommitCoordinator(): Boolean = false
          override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
          override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
        }
      }
    }
  }
}

case class KafkaWireWriterFactory(host: String, port: Int, topic: String)
  extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new KafkaWireDataWriter(this)
}

case object KafkaWireCommitted extends WriterCommitMessage

/** One task's writer: buffers one chunk at a time and opens its broker
  * connections at its first send (an empty partition connects nowhere).
  */
class KafkaWireDataWriter(f: KafkaWireWriterFactory) extends DataWriter[InternalRow] {
  private var cluster: KafkaWireCluster = _
  private val chunk = mutable.ArrayBuffer.empty[(Array[Byte], Array[Byte], Long)]
  private var buffered = 0

  override def write(row: InternalRow): Unit = {
    // a null key/value means the frame wasn't built by Envelope.toKafkaFrame:
    // fail with context instead of an anonymous NPE
    if (row.isNullAt(0) || row.isNullAt(1)) throw new IllegalArgumentException(
      s"null key or value in Kafka frame for topic '${f.topic}'; frames must " +
        "carry non-null key and value columns (see Envelope.toKafkaFrame)")
    val key = row.getUTF8String(0).getBytes
    val value = row.getUTF8String(1).getBytes
    val size = KafkaWire.chunkBytes(key, value)
    if (chunk.nonEmpty && buffered + size > KafkaWire.MaxBatchBytes) flush()
    chunk += ((key, value, System.currentTimeMillis()))
    buffered += size
  }

  private def flush(): Unit = if (chunk.nonEmpty) {
    if (cluster == null) cluster = new KafkaWireCluster(f.host, f.port)
    cluster.send(f.topic, chunk.toSeq)
    chunk.clear()
    buffered = 0
  }

  override def commit(): WriterCommitMessage = {
    flush()
    close()
    KafkaWireCommitted
  }

  override def abort(): Unit = close()

  override def close(): Unit = if (cluster != null) {
    cluster.close()
    cluster = null
  }
}
