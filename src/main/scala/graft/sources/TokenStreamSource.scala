package graft.sources

import graft.cdc.ChangeSource
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import java.nio.charset.StandardCharsets
import java.util.{Base64, Collections => JCollections}
import scala.jdk.CollectionConverters._

/** MongoDB-change-stream-shaped source: positions are OPAQUE resume
  * tokens, not comparable numbers (reference `pkg/mongo/source.go:74-87` —
  * `SetResumeAfter(base64-decoded token)`). The source only ever asks the
  * client "what is your latest token" and "give me everything after token
  * A up to token B"; tokens round-trip base64 through Spark's offset log
  * (the reference's T9 transform).
  *
  * Live implementation = a client over `collection.Watch(...)`; offline
  * double = [[InMemoryTokenLog]].
  */
trait TokenStreamClient {
  def configure(options: Map[String, String]): Unit
  /** Latest resume token, or None when the stream has no events yet. */
  def latestToken(): Option[String]
  /** Events strictly after `fromExclusive` (None = from the beginning) up
    * to and including `toInclusive`.
    */
  def readAfter(fromExclusive: Option[String], toInclusive: String): Iterator[WalRecord]
  /** Batch-commit hook: events up to and including `token` are in the
    * offset log and will never be re-read — buffering clients trim here
    * (default no-op for stateless/test clients).
    */
  def commitToken(token: String): Unit = ()
}

class InMemoryTokenClient extends TokenStreamClient {
  private var id: String = _
  override def configure(options: Map[String, String]): Unit =
    id = options.getOrElse("stream.id",
      throw new IllegalArgumentException("InMemoryTokenClient needs option stream.id"))
  override def latestToken(): Option[String] = InMemoryTokenLog.latest(id)
  override def readAfter(from: Option[String], to: String): Iterator[WalRecord] =
    InMemoryTokenLog.readAfter(id, from, to)
}

/** Process-wide ordered log of (opaque token -> record). Tokens are
  * insertion-ordered internally but deliberately non-numeric so nothing
  * can cheat by comparing them.
  */
object InMemoryTokenLog {
  private case class Entry(seq: Long, token: String, rec: WalRecord)
  private val logs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.CopyOnWriteArrayList[Entry]]()
  private val seqs = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.atomic.AtomicLong]()

  private def log(id: String) =
    logs.computeIfAbsent(id, _ => new java.util.concurrent.CopyOnWriteArrayList[Entry]())

  /** Append with a generated opaque token; returns the token. */
  def append(id: String, rec: WalRecord): String = {
    val seq = seqs.computeIfAbsent(id, _ => new java.util.concurrent.atomic.AtomicLong()).incrementAndGet()
    val token = Base64.getEncoder.encodeToString(
      s"tok:$id:$seq".getBytes(StandardCharsets.UTF_8))
    log(id).add(Entry(seq, token, rec))
    token
  }
  def latest(id: String): Option[String] = {
    val l = log(id)
    if (l.isEmpty) None else Some(l.get(l.size - 1).token)
  }
  def readAfter(id: String, from: Option[String], to: String): Iterator[WalRecord] = {
    val l = log(id).asScala
    val fromSeq = from.flatMap(t => l.find(_.token == t)).map(_.seq).getOrElse(0L)
    val toSeq = l.find(_.token == to).map(_.seq).getOrElse(Long.MaxValue)
    l.iterator.filter(e => e.seq > fromSeq && e.seq <= toSeq).map(_.rec)
  }
  def clear(id: String): Unit = { log(id).clear(); seqs.remove(id) }
}

/** Offset wrapper: json is the base64 token (or "" for "beginning"). */
case class TokenOffset(token: String) extends Offset {
  override def json(): String = token
}

class TokenStreamProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeSource.rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new TokenStreamTable(properties.asScala.toMap)
}

class TokenStreamTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-token-stream(${options.getOrElse("stream.id", "?")})"
  override def schema(): StructType = ChangeSource.rawSchema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.singleton(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChangeSource.rawSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new TokenMicroBatchStream(options)
      }
    }
}

object TokenStreamClients {
  def instantiate(options: Map[String, String]): TokenStreamClient = {
    val cls = options.getOrElse("stream.client",
      throw new IllegalArgumentException("graft token stream needs option stream.client"))
    val c = Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[TokenStreamClient]
    c.configure(options)
    c
  }
}

class TokenMicroBatchStream(options: Map[String, String]) extends MicroBatchStream {
  private val client = TokenStreamClients.instantiate(options)
  private val groups = new CdcRows.PlannedGroups[(String, String)]

  /** First-start position (no-checkpoint case only): `earliest` (default)
    * replays the whole log the client can serve; `latest` = new events
    * only — a live change stream's natural behavior (`collection.Watch`
    * with no resume token delivers from now, `pkg/mongo/source.go:71-87`).
    */
  override def initialOffset(): Offset =
    options.getOrElse("start.position", "earliest") match {
      case "earliest" => TokenOffset("")
      case "latest" => TokenOffset(client.latestToken().getOrElse(""))
      case other => throw new IllegalArgumentException(
        s"start.position must be earliest|latest for token streams, got $other")
    }
  override def latestOffset(): Offset =
    TokenOffset(client.latestToken().getOrElse(""))
  override def deserializeOffset(json: String): Offset = TokenOffset(json)
  override def commit(end: Offset): Unit = {
    val t = end.asInstanceOf[TokenOffset].token
    if (t.nonEmpty) client.commitToken(t)
  }
  override def stop(): Unit = ()

  /** One input partition per relation group ([[CdcRows.groupRelations]]:
    * a single one unless the batch is large). */
  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[TokenOffset].token
    val to = end.asInstanceOf[TokenOffset].token
    if (to.isEmpty || from == to) Array.empty
    else groups((from, to))(client.readAfter(Option(from).filter(_.nonEmpty), to))
      .map(TokenInputPartition(from, to, _, options)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[TokenInputPartition]
        val it = CdcRows.keep(TokenStreamClients.instantiate(p.options)
          .readAfter(Option(p.from).filter(_.nonEmpty), p.to), p.relations)
        new PartitionReader[InternalRow] {
          private var cur: WalRecord = _
          override def next(): Boolean =
            if (it.hasNext) { cur = it.next(); true } else false
          override def get(): InternalRow = CdcRows.toInternalRow(cur)
          override def close(): Unit = ()
        }
      }
    }
}

/** The events after `from` ("" = the beginning) up to `to` of the
  * relations in `relations` (empty = every relation). */
case class TokenInputPartition(from: String, to: String, relations: Set[String],
    options: Map[String, String]) extends InputPartition
