package graft.sources

import graft.cdc.ChangeSource
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util.{Collections => JCollections}
import scala.jdk.CollectionConverters._

/** A decoded WAL/change record, already in the engine's raw-change shape
  * (ChangeSource.rawSchema). In a live deployment the client decodes
  * pgoutput messages into these (reference semantics:
  * `pkg/postgres/source.go:181-377` — Relation caching, Insert/Update/
  * Delete tuples, Commit advancing the LSN); offline, the in-memory double
  * produces them directly.
  */
case class WalRecord(
    lsn: Long, db: String, schema: String, table: String, op: String,
    tsMs: Long, before: Map[String, String], after: Map[String, String],
    txId: Long)

/** The pluggable network seam. Implementations must be constructible on
  * executors from the option map (zero-arg constructor + configure()).
  *
  * A live PostgreSQL implementation holds a logical-replication connection
  * (publication check, slot create, START_REPLICATION — reference
  * `pkg/postgres/source.go:447-621`) and serves:
  *   - `latest()`  = `pg_current_wal_lsn()` (or last committed LSN seen);
  *   - `read(a,b)` = decoded records with `a < lsn <= b`.
  */
trait WalClient {
  def configure(options: Map[String, String]): Unit
  def latest(): Long
  def read(fromExclusive: Long, toInclusive: Long): Iterator[WalRecord]
  /** Batch-commit hook: everything at or below `upToInclusive` is in the
    * offset log and will never be re-read — clients holding a decode
    * buffer trim it here (default no-op for stateless/test clients).
    */
  def commit(upToInclusive: Long): Unit = ()
}

/** Offline test double: a process-wide WAL keyed by `wal.id`, appendable
  * from test code. Local-mode Spark shares the JVM, so executors see the
  * same registry — exactly how MemoryStream works.
  */
class InMemoryWalClient extends WalClient {
  private var walId: String = _
  override def configure(options: Map[String, String]): Unit =
    walId = options.getOrElse("wal.id",
      throw new IllegalArgumentException("InMemoryWalClient needs option wal.id"))
  override def latest(): Long = InMemoryWal.latest(walId)
  override def read(a: Long, b: Long): Iterator[WalRecord] =
    InMemoryWal.read(walId, a, b)
}

object InMemoryWal {
  private val wals = new java.util.concurrent.ConcurrentHashMap[String, java.util.concurrent.ConcurrentSkipListMap[Long, WalRecord]]()
  private def wal(id: String) =
    wals.computeIfAbsent(id, _ => new java.util.concurrent.ConcurrentSkipListMap[Long, WalRecord]())
  def append(id: String, rec: WalRecord): Unit = wal(id).put(rec.lsn, rec)
  def latest(id: String): Long =
    Option(wal(id).lastEntry()).map(_.getKey).getOrElse(0L)
  def read(id: String, a: Long, b: Long): Iterator[WalRecord] =
    wal(id).subMap(a, false, b, true).values.iterator.asScala
  def clear(id: String): Unit = wal(id).clear()
}

/** LSN offset — serialized into Spark's offset log, so
  * `checkpointLocation` gives exactly the reference's resume-from-LSN
  * behavior (SURVEY ST3/ST6) with no extra bookkeeping.
  */
case class LsnOffset(lsn: Long) extends Offset {
  override def json(): String = lsn.toString
}

/** DataSource v2 entry point:
  * {{{
  * spark.readStream.format("graft.sources.CdcSourceProvider")
  *   .option("wal.client", "graft.sources.InMemoryWalClient")
  *   .option("wal.id", "my-wal")
  *   .load()
  * }}}
  */
class CdcSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ChangeSource.rawSchema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new CdcTable(properties.asScala.toMap)
}

class CdcTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"graft-cdc(${options.getOrElse("wal.id", "?")})"
  override def schema(): StructType = ChangeSource.rawSchema
  override def capabilities(): java.util.Set[TableCapability] =
    JCollections.singleton(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new Scan {
        override def readSchema(): StructType = ChangeSource.rawSchema
        override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
          new CdcMicroBatchStream(options)
      }
    }
}

object WalClients {
  def instantiate(options: Map[String, String]): WalClient = {
    val cls = options.getOrElse("wal.client",
      throw new IllegalArgumentException("graft-cdc needs option wal.client"))
    val c = Class.forName(cls).getDeclaredConstructor().newInstance().asInstanceOf[WalClient]
    c.configure(options)
    c
  }
}

/** Micro-batch planning: each batch is the WAL range (start, end] — the
  * same batch boundary the reference's pull loop implies (buffer drained
  * between WAL reads, `pkg/postgres/source.go:102-107`). WAL decode is
  * inherently serial (single replication slot) and stays on the driver;
  * a large batch is then split by relation into up to
  * `defaultParallelism` input partitions ([[CdcRows.groupRelations]]),
  * each a task that reads the range and keeps its own relations. Nothing
  * downstream re-partitions: the source's partitions are the write job's
  * tasks.
  */
class CdcMicroBatchStream(options: Map[String, String]) extends MicroBatchStream {
  private val driverClient = WalClients.instantiate(options)
  private val groups = new CdcRows.PlannedGroups[(Long, Long)]

  /** First-start position (only consulted when no checkpoint exists —
    * afterwards the offset log wins, SURVEY ST3/ST6):
    * `earliest` (default) replays the full WAL the client can serve;
    * `latest` = new data only, the reference's no-checkpoint behavior
    * (`pg_current_wal_lsn()`, `pkg/postgres/source.go:597-621`); or an
    * explicit LSN number.
    */
  override def initialOffset(): Offset =
    options.getOrElse("start.position", "earliest") match {
      case "earliest" => LsnOffset(0L)
      case "latest" => LsnOffset(driverClient.latest())
      // explicit LSN: PG's native X/X hex form (what formatLsn and the
      // reference's checkpoints print) or a plain decimal
      case lsn if lsn.contains('/') => LsnOffset(PgOutput.parseLsn(lsn))
      case lsn => LsnOffset(java.lang.Long.parseLong(lsn))
    }
  override def latestOffset(): Offset = LsnOffset(driverClient.latest())
  override def deserializeOffset(json: String): Offset = LsnOffset(json.toLong)
  // committed batches can never be re-read: let buffering clients trim
  override def commit(end: Offset): Unit =
    driverClient.commit(end.asInstanceOf[LsnOffset].lsn)
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val from = start.asInstanceOf[LsnOffset].lsn
    val to = end.asInstanceOf[LsnOffset].lsn
    groups((from, to))(driverClient.read(from, to))
      .map(CdcInputPartition(from, to, _, options)).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
        val p = partition.asInstanceOf[CdcInputPartition]
        new CdcPartitionReader(p)
      }
    }
}

/** The changes in (fromLsn, toLsn] of the relations in `relations`
  * (empty = every relation). */
case class CdcInputPartition(fromLsn: Long, toLsn: Long, relations: Set[String],
    options: Map[String, String]) extends InputPartition

/** WalRecord -> InternalRow in the raw-change schema, and the split of a
  * micro-batch into relation groups (shared by the LSN and resume-token
  * sources).
  */
object CdcRows {
  /** The fewest changes worth a task of their own. Each task pays a
    * fixed cost: its launch, and a broker connection of its own with
    * ApiVersions and Metadata round trips before its first produce. A
    * change costs about 20 us of envelope, encode and produce work, so a
    * task of 1000 changes has about 20 ms of work to spread that cost
    * over. A batch splits only from 2 x 1000 changes up, into at most
    * one task per 1000 changes. A trickle batch of a few dozen changes
    * stays one task: splitting every batch measured slower on the
    * trickle (commit-to-ack p50 105 -> 140, 117 -> 135 and 109 -> 116 ms
    * in three pairs).
    */
  private[sources] val MinChangesPerTask = 1000

  /** The relation a change belongs to: `db.schema.table`, null parts
    * skipped — exactly the Kafka key [[graft.cdc.Envelope.kafkaKey]]
    * ships, so one relation is one key. */
  def relation(r: WalRecord): String =
    if (r.db != null && r.schema != null && r.table != null) r.db + "." + r.schema + "." + r.table
    else Seq(r.db, r.schema, r.table).filter(_ != null).mkString(".")

  /** Relation groups for a batch with these per-relation change counts,
    * at most `maxTasks` of them: one group per task. A batch under
    * 2 x [[MinChangesPerTask]] changes, or one that cannot split, is a
    * single empty group, which means "every relation". Otherwise
    * k = min(maxTasks, relations, changes / MinChangesPerTask), and the
    * relations go largest first to the least-loaded of the k groups.
    *
    * A relation never splits, so all of its changes (and so every change
    * of a Kafka key, which is the relation) stay in one task, read in
    * source order: per-key order holds. The ordering unit is the
    * relation: two relations in different groups are produced
    * concurrently, so an application key that spans relations loses its
    * cross-relation order. The batch still commits only after every task
    * has acked, so delivery stays at-least-once.
    */
  def groupRelations(counts: Map[String, Long], maxTasks: Int): Seq[Set[String]] = {
    val changes = counts.values.sum
    val k = math.min(math.min(maxTasks.toLong, counts.size.toLong),
      changes / MinChangesPerTask).toInt
    if (changes < 2L * MinChangesPerTask || k < 2) Seq(Set.empty)
    else {
      val load = new Array[Long](k)
      val groups = Array.fill(k)(Set.empty[String])
      counts.toSeq.sortBy { case (rel, n) => (-n, rel) }.foreach { case (rel, n) =>
        val g = load.indices.minBy(load(_))
        load(g) += n
        groups(g) += rel
      }
      groups.toSeq
    }
  }

  /** A stream's relation groups per batch: [[groupRelations]] over one
    * pass of the batch's changes, capped at the active session's
    * `defaultParallelism`. The last batch's groups are kept by its offset
    * range `K`: Spark asks a stream for a micro-batch's partitions several
    * times (six per batch under Spark 4.1.2), and each pass reads the
    * whole batch. */
  final class PlannedGroups[K] {
    private var last: (K, Seq[Set[String]]) = _
    def apply(range: K)(batch: => Iterator[WalRecord]): Seq[Set[String]] = synchronized {
      if (last == null || last._1 != range) {
        val counts = scala.collection.mutable.HashMap.empty[String, Long]
        batch.foreach { r =>
          val rel = relation(r)
          counts(rel) = counts.getOrElse(rel, 0L) + 1L
        }
        last = (range, groupRelations(counts.toMap,
          SparkSession.active.sparkContext.defaultParallelism))
      }
      last._2
    }
  }

  /** The changes of `batch` in `relations` (empty = all), in source order. */
  def keep(batch: Iterator[WalRecord], relations: Set[String]): Iterator[WalRecord] =
    if (relations.isEmpty) batch else batch.filter(r => relations(relation(r)))

  private def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)

  private def mapData(m: Map[String, String]): ArrayBasedMapData =
    if (m == null) null
    else {
      val keys = new Array[Any](m.size)
      val vals = new Array[Any](m.size)
      var i = 0
      m.foreach { case (k, v) => keys(i) = utf8(k); vals(i) = utf8(v); i += 1 }
      new ArrayBasedMapData(
        new org.apache.spark.sql.catalyst.util.GenericArrayData(keys),
        new org.apache.spark.sql.catalyst.util.GenericArrayData(vals))
    }

  def toInternalRow(r: WalRecord): InternalRow =
    InternalRow(
      utf8(r.db), utf8(r.schema), utf8(r.table),
      utf8(r.op), r.tsMs,
      mapData(r.before), mapData(r.after),
      r.lsn, r.txId)
}

class CdcPartitionReader(p: CdcInputPartition) extends PartitionReader[InternalRow] {
  private val it = CdcRows.keep(
    WalClients.instantiate(p.options).read(p.fromLsn, p.toLsn), p.relations)
  private var current: WalRecord = _

  override def next(): Boolean = {
    if (it.hasNext) { current = it.next(); true } else false
  }

  override def get(): InternalRow = CdcRows.toInternalRow(current)

  override def close(): Unit = ()
}
