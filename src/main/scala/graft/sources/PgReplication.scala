package graft.sources

import graft.sources.PgOutput._

import scala.collection.mutable

/** The live-network seam under the pgoutput session: a live implementation
  * opens a replication connection (publication check, slot create,
  * START_REPLICATION — reference `pkg/postgres/source.go:447-621`) and
  * moves CopyData payloads; tests drive the session with synthesized
  * frames. Everything ABOVE this trait — frame decode, message dispatch,
  * relation caching, LSN bookkeeping, keepalive replies, heartbeats — is
  * real, shared code, exercised offline.
  */
trait ReplicationTransport {
  /** Next CopyData payload, or None when nothing arrived within the
    * poll window (the reference's 1 s receive timeout ->
    * ErrNoEventsFound, `pkg/postgres/source.go:110-117`).
    */
  def receive(): Option[Array[Byte]]
  /** Next CopyData payload only if it has already arrived: never waits.
    * The default suits transports whose [[receive]] never waits.
    */
  def receiveArrived(): Option[Array[Byte]] = receive()
  /** Send one client frame (standby status updates). */
  def send(frame: Array[Byte]): Unit
  def close(): Unit = ()
}

/** Scripted transport for tests and fixtures: replays a fixed frame
  * sequence and records everything the session sends back.
  */
class ScriptedTransport(frames: Seq[Array[Byte]]) extends ReplicationTransport {
  private val it = frames.iterator
  val sent: mutable.Buffer[Array[Byte]] = mutable.Buffer.empty
  override def receive(): Option[Array[Byte]] =
    if (it.hasNext) Some(it.next()) else None
  override def send(frame: Array[Byte]): Unit = sent += frame
}

/** One decoded change, with the transaction context attached.
  *
  * `commitLsn` is the LSN of the transaction's OWN commit (from the Begin
  * message's final-LSN field) — the correction, per SURVEY §7.3.1, of the
  * reference quirk where events read `currentLSN` before Commit advances
  * it and so carry the PREVIOUS transaction's LSN
  * (`pkg/postgres/source.go:240-243` vs `:379-381`).
  */
case class PgChange(op: String, namespace: String, table: String,
    before: Map[String, String], after: Map[String, String],
    commitLsn: Long, xid: Long, commitTimeMillis: Long)

/** The pgoutput decode loop: feeds transport frames through
  * [[PgOutput.decodeFrame]]/[[PgOutput.decodeLogical]] and applies the
  * reference's dispatch semantics (`pkg/postgres/source.go:181-221`):
  *
  *   - Relation   -> cached per relation id (`:193-199`)
  *   - Insert     -> after-image change (`:223-271`)
  *   - Update     -> before (when replica identity sends it) + after (`:273-325`)
  *   - Delete     -> before-image change (`:327-377`)
  *   - Begin      -> opens tx scope; events tagged with its final LSN
  *   - Commit     -> advances `currentLsn`, proactive heartbeat every
  *                   `heartbeatMillis` (`:379-401`)
  *   - keepalive  -> standby status reply when requested (`:131-152`)
  *   - Origin/Type/Truncate/unknown -> ignored (`:164-168`, `:216-220`)
  *
  * `clock` is injected so heartbeat cadence is unit-testable.
  * `resumeLsn` (a restart's checkpointed LSN; 0 = fresh start) is the
  * resume position until a newer commit arrives, and already durable.
  */
class PgOutputSession(transport: ReplicationTransport,
    heartbeatMillis: Long = 30000L,
    clock: () => Long = () => System.currentTimeMillis(),
    resumeLsn: Long = 0L) {

  private val relations = mutable.Map.empty[Int, RelationMessage]
  private var txCommitLsn = 0L
  private var txXid = 0L
  private var txCommitTimeMillis = 0L
  private var currentLsnVar = resumeLsn
  private var lastHeartbeatAt = clock()
  @volatile private var durableLsnVar = resumeLsn

  /** The engine's durably-committed LSN (the micro-batch offset log).
    * Once set, standby status updates ack flush/apply no further than
    * this: acking the server's raw WAL end (reference parity,
    * `pkg/postgres/source.go:140-152`) lets the server recycle slot WAL
    * that a crashed stream still needs to replay. Before the first batch
    * commit the behavior is exactly the reference's.
    */
  def markDurable(lsn: Long): Unit =
    if (lsn > durableLsnVar) durableLsnVar = lsn

  private def ackPosition(candidate: Long): Long =
    if (durableLsnVar > 0L) math.min(candidate, durableLsnVar) else candidate

  /** Last committed LSN seen — the resume position. */
  def currentLsn: Long = currentLsnVar
  def relationCount: Int = relations.size

  /** Pull until one change decodes or the transport runs dry (None ==
    * the reference's ErrNoEventsFound poll result).
    */
  def poll(): Option[PgChange] = {
    while (true) {
      transport.receive() match {
        case None => return None
        case Some(payload) =>
          val change = handle(payload)
          if (change.isDefined) return change
      }
    }
    None // unreachable
  }

  /** Decode every frame that has already arrived, handing each change to
    * `onChange` in stream order. Waits (one transport poll window) only
    * when no frame has arrived at all; never waits for the stream to go
    * quiet, so a steady stream cannot hold a caller here.
    */
  def drainArrived(onChange: PgChange => Unit): Unit = {
    var frame = transport.receiveArrived().orElse(transport.receive())
    while (frame.isDefined) {
      handle(frame.get).foreach(onChange)
      frame = transport.receiveArrived()
    }
  }

  private def handle(payload: Array[Byte]): Option[PgChange] =
    decodeFrame(payload) match {
      case PrimaryKeepalive(serverWalEnd, _, replyRequested) =>
        // reply-on-request at the server's WAL end, exactly as the
        // reference (`pkg/postgres/source.go:140-152`)
        if (replyRequested)
          transport.send(encodeStandbyStatusUpdate(
            ackPosition(serverWalEnd), epochMillisToPgMicros(clock())))
        None
      case XLogData(_, _, _, data) => dispatch(decodeLogical(data))
    }

  private def dispatch(msg: LogicalMessage): Option[PgChange] = msg match {
    case rel: RelationMessage =>
      relations(rel.relationId) = rel
      None
    case BeginMessage(finalLsn, commitTime, xid) =>
      txCommitLsn = finalLsn
      txXid = xid
      txCommitTimeMillis = pgMicrosToEpochMillis(commitTime)
      None
    case CommitMessage(_, commitLsn, _, _) =>
      currentLsnVar = commitLsn
      if (clock() - lastHeartbeatAt > heartbeatMillis) {
        transport.send(encodeStandbyStatusUpdate(
          ackPosition(commitLsn), epochMillisToPgMicros(clock())))
        lastHeartbeatAt = clock()
      }
      None
    case InsertMessage(relId, tuple) =>
      val rel = relation(relId)
      Some(change("c", rel, before = null,
        after = tupleToStringMap(rel, tuple)))
    case UpdateMessage(relId, _, oldTuple, newTuple) =>
      val rel = relation(relId)
      Some(change("u", rel,
        before = oldTuple.map(tupleToStringMap(rel, _)).orNull,
        after = tupleToStringMap(rel, newTuple)))
    case DeleteMessage(relId, _, oldTuple) =>
      val rel = relation(relId)
      Some(change("d", rel, before = tupleToStringMap(rel, oldTuple),
        after = null))
    case _: OriginMessage | _: TypeMessage | _: TruncateMessage =>
      None // logged-and-ignored in the reference (`source.go:216-220`)
  }

  private def relation(id: Int): RelationMessage =
    relations.getOrElse(id,
      throw new IllegalStateException(s"unknown relation ID: $id"))

  private def change(op: String, rel: RelationMessage,
      before: Map[String, String], after: Map[String, String]): PgChange =
    PgChange(op, rel.namespace, rel.relationName, before, after,
      txCommitLsn, txXid, txCommitTimeMillis)
}

/** [[WalClient]] over a pgoutput frame stream: drains the session into an
  * LSN-keyed buffer so the DSv2 micro-batch planner's
  * `latest()`/`read(from, to]` contract works over a forward-only
  * replication stream. Micro-batch N takes every change whose COMMIT LSN
  * falls in its range — transactional batching the reference's
  * event-at-a-time loop only approximates.
  *
  * Session + buffer live in a process-wide registry keyed by
  * `pg.transport.id` (same device as InMemoryWal: the driver's
  * `latestOffset()` drains frames once; partition-reader instances — new
  * objects, same JVM in local mode — read the shared buffer). Live
  * deployments register a socket-backed [[ReplicationTransport]]; tests
  * register a [[ScriptedTransport]] with synthesized frames and run the
  * stock CdcSourceProvider on top.
  */
class PgOutputWalClient extends WalClient {
  private var state: PgStreams.State = _
  private var db: String = _

  override def configure(options: Map[String, String]): Unit = {
    val id = options.getOrElse("pg.transport.id",
      throw new IllegalArgumentException("PgOutputWalClient needs option pg.transport.id"))
    db = options.getOrElse("pg.database", "postgres")
    // live wiring: when connection options are present and nothing is
    // registered under this id yet, open the real socket transport
    // (PgSocketTransport: startup, publication check, slot create,
    // START_REPLICATION). Tests and fixtures pre-register a
    // ScriptedTransport instead, and the computeIfAbsent registry makes
    // re-configure a no-op either way.
    if (options.contains("pg.host"))
      PgTransports.ensure(id)(PgSocketTransport.fromOptions(options, db))
    // a restart reports its checkpointed LSN until newer commits arrive:
    // no first batch runs the offset log backwards
    state = PgStreams.state(id,
      options.get("pg.start.lsn").map(PgSocketTransport.parseLsnOption).getOrElse(0L))
  }

  /** The last commit among the frames that have arrived (decoded into
    * the buffer first); waits one poll window only when none has. */
  override def latest(): Long = state.synchronized {
    state.session.drainArrived(ch =>
      state.buffer.merge(ch.commitLsn, List(ch), (a, b) => a ::: b))
    state.session.currentLsn
  }

  override def read(fromExclusive: Long, toInclusive: Long): Iterator[WalRecord] = {
    import scala.jdk.CollectionConverters._
    state.buffer.subMap(fromExclusive, false, toInclusive, true)
      .values.iterator.asScala.flatten.map { ch =>
        WalRecord(ch.commitLsn, db, ch.namespace, ch.table, ch.op,
          ch.commitTimeMillis, ch.before, ch.after, ch.xid)
      }
  }

  /** Committed batches are never re-read — drop their decoded changes so
    * the buffer stays bounded by the uncommitted window, not the stream's
    * lifetime.
    */
  override def commit(upToInclusive: Long): Unit = {
    // the offset log has durably recorded this batch — from here on the
    // session may ack the server up to it (see PgOutputSession.markDurable)
    state.session.markDurable(upToInclusive)
    state.buffer.headMap(upToInclusive, true).clear()
  }
}

/** Process-wide transport + stream-state registries (local-mode executors
  * share the JVM; a cluster deployment would construct transports from
  * connection options instead).
  */
object PgTransports {
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, ReplicationTransport]()
  def register(id: String, t: ReplicationTransport): Unit = reg.put(id, t)
  /** Register-if-absent (atomic): the live-socket wiring connects at most
    * once per id even under concurrent configure() calls.
    */
  def ensure(id: String)(mk: => ReplicationTransport): ReplicationTransport =
    reg.computeIfAbsent(id, _ => mk)
  def get(id: String): ReplicationTransport =
    Option(reg.get(id)).getOrElse(
      throw new IllegalArgumentException(s"no transport registered: $id"))
  def clear(id: String): Unit = { reg.remove(id); PgStreams.clear(id) }
}

object PgStreams {
  final class State(val session: PgOutputSession) {
    val buffer = new java.util.concurrent.ConcurrentSkipListMap[Long, List[PgChange]]()
  }
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, State]()
  /** `resumeLsn` seeds a newly created session only. */
  def state(id: String, resumeLsn: Long = 0L): State =
    reg.computeIfAbsent(id, _ =>
      new State(new PgOutputSession(PgTransports.get(id), resumeLsn = resumeLsn)))
  def clear(id: String): Unit = reg.remove(id)
}
