package graft.sources

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import scala.collection.mutable

/** Pure decoder for MongoDB change-stream event documents (the public
  * change-stream format: `_id` resume token, `operationType`, `ns`,
  * `clusterTime`, `fullDocument`, `fullDocumentBeforeChange`).
  *
  * The offline-testable half of the reference's Mongo source, exactly as
  * [[PgOutput]] is for PostgreSQL: the reference delegates the wire
  * protocol to the driver's `collection.Watch` and keeps the event
  * mapping (`pkg/mongo/source.go:108-187` event assembly, `:189-200` op
  * mapping, `:203-209` before/after extraction, `:76-81`/`:180` resume
  * token base64 round-trip); here the mapping is implemented and
  * unit-tested against synthesized event documents — only the live
  * cursor (`ChangeStreamCursor`) needs a server.
  */
object ChangeStreamDecoder {
  private val mapper = new ObjectMapper()

  /** One decoded change-stream event in engine terms. */
  case class StreamEvent(resumeToken: String, op: String, db: String,
      coll: String, before: Map[String, String], after: Map[String, String],
      clusterTimeMillis: Long)

  /** operationType -> Debezium op code, the reference's map
    * (`pkg/mongo/source.go:189-200`): insert->c, update->u, replace->u,
    * delete->d, anything else (drop/rename/invalidate/...) -> r.
    */
  def opCode(operationType: String): String = operationType match {
    case "insert" => "c"
    case "update" | "replace" => "u"
    case "delete" => "d"
    case _ => "r"
  }

  /** Decode one change-stream event document (JSON). */
  def decode(json: String): StreamEvent = {
    val root = mapper.readTree(json)
    val token = Option(root.path("_id").path("_data").asText(null))
      .filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "change-stream event has no _id._data resume token"))
    val ns = root.path("ns")
    // clusterTime is a BSON timestamp: seconds + ordinal
    val ts = root.path("clusterTime").path("$timestamp")
    val tsMillis = ts.path("t").asLong(0L) * 1000L
    StreamEvent(
      resumeToken = token,
      op = opCode(root.path("operationType").asText("")),
      db = ns.path("db").asText(""),
      coll = ns.path("coll").asText(""),
      before = docToMap(root.get("fullDocumentBeforeChange")),
      after = docToMap(root.get("fullDocument")),
      clusterTimeMillis = tsMillis)
  }

  /** Top-level document fields -> string map: scalars render as text,
    * nested docs/arrays stay compact JSON (SURVEY §7.3.5 — JSON-string
    * representation avoids lossy flattening), common extended-JSON
    * number wrappers are unwrapped.
    */
  private[sources] def docToMap(doc: JsonNode): Map[String, String] = {
    if (doc == null || doc.isNull || !doc.isObject) return null
    val b = Map.newBuilder[String, String]
    val it = doc.fields()
    while (it.hasNext) {
      val e = it.next()
      b += e.getKey -> nodeToString(e.getValue)
    }
    b.result()
  }

  private def nodeToString(n: JsonNode): String = {
    if (n.isNull) return null
    if (n.isValueNode) return n.asText()
    if (n.isObject && n.size() == 1) {
      val name = n.fieldNames().next()
      if (name == "$numberLong" || name == "$numberInt" ||
        name == "$numberDouble" || name == "$numberDecimal" || name == "$oid")
        return n.get(name).asText()
    }
    n.toString // nested doc/array: compact JSON
  }
}

/** The live-network seam: a live implementation wraps
  * `collection.Watch(pipeline=[], MaxAwaitTime=5s)` with
  * `SetResumeAfter(token)` on reconnect (`pkg/mongo/source.go:71-103`);
  * tests feed synthesized event documents.
  */
trait ChangeStreamCursor {
  /** Next change-stream event document (JSON), or None when the poll
    * window is empty (the reference's MaxAwaitTime expiry).
    */
  def next(): Option[String]
  /** Next event document only if it has already arrived (a batch the
    * server already sent): never waits. The default suits cursors whose
    * [[next]] never waits.
    */
  def nextArrived(): Option[String] = next()
  def close(): Unit = ()
}

class ScriptedChangeStream(docs: Seq[String]) extends ChangeStreamCursor {
  private val it = docs.iterator
  override def next(): Option[String] = if (it.hasNext) Some(it.next()) else None
}

/** [[TokenStreamClient]] over a change-stream cursor: drains decoded
  * events into a token-ordered buffer so the DSv2 token source's
  * `latestToken()`/`readAfter(from, to]` contract works over the
  * forward-only stream. Registry-shared per `stream.cursor.id` (driver
  * drains; partition readers see the same buffer — the InMemoryWal
  * pattern). A cursor opened after `mongo.resume.after` (a restart's
  * checkpointed token) keeps that token as the empty buffer's head.
  */
class ChangeStreamTokenClient extends TokenStreamClient {
  private var state: ChangeStreamRegistry.State = _
  override def configure(options: Map[String, String]): Unit = {
    val id = options.getOrElse("stream.cursor.id",
      throw new IllegalArgumentException(
        "ChangeStreamTokenClient needs option stream.cursor.id"))
    // live wiring (the PgOutputWalClient device): connection options +
    // nothing registered -> open the real wire-protocol cursor; tests
    // pre-register a ScriptedChangeStream under the same id instead
    if (options.contains("mongo.host"))
      ChangeStreamRegistry.ensure(id, options.get("mongo.resume.after"))(
        MongoSocketCursor.fromOptions(options))
    state = ChangeStreamRegistry.state(id)
  }

  /** The token of the last event that has arrived (decoded into the
    * buffer first). Waits for the cursor's next batch (one await window)
    * only when no event has arrived; never drains until the stream goes
    * quiet, so a steady stream cannot hold the planner here.
    */
  override def latestToken(): Option[String] = state.synchronized {
    var doc = state.cursor.nextArrived().orElse(state.cursor.next())
    while (doc.isDefined) {
      state.events += ChangeStreamDecoder.decode(doc.get)
      doc = state.cursor.nextArrived()
    }
    state.events.lastOption.map(_.resumeToken).orElse(state.resumedAfter)
  }

  override def readAfter(fromExclusive: Option[String],
      toInclusive: String): Iterator[WalRecord] = {
    // under the state lock: partition-reader threads race the driver's
    // latestToken() appends otherwise (ArrayBuffer has no happens-before)
    val snapshot = state.synchronized {
      val evs = state.events
      val fromIdx = fromExclusive.map { t =>
        val i = evs.indexWhere(_.resumeToken == t)
        // a token older than the trim head must fail fast — falling back
        // to the buffer start would silently duplicate/omit records
        if (i < 0 && !state.resumedAfter.contains(t)) throw new IllegalStateException(
          s"resume token $t not in the stream buffer (trimmed past it?)")
        i + 1
      }.getOrElse(0)
      val toIdx = evs.indexWhere(_.resumeToken == toInclusive)
      // same fail-fast as fromExclusive: a planned batch end that is no
      // longer in the buffer means registry/state loss — an empty batch
      // here would mask silent data loss
      if (toIdx < 0) throw new IllegalStateException(
        s"batch-end token $toInclusive not in the stream buffer (state lost?)")
      evs.slice(fromIdx, toIdx + 1).toVector
    }
    snapshot.iterator.map { ev =>
      WalRecord(0L, ev.db, "", ev.coll, ev.op, ev.clusterTimeMillis,
        ev.before, ev.after, 0L)
    }
  }

  /** Committed events are never re-read — trim through the token so the
    * buffer is bounded by the uncommitted window. (The token itself must
    * stay: readAfter resolves `fromExclusive` by finding it.)
    */
  override def commitToken(token: String): Unit = state.synchronized {
    val idx = state.events.indexWhere(_.resumeToken == token)
    if (idx > 0) state.events.remove(0, idx)
  }
}

object ChangeStreamRegistry {
  /** `resumedAfter`: the token the cursor was opened after, if any. */
  final class State(val cursor: ChangeStreamCursor,
      val resumedAfter: Option[String] = None) {
    val events = mutable.Buffer.empty[ChangeStreamDecoder.StreamEvent]
  }
  private val reg = new java.util.concurrent.ConcurrentHashMap[String, State]()
  def register(id: String, c: ChangeStreamCursor): Unit =
    reg.put(id, new State(c))
  /** Register-if-absent (atomic): the live-socket wiring connects at most
    * once per id even under concurrent configure() calls.
    */
  def ensure(id: String, resumedAfter: Option[String] = None)(
      mk: => ChangeStreamCursor): State =
    reg.computeIfAbsent(id, _ => new State(mk, resumedAfter))
  def state(id: String): State =
    Option(reg.get(id)).getOrElse(
      throw new IllegalArgumentException(s"no change-stream cursor registered: $id"))
  def clear(id: String): Unit = reg.remove(id)
}
