package graftbench

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util.SplittableRandom
import scala.collection.mutable

/** One relation the generator writes to: pgoutput type OIDs per column
  * (23 int4, 20 int8, 25 text, 1700 numeric, 1114 timestamp, 16 bool);
  * column 0 is always the int8 primary key `id`.
  */
final case class RelSpec(relId: Int, namespace: String, name: String,
    columns: IndexedSeq[(String, Int)])

object RelSpec {
  private val wideTypes = IndexedSeq(23, 25, 1700, 1114, 25, 16, 20, 25, 1700)

  /** `n` wide relations (18 columns, REPLICA IDENTITY FULL images). */
  def wide(n: Int): IndexedSeq[RelSpec] = (0 until n).map { r =>
    val cols = ("id" -> 20) +: (1 until 18).map(c => s"c$c" -> wideTypes(c % wideTypes.length))
    RelSpec(16384 + r, "public", s"wide_$r", cols)
  }

  /** `n` narrow relations (id, a counter and a short note). */
  def narrow(n: Int): IndexedSeq[RelSpec] = (0 until n).map { r =>
    RelSpec(17384 + r, "public", s"tick_$r", IndexedSeq("id" -> 20, "v" -> 23, "note" -> 25))
  }
}

/** What the replicated envelope of one change must carry. */
final case class ExpectedEvent(table: String, id: String, op: String,
    lsn: Long, txId: Long, tsMs: Long,
    before: Map[String, String], after: Map[String, String]) {
  def identity: String = ExpectedEvent.identity(table, id, lsn)
  def digest: Long = ExpectedEvent.digest(op, table, lsn, txId, tsMs, before, after)
}

object ExpectedEvent {
  /** A key is touched at most once per transaction, so (table, key,
    * commit LSN) names one change.
    */
  def identity(table: String, id: String, lsn: Long): String = s"$table/$id/$lsn"

  def digest(op: String, table: String, lsn: Long, txId: Long, tsMs: Long,
      before: Map[String, String], after: Map[String, String]): Long = {
    def img(m: Map[String, String]) =
      if (m == null) "∅" else m.toSeq.sortBy(_._1)
        .map { case (k, v) => s"$k=${if (v == null) "∅" else v}" }.mkString("{", ",", "}")
    Digest.hash64(s"$op|$table|$lsn|$txId|$tsMs|${img(before)}|${img(after)}")
  }
}

/** A generated transaction: its replication frames and the changes they
  * encode. `changeFrames(i)` is the frame index of event `i`.
  */
final case class GeneratedTx(frames: IndexedSeq[Array[Byte]],
    events: IndexedSeq[ExpectedEvent], changeFrames: IndexedSeq[Int])

/** Seeded pgoutput (protocol v1) frame generator standing in for a
  * PostgreSQL logical-replication slot: Relation messages on first use,
  * then Begin / Insert | Update (full old image) | Delete (full old
  * image) / Commit, each wrapped in an XLogData CopyData frame.
  *
  * Row contents, keys and operations depend only on the seed and the
  * call sequence; the commit time is the caller's (the open-loop
  * schedule's due time), so identical seeds and times give identical
  * bytes.
  */
final class PgFrames(seed: Long, relations: IndexedSeq[RelSpec]) {
  import PgFrames.{DeleteShare, InsertShare}

  private val rnd = new SplittableRandom(seed)
  private val announced = mutable.Set.empty[Int]
  /** Live rows per relation: key -> current column values. */
  private val live = relations.map(_ => mutable.LinkedHashMap.empty[Long, IndexedSeq[String]])
  private val nextKey = Array.fill(relations.length)(1L)
  private var lsn = 0x16B3748L
  private var xid = 700L

  private val words = IndexedSeq("alpha", "bravo", "delta", "ledger", "north",
    "quartz", "river", "signal", "tango", "vector", "yield", "zephyr")

  private def value(tpe: Int): String =
    if (rnd.nextInt(10) == 0) null // about one value in ten is NULL
    else tpe match {
      case 23 => rnd.nextInt(-100000, 100000).toString
      case 20 => rnd.nextLong(0L, 1L << 40).toString
      case 1700 => f"${rnd.nextInt(0, 1000000)}%d.${rnd.nextInt(0, 100)}%02d"
      case 1114 => f"2024-${rnd.nextInt(1, 13)}%02d-${rnd.nextInt(1, 29)}%02d " +
        f"${rnd.nextInt(0, 24)}%02d:${rnd.nextInt(0, 60)}%02d:${rnd.nextInt(0, 60)}%02d"
      case 16 => if (rnd.nextBoolean()) "t" else "f"
      case _ =>
        val n = rnd.nextInt(2, 7)
        (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
    }

  private def row(rel: RelSpec, key: Long): IndexedSeq[String] =
    key.toString +: rel.columns.tail.map { case (_, t) => value(t) }

  private def toMap(rel: RelSpec, vals: IndexedSeq[String]): Map[String, String] =
    rel.columns.indices.map(i => rel.columns(i)._1 -> vals(i)).toMap

  /** One transaction of `changes` row changes over the given relations
    * (indices into the generator's relation list), committed at
    * `commitEpochMicros`.
    */
  def transaction(changes: Int, commitEpochMicros: Long,
      relIdx: IndexedSeq[Int] = relations.indices): GeneratedTx = {
    val frames = IndexedSeq.newBuilder[Array[Byte]]
    val events = IndexedSeq.newBuilder[ExpectedEvent]
    val changeFrames = IndexedSeq.newBuilder[Int]
    var nFrames = 0
    def emit(f: Array[Byte]): Unit = { frames += f; nFrames += 1 }
    xid += 1
    val txLsn = lsn + 40L * (changes + 2)
    lsn = txLsn + 48
    val pgMicros = commitEpochMicros - PgFrames.PgEpochMicros
    val tsMs = commitEpochMicros / 1000
    emit(xlog(txLsn, PgFrames.begin(txLsn, pgMicros, xid)))
    val touched = mutable.Set.empty[(Int, Long)]
    var i = 0
    while (i < changes) {
      val r = relIdx(rnd.nextInt(relIdx.length))
      val rel = relations(r)
      if (announced.add(r)) emit(xlog(txLsn, PgFrames.relation(rel)))
      val rows = live(r)
      val u = rnd.nextDouble()
      // updates and deletes pick an existing key not yet touched in this tx
      val existing =
        if (u < InsertShare || rows.isEmpty) None
        else rows.keysIterator.drop(rnd.nextInt(rows.size)).find(k => !touched((r, k)))
      existing match {
        case None =>
          val key = nextKey(r); nextKey(r) += 1
          val after = row(rel, key)
          rows(key) = after
          touched += ((r, key))
          changeFrames += nFrames
          emit(xlog(txLsn, PgFrames.insert(rel.relId, after)))
          events += ExpectedEvent(rel.name, key.toString, "c", txLsn, xid, tsMs, null, toMap(rel, after))
        case Some(key) if u < 1 - DeleteShare =>
          val before = rows(key)
          val after = row(rel, key)
          rows(key) = after
          touched += ((r, key))
          changeFrames += nFrames
          emit(xlog(txLsn, PgFrames.update(rel.relId, before, after)))
          events += ExpectedEvent(rel.name, key.toString, "u", txLsn, xid, tsMs,
            toMap(rel, before), toMap(rel, after))
        case Some(key) =>
          val before = rows.remove(key).get
          touched += ((r, key))
          changeFrames += nFrames
          emit(xlog(txLsn, PgFrames.delete(rel.relId, before)))
          events += ExpectedEvent(rel.name, key.toString, "d", txLsn, xid, tsMs,
            toMap(rel, before), null)
      }
      // keep the live set bounded so update/delete picks stay cheap
      if (rows.size > 512) rows.remove(rows.head._1)
      i += 1
    }
    emit(xlog(txLsn, PgFrames.commit(txLsn, lsn, pgMicros)))
    GeneratedTx(frames.result(), events.result(), changeFrames.result())
  }

  private def xlog(walStart: Long, body: Array[Byte]): Array[Byte] =
    PgFrames.xlogData(walStart, lsn, 0L, body)
}

/** pgoutput message encoders (PostgreSQL "Logical Replication Message
  * Formats", protocol version 1; big-endian integers, NUL-terminated
  * strings, text-format tuple columns).
  */
object PgFrames {
  val PgEpochMicros: Long = 946684800000000L
  /** Shares of a transaction's changes that insert a new key and that
    * delete a live one; the rest update a live one.
    */
  private val InsertShare = 0.5
  private val DeleteShare = 0.15

  private final class Out extends ByteArrayOutputStream {
    def u8(v: Int): Out = { write(v); this }
    def i16(v: Int): Out = { write(v >>> 8); write(v); this }
    def i32(v: Int): Out = { i16(v >>> 16); i16(v); this }
    def i64(v: Long): Out = { i32((v >>> 32).toInt); i32(v.toInt); this }
    def cstr(s: String): Out = { write(s.getBytes(StandardCharsets.UTF_8)); write(0); this }
    def tuple(vals: IndexedSeq[String]): Out = {
      i16(vals.length)
      vals.foreach { v =>
        if (v == null) u8('n')
        else { val b = v.getBytes(StandardCharsets.UTF_8); u8('t').i32(b.length).write(b) }
      }
      this
    }
  }

  def xlogData(walStart: Long, walEnd: Long, serverMicros: Long, body: Array[Byte]): Array[Byte] = {
    val o = new Out().u8('w').i64(walStart).i64(walEnd).i64(serverMicros)
    o.write(body)
    o.toByteArray
  }

  def begin(finalLsn: Long, commitPgMicros: Long, xid: Long): Array[Byte] =
    new Out().u8('B').i64(finalLsn).i64(commitPgMicros).i32(xid.toInt).toByteArray

  def commit(commitLsn: Long, endLsn: Long, commitPgMicros: Long): Array[Byte] =
    new Out().u8('C').u8(0).i64(commitLsn).i64(endLsn).i64(commitPgMicros).toByteArray

  def relation(r: RelSpec): Array[Byte] = {
    val o = new Out().u8('R').i32(r.relId).cstr(r.namespace).cstr(r.name)
      .u8('f').i16(r.columns.length)
    r.columns.zipWithIndex.foreach { case ((n, t), i) =>
      o.u8(if (i == 0) 1 else 0).cstr(n).i32(t).i32(-1)
    }
    o.toByteArray
  }

  def insert(relId: Int, after: IndexedSeq[String]): Array[Byte] =
    new Out().u8('I').i32(relId).u8('N').tuple(after).toByteArray

  def update(relId: Int, before: IndexedSeq[String], after: IndexedSeq[String]): Array[Byte] =
    new Out().u8('U').i32(relId).u8('O').tuple(before).u8('N').tuple(after).toByteArray

  def delete(relId: Int, before: IndexedSeq[String]): Array[Byte] =
    new Out().u8('D').i32(relId).u8('O').tuple(before).toByteArray
}
