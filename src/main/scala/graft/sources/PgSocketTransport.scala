package graft.sources

import java.io.{BufferedInputStream, DataInputStream, DataOutputStream, EOFException}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets

/** The live-socket half of [[ReplicationTransport]]: the PostgreSQL v3
  * wire protocol (public docs, "Frontend/Backend Protocol" + "Streaming
  * Replication Protocol") over a plain JDK socket — startup with
  * `replication=database`, cleartext/MD5 auth, the reference's setup
  * sequence (publication must exist, slot created when missing, start LSN
  * from checkpoint else the server's current WAL position —
  * `pkg/postgres/source.go:447-527,561-621`), then
  * `START_REPLICATION ... (proto_version '1', publication_names '...')`
  * into CopyBoth streaming.
  *
  * Everything above the socket (frame decode, dispatch, LSN bookkeeping,
  * keepalives) is [[PgOutputSession]] — this class only moves CopyData
  * payloads, exactly the [[ReplicationTransport]] contract. No driver
  * library is involved: the message codec below is written against the
  * published protocol, which also makes it testable against a scripted
  * localhost server socket.
  */
object PgWire {

  /** Protocol version 3.0. */
  val ProtocolVersion: Int = 196608

  /** One backend message: type byte + body (length prefix stripped). */
  case class BackendMessage(tpe: Byte, body: Array[Byte])

  // ---------------------------------------------------------- frontend —

  /** StartupMessage (no type byte): length, version, key/value cstrings,
    * terminator. `replication=database` puts the connection in logical
    * walsender mode, where both replication commands and plain SQL run.
    */
  def startupMessage(params: Seq[(String, String)]): Array[Byte] = {
    val body = new java.io.ByteArrayOutputStream()
    params.foreach { case (k, v) =>
      body.write(cstr(k)); body.write(cstr(v))
    }
    body.write(0)
    val b = body.toByteArray
    val buf = java.nio.ByteBuffer.allocate(8 + b.length)
    buf.putInt(8 + b.length).putInt(ProtocolVersion).put(b)
    buf.array()
  }

  def typedMessage(tpe: Char, body: Array[Byte]): Array[Byte] = {
    val buf = java.nio.ByteBuffer.allocate(5 + body.length)
    buf.put(tpe.toByte).putInt(4 + body.length).put(body)
    buf.array()
  }

  def queryMessage(sql: String): Array[Byte] = typedMessage('Q', cstr(sql))
  def passwordMessage(pw: String): Array[Byte] = typedMessage('p', cstr(pw))
  def copyDataMessage(payload: Array[Byte]): Array[Byte] = typedMessage('d', payload)
  def terminateMessage(): Array[Byte] = typedMessage('X', Array.emptyByteArray)

  def cstr(s: String): Array[Byte] = {
    val b = s.getBytes(StandardCharsets.UTF_8)
    java.util.Arrays.copyOf(b, b.length + 1) // NUL-terminated
  }

  /** NUL-terminated string off a ByteBuffer (SASL mechanism lists). */
  def readCStringFrom(buf: java.nio.ByteBuffer): String = {
    val sb = new StringBuilder
    var b = buf.get()
    while (b != 0) { sb.append(b.toChar); b = buf.get() }
    sb.toString
  }

  /** `md5` + hex(md5(hex(md5(password + user)) + salt)) — the documented
    * MD5 auth response.
    */
  def md5Password(user: String, password: String, salt: Array[Byte]): String = {
    def md5hex(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("MD5").digest(bytes)
        .map(b => f"${b & 0xFF}%02x").mkString
    val inner = md5hex((password + user).getBytes(StandardCharsets.UTF_8))
    "md5" + md5hex(inner.getBytes(StandardCharsets.UTF_8) ++ salt)
  }

  // ----------------------------------------------------------- backend —

  /** Read one backend message (blocking). */
  def readMessage(in: DataInputStream): BackendMessage = {
    val tpe = in.readByte()
    readAfterType(in, tpe)
  }

  /** Rest of a message whose type byte is already consumed (the split lets
    * the streaming receive() poll on just the first byte).
    */
  def readAfterType(in: DataInputStream, tpe: Byte): BackendMessage = {
    val len = in.readInt()
    // rows can be large but a corrupt length must not drive a giant alloc
    require(len >= 4 && len <= (1 << 30), s"bad backend message length $len")
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    BackendMessage(tpe, body)
  }

  /** ErrorResponse / NoticeResponse fields: code byte -> value. */
  def fields(body: Array[Byte]): Map[Char, String] = {
    val out = Map.newBuilder[Char, String]
    var i = 0
    while (i < body.length && body(i) != 0) {
      val code = body(i).toChar
      i += 1
      val start = i
      while (i < body.length && body(i) != 0) i += 1
      out += code -> new String(body, start, i - start, StandardCharsets.UTF_8)
      i += 1
    }
    out.result()
  }

  def errorMessage(body: Array[Byte]): String = {
    val f = fields(body)
    s"${f.getOrElse('S', "ERROR")}: ${f.getOrElse('M', "unknown")} (${f.getOrElse('C', "?")})"
  }

  /** DataRow -> column values (null -> None), text format. */
  def dataRow(body: Array[Byte]): IndexedSeq[Option[String]] = {
    val buf = java.nio.ByteBuffer.wrap(body)
    val n = buf.getShort()
    (0 until n).map { _ =>
      val len = buf.getInt()
      if (len < 0) None
      else {
        val b = new Array[Byte](len)
        buf.get(b)
        Some(new String(b, StandardCharsets.UTF_8))
      }
    }
  }
}

/** Live replication connection. Construction performs the whole reference
  * setup sequence and leaves the socket inside CopyBoth streaming; after
  * that, [[receive]]/[[send]] move CopyData payloads for
  * [[PgOutputSession]].
  *
  * @param startLsn resume LSN (checkpoint); None = the server's current
  *                 WAL position (reference `getStartingLSN`,
  *                 `pkg/postgres/source.go:597-621`)
  * @param pollMillis receive window — a poll with no traffic returns None
  *                   (the reference's 1 s receive timeout)
  */
object PgSocketTransport {
  /** Construct from stream options (the `PgOutputWalClient` live wiring):
    * `pg.host` [required], `pg.port` (5432), `pg.user` (postgres),
    * `pg.password`, `pg.slot` (graft_slot), `pg.publication` (graft_pub),
    * `pg.start.lsn` (X/X hex or decimal; absent = server head, the
    * reference's no-checkpoint behavior).
    */
  def fromOptions(options: Map[String, String], database: String): PgSocketTransport =
    new PgSocketTransport(
      host = options("pg.host"),
      port = options.getOrElse("pg.port", "5432").toInt,
      database = database,
      user = options.getOrElse("pg.user", "postgres"),
      password = options.get("pg.password"),
      slotName = options.getOrElse("pg.slot", "graft_slot"),
      publication = options.getOrElse("pg.publication", "graft_pub"),
      startLsn = options.get("pg.start.lsn").map(parseLsnOption))

  /** `pg.start.lsn`: PG's X/X hex form or a decimal (an [[LsnOffset]]). */
  def parseLsnOption(s: String): Long =
    if (s.contains('/')) PgOutput.parseLsn(s) else java.lang.Long.parseLong(s)
}

class PgSocketTransport(host: String, port: Int, database: String,
    user: String, password: Option[String], slotName: String,
    publication: String, startLsn: Option[Long] = None,
    pollMillis: Int = 1000, connectTimeoutMillis: Int = 10000,
    nonceFactory: () => String = Scram.newNonce _)
    extends ReplicationTransport {

  import PgWire._

  // slotName/publication/database are interpolated into replication
  // commands and catalog SQL; restrict them to plain identifiers so a
  // quote or whitespace in a config value can't break or inject into
  // the walsender session.
  private val identPattern = "[A-Za-z0-9_]+"
  Seq("pg.slot" -> slotName, "pg.publication" -> publication,
      "database" -> database).foreach { case (what, v) =>
    require(v != null && v.matches(identPattern),
      s"$what must match $identPattern, got '$v'")
  }

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMillis)
  socket.setTcpNoDelay(true)
  // buffered, so available() also counts bytes already read off the socket
  private val in = new DataInputStream(new BufferedInputStream(socket.getInputStream))
  private val out = new DataOutputStream(socket.getOutputStream)
  @volatile private var streamEnded = false

  /** The LSN streaming actually started from (checkpoint or server head). */
  val startedAt: Long = {
    handshake()
    val lsn = setupAndResolveStart()
    startReplication(lsn)
    lsn
  }

  // ------------------------------------------------------------ startup —

  private def handshake(): Unit = {
    out.write(startupMessage(Seq(
      "user" -> user,
      "database" -> database,
      "replication" -> "database",
      "application_name" -> "graft")))
    out.flush()
    var ready = false
    var scram: Scram.Conversation = null
    def pw: String = password.getOrElse(
      throw new IllegalStateException("server requires a password"))
    while (!ready) {
      val m = readMessage(in)
      m.tpe.toChar match {
        case 'R' =>
          val buf = java.nio.ByteBuffer.wrap(m.body)
          buf.getInt() match {
            case 0 => // AuthenticationOk
            case 3 => // cleartext
              out.write(passwordMessage(pw))
              out.flush()
            case 5 => // MD5
              val salt = new Array[Byte](4)
              buf.get(salt)
              out.write(passwordMessage(md5Password(user, pw, salt)))
              out.flush()
            case 10 => // AuthenticationSASL: pick SCRAM-SHA-256 (the PG
              // default since v14; -PLUS needs TLS channel binding)
              val mechanisms = Iterator.continually(readCStringFrom(buf))
                .takeWhile(_.nonEmpty).toSeq
              require(mechanisms.contains("SCRAM-SHA-256"),
                s"no supported SASL mechanism in ${mechanisms.mkString(",")}")
              // empty SCRAM username, libpq parity — the server uses the
              // startup user and ignores n=
              scram = new Scram.Conversation("", pw, nonceFactory())
              val initial = scram.clientFirst.getBytes(StandardCharsets.UTF_8)
              val body = new java.io.ByteArrayOutputStream()
              body.write(cstr("SCRAM-SHA-256"))
              body.write(java.nio.ByteBuffer.allocate(4).putInt(initial.length).array())
              body.write(initial, 0, initial.length)
              out.write(typedMessage('p', body.toByteArray))
              out.flush()
            case 11 => // AuthenticationSASLContinue: server-first-message
              require(scram != null, "SASLContinue before SASL start")
              val serverFirst = new String(m.body, 4, m.body.length - 4,
                StandardCharsets.UTF_8)
              out.write(typedMessage('p',
                scram.clientFinal(serverFirst).getBytes(StandardCharsets.UTF_8)))
              out.flush()
            case 12 => // AuthenticationSASLFinal: verify server signature
              require(scram != null, "SASLFinal before SASL start")
              scram.verifyServerFinal(new String(m.body, 4, m.body.length - 4,
                StandardCharsets.UTF_8))
            case other => throw new IllegalStateException(
              s"unsupported auth method $other (supported: trust, cleartext, md5, scram-sha-256)")
          }
        case 'S' | 'K' | 'N' => // ParameterStatus / BackendKeyData / Notice
        case 'Z' => ready = true
        case 'E' => throw new IllegalStateException(
          s"startup failed: ${errorMessage(m.body)}")
        case other => throw new IllegalStateException(
          s"unexpected startup message '$other'")
      }
    }
  }

  /** Simple-query round trip: DataRows until ReadyForQuery. On a
    * `replication=database` walsender both replication commands and plain
    * SQL run through this path.
    */
  private def query(sql: String): Vector[IndexedSeq[Option[String]]] = {
    out.write(queryMessage(sql))
    out.flush()
    var rows = Vector.empty[IndexedSeq[Option[String]]]
    var done = false
    while (!done) {
      val m = readMessage(in)
      m.tpe.toChar match {
        case 'D' => rows :+= dataRow(m.body)
        case 'T' | 'C' | 'N' | 'S' | 'I' => // descriptions/tags/notices
        case 'Z' => done = true
        case 'E' =>
          // drain to ReadyForQuery so the connection stays usable
          val err = errorMessage(m.body)
          var z = false
          while (!z) { if (readMessage(in).tpe.toChar == 'Z') z = true }
          throw new IllegalStateException(s"query failed: $err\n  $sql")
        case other => throw new IllegalStateException(
          s"unexpected message '$other' during query")
      }
    }
    rows
  }

  private def scalar(sql: String): Option[String] =
    query(sql).headOption.flatMap(_.headOption.flatten)

  /** Reference setup semantics (`setupReplication`, source.go:561-594):
    * the publication must already exist (fail with the manual-create
    * hint); the slot is created when missing.
    */
  private def setupAndResolveStart(): Long = {
    val pubExists = scalar(
      s"SELECT EXISTS(SELECT 1 FROM pg_publication WHERE pubname = '$publication')")
      .contains("t")
    if (!pubExists) throw new IllegalStateException(
      s"publication '$publication' does not exist. " +
        s"Please create it manually with: CREATE PUBLICATION $publication")
    val slotExists = scalar(
      s"SELECT EXISTS(SELECT 1 FROM pg_replication_slots WHERE slot_name = '$slotName')")
      .contains("t")
    if (!slotExists)
      query(s"""CREATE_REPLICATION_SLOT "$slotName" LOGICAL pgoutput""")
    startLsn.getOrElse {
      val head = scalar("SELECT pg_current_wal_lsn()").getOrElse(
        throw new IllegalStateException("could not read pg_current_wal_lsn()"))
      PgOutput.parseLsn(head)
    }
  }

  private def startReplication(lsn: Long): Unit = {
    out.write(queryMessage(
      s"""START_REPLICATION SLOT "$slotName" LOGICAL ${PgOutput.formatLsn(lsn)} """ +
        s"""(proto_version '1', publication_names '$publication')"""))
    out.flush()
    var started = false
    while (!started) {
      val m = readMessage(in)
      m.tpe.toChar match {
        case 'W' => started = true // CopyBothResponse: streaming is live
        case 'N' | 'S' =>
        case 'E' => throw new IllegalStateException(
          s"START_REPLICATION failed: ${errorMessage(m.body)}")
        case other => throw new IllegalStateException(
          s"unexpected message '$other' before CopyBothResponse")
      }
    }
  }

  // ---------------------------------------------------------- streaming —

  /** One CopyData payload, or None when the poll window passes with no
    * traffic (or the server ended the stream). The timeout applies only
    * while waiting for a message's FIRST byte; once a header starts, the
    * rest is read blocking — a timeout can't split a message.
    */
  override def receive(): Option[Array[Byte]] = next(waitFirst = true)

  /** [[receive]] without the wait: None unless a message's first byte has
    * already arrived. */
  override def receiveArrived(): Option[Array[Byte]] = next(waitFirst = false)

  private def next(waitFirst: Boolean): Option[Array[Byte]] = {
    if (streamEnded) return None
    while (true) {
      if (!waitFirst && in.available() == 0) return None
      socket.setSoTimeout(pollMillis)
      val first =
        try in.readByte()
        catch {
          case _: SocketTimeoutException => return None
          case _: EOFException => streamEnded = true; return None
        }
      socket.setSoTimeout(0)
      val m = readAfterType(in, first)
      m.tpe.toChar match {
        case 'd' => return Some(m.body)
        case 'N' => // notice, keep polling
        case 'c' | 'C' | 'Z' => streamEnded = true; return None // stream end
        case 'E' => throw new IllegalStateException(
          s"replication stream error: ${errorMessage(m.body)}")
        case other => throw new IllegalStateException(
          s"unexpected message '$other' in CopyBoth stream")
      }
    }
    None // unreachable
  }

  /** Standby status updates ride back as CopyData. */
  override def send(frame: Array[Byte]): Unit = {
    out.write(copyDataMessage(frame))
    out.flush()
  }

  override def close(): Unit = {
    try {
      out.write(terminateMessage())
      out.flush()
    } catch { case _: Exception => }
    socket.close()
  }
}
