package graft.sources

import graft.sources.PgWire._
import org.scalatest.funsuite.AnyFunSuite

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

/** Scripted PostgreSQL backend speaking canned v3-protocol bytes on a real
  * localhost socket: MD5 auth handshake, simple-query responses keyed on
  * the received SQL, CopyBothResponse + the replication frames at or past
  * the LSN that START_REPLICATION asks for, and capture of
  * client standby status updates — the offline test bed for the socket
  * transport (the live half of S1 the other specs stub out).
  *
  * `frameGapMillis` paces the replication frames (a live slot under
  * steady load); `streaming` stays true until the last one is sent.
  */
class ScriptedPgServer(salt: Array[Byte],
    answers: String => ScriptedPgServer.Action,
    copyFrames: Seq[Array[Byte]],
    authMode: String = "md5",
    frameGapMillis: Long = 0L) {
  import ScriptedPgServer._

  private val server = new ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  val queries = new ConcurrentLinkedQueue[String]()
  val standbyUpdates = new ConcurrentLinkedQueue[Array[Byte]]()
  val passwordSeen = new java.util.concurrent.atomic.AtomicReference[String]()
  @volatile var streaming = true
  private val standbyLatch = new CountDownLatch(1)
  @volatile var failure: Throwable = _

  private val thread = new Thread(() => {
    try serve()
    catch { case t: Throwable => failure = t }
  }, "scripted-pg")
  thread.setDaemon(true)
  thread.start()

  private def serve(): Unit = {
    val sock = server.accept()
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)

    // startup: int32 len, int32 version, kv cstrings
    val len = in.readInt()
    val body = new Array[Byte](len - 4)
    in.readFully(body)
    require(ByteBuffer.wrap(body).getInt() == ProtocolVersion, "bad protocol version")

    // auth challenge (md5 | cleartext | scram), then AuthenticationOk + ready
    authMode match {
      case "cleartext" =>
        out.write(typedMessage('R', ByteBuffer.allocate(4).putInt(3).array()))
        out.flush()
        val pw = PgWire.readMessage(in)
        require(pw.tpe == 'p'.toByte, s"expected password, got '${pw.tpe.toChar}'")
        passwordSeen.set(new String(pw.body, 0, pw.body.length - 1, StandardCharsets.UTF_8))
      case "md5" =>
        out.write(typedMessage('R', ByteBuffer.allocate(8).putInt(5).put(salt).array()))
        out.flush()
        val pw = PgWire.readMessage(in)
        require(pw.tpe == 'p'.toByte, s"expected password, got '${pw.tpe.toChar}'")
        passwordSeen.set(new String(pw.body, 0, pw.body.length - 1, StandardCharsets.UTF_8))
      case "scram" =>
        // replay the independently generated (python hashlib) vector for
        // (user '', password 'secret', salt QSXCR+Q6sek8bf92, i=4096,
        // client nonce graftnonce123456, server ext SRVEXT789)
        out.write(typedMessage('R', ByteBuffer.allocate(4).putInt(10).array() ++
          cstr("SCRAM-SHA-256") ++ Array(0.toByte)))
        out.flush()
        val init = PgWire.readMessage(in)
        require(init.tpe == 'p'.toByte, "expected SASLInitialResponse")
        val ib = ByteBuffer.wrap(init.body)
        val mech = new StringBuilder
        var b = ib.get(); while (b != 0) { mech.append(b.toChar); b = ib.get() }
        require(mech.toString == "SCRAM-SHA-256", s"mechanism ${mech.toString}")
        val ilen = ib.getInt()
        val ipay = new Array[Byte](ilen); ib.get(ipay)
        require(new String(ipay, StandardCharsets.UTF_8) == "n,,n=,r=graftnonce123456",
          s"client-first mismatch: ${new String(ipay, StandardCharsets.UTF_8)}")
        out.write(typedMessage('R', ByteBuffer.allocate(4).putInt(11).array() ++
          "r=graftnonce123456SRVEXT789,s=QSXCR+Q6sek8bf92,i=4096".getBytes(StandardCharsets.UTF_8)))
        out.flush()
        val fin = PgWire.readMessage(in)
        require(fin.tpe == 'p'.toByte, "expected SASLResponse")
        val finStr = new String(fin.body, StandardCharsets.UTF_8)
        require(finStr ==
          "c=biws,r=graftnonce123456SRVEXT789,p=LW2S/uJ9cw9Ig192XxejNxIlio6NJAST5b+WMzYBAFA=",
          s"client proof mismatch (python-generated vector): $finStr")
        passwordSeen.set(finStr)
        out.write(typedMessage('R', ByteBuffer.allocate(4).putInt(12).array() ++
          "v=TkrRLdcN4S+5QEf32a7mK+UiCsjQMOqxbH75qEw024Q=".getBytes(StandardCharsets.UTF_8)))
    }
    out.write(typedMessage('R', ByteBuffer.allocate(4).putInt(0).array()))
    out.write(typedMessage('S', cstr("server_version") ++ cstr("16.0")))
    out.write(typedMessage('K', ByteBuffer.allocate(8).putInt(42).putInt(7).array()))
    out.write(readyForQuery)
    out.flush()

    var copyMode = false
    while (!copyMode) {
      val m = PgWire.readMessage(in)
      m.tpe.toChar match {
        case 'Q' =>
          val sql = new String(m.body, 0, m.body.length - 1, StandardCharsets.UTF_8)
          queries.add(sql)
          answers(sql) match {
            case Rows(vals) =>
              vals.foreach(v => out.write(textDataRow(v)))
              out.write(commandComplete("SELECT 1"))
              out.write(readyForQuery)
            case Ok =>
              out.write(commandComplete("CREATE_REPLICATION_SLOT"))
              out.write(readyForQuery)
            case Err(msg) =>
              out.write(typedMessage('E',
                Array('S'.toByte) ++ cstr("ERROR") ++
                  Array('C'.toByte) ++ cstr("42704") ++
                  Array('M'.toByte) ++ cstr(msg) ++ Array(0.toByte)))
              out.write(readyForQuery)
            case StartCopy =>
              out.write(typedMessage('W', Array[Byte](0, 0, 0)))
              // stream from the requested LSN: WAL data that starts below
              // it is not sent (keepalives always are)
              val from = "LOGICAL (\\S+)".r.findFirstMatchIn(sql)
                .map(m => PgOutput.parseLsn(m.group(1))).getOrElse(0L)
              copyFrames.filter(f => f(0) != 'w' || ByteBuffer.wrap(f, 1, 8).getLong >= from)
                .foreach { f =>
                  out.write(typedMessage('d', f))
                  if (frameGapMillis > 0) { out.flush(); Thread.sleep(frameGapMillis) }
                }
              streaming = false
              copyMode = true
          }
          out.flush()
        case 'X' => return
        case other => throw new IllegalStateException(s"server got '$other'")
      }
    }
    // copy mode: capture standby updates until the client disconnects
    try {
      while (true) {
        val m = PgWire.readMessage(in)
        m.tpe.toChar match {
          case 'd' => standbyUpdates.add(m.body); standbyLatch.countDown()
          case 'X' => return
          case _ =>
        }
      }
    } catch { case _: java.io.IOException => }
  }

  def awaitStandbyUpdate(seconds: Int): Boolean =
    standbyLatch.await(seconds, TimeUnit.SECONDS)

  def stop(): Unit = server.close()

  private val readyForQuery = typedMessage('Z', Array('I'.toByte))
  private def commandComplete(tag: String) = typedMessage('C', cstr(tag))
  private def textDataRow(v: String): Array[Byte] = {
    val b = v.getBytes(StandardCharsets.UTF_8)
    typedMessage('D', ByteBuffer.allocate(6 + b.length)
      .putShort(1).putInt(b.length).put(b).array())
  }
}

object ScriptedPgServer {
  sealed trait Action
  case class Rows(values: Seq[String]) extends Action
  case object Ok extends Action
  case class Err(msg: String) extends Action
  case object StartCopy extends Action
}

class PgSocketTransportSpec extends AnyFunSuite {
  import ScriptedPgServer._

  private val salt = Array[Byte](1, 2, 3, 4)

  private def stdAnswers(pubExists: Boolean, slotExists: Boolean)
      : String => Action = {
    case q if q.contains("pg_publication") => Rows(Seq(if (pubExists) "t" else "f"))
    case q if q.contains("pg_replication_slots") => Rows(Seq(if (slotExists) "t" else "f"))
    case q if q.startsWith("CREATE_REPLICATION_SLOT") => Ok
    case q if q.contains("pg_current_wal_lsn") => Rows(Seq("0/2000"))
    case q if q.startsWith("START_REPLICATION") => StartCopy
    case q => Err(s"unexpected query: $q")
  }

  test("handshake + setup + one WAL transaction end-to-end through a real socket") {
    val frames = Seq(
      Frames.xlog(0x2000L, Frames.begin(0x2100L, 1000000L, 9)),
      Frames.xlog(0x2001L, Frames.usersRel),
      Frames.xlog(0x2002L, Frames.insert(16384,
        Seq(('t', "7"), ('t', "123456789012"), ('t', "ada")))),
      Frames.xlog(0x2003L, Frames.commit(0x2100L, 0x2101L, 1000000L)),
      Frames.keepalive(0x2200L, 2000000L, reply = true))
    val server = new ScriptedPgServer(salt, stdAnswers(pubExists = true,
      slotExists = false), frames)
    try {
      val transport = new PgSocketTransport("127.0.0.1", server.port,
        database = "appdb", user = "alice", password = Some("secret"),
        slotName = "graft_slot", publication = "graft_pub",
        startLsn = None, pollMillis = 300)
      try {
        assert(transport.startedAt == 0x2000L,
          "no checkpoint -> start from the server's current WAL position")

        // the documented MD5 response for (alice, secret, 01020304) —
        // expected value computed INDEPENDENTLY (python hashlib), so this
        // is not our own md5Password checking itself
        assert(server.passwordSeen.get() == "md598a0412b9c31436fc53776e863350083")
        assert(md5Password("alice", "secret", salt) == server.passwordSeen.get())

        // reference setup sequence: pub check, slot check, slot create,
        // head LSN, then START_REPLICATION with pgoutput args
        val qs = server.queries.toArray(Array.empty[String])
        assert(qs.exists(_.startsWith("""CREATE_REPLICATION_SLOT "graft_slot" LOGICAL pgoutput""")),
          s"slot create missing in: ${qs.mkString("; ")}")
        val start = qs.find(_.startsWith("START_REPLICATION")).get
        assert(start.contains("""SLOT "graft_slot""""))
        assert(start.contains("0/2000"))
        assert(start.contains("proto_version '1'"))
        assert(start.contains("publication_names 'graft_pub'"))

        // drive the shared session over the live socket: decode the insert
        val session = new PgOutputSession(transport, clock = () => 0L)
        val change = session.poll()
        assert(change.isDefined, "expected the decoded insert")
        val c = change.get
        assert(c.op == "c" && c.table == "users" && c.namespace == "public")
        assert(c.after("id") == "7" && c.after("name") == "ada")
        assert(c.commitLsn == 0x2100L, "tagged with the tx's own commit LSN")

        // next poll: commit advances the LSN, keepalive's reply request
        // sends a standby status back through the socket
        assert(session.poll().isEmpty)
        assert(session.currentLsn == 0x2100L)
        assert(server.awaitStandbyUpdate(5), "standby status never arrived")
        val r = ByteBuffer.wrap(server.standbyUpdates.peek())
        assert(r.get() == 'r'.toByte)
        assert(r.getLong() == 0x2200L, "acks the keepalive's WAL end pre-commit")
      } finally transport.close()
    } finally server.stop()
    assert(server.failure == null, s"server-side failure: ${server.failure}")
  }

  test("DSv2 stream end-to-end over the live socket (pg.host wiring)") {
    val frames = Seq(
      Frames.xlog(0x3000L, Frames.begin(0x3100L, 2000000L, 11)),
      Frames.xlog(0x3001L, Frames.usersRel),
      Frames.xlog(0x3002L, Frames.insert(16384,
        Seq(('t', "42"), ('t', "5"), ('t', "grace")))),
      Frames.xlog(0x3003L, Frames.commit(0x3100L, 0x3101L, 2000000L)))
    val server = new ScriptedPgServer(salt, stdAnswers(pubExists = true,
      slotExists = true), frames)
    val tid = s"socket-e2e-${System.nanoTime()}"
    try {
      val spark = graft.SparkTestSession.spark
      val out = java.nio.file.Files.createTempDirectory("pgsock-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("pgsock-ckpt").toString
      val q = spark.readStream
        .format("graft.sources.CdcSourceProvider")
        .option("wal.client", "graft.sources.PgOutputWalClient")
        .option("pg.transport.id", tid)
        .option("pg.database", "appdb")
        .option("pg.host", "127.0.0.1")
        .option("pg.port", server.port.toString)
        .option("pg.user", "alice")
        .option("pg.password", "secret")
        .option("pg.slot", "graft_slot")
        .option("pg.publication", "graft_pub")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      try {
        q.processAllAvailable()
        val rows = spark.read.parquet(out).collect()
        assert(rows.length == 1)
        val r = rows.head
        assert(r.getAs[String]("table") == "users" && r.getAs[String]("op") == "c")
        assert(r.getAs[Map[String, String]]("after")("name") == "grace")
        assert(r.getAs[Long]("lsn") == 0x3100L)
      } finally q.stop()
    } finally {
      PgTransports.clear(tid)
      server.stop()
    }
  }

  test("a steady stream does not hold the first batch until it goes quiet") {
    // 40 single-row transactions, one every ~90 ms (3.6 s of traffic)
    val txs = (0 until 40).map { i =>
      val lsn = 0x5000L + i * 0x100L
      Seq(Frames.xlog(lsn, Frames.begin(lsn + 0x80L, 3000000L, 20 + i)),
        Frames.xlog(lsn + 1, Frames.insert(16384, Seq(('t', i.toString), ('t', "1"), ('t', "n")))),
        Frames.xlog(lsn + 2, Frames.commit(lsn + 0x80L, lsn + 0x81L, 3000000L)))
    }
    val server = new ScriptedPgServer(salt, stdAnswers(pubExists = true, slotExists = true),
      Frames.xlog(0x4FFFL, Frames.usersRel) +: txs.flatten, frameGapMillis = 30L)
    val tid = s"socket-steady-${System.nanoTime()}"
    val spark = graft.SparkTestSession.spark
    try {
      val q = spark.readStream
        .format("graft.sources.CdcSourceProvider")
        .option("wal.client", "graft.sources.PgOutputWalClient")
        .option("pg.transport.id", tid)
        .option("pg.database", "appdb")
        .option("pg.host", "127.0.0.1")
        .option("pg.port", server.port.toString)
        .option("pg.user", "alice")
        .option("pg.password", "secret")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("pgsock-steady").toString)
        .start()
      try {
        def rows = q.recentProgress.map(_.numInputRows).sum
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (rows == 0 && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
        val streamingAtFirstCommit = server.streaming
        assert(rows > 0, s"no batch committed (${q.exception})")
        assert(streamingAtFirstCommit,
          "the first batch committed only after the server stopped streaming")
        while (server.streaming && System.nanoTime() < deadline) Thread.sleep(10)
        q.processAllAvailable()
        assert(rows == 40, s"delivered $rows of 40 changes")
        assert(q.recentProgress.count(_.numInputRows > 0) > 1,
          "the stream ran in more than one batch")
      } finally q.stop()
    } finally {
      PgTransports.clear(tid)
      server.stop()
    }
    assert(server.failure == null, s"server-side failure: ${server.failure}")
  }

  test("SCRAM-SHA-256 SASL auth (the PG default) against an independent vector") {
    val server = new ScriptedPgServer(salt,
      stdAnswers(pubExists = true, slotExists = true), Seq.empty,
      authMode = "scram")
    try {
      val transport = new PgSocketTransport("127.0.0.1", server.port, "appdb",
        "alice", Some("secret"), "graft_slot", "graft_pub",
        startLsn = Some(1L), pollMillis = 300,
        nonceFactory = () => "graftnonce123456")
      try {
        // the server verified the client proof against a python-hashlib
        // vector; the client verified the server signature (a mismatch
        // would have thrown before this point)
        assert(server.passwordSeen.get() != null)
        assert(transport.receive().isEmpty) // stream idle but live
      } finally transport.close()
      assert(server.failure == null, s"server-side failure: ${server.failure}")
    } finally server.stop()
  }

  test("cleartext auth sends the raw password; missing password fails fast") {
    val server = new ScriptedPgServer(salt,
      stdAnswers(pubExists = true, slotExists = true), Seq.empty,
      authMode = "cleartext")
    try {
      val transport = new PgSocketTransport("127.0.0.1", server.port, "appdb",
        "alice", Some("hunter2"), "graft_slot", "graft_pub",
        startLsn = Some(1L), pollMillis = 300)
      try assert(server.passwordSeen.get() == "hunter2")
      finally transport.close()
    } finally server.stop()

    val server2 = new ScriptedPgServer(salt,
      stdAnswers(pubExists = true, slotExists = true), Seq.empty,
      authMode = "cleartext")
    try {
      val e = intercept[IllegalStateException] {
        new PgSocketTransport("127.0.0.1", server2.port, "appdb", "alice",
          password = None, "graft_slot", "graft_pub", startLsn = Some(1L))
      }
      assert(e.getMessage.contains("requires a password"))
    } finally server2.stop()
  }

  test("missing publication fails fast with the reference's manual-create hint") {
    val server = new ScriptedPgServer(salt,
      stdAnswers(pubExists = false, slotExists = true), Seq.empty)
    try {
      val e = intercept[IllegalStateException] {
        new PgSocketTransport("127.0.0.1", server.port, "appdb", "alice",
          Some("secret"), "graft_slot", "graft_pub", pollMillis = 300)
      }
      assert(e.getMessage.contains("does not exist"))
      assert(e.getMessage.contains("CREATE PUBLICATION graft_pub"))
    } finally server.stop()
  }

  test("checkpoint resume skips the head-LSN query and starts at the checkpoint") {
    val server = new ScriptedPgServer(salt,
      stdAnswers(pubExists = true, slotExists = true), Seq.empty)
    try {
      val transport = new PgSocketTransport("127.0.0.1", server.port, "appdb",
        "alice", Some("secret"), "graft_slot", "graft_pub",
        startLsn = Some(0x16B374D848L), pollMillis = 300)
      try {
        assert(transport.startedAt == 0x16B374D848L)
        val qs = server.queries.toArray(Array.empty[String])
        assert(!qs.exists(_.contains("pg_current_wal_lsn")),
          "checkpoint resume must not consult the server head")
        assert(!qs.exists(_.startsWith("CREATE_REPLICATION_SLOT")),
          "existing slot must not be recreated")
        assert(qs.find(_.startsWith("START_REPLICATION")).get.contains("16/B374D848"))
        // stream is live but idle: a poll window with no traffic is None
        assert(transport.receive().isEmpty)
      } finally transport.close()
    } finally server.stop()
  }
}
