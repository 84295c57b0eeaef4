package graft.sources

import graft.sources.Bson._
import org.scalatest.funsuite.AnyFunSuite

import java.io.{DataInputStream, DataOutputStream}
import java.net.ServerSocket
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue

class BsonSpec extends AnyFunSuite {

  test("encodes the BSON spec's canonical example document byte-for-byte") {
    // bsonspec.org example: {"hello": "world"}
    val expected = Array[Byte](
      0x16, 0x00, 0x00, 0x00, 0x02, 'h', 'e', 'l', 'l', 'o', 0x00,
      0x06, 0x00, 0x00, 0x00, 'w', 'o', 'r', 'l', 'd', 0x00, 0x00)
    assert(Bson.encode(BDoc("hello" -> "world")).sameElements(expected))
  }

  test("encodes the BSON spec's array example byte-for-byte") {
    // bsonspec.org example: {"BSON": ["awesome", 5.05, 1986]}
    val expected = Array[Byte](
      0x31, 0x00, 0x00, 0x00, 0x04, 'B', 'S', 'O', 'N', 0x00,
      0x26, 0x00, 0x00, 0x00, 0x02, '0', 0x00, 0x08, 0x00, 0x00, 0x00,
      'a', 'w', 'e', 's', 'o', 'm', 'e', 0x00,
      0x01, '1', 0x00, 0x33, 0x33, 0x33, 0x33, 0x33, 0x33, 0x14, 0x40,
      0x10, '2', 0x00, 0xC2.toByte, 0x07, 0x00, 0x00, 0x00, 0x00)
    assert(Bson.encode(
      BDoc("BSON" -> BArr("awesome", 5.05, 1986))).sameElements(expected))
  }

  test("round-trips every supported type with field order preserved") {
    val doc = BDoc(
      "str" -> "héllo \"quoted\"",
      "i32" -> 42,
      "i64" -> 9007199254740993L,
      "dbl" -> 2.5,
      "yes" -> true,
      "nul" -> null,
      "sub" -> BDoc("a" -> 1, "b" -> BArr(1, "two", BDoc("c" -> false))),
      "oid" -> BOid("507f1f77bcf86cd799439011"),
      "ts" -> BTs(1700000000, 7),
      "date" -> BDate(1234567890123L),
      "bin" -> BBin(0, Array[Byte](1, 2, 3)))
    val (decoded, n) = Bson.decode(Bson.encode(doc))
    assert(n == Bson.encode(doc).length)
    assert(decoded.fields.map(_._1) == doc.fields.map(_._1), "field order")
    assert(decoded.str("str").contains("héllo \"quoted\""))
    assert(decoded.int("i32").contains(42))
    assert(decoded.long("i64").contains(9007199254740993L))
    assert(decoded.get("dbl").contains(2.5))
    assert(decoded.get("yes").contains(true))
    assert(decoded.get("nul").contains(null))
    assert(decoded.doc("sub").flatMap(_.arr("b")).exists(_.size == 3))
    assert(decoded.get("oid").contains(BOid("507f1f77bcf86cd799439011")))
    assert(decoded.get("ts").contains(BTs(1700000000, 7)))
    assert(decoded.get("date").contains(BDate(1234567890123L)))
    assert(decoded.get("bin").exists {
      case BBin(0, b) => b.sameElements(Array[Byte](1, 2, 3))
      case _ => false
    })
  }

  test("toJson renders the shapes ChangeStreamDecoder consumes") {
    val event = BDoc(
      "_id" -> BDoc("_data" -> "8262ABC"),
      "operationType" -> "insert",
      "clusterTime" -> BTs(1700000123, 1),
      "ns" -> BDoc("db" -> "appdb", "coll" -> "users"),
      "fullDocument" -> BDoc("_id" -> BOid("507f1f77bcf86cd799439011"),
        "name" -> "ada", "age" -> 37))
    val ev = ChangeStreamDecoder.decode(Bson.toJson(event))
    assert(ev.resumeToken == "8262ABC")
    assert(ev.op == "c" && ev.db == "appdb" && ev.coll == "users")
    assert(ev.clusterTimeMillis == 1700000123000L)
    assert(ev.after("name") == "ada" && ev.after("age") == "37")
    assert(ev.after("_id") == "507f1f77bcf86cd799439011", "$oid unwrapped")
  }

  test("truncated document fails loudly, not with fabricated fields") {
    val bytes = Bson.encode(BDoc("hello" -> "world"))
    intercept[Exception] { Bson.decode(bytes.take(bytes.length - 3)) }
  }
}

class ScramSpec extends AnyFunSuite {
  test("reproduces the RFC 7677 SCRAM-SHA-256 example exchange") {
    val conv = new Scram.Conversation("user", "pencil", "rOprNGfwEbeRWgbNEkqO")
    assert(conv.clientFirst == "n,,n=user,r=rOprNGfwEbeRWgbNEkqO")
    val serverFirst = "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
    assert(conv.clientFinal(serverFirst) ==
      "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
        "p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ=")
    conv.verifyServerFinal("v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4=")
  }

  test("rejects a forged server signature") {
    val conv = new Scram.Conversation("user", "pencil", "rOprNGfwEbeRWgbNEkqO")
    conv.clientFinal("r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0," +
      "s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096")
    intercept[IllegalArgumentException] {
      conv.verifyServerFinal("v=AAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAAA=")
    }
  }
}

/** Scripted mongod speaking OP_MSG on a real localhost socket: replies to
  * hello/ping/aggregate/getMore/killCursors in sequence, records every
  * command, and (optionally) runs the server side of the RFC 7677 SCRAM
  * exchange with fixed salt/nonce so the client's proof is checked against
  * the published vector, not against our own crypto.
  *
  * `batches` arrive while the cursor is open; `history` is what the oplog
  * already holds when it opens. A change stream opens at "now", so only a
  * cursor opened with `resumeAfter` sees history: the events after its
  * token, ahead of the first batch.
  *
  * With `awaitMillis`, a getMore on a `tailable` cursor with nothing queued
  * waits up to that long (capped by its `maxTimeMS`) for a [[push]], as a
  * server's await-data cursor does.
  */
class ScriptedMongod(batches: Seq[Seq[BDoc]], requireAuth: Boolean = false,
    tailable: Boolean = false, history: Seq[BDoc] = Seq.empty,
    awaitMillis: Long = 0L) {
  private val server = new ServerSocket(0, 1, java.net.InetAddress.getLoopbackAddress)
  val port: Int = server.getLocalPort
  val commands = new ConcurrentLinkedQueue[BDoc]()
  @volatile var failure: Throwable = _
  @volatile var sawKillCursors = false
  private var remaining = batches

  /** Queue one more batch: events arriving while the cursor is open (a
    * `tailable` server keeps the cursor open on empty batches). */
  def push(batch: Seq[BDoc]): Unit = synchronized {
    remaining = remaining :+ batch
    notifyAll()
  }

  /** The next batch and the cursor id to reply with (0 = exhausted),
    * waiting up to `waitMillis` on a tailable cursor with nothing queued. */
  private def nextBatch(waitMillis: Long = 0L): (Seq[BDoc], Long) = synchronized {
    val deadline = System.currentTimeMillis() + waitMillis
    while (tailable && remaining.isEmpty && System.currentTimeMillis() < deadline)
      wait(math.max(1L, deadline - System.currentTimeMillis()))
    val batch = remaining.headOption.getOrElse(Seq.empty)
    remaining = remaining.drop(1)
    (batch, if (remaining.nonEmpty || tailable) 9001L else 0L)
  }

  private val thread = new Thread(() => {
    try serve()
    catch { case t: Throwable => failure = t }
  }, "scripted-mongod")
  thread.setDaemon(true)
  thread.start()

  // the RFC 7677 fixed exchange (user/pencil, known salt + server nonce)
  private val Rfc7677ServerFirst =
    "r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,s=W22ZaJ0SNY7soEsUEjb6gQ==,i=4096"
  private val Rfc7677ClientFinal =
    "c=biws,r=rOprNGfwEbeRWgbNEkqO%hvYDpWUa2RaTCAfuxFIlj)hNlF$k0,p=dHzbZapWIk4jUhN+Ute9ytag9zjfMHgsqmmiz7AndVQ="
  private val Rfc7677ServerFinal = "v=6rriTRBi23WpRR/wtup+mMhUZUn/dB5nLTJRsjl95G4="

  private def serve(): Unit = {
    val sock = server.accept()
    val in = new DataInputStream(sock.getInputStream)
    val out = new DataOutputStream(sock.getOutputStream)
    var authed = !requireAuth
    var reqId = 100
    def reply(doc: BDoc): Unit = {
      out.write(MongoWire.encodeMsg({ reqId += 1; reqId }, doc))
      out.flush()
    }
    try {
      while (true) {
        val cmd = MongoWire.readMsg(in)
        commands.add(cmd)
        cmd.fields.head._1 match {
          case "hello" => reply(BDoc("ok" -> 1.0, "maxWireVersion" -> 17))
          case "saslStart" =>
            val payload = new String(
              cmd.get("payload").collect { case BBin(_, b) => b }.get,
              StandardCharsets.UTF_8)
            require(payload == "n,,n=user,r=rOprNGfwEbeRWgbNEkqO",
              s"unexpected client-first: $payload")
            reply(BDoc("ok" -> 1.0, "conversationId" -> 1, "done" -> false,
              "payload" -> BBin(0, Rfc7677ServerFirst.getBytes(StandardCharsets.UTF_8))))
          case "saslContinue" =>
            val payload = new String(
              cmd.get("payload").collect { case BBin(_, b) => b }.get,
              StandardCharsets.UTF_8)
            if (payload.nonEmpty)
              require(payload == Rfc7677ClientFinal,
                s"client proof mismatch (RFC 7677): $payload")
            authed = authed || payload == Rfc7677ClientFinal
            reply(BDoc("ok" -> 1.0, "conversationId" -> 1, "done" -> true,
              "payload" -> BBin(0, Rfc7677ServerFinal.getBytes(StandardCharsets.UTF_8))))
          case "ping" =>
            if (!authed) reply(BDoc("ok" -> 0.0, "errmsg" -> "not authenticated",
              "code" -> 13))
            else reply(BDoc("ok" -> 1.0))
          case "aggregate" =>
            def token(d: BDoc) = d.doc("_id").flatMap(_.str("_data"))
            val resumeAfter = cmd.arr("pipeline").toSeq.flatten
              .collect { case d: BDoc => d }.flatMap(_.doc("$changeStream"))
              .flatMap(_.doc("resumeAfter")).flatMap(_.str("_data")).headOption
            val replay = resumeAfter.toSeq.flatMap(t =>
              history.dropWhile(!token(_).contains(t)).drop(1))
            val (batch, cursorId) = nextBatch()
            reply(BDoc("ok" -> 1.0, "cursor" -> BDoc(
              "id" -> cursorId,
              "ns" -> s"${cmd.str("$db").getOrElse("?")}.${cmd.str("aggregate").getOrElse("?")}",
              "firstBatch" -> BArr((replay ++ batch).toVector: _*))))
          case "getMore" =>
            val (batch, cursorId) = nextBatch(
              math.min(awaitMillis, cmd.int("maxTimeMS").getOrElse(0).toLong))
            reply(BDoc("ok" -> 1.0, "cursor" -> BDoc(
              "id" -> cursorId,
              "ns" -> "x.y",
              "nextBatch" -> BArr(batch.toVector: _*))))
          case "killCursors" =>
            sawKillCursors = true
            reply(BDoc("ok" -> 1.0))
          case other =>
            reply(BDoc("ok" -> 0.0, "errmsg" -> s"unknown command $other"))
        }
      }
    } catch { case _: java.io.IOException => } // client closed
  }

  def stop(): Unit = server.close()
}

class MongoSocketCursorSpec extends AnyFunSuite {

  private def event(token: String, op: String, name: String): BDoc =
    BDoc(
      "_id" -> BDoc("_data" -> token),
      "operationType" -> op,
      "clusterTime" -> BTs(1700000000, 1),
      "ns" -> BDoc("db" -> "appdb", "coll" -> "users"),
      "fullDocument" -> BDoc("name" -> name))

  test("handshake, aggregate with $changeStream, getMore batching, kill on close") {
    val server = new ScriptedMongod(Seq(
      Seq(event("T1", "insert", "ada"), event("T2", "update", "grace")),
      Seq(event("T3", "delete", "x")),
      Seq.empty))
    try {
      val cursor = new MongoSocketCursor("127.0.0.1", server.port, "appdb", "users")
      val evs = Iterator.continually(cursor.next()).takeWhile(_.isDefined)
        .flatten.map(ChangeStreamDecoder.decode).toVector
      assert(evs.map(_.resumeToken) == Vector("T1", "T2", "T3"))
      assert(evs.map(_.op) == Vector("c", "u", "d"))
      assert(evs.head.after("name") == "ada")
      cursor.close()
      assert(server.failure == null, s"server failure: ${server.failure}")

      val cmds = server.commands.toArray(Array.empty[BDoc])
      assert(cmds.exists(_.fields.head._1 == "hello"))
      assert(cmds.exists(_.fields.head._1 == "ping"), "reference pings before watching")
      val agg = cmds.find(_.fields.head._1 == "aggregate").get
      assert(agg.str("aggregate").contains("users"))
      assert(agg.str("$db").contains("appdb"))
      // empty extra pipeline: exactly one $changeStream stage
      val stages = agg.arr("pipeline").get
      assert(stages.size == 1)
      assert(stages.head.asInstanceOf[BDoc].fields.head._1 == "$changeStream")
      val gm = cmds.find(_.fields.head._1 == "getMore").get
      assert(gm.long("getMore").contains(9001L))
      assert(gm.int("maxTimeMS").contains(5000), "reference MaxAwaitTime 5s")
    } finally server.stop()
  }

  test("resumeAfter rides the $changeStream stage from the checkpoint token") {
    val server = new ScriptedMongod(Seq(Seq.empty))
    try {
      val cursor = new MongoSocketCursor("127.0.0.1", server.port, "appdb", "users",
        resumeAfter = Some("CHECKPOINT_TOKEN"))
      assert(cursor.next().isEmpty)
      cursor.close()
      val agg = server.commands.toArray(Array.empty[BDoc])
        .find(_.fields.head._1 == "aggregate").get
      val cs = agg.arr("pipeline").get.head.asInstanceOf[BDoc]
        .doc("$changeStream").get
      assert(cs.doc("resumeAfter").flatMap(_.str("_data"))
        .contains("CHECKPOINT_TOKEN"))
    } finally server.stop()
  }

  test("SCRAM-SHA-256 auth end-to-end against the RFC 7677 vector server") {
    val server = new ScriptedMongod(Seq(Seq(event("T1", "insert", "ada"))),
      requireAuth = true)
    try {
      val cursor = new MongoSocketCursor("127.0.0.1", server.port, "appdb", "users",
        credentials = Some(("user", "pencil")),
        nonceFactory = () => "rOprNGfwEbeRWgbNEkqO")
      assert(cursor.next().isDefined)
      cursor.close()
      assert(server.failure == null, s"server failure: ${server.failure}")
    } finally server.stop()
  }

  test("DSv2 stream end-to-end over the live socket (mongo.host wiring)") {
    val server = new ScriptedMongod(Seq(
      Seq(event("E1", "insert", "ada"), event("E2", "update", "grace")),
      Seq.empty))
    val cid = s"mongo-sock-e2e-${System.nanoTime()}"
    try {
      val spark = graft.SparkTestSession.spark
      val out = java.nio.file.Files.createTempDirectory("mongosock-out").toString
      val ckpt = java.nio.file.Files.createTempDirectory("mongosock-ckpt").toString
      val q = spark.readStream
        .format("graft.sources.TokenStreamProvider")
        .option("stream.client", "graft.sources.ChangeStreamTokenClient")
        .option("stream.cursor.id", cid)
        .option("mongo.host", "127.0.0.1")
        .option("mongo.port", server.port.toString)
        .option("mongo.database", "appdb")
        .option("mongo.collection", "users")
        .load()
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime(50))
        .start()
      try {
        q.processAllAvailable()
        val rows = spark.read.parquet(out).orderBy("op").collect()
        assert(rows.length == 2)
        assert(rows.map(_.getAs[String]("op")).toSet == Set("c", "u"))
        assert(rows.forall(_.getAs[String]("table") == "users"))
      } finally q.stop()
    } finally {
      ChangeStreamRegistry.clear(cid)
      server.stop()
    }
  }

  test("a steady stream does not hold the first batch until it goes quiet") {
    // an await-data cursor while events keep arriving, one every 75 ms
    val server = new ScriptedMongod(Seq.empty, tailable = true, awaitMillis = 1000L)
    val cid = s"mongo-sock-steady-${System.nanoTime()}"
    @volatile var pushing = true
    val pusher = new Thread(() => {
      (1 to 40).foreach { i =>
        server.push(Seq(event(f"S$i%03d", "insert", s"n$i")))
        Thread.sleep(75)
      }
      pushing = false
    }, "mongod-pusher")
    pusher.setDaemon(true)
    try {
      val spark = graft.SparkTestSession.spark
      val q = spark.readStream
        .format("graft.sources.TokenStreamProvider")
        .option("stream.client", "graft.sources.ChangeStreamTokenClient")
        .option("stream.cursor.id", cid)
        .option("mongo.host", "127.0.0.1")
        .option("mongo.port", server.port.toString)
        .option("mongo.database", "appdb")
        .option("mongo.collection", "users")
        .load()
        .writeStream.format("noop")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("mongosock-steady").toString)
        .start()
      pusher.start()
      try {
        def rows = q.recentProgress.map(_.numInputRows).sum
        val deadline = System.nanoTime() + 30L * 1000000000L
        while (rows == 0 && q.isActive && System.nanoTime() < deadline) Thread.sleep(10)
        val pushingAtFirstCommit = pushing
        assert(rows > 0, s"no batch committed (${q.exception})")
        assert(pushingAtFirstCommit,
          "the first batch committed only after the server stopped pushing")
        pusher.join(30000L)
        q.processAllAvailable()
        assert(rows == 40, s"delivered $rows of 40 events")
      } finally q.stop()
      assert(server.failure == null, s"server failure: ${server.failure}")
    } finally {
      ChangeStreamRegistry.clear(cid)
      server.stop()
    }
  }

  test("unauthenticated connection against an auth-requiring server fails fast") {
    val server = new ScriptedMongod(Seq(Seq.empty), requireAuth = true)
    try {
      val e = intercept[IllegalStateException] {
        new MongoSocketCursor("127.0.0.1", server.port, "appdb", "users")
      }
      assert(e.getMessage.contains("not authenticated"))
    } finally server.stop()
  }
}
