package graft.sources

import graft.sources.Bson._

import java.io.{DataInputStream, DataOutputStream}
import java.net.{InetSocketAddress, Socket}
import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets

/** MongoDB wire protocol (public docs, "MongoDB Wire Protocol"): OP_MSG
  * framing over a plain JDK socket — the live half of the change-stream
  * source, with no driver dependency (the Mongo sibling of
  * [[PgSocketTransport]]). Covers exactly what the reference's
  * `collection.Watch` path needs (`pkg/mongo/source.go:60-103`): hello
  * handshake, optional SCRAM-SHA-256 auth, ping, `aggregate` with a
  * `$changeStream` stage (resumeAfter from the checkpoint token), and the
  * `getMore`/`killCursors` cursor loop with maxAwaitTime semantics.
  */
object MongoWire {

  val OpMsg = 2013

  /** One OP_MSG with a single kind-0 section. */
  def encodeMsg(requestId: Int, body: BDoc): Array[Byte] = {
    val doc = Bson.encode(body)
    val len = 16 + 4 + 1 + doc.length
    val buf = ByteBuffer.allocate(len).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(len).putInt(requestId).putInt(0).putInt(OpMsg)
    buf.putInt(0) // flagBits
    buf.put(0.toByte) // section kind 0
    buf.put(doc)
    buf.array()
  }

  /** Read one OP_MSG reply and return its kind-0 body document. */
  def readMsg(in: DataInputStream): BDoc = {
    val head = new Array[Byte](16)
    in.readFully(head)
    val hb = ByteBuffer.wrap(head).order(ByteOrder.LITTLE_ENDIAN)
    val len = hb.getInt()
    // sanity-bound before allocating: MongoDB's max message size is 48 MB;
    // a corrupt/hostile length must not drive a giant or negative alloc
    require(len >= 16 + 4 + 1 + 5 && len <= 48 * 1024 * 1024,
      s"bad OP_MSG length $len")
    hb.getInt(); hb.getInt()
    val op = hb.getInt()
    require(op == OpMsg, s"expected OP_MSG (2013), got $op")
    val body = new Array[Byte](len - 16)
    in.readFully(body)
    val bb = ByteBuffer.wrap(body).order(ByteOrder.LITTLE_ENDIAN)
    bb.getInt() // flagBits (checksum not supported; servers only set it when asked)
    val kind = bb.get()
    require(kind == 0, s"expected section kind 0, got $kind")
    Bson.decode(body, bb.position())._1
  }
}

/** SCRAM-SHA-256 client (RFC 5802/7677) over JDK crypto only. The client
  * nonce is injectable so the RFC 7677 test vector is reproducible in
  * specs. Passwords are used as-is (SASLprep is the identity for the
  * ASCII passwords this supports; non-ASCII passwords would need the
  * RFC 4013 mapping).
  */
object Scram {
  private def hmac(key: Array[Byte], data: Array[Byte]): Array[Byte] = {
    val mac = javax.crypto.Mac.getInstance("HmacSHA256")
    mac.init(new javax.crypto.spec.SecretKeySpec(key, "HmacSHA256"))
    mac.doFinal(data)
  }
  private def sha256(data: Array[Byte]): Array[Byte] =
    java.security.MessageDigest.getInstance("SHA-256").digest(data)
  private def utf8(s: String) = s.getBytes(StandardCharsets.UTF_8)
  private def b64(b: Array[Byte]) = java.util.Base64.getEncoder.encodeToString(b)
  private def unb64(s: String) = java.util.Base64.getDecoder.decode(s)

  def saltedPassword(password: String, salt: Array[Byte], iterations: Int): Array[Byte] = {
    val spec = new javax.crypto.spec.PBEKeySpec(
      password.toCharArray, salt, iterations, 256)
    javax.crypto.SecretKeyFactory.getInstance("PBKDF2WithHmacSHA256")
      .generateSecret(spec).getEncoded
  }

  /** One in-progress SCRAM conversation. */
  final class Conversation(user: String, password: String, clientNonce: String) {
    val clientFirstBare: String = s"n=$user,r=$clientNonce"
    val clientFirst: String = s"n,,$clientFirstBare"
    private var serverSignatureB64: String = _

    /** server-first -> client-final. */
    def clientFinal(serverFirst: String): String = {
      val attrs = serverFirst.split(',').map { a =>
        a.charAt(0) -> a.substring(2)
      }.toMap
      val nonce = attrs('r')
      require(nonce.startsWith(clientNonce), "server nonce must extend the client nonce")
      val salt = unb64(attrs('s'))
      val iters = attrs('i').toInt
      val salted = saltedPassword(password, salt, iters)
      val clientKey = hmac(salted, utf8("Client Key"))
      val storedKey = sha256(clientKey)
      val withoutProof = s"c=biws,r=$nonce"
      val authMessage = s"$clientFirstBare,$serverFirst,$withoutProof"
      val clientSig = hmac(storedKey, utf8(authMessage))
      val proof = clientKey.zip(clientSig).map { case (a, b) => (a ^ b).toByte }
      val serverKey = hmac(salted, utf8("Server Key"))
      serverSignatureB64 = b64(hmac(serverKey, utf8(authMessage)))
      s"$withoutProof,p=${b64(proof)}"
    }

    /** server-final must carry the expected v= signature. */
    def verifyServerFinal(serverFinal: String): Unit = {
      require(serverFinal == s"v=$serverSignatureB64",
        "SCRAM server signature mismatch — not the server that holds the credential")
    }
  }

  def newNonce(): String = {
    // plain SecureRandom, NOT getInstanceStrong: the strong instance can
    // block on /dev/random entropy at connect time
    val b = new Array[Byte](18)
    new java.security.SecureRandom().nextBytes(b)
    b64(b).replace(",", "-") // nonce must not contain ','
  }
}

/** Live change-stream cursor over the wire protocol, driving the exact
  * reference semantics: ping on connect, collection-level watch with an
  * empty extra pipeline, maxAwaitTime on every getMore, resumeAfter from
  * the checkpoint's `_data` token. Events surface as the JSON documents
  * [[ChangeStreamDecoder]] consumes.
  */
class MongoSocketCursor(host: String, port: Int, db: String, coll: String,
    resumeAfter: Option[String] = None, maxAwaitMillis: Int = 5000,
    credentials: Option[(String, String)] = None,
    connectTimeoutMillis: Int = 10000,
    nonceFactory: () => String = Scram.newNonce _) extends ChangeStreamCursor {

  private val socket = new Socket()
  socket.connect(new InetSocketAddress(host, port), connectTimeoutMillis)
  socket.setTcpNoDelay(true)
  private val in = new DataInputStream(socket.getInputStream)
  private val out = new DataOutputStream(socket.getOutputStream)
  private var nextRequestId = 1
  private var cursorId = 0L
  private var buffer = Vector.empty[String]
  @volatile private var ended = false

  locally {
    runCommand(BDoc("hello" -> 1, "$db" -> "admin"))
    credentials.foreach { case (user, password) => authenticate(user, password) }
    // the reference pings before opening the stream (source.go:63)
    runCommand(BDoc("ping" -> 1, "$db" -> db))
    val csStage = resumeAfter match {
      case Some(token) => BDoc("resumeAfter" -> BDoc("_data" -> token))
      case None => BDoc()
    }
    val reply = runCommand(BDoc(
      "aggregate" -> coll,
      "pipeline" -> BArr(BDoc("$changeStream" -> csStage)),
      "cursor" -> BDoc(),
      "$db" -> db))
    val cursor = reply.doc("cursor").getOrElse(
      throw new IllegalStateException("aggregate reply has no cursor"))
    cursorId = cursor.long("id").getOrElse(0L)
    buffer = cursor.arr("firstBatch").getOrElse(Vector.empty)
      .collect { case d: BDoc => Bson.toJson(d) }
  }

  private def runCommand(body: BDoc): BDoc = {
    val id = nextRequestId
    nextRequestId += 1
    out.write(MongoWire.encodeMsg(id, body))
    out.flush()
    val reply = MongoWire.readMsg(in)
    val ok = reply.get("ok") match {
      case Some(d: Double) => d == 1.0
      case Some(i: Int) => i == 1
      case Some(l: Long) => l == 1L
      case _ => false
    }
    if (!ok) throw new IllegalStateException(
      s"mongo command failed: ${reply.str("errmsg").getOrElse(Bson.toJson(reply))}")
    reply
  }

  private def authenticate(user: String, password: String): Unit = {
    val conv = new Scram.Conversation(user, password, nonceFactory())
    val first = runCommand(BDoc(
      "saslStart" -> 1,
      "mechanism" -> "SCRAM-SHA-256",
      "payload" -> BBin(0, conv.clientFirst.getBytes(StandardCharsets.UTF_8)),
      "$db" -> "admin"))
    val convId = first.int("conversationId").getOrElse(0)
    val serverFirst = first.get("payload") match {
      case Some(BBin(_, b)) => new String(b, StandardCharsets.UTF_8)
      case _ => throw new IllegalStateException("saslStart reply has no payload")
    }
    val second = runCommand(BDoc(
      "saslContinue" -> 1,
      "conversationId" -> convId,
      "payload" -> BBin(0, conv.clientFinal(serverFirst).getBytes(StandardCharsets.UTF_8)),
      "$db" -> "admin"))
    second.get("payload") match {
      case Some(BBin(_, b)) => conv.verifyServerFinal(new String(b, StandardCharsets.UTF_8))
      case _ => throw new IllegalStateException("saslContinue reply has no payload")
    }
    // servers without skipEmptyExchange expect one final empty round
    if (!second.get("done").contains(true))
      runCommand(BDoc("saslContinue" -> 1, "conversationId" -> convId,
        "payload" -> BBin(0, Array.emptyByteArray), "$db" -> "admin"))
  }

  /** Next event document (JSON), or None when the await window passes
    * with no events (reference MaxAwaitTime semantics) or the stream is
    * exhausted (cursor id 0).
    */
  override def next(): Option[String] = {
    if (buffer.isEmpty && !ended) {
      if (cursorId == 0L) { ended = true; return None }
      val reply = runCommand(BDoc(
        "getMore" -> cursorId,
        "collection" -> coll,
        "maxTimeMS" -> maxAwaitMillis,
        "$db" -> db))
      val cursor = reply.doc("cursor").getOrElse(
        throw new IllegalStateException("getMore reply has no cursor"))
      cursorId = cursor.long("id").getOrElse(0L)
      buffer = cursor.arr("nextBatch").getOrElse(Vector.empty)
        .collect { case d: BDoc => Bson.toJson(d) }
      if (cursorId == 0L && buffer.isEmpty) ended = true
    }
    nextArrived()
  }

  /** The next event of the batch already received; never sends getMore. */
  override def nextArrived(): Option[String] =
    buffer.headOption match {
      case some @ Some(_) => buffer = buffer.tail; some
      case None => None
    }

  override def close(): Unit = {
    try {
      if (cursorId != 0L)
        runCommand(BDoc("killCursors" -> coll,
          "cursors" -> BArr(cursorId), "$db" -> db))
    } catch { case _: Exception => }
    socket.close()
  }
}

object MongoSocketCursor {
  /** Construct from stream options (the ChangeStreamTokenClient live
    * wiring): `mongo.host` [required], `mongo.port` (27017),
    * `mongo.database` (test), `mongo.collection` [required],
    * `mongo.user`/`mongo.password` (SCRAM-SHA-256 when both present),
    * `mongo.resume.after` (the checkpoint's `_data` token).
    */
  def fromOptions(options: Map[String, String]): MongoSocketCursor =
    new MongoSocketCursor(
      host = options("mongo.host"),
      port = options.getOrElse("mongo.port", "27017").toInt,
      db = options.getOrElse("mongo.database", "test"),
      coll = options("mongo.collection"),
      resumeAfter = options.get("mongo.resume.after"),
      credentials = for {
        u <- options.get("mongo.user")
        p <- options.get("mongo.password")
      } yield (u, p))
}
