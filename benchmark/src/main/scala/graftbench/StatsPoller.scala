package graftbench

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets
import java.util.concurrent.locks.LockSupport
import scala.collection.mutable

/** Polls one stats-server path on a fixed schedule from one thread over
  * one keep-alive HTTP/1.1 connection, timing each GET from request
  * write to the last body byte.
  */
final class StatsPoller(port: Int, path: String, intervalMs: Int) {
  private val samples = mutable.ArrayBuffer.empty[Double]
  @volatile private var running = true
  private var requestCount = 0L
  private var errorCount = 0L

  private val thread = new Thread(() => loop(), "stats-poller")
  thread.setDaemon(true)

  def start(): Unit = thread.start()

  def stop(): Unit = { running = false; thread.join(10000) }

  def requests: Long = synchronized(requestCount)
  def errors: Long = synchronized(errorCount)
  def latenciesMs: Seq[Double] = synchronized(samples.toIndexedSeq)

  private def loop(): Unit = {
    var sock: Socket = null
    var in: InputStream = null
    val interval = intervalMs * 1000000L
    var next = System.nanoTime()
    while (running) {
      try {
        if (sock == null) {
          sock = new Socket(InetAddress.getLoopbackAddress, port)
          sock.setTcpNoDelay(true)
          sock.setSoTimeout(10000)
          in = new BufferedInputStream(sock.getInputStream)
        }
        val t0 = System.nanoTime()
        val (code, _) = StatsPoller.get(sock, in, path)
        val ms = (System.nanoTime() - t0) / 1e6
        synchronized {
          requestCount += 1
          if (code == 200) samples += ms else errorCount += 1
        }
      } catch {
        case _: java.io.IOException =>
          synchronized { requestCount += 1; errorCount += 1 }
          if (sock != null) sock.close()
          sock = null
      }
      next += interval
      val wait = next - System.nanoTime()
      if (wait > 0) LockSupport.parkNanos(wait) else next = System.nanoTime()
    }
    if (sock != null) sock.close()
  }
}

object StatsPoller {
  /** One GET on a fresh connection (for final checks). */
  def getOnce(port: Int, path: String): (Int, String) = {
    val s = new Socket(InetAddress.getLoopbackAddress, port)
    try get(s, new BufferedInputStream(s.getInputStream), path)
    finally s.close()
  }

  def get(sock: Socket, in: InputStream, path: String): (Int, String) = {
    val req = s"GET $path HTTP/1.1\r\nHost: localhost\r\nConnection: keep-alive\r\n\r\n"
    sock.getOutputStream.write(req.getBytes(StandardCharsets.US_ASCII))
    sock.getOutputStream.flush()
    val status = line(in)
    val code = status.split(' ')(1).toInt
    var length = 0
    var l = line(in)
    while (l.nonEmpty) {
      val i = l.indexOf(':')
      if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("content-length"))
        length = l.substring(i + 1).trim.toInt
      l = line(in)
    }
    val body = new Array[Byte](length)
    var off = 0
    while (off < length) {
      val n = in.read(body, off, length - off)
      if (n < 0) throw new java.io.EOFException("stats body cut short")
      off += n
    }
    (code, new String(body, StandardCharsets.UTF_8))
  }

  private def line(in: InputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("stats connection closed")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(StandardCharsets.US_ASCII)
  }
}
