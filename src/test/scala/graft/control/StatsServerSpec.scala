package graft.control

import org.scalatest.funsuite.AnyFunSuite

import java.io.{BufferedInputStream, ByteArrayOutputStream, InputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.US_ASCII
import java.util.concurrent.locks.LockSupport

class StatsServerSpec extends AnyFunSuite {

  private def line(in: InputStream): String = {
    val b = new ByteArrayOutputStream()
    var c = in.read()
    while (c != '\n') {
      if (c < 0) throw new java.io.EOFException("connection closed mid-response")
      if (c != '\r') b.write(c)
      c = in.read()
    }
    b.toString(US_ASCII)
  }

  /** Reads one response to the last byte of its body; returns the status. */
  private def response(in: InputStream): Int = {
    val code = line(in).split(' ')(1).toInt
    var length = 0
    var h = line(in)
    while (h.nonEmpty) {
      val i = h.indexOf(':')
      if (h.substring(0, i).trim.equalsIgnoreCase("content-length"))
        length = h.substring(i + 1).trim.toInt
      h = line(in)
    }
    in.readNBytes(length)
    code
  }

  test("a keep-alive client polling every 50 ms gets stats in under 10 ms (p50)") {
    val server = new StatsServer(0)
    val port = server.start()
    val sock = new Socket(InetAddress.getLoopbackAddress, port)
    try {
      sock.setTcpNoDelay(true)
      sock.setSoTimeout(10000)
      val in = new BufferedInputStream(sock.getInputStream)
      val req = "GET /api/v1/replicators HTTP/1.1\r\nHost: localhost\r\n\r\n".getBytes(US_ASCII)
      val period = 50L * 1000000L
      var next = System.nanoTime()
      val ms = (1 to 40).map { _ =>
        val t0 = System.nanoTime()
        sock.getOutputStream.write(req)
        sock.getOutputStream.flush()
        assert(response(in) == 200)
        val took = (System.nanoTime() - t0) / 1e6
        next += period
        LockSupport.parkNanos(next - System.nanoTime())
        took
      }.drop(5).sorted // the first requests load the handler classes
      val p50 = ms(ms.size / 2)
      // without TCP_NODELAY on the server, each body waits for the
      // client's delayed ACK of the headers: ~40 ms
      assert(p50 < 10.0, f"stats GET p50 $p50%.1f ms over a keep-alive connection")
    } finally {
      sock.close()
      server.stop()
    }
  }
}
