package graft.control

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.Json
import graft.replicate.ReplicatorRegistry

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets

/** Stats + control HTTP server (reference `pkg/replicator/server.go`):
  *
  *   GET  /api/v1/replicators          -> JSON list of replicator states
  *   GET  /api/v1/replicators/{id}     -> one replicator
  *   POST /api/v1/replicators/{id}/pause|resume|stop|restart
  *
  * Built on the JDK's HttpServer — no extra dependency, driver-side only
  * (never on the executor path).
  *
  * `start()` sets `sun.net.httpserver.nodelay=true` unless it is already
  * set. The JDK server writes a response's headers and body as two
  * segments; without TCP_NODELAY, Nagle holds the body until the headers
  * are acknowledged, and a keep-alive client that delays its ACK waits
  * ~40 ms per GET. The JDK reads the property once, in `ServerConfig`'s
  * static initializer, i.e. at the JVM's first `HttpServer.create`: a
  * server created earlier by other code fixes the setting for the JVM.
  */
class StatsServer(port: Int) {
  private var server: HttpServer = _

  def start(): Int = {
    val noDelay = "sun.net.httpserver.nodelay"
    if (System.getProperty(noDelay) == null) System.setProperty(noDelay, "true")
    server = HttpServer.create(new InetSocketAddress(port), 0)
    server.createContext("/api/v1/replicators", new Handler)
    // bare liveness probe (reference internal/archiver/handlers.go:9-14):
    // GET /health -> 200 with an empty body, no JSON — what a k8s-style
    // probe hits without parsing anything. Go's ServeMux matches the
    // "/health" pattern EXACTLY, while JDK contexts match by prefix —
    // 404 the prefix-matched strays (/healthz etc.) for parity, and
    // answer HEAD like Go would (same handler, no body anyway).
    server.createContext("/health", (ex: HttpExchange) => {
      val code =
        if (ex.getRequestURI.getPath != "/health") 404
        else if (ex.getRequestMethod == "GET" || ex.getRequestMethod == "HEAD") 200
        else 405
      ex.sendResponseHeaders(code, -1)
      ex.close()
    })
    server.setExecutor(null)
    server.start()
    server.getAddress.getPort
  }

  def stop(): Unit = if (server != null) server.stop(0)

  private class Handler extends HttpHandler {
    override def handle(ex: HttpExchange): Unit = {
      val path = ex.getRequestURI.getPath.stripPrefix("/api/v1/replicators")
        .stripPrefix("/").stripSuffix("/")
      val method = ex.getRequestMethod
      try {
        (method, path.split("/").filter(_.nonEmpty).toList) match {
          case ("GET", Nil) =>
            val all = ReplicatorRegistry.all
            respond(ex, 200,
              s"""{"count":${all.size},"replicators":${
                all.map(_.stateJson).mkString("[", ",", "]")}}""")
          case ("GET", id :: Nil) =>
            ReplicatorRegistry.get(id) match {
              case Some(r) => respond(ex, 200, r.stateJson)
              case None    => respond(ex, 404, s"""{"error":${Json.str(s"unknown replicator: $id")}}""")
            }
          case ("POST", id :: action :: Nil) =>
            ReplicatorRegistry.get(id) match {
              case None => respond(ex, 404, s"""{"error":${Json.str(s"unknown replicator: $id")}}""")
              case Some(r) =>
                action match {
                  case "pause"   => r.pause(); respond(ex, 200, r.stateJson)
                  case "resume"  => r.resume(); respond(ex, 200, r.stateJson)
                  case "stop"    => r.stop(); respond(ex, 200, r.stateJson)
                  case "restart" => r.restart(); respond(ex, 200, r.stateJson)
                  case other => respond(ex, 400, s"""{"error":${Json.str(s"unknown action: $other")}}""")
                }
            }
          case _ => respond(ex, 405, """{"error":"method not allowed"}""")
        }
      } catch {
        case e: IllegalStateException =>
          respond(ex, 409, s"""{"error":${Json.str(e.getMessage)}}""")
        case e: Throwable =>
          respond(ex, 500, s"""{"error":${Json.str(e.getMessage)}}""")
      }
    }

    private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
      val bytes = body.getBytes(StandardCharsets.UTF_8)
      ex.getResponseHeaders.set("Content-Type", "application/json")
      ex.sendResponseHeaders(code, bytes.length)
      val os = ex.getResponseBody
      try os.write(bytes) finally os.close()
    }
  }
}
