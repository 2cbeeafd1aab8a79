package graft.service

import java.net.InetSocketAddress
import java.util.concurrent.Executors

import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}

import graft.agent.{ProtectionTransport, TransportResponse}

/** Real localhost HTTP listener for a [[ProtectionTransport]] — the socket
  * half the reference gets from Crow (`dbps_api_server.cpp:107-285`,
  * `app.port(18080).multithreaded().run()`), on the JDK's built-in
  * `com.sun.net.httpserver` so the full remote path (token fetch → Bearer →
  * nested envelope → pooled keep-alive connections) runs over actual
  * sockets with zero external dependencies and zero egress (loopback only).
  *
  * Routing is a straight delegation: the service half stays
  * [[ProtectionService]]; this class only moves bytes between the socket
  * and the transport interface, exactly like Crow's role in the reference.
  * A request body goes to the transport's byte `post` as the bytes read,
  * and a reply's bytes go out as they are.
  *
  * Replies go out with `TCP_NODELAY` (see the companion object): without it
  * every small reply waits ~40 ms for the client's delayed ACK.
  */
final class HttpProtectionServer(transport: ProtectionTransport, port: Int = 0) {

  HttpProtectionServer.enableNoDelay()
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 64)
  private val pool = Executors.newFixedThreadPool(8)
  server.setExecutor(pool)
  server.createContext("/", new HttpHandler {
    override def handle(exchange: HttpExchange): Unit = {
      try {
        val path = exchange.getRequestURI.getPath
        val headers = exchange.getRequestHeaders.entrySet().asScala
          .map(e => e.getKey -> e.getValue.asScala.mkString(",")).toMap
        val resp = exchange.getRequestMethod match {
          case "GET" => transport.get(path, headers)
          case "POST" => transport.post(path, exchange.getRequestBody.readAllBytes(), headers)
          case other => TransportResponse(405, s"""{"error":"method $other not allowed"}""")
        }
        val bytes = resp.bytes
        val contentType = if (path == "/healthz") "text/plain" else "application/json"
        exchange.getResponseHeaders.set("Content-Type", contentType)
        exchange.sendResponseHeaders(resp.status, if (bytes.isEmpty) -1 else bytes.length.toLong)
        if (bytes.nonEmpty) exchange.getResponseBody.write(bytes)
      } finally exchange.close()
    }
  })

  def start(): HttpProtectionServer = { server.start(); this }

  /** The bound port — pass `port = 0` to pick an ephemeral one. */
  def boundPort: Int = server.getAddress.getPort

  def baseUrl: String = s"http://127.0.0.1:$boundPort"

  def stop(): Unit = {
    server.stop(0)
    pool.shutdownNow(): Unit
  }
}

object HttpProtectionServer {
  private val NoDelayProperty = "sun.net.httpserver.nodelay"

  /** The JDK server sets `TCP_NODELAY` on accepted sockets only when
    * `sun.net.httpserver.nodelay` is `true` (default `false`). Without it,
    * `sendResponseHeaders` flushes the headers as their own segment and
    * Nagle holds the body back until the client ACKs them, which the
    * client delays by ~40 ms, so every small reply stalls that long.
    * `sun.net.httpserver.ServerConfig` reads the property once per JVM, when
    * the first server is created, so it must be set before any
    * `HttpServer.create`; a value the user already set is left alone.
    */
  private def enableNoDelay(): Unit =
    if (System.getProperty(NoDelayProperty) == null) System.setProperty(NoDelayProperty, "true"): Unit
}
