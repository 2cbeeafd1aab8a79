package graft.service

import java.io.{BufferedInputStream, BufferedOutputStream, IOException, InputStream, OutputStream}
import java.net.{InetAddress, ServerSocket, Socket}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.Locale
import java.util.concurrent.ConcurrentHashMap

import scala.util.control.NonFatal

import graft.agent.{HttpFraming, ProtectionTransport}
import graft.agent.HttpFraming.MalformedHttpException

/** Real localhost HTTP listener for a [[ProtectionTransport]] — the socket
  * half the reference gets from Crow (`dbps_api_server.cpp:107-285`,
  * `app.port(18080).multithreaded().run()`), so the full remote path (token
  * fetch → Bearer → nested envelope → pooled keep-alive connections) runs
  * over actual sockets with zero external dependencies and zero egress
  * (loopback only).
  *
  * Routing is a straight delegation: the service half stays
  * [[ProtectionService]]; this class only moves bytes between the socket
  * and the transport interface, exactly like Crow's role in the reference.
  * A request body goes to the transport's byte `post` as the bytes read,
  * and a reply's bytes go out as they are.
  *
  * One acceptor thread hands each connection to its own blocking loop,
  * which reads a request (HTTP/1.1, Content-Length framing through
  * [[HttpFraming]]), calls the transport on that thread, writes the reply
  * and reads the next request on the same keep-alive connection. The
  * remote agent's pool keeps a few connections and sends one request at a
  * time on each, so a thread per connection has no hop between threads on
  * a request's path. Accepted sockets set `TCP_NODELAY`: without it a small
  * reply can wait ~40 ms for the client's delayed ACK.
  *
  * Header names reach the transport as the JDK `HttpServer` normalised
  * them (`authorization` → `Authorization`), repeated headers joined with
  * `,`; the endpoint is the request target up to `?`. A request that cannot
  * be served — a malformed head or length, a head or body over the limits
  * below, any `Transfer-Encoding`, a transport that throws — gets the
  * service's `{"error": …}` reply and the connection is closed.
  */
final class HttpProtectionServer(transport: ProtectionTransport, port: Int = 0) {

  import HttpProtectionServer._

  private val listener = new ServerSocket(port, MaxConnections, InetAddress.getLoopbackAddress)
  private val connections = ConcurrentHashMap.newKeySet[Socket]()
  private val loops = ConcurrentHashMap.newKeySet[Thread]()
  private var accepted = 0 // connections admitted; the acceptor's alone
  private val acceptor = daemon("accept")(() => accept())

  def start(): HttpProtectionServer = { acceptor.start(); this }

  /** The bound port — pass `port = 0` to pick an ephemeral one. */
  def boundPort: Int = listener.getLocalPort

  def baseUrl: String = s"http://127.0.0.1:$boundPort"

  /** Close the listening socket and every open connection; no server
    * thread is alive when this returns.
    */
  def stop(): Unit = {
    closeQuietly(listener)
    if (acceptor.isAlive) acceptor.join()
    connections.forEach(closeQuietly(_))
    loops.forEach { t => t.interrupt(); t.join() }
  }

  private def daemon(role: String)(body: Runnable): Thread = {
    val t = new Thread(body, s"$ThreadPrefix$boundPort-$role")
    t.setDaemon(true)
    t
  }

  private def accept(): Unit =
    while (!listener.isClosed) {
      try admit(listener.accept())
      catch { case _: IOException => } // the listener closed, or one connection failed
    }

  private def admit(socket: Socket): Unit =
    if (connections.size >= MaxConnections) {
      try {
        refuse(socket.getOutputStream, 503, s"over $MaxConnections open connections")
        socket.shutdownOutput()
      } finally closeQuietly(socket)
    } else {
      connections.add(socket)
      accepted += 1
      val loop = daemon(s"conn-$accepted") { () =>
        try serve(socket)
        catch { case _: IOException | _: InterruptedException => } // the peer or stop() closed it
        finally {
          closeQuietly(socket)
          connections.remove(socket)
          loops.remove(Thread.currentThread())
        }
      }
      loops.add(loop)
      loop.start()
    }

  /** One connection's keep-alive loop: it ends when the peer closes, a
    * request asks to close, or a request cannot be served.
    */
  private def serve(socket: Socket): Unit = {
    socket.setTcpNoDelay(true)
    socket.setSoTimeout(IdleTimeoutMs)
    val in = new BufferedInputStream(socket.getInputStream, StreamBuffer)
    val out = new BufferedOutputStream(socket.getOutputStream, StreamBuffer)
    try while (exchange(in, out)) {}
    catch {
      case e: MalformedHttpException =>
        refuse(out, e.status, e.getMessage)
        drain(socket, in)
    }
  }

  /** Read one request, answer it, and tell whether the connection stays
    * open. Throws a [[MalformedHttpException]] carrying the status for a
    * request that cannot be read.
    */
  private def exchange(in: InputStream, out: OutputStream): Boolean = {
    val parts = HttpFraming.readLine(in).split(" ", -1)
    if (parts.length != 3 || parts(0).isEmpty || parts(1).isEmpty || !isHttp1(parts(2)))
      throw new MalformedHttpException("malformed request line")
    val Array(method, target, version) = parts
    val fields = HttpFraming.readHeaders(in)
    if (fields.exists(_._1.equalsIgnoreCase("Transfer-Encoding")))
      throw new MalformedHttpException(
        "Transfer-Encoding is not supported: send a Content-Length", 411)
    val length = HttpFraming.contentLength(fields)
    if (length > MaxBodyBytes)
      throw new MalformedHttpException(
        s"request body of $length bytes is over the $MaxBodyBytes-byte limit", 413)
    val headers = fields.groupMapReduce(f => normalise(f._1))(_._2)(_ + "," + _)
    if (headers.get("Expect").exists(_.equalsIgnoreCase("100-continue"))) {
      out.write(Continue)
      out.flush()
    }
    val body = HttpFraming.readBody(in, length)
    val path = target.takeWhile(_ != '?')
    val resp =
      try method match {
        case "GET" => transport.get(path, headers)
        case "POST" => transport.post(path, body, headers)
        case other => ProtectionService.errorResponse(s"method $other not allowed", 405)
      } catch {
        case NonFatal(e) =>
          refuse(out, 500, s"request failed: $e")
          return false
      }
    val tokens =
      headers.getOrElse("Connection", "").toLowerCase(Locale.ROOT).split(',').map(_.trim)
    val keepAlive =
      if (version == "HTTP/1.0") tokens.contains("keep-alive") else !tokens.contains("close")
    reply(out, resp.status, if (path == "/healthz") "text/plain" else "application/json",
      resp.bytes, keepAlive)
    keepAlive
  }
}

object HttpProtectionServer {

  /** Each server thread's name starts with this, then the bound port. */
  private[graft] final val ThreadPrefix = "graft-http-"

  /** The most open connections, and the listen backlog; one more is
    * answered 503 and closed.
    */
  final val MaxConnections = 64

  /** A connection idle this long is closed: above the pooled client's 60 s
    * `maxIdleTimeMs`, so the client retires an idle connection before the
    * server does, and an abandoned socket does not hold a thread for ever.
    */
  final val IdleTimeoutMs = 90 * 1000

  /** The largest request body read, in bytes; a longer declared
    * Content-Length is answered 413 before any body byte is read. The
    * largest body the workloads send, a 10,000-value page, is ~240 KB, and a
    * Parquet page at the default 1 MiB page size is a ~1.4 MB envelope, so
    * 32 MiB leaves over 20× headroom while bounding what one request can
    * make the server buffer in a JVM that may host Spark. (The reference's
    * own limit, if it sets one, could not be checked: its source is not at
    * hand.)
    */
  final val MaxBodyBytes = 32 << 20

  private final val StreamBuffer = 64 * 1024

  /** How long, and how many bytes, a refused connection is read and
    * dropped before it closes.
    */
  private final val LingerMs = 1000
  private final val LingerBytes = 1 << 20

  private val Continue = "HTTP/1.1 100 Continue\r\n\r\n".getBytes(ISO_8859_1)

  /** A header name as the JDK `Headers` normalises it: the first character
    * upper case, the rest lower case.
    */
  private def normalise(name: String): String =
    name.substring(0, 1).toUpperCase(Locale.ROOT) + name.substring(1).toLowerCase(Locale.ROOT)

  /** `HTTP/1.` and one digit. */
  private def isHttp1(version: String): Boolean =
    version.length == 8 && version.startsWith("HTTP/1.") &&
      version.charAt(7) >= '0' && version.charAt(7) <= '9'

  private def reply(out: OutputStream, status: Int, contentType: String, body: Array[Byte],
      keepAlive: Boolean): Unit = {
    // the reason phrase is optional, and no client here reads it
    val head = new java.lang.StringBuilder(128)
      .append("HTTP/1.1 ").append(status)
      .append(" \r\nContent-Type: ").append(contentType)
      .append("\r\nContent-Length: ").append(body.length)
      .append(if (keepAlive) "\r\n\r\n" else "\r\nConnection: close\r\n\r\n")
    out.write(head.toString.getBytes(ISO_8859_1))
    out.write(body)
    out.flush()
  }

  /** The service's `{"error": …}` reply, on a connection that then closes. */
  private def refuse(out: OutputStream, status: Int, message: String): Unit =
    reply(out, status, "application/json", ProtectionService.errorResponse(message, status).bytes,
      keepAlive = false)

  /** End a refused connection's reply with a FIN, then read and drop what
    * the peer still sends, for a bounded time and number of bytes: closing
    * with unread bytes would reset the connection, and the peer could lose
    * the reply.
    */
  private def drain(socket: Socket, in: InputStream): Unit = {
    socket.shutdownOutput()
    socket.setSoTimeout(LingerMs)
    val deadline = System.nanoTime() + LingerMs * 1000000L
    val buf = new Array[Byte](8192)
    var left = LingerBytes
    var n = 0
    while (left > 0 && n >= 0 && System.nanoTime() < deadline) {
      n = in.read(buf)
      left -= n
    }
  }

  private def closeQuietly(c: java.io.Closeable): Unit =
    try c.close() catch { case _: IOException => }
}
