package graft.agent

import java.io.{BufferedInputStream, BufferedOutputStream, IOException}
import java.net.{InetSocketAddress, Socket, SocketTimeoutException}
import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable.ArrayDeque

/** Pool configuration — the reference's `HttplibPoolRegistry::PoolConfig`
  * with its default constants (`httplib_pool_registry.h:36-66`).
  */
final case class PoolConfig(
    maxPoolSize: Int = 8,
    borrowTimeoutMs: Long = 100,
    maxIdleTimeMs: Long = 60 * 1000,
    connectTimeoutMs: Long = 5 * 1000,
    readTimeoutMs: Long = 20 * 1000)

/** HTTP [[ProtectionTransport]] over a bounded pool of persistent keep-alive
  * socket connections — the engine-side port of the reference's pooled
  * client stack (`httplib_pool_registry.cpp:66-143` +
  * `httplib_pooled_client.cpp:135-214`):
  *
  *  - at most `maxPoolSize` live connections per transport (per base URL —
  *    one transport serves one URL, like one registry pool entry);
  *  - `Borrow` prunes connections idle past `maxIdleTimeMs`, reuses an idle
  *    one, creates below capacity, otherwise WAITS up to `borrowTimeoutMs`
  *    for a return — then gives up with an error response, exactly the
  *    registry's null-return path;
  *  - connect/read timeouts on the underlying socket;
  *  - a transport failure mid-request discards the connection and retries
  *    ONCE with a fresh one (`WorkerLoop`'s retry,
  *    `httplib_pooled_client.cpp:160-204`), then reports the error.
  *
  * Requests execute on the CALLER's thread: for blocking callers that is
  * what the reference's worker queue (`httplib_pooled_client.cpp:44-135`)
  * amounts to, without the hop; concurrency is bounded by the pool size.
  * Connect, I/O and timeout failures, and a reply whose status or
  * Content-Length is not a number, come back as a status-0 response with a
  * message, not as a throw; a connection that failed is never re-pooled.
  *
  * The wire protocol is minimal HTTP/1.1 with Content-Length framing on
  * both sides — enough for [[graft.service.HttpProtectionServer]] and
  * deliberately not a general-purpose client.
  */
final class HttpPooledTransport(host: String, port: Int,
    config: PoolConfig = PoolConfig()) extends ProtectionTransport {

  import HttpFraming.MalformedHttpException
  import HttpPooledTransport._

  private val idle = new ArrayDeque[(PooledConnection, Long)]()
  private var totalConnections = 0
  private val lock = new Object
  private var created = 0
  private var closed = false

  /** Connections opened over this transport's lifetime (spec observability). */
  def connectionsCreated: Int = lock.synchronized(created)

  override def get(endpoint: String, headers: Map[String, String]): TransportResponse =
    request("GET", endpoint, Array.emptyByteArray, headers)

  override def post(endpoint: String, body: String,
      headers: Map[String, String]): TransportResponse =
    post(endpoint, body.getBytes(UTF_8), headers)

  override def post(endpoint: String, body: Array[Byte],
      headers: Map[String, String]): TransportResponse =
    request("POST", endpoint, body, headers)

  private def request(method: String, endpoint: String, body: Array[Byte],
      headers: Map[String, String]): TransportResponse = {
    if (lock.synchronized(closed))
      return TransportResponse(0, "", "transport is shut down")
    borrow() match {
      case None =>
        TransportResponse(0, "",
          s"timed out borrowing a connection after ${config.borrowTimeoutMs} ms " +
            s"(pool size ${config.maxPoolSize})")
      case Some(conn) =>
        runOn(conn, method, endpoint, body, headers).getOrElse {
          // retry once with a fresh connection, like the reference worker loop
          borrow() match {
            case None =>
              TransportResponse(0, "",
                s"timed out borrowing a retry connection after ${config.borrowTimeoutMs} ms")
            case Some(fresh) =>
              runOn(fresh, method, endpoint, body, headers).getOrElse(
                TransportResponse(0, "", s"$method $endpoint failed after retry"))
          }
        }
    }
  }

  /** Execute on one connection; Some(response) on success (connection
    * returned to the pool), None on transport failure (connection discarded).
    */
  private def runOn(conn: PooledConnection, method: String, endpoint: String,
      body: Array[Byte], headers: Map[String, String]): Option[TransportResponse] =
    try {
      val r = conn.roundTrip(method, endpoint, body, headers)
      give(conn)
      Some(r)
    } catch {
      case e: SocketTimeoutException =>
        discard(conn)
        Some(TransportResponse(0, "",
          s"$method $endpoint timed out after ${config.readTimeoutMs} ms: ${e.getMessage}"))
      case e: MalformedHttpException => // the server answered: no retry
        discard(conn)
        Some(TransportResponse(0, "", s"$method $endpoint: ${e.getMessage}"))
      case _: IOException =>
        discard(conn)
        None
    }

  /** `HttplibPoolRegistry::Borrow` (`httplib_pool_registry.cpp:66-116`). */
  private def borrow(): Option[PooledConnection] = {
    val deadline = System.nanoTime() + config.borrowTimeoutMs * 1000000L
    lock.synchronized {
      while (true) {
        if (closed) return None // fail fast, don't hand out post-shutdown sockets
        // prune idle connections past max_idle_time (oldest first)
        val now = System.currentTimeMillis()
        while (idle.nonEmpty && now - idle.head._2 > config.maxIdleTimeMs) {
          val (stale, _) = idle.removeHead()
          stale.close()
          if (totalConnections > 0) totalConnections -= 1
        }
        if (idle.nonEmpty)
          return Some(idle.removeHead()._1)
        if (totalConnections < config.maxPoolSize) {
          totalConnections += 1
          created += 1
          return Some(new PooledConnection(host, port, config))
        }
        val remainingMs = (deadline - System.nanoTime()) / 1000000L
        if (remainingMs <= 0) return None
        lock.wait(remainingMs)
      }
      None // unreachable
    }
  }

  private def give(conn: PooledConnection): Unit = lock.synchronized {
    if (closed) conn.close() // returned after shutdown: close, never re-pool
    else {
      idle.append((conn, System.currentTimeMillis()))
      lock.notify()
    }
  }

  private def discard(conn: PooledConnection): Unit = {
    conn.close()
    lock.synchronized {
      if (!closed && totalConnections > 0) totalConnections -= 1
      lock.notify() // capacity freed — wake one waiter (`Discard`, :126-143)
    }
  }

  /** Close every idle connection and refuse further borrows; a connection
    * borrowed at shutdown time is closed when its caller returns it.
    */
  def shutdown(): Unit = {
    lock.synchronized {
      closed = true
      idle.foreach(_._1.close())
      idle.clear()
      totalConnections = 0
      lock.notifyAll() // wake borrow() waiters so they fail fast
    }
  }
}

object HttpPooledTransport {
  import HttpFraming._

  /** One persistent keep-alive connection. The socket opens lazily on first
    * use so pool bookkeeping (which counts connections, not sockets) matches
    * the reference's create-outside-the-lock behavior.
    */
  private final class PooledConnection(host: String, port: Int, config: PoolConfig) {
    private var socket: Socket = _
    private var in: BufferedInputStream = _
    private var out: BufferedOutputStream = _

    private def ensureOpen(): Unit = {
      if (socket == null || socket.isClosed) {
        socket = new Socket()
        socket.connect(new InetSocketAddress(host, port), config.connectTimeoutMs.toInt)
        socket.setSoTimeout(config.readTimeoutMs.toInt)
        socket.setTcpNoDelay(true)
        in = new BufferedInputStream(socket.getInputStream)
        out = new BufferedOutputStream(socket.getOutputStream)
      }
    }

    def roundTrip(method: String, endpoint: String, body: Array[Byte],
        headers: Map[String, String]): TransportResponse = {
      ensureOpen()
      val sb = new StringBuilder
      sb.append(method).append(' ').append(endpoint).append(" HTTP/1.1\r\n")
      sb.append("Host: ").append(host).append(':').append(port).append("\r\n")
      headers.foreach { case (k, v) => sb.append(k).append(": ").append(v).append("\r\n") }
      if (method == "POST") sb.append("Content-Length: ").append(body.length).append("\r\n")
      sb.append("Connection: keep-alive\r\n\r\n")
      out.write(sb.toString.getBytes(UTF_8))
      if (method == "POST") out.write(body)
      out.flush()
      readResponse()
    }

    private def readResponse(): TransportResponse = {
      val statusLine = readLine(in)
      val parts = statusLine.split(" ", 3)
      val status =
        if (parts.length < 2 || !parts(0).startsWith("HTTP/") || parts(1).length != 3) None
        else decimal(parts(1))
      if (status.isEmpty) throw new MalformedHttpException(s"malformed status line: '$statusLine'")
      TransportResponse(status.get, readBody(in, contentLength(readHeaders(in))))
    }

    def close(): Unit =
      if (socket != null) {
        try socket.close() catch { case _: IOException => }
      }
  }
}
