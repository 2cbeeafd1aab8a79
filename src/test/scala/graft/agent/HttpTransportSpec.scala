package graft.agent

import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.core.CryptoCodec
import graft.service.{ClientCredentialStore, HttpProtectionServer, ProtectionService}

/** The remote stack over REAL loopback sockets: RemoteProtectionAgent →
  * ProtectionServiceClient → [[HttpPooledTransport]] (bounded keep-alive
  * pool) → [[HttpProtectionServer]] → ProtectionService. Ports the pool
  * behaviors of `httplib_pool_registry_test.cpp` /
  * `httplib_pooled_client_test.cpp`: reuse, exhaustion with borrow timeout,
  * idle pruning, read timeout, and the retry-once-with-fresh-connection
  * discipline.
  */
class HttpTransportSpec extends AnyFunSuite {
  private val AppCtx = """{"user_id":"user-7"}"""
  private val Creds = Map("client_id" -> "graft", "api_key" -> "graft-api-key")

  private def withServer[A](transport: ProtectionTransport)(
      f: HttpProtectionServer => A): A = {
    val server = new HttpProtectionServer(transport).start()
    try f(server) finally server.stop()
  }

  private def service(): ProtectionService = {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    new ProtectionService(store)
  }

  /** Sleeps on authenticated POSTs — makes pool contention reproducible. */
  private final class SlowTransport(inner: ProtectionTransport, delayMs: Long)
      extends ProtectionTransport {
    override def get(e: String, h: Map[String, String]): TransportResponse = inner.get(e, h)
    override def post(e: String, b: String, h: Map[String, String]): TransportResponse = {
      if (e != "/token") Thread.sleep(delayMs)
      inner.post(e, b, h)
    }
  }

  /** A socket server that answers each request, on whatever connection it
    * comes, with the next of `replies` (raw HTTP bytes) and then closes the
    * connection if that reply is marked so.
    */
  private def withStub[A](replies: Seq[(String, Boolean)])(f: Int => A): A = {
    val ss = new java.net.ServerSocket(0, 8, java.net.InetAddress.getLoopbackAddress)
    val queue = new java.util.concurrent.ConcurrentLinkedQueue[(String, Boolean)]()
    replies.foreach(queue.add)
    val acceptor = new Thread(() => {
      try while (true) {
        val socket = ss.accept()
        val serve = new Thread(() => {
          val in = new java.io.BufferedInputStream(socket.getInputStream)
          val out = socket.getOutputStream
          try {
            var open = true
            while (open) {
              // request line and headers, then the Content-Length body
              val head = new StringBuilder
              while (!head.endsWith("\r\n\r\n")) {
                val c = in.read()
                if (c < 0) throw new java.io.EOFException
                head.append(c.toChar)
              }
              val length = head.toString.split("\r\n")
                .find(_.toLowerCase.startsWith("content-length:"))
                .map(_.substring(15).trim.toInt).getOrElse(0)
              in.readNBytes(length)
              val (reply, close) = queue.poll()
              out.write(reply.getBytes("UTF-8"))
              out.flush()
              open = !close
            }
          } catch { case _: Exception => }
          finally socket.close()
        })
        serve.setDaemon(true)
        serve.start()
      } catch { case _: java.io.IOException => } // closed at the end of the test
    })
    acceptor.setDaemon(true)
    acceptor.start()
    try f(ss.getLocalPort) finally ss.close()
  }

  test("a malformed status or Content-Length returns the connection: the next call succeeds") {
    val ok = "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nOK"
    val malformed = Seq(
      "HTTP/1.1 2x0 OK\r\nContent-Length: 2\r\n\r\nOK",
      "HTTP/1.1 abc\r\n\r\n",
      "HTTP/1.1 200 OK\r\nContent-Length: abc\r\n\r\nOK",
      "HTTP/1.1 200 OK\r\nContent-Length: -1\r\n\r\nOK",
      "HTTP/1.1 200 OK\r\nContent-Length: 99999999999\r\n\r\nOK",
      "HTTP/1.1 200 OK\r\nContent-Length: +2\r\n\r\nOK")
    withStub(malformed.flatMap(m => Seq(m -> false, ok -> false))) { port =>
      val transport = new HttpPooledTransport("127.0.0.1", port,
        PoolConfig(maxPoolSize = 1, borrowTimeoutMs = 200))
      try for (m <- malformed) {
        val bad = transport.post("/encrypt", "{}", Map.empty)
        assert(bad.status == 0 && bad.error.contains("malformed"), s"$m -> $bad")
        val good = transport.post("/encrypt", "{}", Map.empty)
        assert(good.status == 200 && good.body == "OK", s"after $m -> $good")
      } finally transport.shutdown()
    }
  }

  test("a Content-Length larger than the body that arrives allocates no more than a chunk") {
    // 2 GB announced, 2 bytes sent, then the connection closes: the read
    // fails, and the retry on a fresh connection gets the next reply
    val huge = "HTTP/1.1 200 OK\r\nContent-Length: 2147483647\r\n\r\nOK"
    val ok = "HTTP/1.1 200 OK\r\nContent-Length: 2\r\n\r\nOK"
    withStub(Seq(huge -> true, ok -> false, huge -> true, huge -> true, ok -> false)) { port =>
      val transport = new HttpPooledTransport("127.0.0.1", port, PoolConfig(maxPoolSize = 1))
      try {
        val r = transport.post("/encrypt", "{}", Map.empty)
        assert(r.status == 200 && r.body == "OK", r)
        val failed = transport.post("/encrypt", "{}", Map.empty)
        assert(failed.status == 0 && failed.error.contains("failed after retry"), failed)
        val again = transport.post("/encrypt", "{}", Map.empty)
        assert(again.status == 200 && again.body == "OK", again)
      } finally transport.shutdown()
    }
  }

  test("dead port: status-0 error response, never a throw") {
    // bind-then-close to get a port with nothing listening
    val ss = new java.net.ServerSocket(0)
    val deadPort = ss.getLocalPort
    ss.close()
    val t = new HttpPooledTransport("127.0.0.1", deadPort, PoolConfig(connectTimeoutMs = 500))
    try {
      val r = t.get("/healthz", Map.empty)
      assert(r.status == 0 && r.error.nonEmpty, r)
    } finally t.shutdown()
  }

  test("shutdown refuses new requests instead of opening fresh sockets") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      assert(transport.get("/healthz", Map.empty).body == "OK")
      transport.shutdown()
      val r = transport.get("/healthz", Map.empty)
      assert(r.status == 0 && r.error.contains("shut down"), r)
      assert(transport.connectionsCreated == 1,
        s"post-shutdown request opened a socket (created=${transport.connectionsCreated})")
    }
  }

  test("remote agent over real sockets matches the local agent byte-for-byte") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      try {
        val agent = new RemoteProtectionAgent(transport, Creds)
        agent.init("email", AppCtx, "k1", StringType)
        val values = Seq("a@b.c", null, "", "café 🚀")
        val batch = agent.encrypt(values)
        assert(agent.decrypt(batch) == values)
        val local = LocalProtectionAgent.init("k1", "email", StringType,
          CryptoCodec.Xor, "user-7", AppCtx)
        assert(batch.payload.sameElements(local.encrypt(values).payload))
        assert(local.decrypt(batch) == values)
      } finally transport.shutdown()
    }
  }

  test("sequential calls reuse one keep-alive connection") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      try {
        val agent = new RemoteProtectionAgent(transport, Creds)
        agent.init("email", AppCtx, "k1", StringType)
        for (i <- 1 to 5) assert(agent.decrypt(agent.encrypt(Seq(s"v$i"))) == Seq(s"v$i"))
        // healthz + token + 10 protected calls, all sequential → 1 socket
        assert(transport.connectionsCreated == 1,
          s"expected 1 pooled connection, created ${transport.connectionsCreated}")
      } finally transport.shutdown()
    }
  }

  test("small replies are not held back by Nagle waiting for the delayed ACK") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      try {
        val agent = new RemoteProtectionAgent(transport, Creds)
        agent.init("email", AppCtx, "k1", StringType)
        agent.encrypt(Seq("warm-up")) // token fetch + first connection
        val millis = (1 to 40).map { i =>
          val start = System.nanoTime()
          agent.encrypt(Seq(s"v$i"))
          (System.nanoTime() - start) / 1e6
        }.sorted
        // a stalled reply waits for the client's ~40 ms delayed-ACK timer
        val median = millis(millis.size / 2)
        assert(median < 10.0, f"median small round trip $median%.1f ms")
      } finally transport.shutdown()
    }
  }

  test("pool exhaustion: borrow times out with the pool-size error") {
    withServer(new SlowTransport(service(), delayMs = 400)) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort,
        PoolConfig(maxPoolSize = 1, borrowTimeoutMs = 50))
      try {
        val errors = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        val threads = (1 to 2).map { _ =>
          new Thread(() => {
            val r = transport.post("/encrypt", "{}", Map.empty)
            if (r.error.nonEmpty) errors.add(r.error): Unit
          })
        }
        threads.foreach(_.start())
        threads.foreach(_.join(10000))
        // one caller held the single connection for 400ms; the other's
        // 50ms borrow wait must expire
        assert(errors.size == 1, s"errors: $errors")
        assert(errors.peek().contains("timed out borrowing"))
      } finally transport.shutdown()
    }
  }

  test("read timeout surfaces as a clean transport error, not a hang") {
    withServer(new SlowTransport(service(), delayMs = 800)) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort,
        PoolConfig(readTimeoutMs = 100))
      try {
        val start = System.currentTimeMillis()
        val r = transport.post("/encrypt", "{}", Map.empty)
        val elapsed = System.currentTimeMillis() - start
        assert(r.status == 0 && r.error.contains("timed out"), r)
        assert(elapsed < 5000, s"timeout took ${elapsed}ms")
      } finally transport.shutdown()
    }
  }

  test("idle connections past max_idle_time are pruned and replaced") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort,
        PoolConfig(maxIdleTimeMs = 50))
      try {
        assert(transport.get("/healthz", Map.empty).body == "OK")
        Thread.sleep(200) // connection sits idle past the 50ms bound
        assert(transport.get("/healthz", Map.empty).body == "OK")
        assert(transport.connectionsCreated == 2,
          s"stale connection should be pruned, created=${transport.connectionsCreated}")
      } finally transport.shutdown()
    }
  }

  test("unknown endpoints and bad tokens pass status codes through the socket") {
    withServer(service()) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      try {
        assert(transport.get("/nope", Map.empty).status == 404)
        val r = transport.post("/encrypt", "{}",
          Map("Authorization" -> "Bearer junk"))
        assert(r.status == 401 && r.body.contains("Unauthorized"))
      } finally transport.shutdown()
    }
  }
}
