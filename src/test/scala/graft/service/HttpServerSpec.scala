package graft.service

import java.io.{BufferedInputStream, InputStream, OutputStream}
import java.net.{InetAddress, Socket}
import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.agent.{HttpFraming, HttpPooledTransport, ProtectionTransport, TransportResponse}

/** [[HttpProtectionServer]] on the wire, driven by raw loopback sockets:
  * the request framing it keeps from the JDK server (normalised header
  * names, joined repeats, `?` queries, `Expect`, `Connection: close`), the
  * error reply and close for every request it cannot serve, and the
  * connection lifecycle (the 64-connection cap, `stop()` leaving no thread).
  * At most 66 sockets are open at once.
  */
class HttpServerSpec extends AnyFunSuite {
  import HttpServerSpec._

  private def service(): (ProtectionService, ClientCredentialStore) = {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    (new ProtectionService(store), store)
  }

  private def withServer[A](transport: ProtectionTransport)(f: HttpProtectionServer => A): A = {
    val server = new HttpProtectionServer(transport).start()
    try f(server) finally server.stop()
  }

  private def withConnection[A](server: HttpProtectionServer)(f: Connection => A): A = {
    val c = new Connection(server.boundPort)
    try f(c) finally c.close()
  }

  private def serverThreads(server: HttpProtectionServer, role: String = ""): Seq[Thread] = {
    val prefix = s"${HttpProtectionServer.ThreadPrefix}${server.boundPort}-$role"
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(prefix))
  }

  /** Poll `cond` for up to 5 s. */
  private def eventually(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 5000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  /** A transport that records what reaches it and answers 200 "{}". */
  private final class Recording extends ProtectionTransport {
    @volatile var seen: (String, String, Map[String, String]) = _
    override def get(e: String, h: Map[String, String]): TransportResponse = {
      seen = ("GET", e, h); TransportResponse(200, "{}")
    }
    override def post(e: String, b: String, h: Map[String, String]): TransportResponse = {
      seen = ("POST", e, h); TransportResponse(200, "{}")
    }
  }

  test("a request the server cannot read gets the error shape and a closed connection") {
    val head = "POST /token HTTP/1.1\r\n"
    val cases = Seq(
      "GARBAGE\r\n\r\n" -> 400,
      "GET /healthz\r\n\r\n" -> 400,
      "GET  /healthz HTTP/1.1\r\n\r\n" -> 400,
      "GET /healthz HTTP/2.0\r\n\r\n" -> 400,
      "GET /healthz HTTP/1.1\r\nno colon here\r\n\r\n" -> 400,
      s"GET /healthz HTTP/1.1\r\nX-Long: ${"a" * (HttpFraming.MaxLineBytes + 1)}\r\n\r\n" -> 431,
      s"GET /${"a" * (HttpFraming.MaxLineBytes + 1)} HTTP/1.1\r\n\r\n" -> 431,
      ("GET /healthz HTTP/1.1\r\n" + (0 to HttpFraming.MaxHeaderLines).map(i => s"X-$i: v\r\n")
        .mkString + "\r\n") -> 431,
      s"${head}Content-Length: abc\r\n\r\n" -> 400,
      s"${head}Content-Length: +2\r\n\r\n" -> 400,
      s"${head}Content-Length: -1\r\n\r\n" -> 400,
      s"${head}Content-Length: 99999999999\r\n\r\n" -> 400,
      s"${head}Content-Length: 2\r\nContent-Length: 3\r\n\r\n{}" -> 400,
      s"${head}Transfer-Encoding: chunked\r\n\r\n2\r\n{}\r\n0\r\n\r\n" -> 411,
      s"${head}Content-Length: 2\r\nTransfer-Encoding: identity\r\n\r\n{}" -> 411)
    withServer(service()._1) { server =>
      for ((request, status) <- cases) withConnection(server) { c =>
        c.send(request)
        val r = c.reply()
        assert(r.status == status, s"${request.take(60)} -> $r")
        assert(r.body.startsWith("{\"error\":"), r)
        assert(r.headers("Connection") == "close" && c.closedByServer, request.take(60))
      }
      // agreeing duplicate lengths are one length
      withConnection(server) { c =>
        c.send("GET /healthz HTTP/1.1\r\nContent-Length: 2\r\nContent-Length: 2\r\n\r\n{}")
        assert(c.reply().status == 200)
      }
      assert(eventually(serverThreads(server, "conn").isEmpty))
    }
  }

  test("a declared length over the cap is answered 413 at once, before any body byte") {
    withServer(service()._1) { server =>
      for (expect <- Seq("", "Expect: 100-continue\r\n")) withConnection(server) { c =>
        val start = System.nanoTime()
        c.send(s"POST /encrypt HTTP/1.1\r\n${expect}Content-Length: " +
          s"${HttpProtectionServer.MaxBodyBytes + 1L}\r\n\r\n")
        val r = c.reply()
        val millis = (System.nanoTime() - start) / 1000000
        assert(r.status == 413 && r.body.contains("limit"), r)
        assert(millis < 1000, s"413 took $millis ms")
        assert(c.closedByServer)
      }
    }
  }

  test("a transport that throws answers 500 and the server keeps serving") {
    val throwing = new ProtectionTransport {
      override def get(e: String, h: Map[String, String]): TransportResponse =
        if (e == "/boom") throw new IllegalStateException("boom") else TransportResponse(200, "OK")
      override def post(e: String, b: String, h: Map[String, String]): TransportResponse =
        throw new IllegalStateException("boom")
    }
    withServer(throwing) { server =>
      withConnection(server) { c =>
        c.send("GET /boom HTTP/1.1\r\n\r\n")
        val r = c.reply()
        assert(r.status == 500 && r.body.contains("boom"), r)
        assert(c.closedByServer)
      }
      withConnection(server) { c =>
        c.send("GET /healthz HTTP/1.1\r\n\r\n")
        assert(c.reply().body == "OK")
      }
    }
  }

  test("a client that closes mid-body leaves no connection thread behind") {
    withServer(service()._1) { server =>
      withConnection(server) { c =>
        c.send("POST /encrypt HTTP/1.1\r\nContent-Length: 100\r\n\r\n{\"partial\":")
      }
      assert(eventually(serverThreads(server, "conn").isEmpty), serverThreads(server))
      withConnection(server) { c =>
        c.send("GET /healthz HTTP/1.1\r\n\r\n")
        assert(c.reply().body == "OK")
      }
    }
  }

  test("header names are normalised as before: lower-case authorization authenticates") {
    val (svc, store) = service()
    val token = store.processTokenRequest(
      """{"client_id":"graft","api_key":"graft-api-key"}""").token.get
    withServer(svc) { server =>
      withConnection(server) { c =>
        c.send(s"GET /statusz HTTP/1.1\r\nauthorization: Bearer $token\r\n\r\n")
        val r = c.reply()
        assert(r.status == 200 && r.body.contains("enable_credential_check"), r)
        c.send("GET /statusz HTTP/1.1\r\n\r\n")
        assert(c.reply().status == 401)
      }
    }
    val recording = new Recording
    withServer(recording) { server =>
      withConnection(server) { c =>
        c.send("GET /healthz?probe=1 HTTP/1.1\r\nx-TRACE: a\r\nX-Trace:  b \r\n\r\n")
        val r = c.reply()
        assert(r.status == 200 && r.headers("Content-Type") == "text/plain")
        val (method, path, headers) = recording.seen
        assert(method == "GET" && path == "/healthz")
        assert(headers("X-trace") == "a,b", headers)
        c.send("POST /encrypt HTTP/1.1\r\nContent-Length: 2\r\n\r\n{}")
        assert(c.reply().headers("Content-Type") == "application/json")
        c.send("PUT /encrypt HTTP/1.1\r\nContent-Length: 2\r\n\r\n{}")
        val put = c.reply()
        assert(put.status == 405 && put.body == """{"error":"method PUT not allowed"}""", put)
      }
    }
  }

  test("Expect: 100-continue gets an interim 100 before the body is sent") {
    withServer(service()._1) { server =>
      withConnection(server) { c =>
        val body = """{"client_id":"graft","api_key":"graft-api-key"}"""
        c.send("POST /token HTTP/1.1\r\nExpect: 100-continue\r\n" +
          s"Content-Length: ${body.length}\r\n\r\n")
        val interim = c.reply()
        assert(interim.status == 100, interim)
        c.send(body)
        val r = c.reply()
        assert(r.status == 200 && r.body.contains("token"), r)
      }
    }
  }

  test("Connection: close and HTTP/1.0 without keep-alive close after the reply") {
    withServer(service()._1) { server =>
      for (head <- Seq("GET /healthz HTTP/1.1\r\nConnection: close\r\n\r\n",
          "GET /healthz HTTP/1.0\r\n\r\n")) withConnection(server) { c =>
        c.send(head)
        assert(c.reply().body == "OK")
        assert(c.closedByServer, head)
      }
      withConnection(server) { c =>
        for (_ <- 1 to 3) {
          c.send("GET /healthz HTTP/1.0\r\nConnection: keep-alive\r\n\r\n")
          assert(c.reply().body == "OK")
        }
      }
    }
  }

  test("200 sequential requests over the pooled client use one connection") {
    withServer(service()._1) { server =>
      val transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
      try {
        for (i <- 1 to 200) {
          val r = if (i % 2 == 0) transport.get("/healthz", Map.empty)
            else transport.post("/token", """{"client_id":"graft","api_key":"graft-api-key"}""",
              Map.empty)
          assert(r.status == 200, s"request $i: $r")
        }
        assert(transport.connectionsCreated == 1, transport.connectionsCreated)
      } finally transport.shutdown()
    }
  }

  test("the connection over the cap gets 503; a freed slot is served again") {
    withServer(service()._1) { server =>
      val open =
        (1 to HttpProtectionServer.MaxConnections).map(_ => new Connection(server.boundPort))
      try {
        for (c <- open) {
          c.send("GET /healthz HTTP/1.1\r\n\r\n")
          assert(c.reply().body == "OK")
        }
        withConnection(server) { extra =>
          val r = extra.reply()
          assert(r.status == 503 && r.body.startsWith("{\"error\":"), r)
          assert(extra.closedByServer)
        }
        open.head.close()
        assert(eventually(withConnection(server) { c =>
          c.send("GET /healthz HTTP/1.1\r\n\r\n")
          c.reply().status == 200
        }))
      } finally open.foreach(_.close())
    }
  }

  test("stop() closes open connections and leaves no server thread alive") {
    val server = new HttpProtectionServer(service()._1).start()
    val conns = (1 to 3).map(_ => new Connection(server.boundPort))
    try {
      conns.foreach { c => c.send("GET /healthz HTTP/1.1\r\n\r\n"); assert(c.reply().body == "OK") }
      assert(serverThreads(server).size == 4) // the acceptor and three connection loops
      server.stop()
      assert(serverThreads(server).isEmpty, serverThreads(server))
      assert(conns.forall(_.closedByServer))
    } finally conns.foreach(_.close())
  }
}

object HttpServerSpec {

  final case class Reply(status: Int, headers: Map[String, String], body: String)

  /** One raw loopback connection with a 5 s read timeout. */
  final class Connection(port: Int) {
    private val socket = new Socket(InetAddress.getLoopbackAddress, port)
    socket.setSoTimeout(5000)
    private val in: InputStream = new BufferedInputStream(socket.getInputStream)
    private val out: OutputStream = socket.getOutputStream

    def send(s: String): Unit = { out.write(s.getBytes(ISO_8859_1)); out.flush() }

    def reply(): Reply = {
      val status = HttpFraming.readLine(in).split(" ")(1).toInt
      val headers = HttpFraming.readHeaders(in)
      val body = HttpFraming.readBody(in, HttpFraming.contentLength(headers))
      Reply(status, headers.toMap, new String(body, UTF_8))
    }

    /** Whether the server closed its end: the next read sees end of stream. */
    def closedByServer: Boolean = in.read() == -1

    def close(): Unit = socket.close()
  }
}
