package perfbench

import scala.collection.mutable

import java.nio.ByteBuffer
import java.nio.ByteOrder
import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.agent._
import graft.core.{CryptoCodec, PageCodec}
import graft.service.{ClientCredentialStore, HttpProtectionServer, ProtectionService}

/** One BYTE_ARRAY page in one of the reference grid's shapes. */
final case class Page(size: String, compression: String, payload: Array[Byte],
    attrs: Map[String, String], values: Int)

/** Server-side wrapper: times the handler and counts token fetches and 401s. */
final class TimedService(inner: ProtectionTransport, tracer: Tracer) extends ProtectionTransport {
  val tokenFetches = new AtomicLong
  val unauthorized = new AtomicLong
  override def get(endpoint: String, headers: Map[String, String]): TransportResponse =
    inner.get(endpoint, headers)
  override def post(endpoint: String, body: String,
      headers: Map[String, String]): TransportResponse = {
    if (endpoint == "/token") tokenFetches.incrementAndGet()
    val r =
      if (endpoint == "/encrypt" || endpoint == "/decrypt")
        tracer.span("service.handle")(inner.post(endpoint, body, headers))
      else inner.post(endpoint, body, headers)
    if (r.status == 401) unauthorized.incrementAndGet()
    r
  }
}

/** Client-side wrapper around the shared transport: times each post and
  * counts the page-request bytes on the wire. */
final class TimedClient(inner: ProtectionTransport, tracer: Tracer) extends ProtectionTransport {
  val requestBytes = new AtomicLong
  val responseBytes = new AtomicLong
  override def get(endpoint: String, headers: Map[String, String]): TransportResponse =
    inner.get(endpoint, headers)
  override def post(endpoint: String, body: String,
      headers: Map[String, String]): TransportResponse =
    if (endpoint == "/encrypt" || endpoint == "/decrypt") {
      val r = tracer.span("http.post")(inner.post(endpoint, body, headers))
      requestBytes.addAndGet(body.getBytes(UTF_8).length)
      responseBytes.addAndGet(r.body.getBytes(UTF_8).length)
      r
    } else tracer.span("http.post_other")(inner.post(endpoint, body, headers))
}

/** Closed loop: 2 client threads, each with remote page agents over one
  * shared pooled transport, against the HTTP protection service on loopback.
  * One op is an encryptPage followed by a decryptPage of the same page. */
final class ServicePages(env: Env) extends Workload {
  import Workload._
  import ServicePages._

  val name = "service_pages"
  private val pool = Executors.newFixedThreadPool(Clients)
  private val pages = buildPages(env.seed)

  private var server: HttpProtectionServer = _
  private var transport: HttpPooledTransport = _
  private var timedService: Option[TimedService] = None
  private var timedClient: Option[TimedClient] = None
  // one agent per client thread
  private var agents: IndexedSeq[RemoteProtectionAgent] = _
  // start time and wire and service counters of the latest traced round
  private var roundStart: (Long, Seq[Long]) = _
  // (page, remote ciphertext) pairs kept for the local-parity check
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Page, EncryptedBatch)]

  private def stop(): Unit = {
    Option(transport).foreach(_.shutdown())
    Option(server).foreach(_.stop())
  }

  def setUp(tracer: Tracer): Unit = tracer.span("service.setup") {
    stop()
    val store = new ClientCredentialStore("bench-jwt-secret")
    store.init(Map(ClientId -> ApiKey))
    val service = new ProtectionService(store)
    timedService = if (tracer.enabled) Some(new TimedService(service, tracer)) else None
    server = new HttpProtectionServer(timedService.getOrElse(service)).start()
    transport = new HttpPooledTransport("127.0.0.1", server.boundPort)
    timedClient = if (tracer.enabled) Some(new TimedClient(transport, tracer)) else None
    val wire: ProtectionTransport = timedClient.getOrElse(transport)
    agents = (0 until Clients).map { _ =>
      val a = newAgent(wire, PageCodec.Uncompressed)
      // first token: one small page through each agent
      val p = pages.head
      a.decryptPage(a.encryptPage(p.payload, p.attrs), p.attrs)
      a
    }
  }

  private def newAgent(wire: ProtectionTransport, compression: String) = {
    val a = new RemoteProtectionAgent(wire, Map("client_id" -> ClientId, "api_key" -> ApiKey))
    a.initPage(Column, AppContext, KeyId, "BYTE_ARRAY", None, compression)
    a
  }

  /** One client's round: a fixed number of pages of each size (so every
    * round and seed does the same amount of work), seeded page choice and
    * order. The same list every round. */
  private def requests(client: Int): Seq[Page] = {
    val rng = new SplittableRandom(env.seed * 1000003L + client)
    val bySize = pages.groupBy(_.size)
    val picked = PerRound.toSeq.flatMap { case (size, n) =>
      Seq.fill(n)(bySize(size)(rng.nextInt(bySize(size).size)))
    }
    picked.map(p => (rng.nextLong(), p)).sortBy(_._1).map(_._2)
  }

  def round(tracer: Tracer): Seq[Op] = {
    if (tracer.enabled) roundStart = (System.nanoTime(), counters)
    val futures = (0 until Clients).map { c =>
      pool.submit(new Callable[Seq[Op]] {
        def call(): Seq[Op] = requests(c).zipWithIndex.flatMap { case (p, i) =>
          val agent = agents(c)
          var ct: EncryptedBatch = null
          val enc = op(s"encrypt:${p.size}") {
            ct = tracer.span("agent.encryptPage")(agent.encryptPage(p.payload, p.attrs))
            true
          }
          val dec = op(s"decrypt:${p.size}") {
            ct != null && java.util.Arrays.equals(
              tracer.span("agent.decryptPage")(agent.decryptPage(ct, p.attrs)), p.payload)
          }
          if (i % SampleEvery == 0 && ct != null && samples.size < 64) samples.add((p, ct))
          Seq(enc, dec)
        }
      })
    }
    futures.flatMap(_.get())
  }

  /** Sampled remote ciphertext is byte-identical to the local page agent's. */
  override def finalChecks(): Seq[Op] = samples.asScala.toSeq.map { case (p, ct) =>
    op("local_parity") {
      java.util.Arrays.equals(localAgent(p).encryptPage(p.payload, p.attrs).payload, ct.payload)
    }
  }

  private def localAgent(p: Page) =
    LocalProtectionAgent.initPage(KeyId, Column, "BYTE_ARRAY", None, p.compression,
      CryptoCodec.Xor, UserId, AppContext)

  private def counters: Seq[Long] = Seq(timedClient.get.requestBytes.get,
    timedClient.get.responseBytes.get, transport.connectionsCreated.toLong,
    timedService.get.tokenFetches.get, timedService.get.unauthorized.get)

  def layers(tracer: Tracer, traced: Seq[Op], tracedMs: Double, bag: mutable.Map[String, Double],
      unstable: String => Unit): Seq[Op] = {
    val same = sameCount(unstable) _
    val (t0, c0) = roundStart
    // a second traced round, to check that the per-round counts repeat
    val c1 = counters
    val again = round(tracer)
    val c2 = counters
    val d1 = c1.zip(c0).map(x => (x._1 - x._2).toDouble)
    val d2 = c2.zip(c1).map(x => (x._1 - x._2).toDouble)
    // connections: the first concurrent round opens the second one, so only
    // the bytes, tokens and retries are per-round counts
    Seq(0 -> "http.request_bytes", 1 -> "http.response_bytes", 3 -> "service.new_tokens",
      4 -> "service.new_auth_retries").foreach { case (i, n) => same(n, d1(i), d2(i)) }
    val valuesPerRound = (0 until Clients).flatMap(requests).map(_.values.toDouble).sum * 2
    bag("http.request_bytes_per_value") = d1(0) / valuesPerRound
    bag("http.response_bytes_per_value") = d1(1) / valuesPerRound
    bag("http.connections_created") = c1(2).toDouble
    bag("service.token_fetches") = c1(3).toDouble
    bag("service.auth_retries") = c1(4).toDouble

    // spans of the two traced rounds: everything since the first one started
    def inRound(name: String) = tracer.named(name).filter(_.startNs >= t0).map(_.ms)
    val handler = Stats.mean(inRound("service.handle"))
    bag("agent.self_ms") = Stats.mean(
      Seq("agent.encryptPage", "agent.decryptPage").flatMap(n => tracer.selfMs(n, t0)))
    bag("http.wire_ms") = Stats.mean(inRound("http.post")) - handler
    bag("service.handler_ms") = handler
    val localMs = (0 until Clients).flatMap(requests).map { p =>
      val a = localAgent(p)
      timed(tracer.span("agent.local_encryptPage")(a.encryptPage(p.payload, p.attrs)))._2
    }
    bag("agent.local_page_ms") = Stats.mean(localMs)
    Seq("small", "medium", "large").foreach { s =>
      bag(s"service.p50_ms.$s") = Stats.median(traced.filter(_.kind.endsWith(s":$s")).map(_.ms))
    }
    bag("service.requests_per_s") = traced.size / (tracedMs / 1e3)
    Seq("encrypt", "decrypt").foreach { k =>
      val ms = traced.filter(_.kind.startsWith(k)).map(_.ms)
      bag(s"service.${k}_p50_ms") = Stats.median(ms)
      bag(s"service.${k}_tail_ms") = Stats.tail(ms)._1
    }
    bag("service.snappy_remote_failures") = snappyProbe(timedClient.get)
    again
  }

  /** Known defect at the time the benchmark was defined: the remote agent's
    * decrypt field-match expects the response to echo UNCOMPRESSED, but the
    * service echoes the page compression, so every SNAPPY page fails on
    * decryptPage. The workload's page mix is therefore uncompressed; this
    * probe sends each snappy shape once and counts the round trips that fail,
    * so the defect stays visible until it is fixed. */
  private def snappyProbe(wire: ProtectionTransport): Double = {
    val agent = newAgent(wire, PageCodec.Snappy)
    snappyPages(env.seed).count { p =>
      try !java.util.Arrays.equals(
        agent.decryptPage(agent.encryptPage(p.payload, p.attrs), p.attrs), p.payload)
      catch { case _: Exception => true }
    }.toDouble
  }

  override def close(): Unit = {
    stop()
    pool.shutdownNow()
    pool.awaitTermination(10, java.util.concurrent.TimeUnit.SECONDS): Unit
  }
}

object ServicePages {
  final val Clients = 2
  // ops per client per round, by page size
  private val PerRound = Map("small" -> 9, "medium" -> 5, "large" -> 2)
  final val SampleEvery = 8
  final val ClientId = "perfbench"
  final val ApiKey = "perfbench-api-key"
  final val KeyId = "bench-page-key"
  final val Column = "email"
  final val UserId = "bench-user"
  final val AppContext = s"""{"user_id": "$UserId"}"""
  private val Sizes = Seq("small" -> 100, "medium" -> 1000, "large" -> 10000)
  private val Variants = 3

  private def u32le(v: Int): Array[Byte] =
    ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN).putInt(v).array()

  private def plainValues(rng: SplittableRandom, n: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    (0 until n).foreach { _ =>
      val len = 4 + rng.nextInt(21)
      val v = Array.fill[Byte](len)(('a' + rng.nextInt(26)).toByte)
      out.write(u32le(len)); out.write(v)
    }
    out.toByteArray
  }

  private def v1Attrs(n: Int, encoding: String) = Map(
    "page_type" -> "DATA_PAGE_V1",
    "data_page_num_values" -> n.toString,
    "data_page_max_definition_level" -> "0",
    "data_page_max_repetition_level" -> "0",
    "page_v1_definition_level_encoding" -> "RLE",
    "page_v1_repetition_level_encoding" -> "RLE",
    "page_encoding" -> encoding)

  private def dictAttrs(n: Int) = Map("page_type" -> "DICTIONARY_PAGE",
    "dict_page_num_values" -> n.toString, "page_encoding" -> "PLAIN")

  private def v2Attrs(n: Int, compressed: Boolean) = Map(
    "page_type" -> "DATA_PAGE_V2",
    "data_page_num_values" -> n.toString,
    "data_page_max_definition_level" -> "0",
    "data_page_max_repetition_level" -> "0",
    "page_v2_definition_levels_byte_length" -> "0",
    "page_v2_repetition_levels_byte_length" -> "0",
    "page_v2_num_nulls" -> "0",
    "page_v2_is_compressed" -> compressed.toString,
    "page_encoding" -> "PLAIN")

  /** The seeded page pool: every shape in every size, a few variants each. */
  def buildPages(seed: Long): IndexedSeq[Page] = {
    val rng = new SplittableRandom(seed)
    val U = PageCodec.Uncompressed
    for {
      (size, n) <- Sizes.toIndexedSeq
      _ <- 0 until Variants
      shape <- Seq("v1_plain", "v2_plain", "dictionary", "v1_rle_dictionary")
    } yield shape match {
      case "v1_plain" => Page(size, U, plainValues(rng, n), v1Attrs(n, "PLAIN"), n)
      case "v2_plain" => Page(size, U, plainValues(rng, n), v2Attrs(n, false), n)
      case "dictionary" => Page(size, U, plainValues(rng, n), dictAttrs(n), n)
      case _ => // dictionary indices: opaque to the sequencer, per-block fallback
        val idx = Array.fill[Byte](n)(rng.nextInt(256).toByte)
        Page(size, U, idx, v1Attrs(n, "RLE_DICTIONARY"), n)
    }
  }

  /** V2 and dictionary pages with snappy-compressed values (see snappyProbe). */
  def snappyPages(seed: Long): Seq[Page] = {
    val rng = new SplittableRandom(seed ^ 0x5EEDL)
    val S = PageCodec.Snappy
    Seq(Page("small", S, PageCodec.compress(plainValues(rng, 100), S),
        v2Attrs(100, true), 100),
      Page("small", S, PageCodec.compress(plainValues(rng, 100), S),
        dictAttrs(100), 100))
  }
}
