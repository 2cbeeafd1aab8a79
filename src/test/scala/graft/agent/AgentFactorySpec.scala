package graft.agent

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

import graft.service.{ClientCredentialStore, HttpProtectionServer, ProtectionService}

/** ServiceLoader discovery — the dlopen-analog of the reference's C-ABI
  * `create_new_instance()` wrappers.
  */
class AgentFactorySpec extends AnyFunSuite {

  private def providers: Map[String, ProtectionAgentProvider] =
    java.util.ServiceLoader.load(classOf[ProtectionAgentProvider])
      .iterator().asScala.map(p => p.kind -> p).toMap

  private def withServer[A](f: HttpProtectionServer => A): A = {
    val store = new ClientCredentialStore("spec-jwt-secret")
    store.init(Map("graft" -> "graft-api-key"))
    val server = new HttpProtectionServer(new ProtectionService(store)).start()
    try f(server) finally server.stop()
  }

  test("ServiceLoader discovers both shared-lib wrapper analogs") {
    assert(providers.keySet == Set("local", "remote"))
  }

  test("local provider creates a working agent from string-only config") {
    val agent = providers("local").create(Map(
      "key_id" -> "spi-key", "column_name" -> "email",
      "data_type" -> "string", "codec" -> "aes_det"))
    val values = Seq("a@b.c", null, "", "café 🚀")
    assert(agent.decrypt(agent.encrypt(values)) == values)
  }

  test("remote provider round-trips over loopback HTTP") {
    withServer { server =>
      val agent = providers("remote").create(Map(
        "key_id" -> "spi-key", "column_name" -> "email",
        "data_type" -> "bigint", "port" -> server.boundPort.toString,
        "api_key" -> "graft-api-key",
        "app_context" -> """{"user_id":"user-7"}"""))
      val values = Seq(42L, null, -7L)
      assert(agent.decrypt(agent.encrypt(values)) == values)
    }
  }
}
