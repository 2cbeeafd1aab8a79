package graft.agent

import org.apache.spark.sql.types.DataType

import graft.core.CryptoCodec

/** Common cell-batch agent surface — the JVM analog of the reference's
  * `DataBatchProtectionAgentInterface` (`dbpa_interface.h`), the type its
  * shared-library factories hand to dlopen callers.
  */
trait ProtectionAgent {
  def encrypt(values: Seq[Any]): EncryptedBatch
  def decrypt(batch: EncryptedBatch): Seq[Any]
}

/** Discovery SPI — the JVM analog of the reference's C-ABI shared-library
  * factories: each agent library exports `create_new_instance()` so a host
  * can dlopen an agent with no compile-time linkage
  * (`src/common/dbps_local_shared_lib_wrapper.cpp:25-29`, likewise
  * `dbps_remote_shared_lib_wrapper.cpp`). Here `java.util.ServiceLoader`
  * plays dlopen: providers are listed in
  * `META-INF/services/graft.agent.ProtectionAgentProvider` and constructed
  * reflectively; `create` takes string-only config — the same constraint a
  * C ABI imposes on its callers.
  */
trait ProtectionAgentProvider {
  /** Which shared-lib wrapper this mirrors: "local" or "remote". */
  def kind: String

  /** Construct a ready (initialized) agent from string config. Common keys:
    * `key_id`, `column_name`, `data_type` (Spark DDL, default "string"),
    * `codec` (default xor), `app_context`, `user_id`. Remote adds `host`,
    * `port` (required) and `client_id`/`api_key` credentials; it talks to
    * the service over an [[HttpPooledTransport]].
    */
  def create(config: Map[String, String]): ProtectionAgent
}

/** `create_new_instance()` of the LOCAL wrapper. */
final class LocalAgentProvider extends ProtectionAgentProvider {
  override def kind: String = "local"
  override def create(config: Map[String, String]): ProtectionAgent =
    LocalProtectionAgent.init(
      keyId = config("key_id"),
      columnName = config("column_name"),
      dataType = DataType.fromDDL(config.getOrElse("data_type", "string")),
      codec = config.getOrElse("codec", CryptoCodec.Xor),
      userId = config.getOrElse("user_id", ""),
      appContext = config.getOrElse("app_context", ""))
}

/** `create_new_instance()` of the REMOTE wrapper: builds the transport,
  * binds credentials, and runs the connectivity-checking `init`.
  */
final class RemoteAgentProvider extends ProtectionAgentProvider {
  override def kind: String = "remote"
  override def create(config: Map[String, String]): ProtectionAgent = {
    val host = config.getOrElse("host", "127.0.0.1")
    val port = config("port").toInt
    val transport = new HttpPooledTransport(host, port)
    val creds = Map("client_id" -> config.getOrElse("client_id", "graft")) ++
      config.get("api_key").map("api_key" -> _)
    val agent = new RemoteProtectionAgent(transport, creds)
    agent.init(config("column_name"), config.getOrElse("app_context", ""),
      config("key_id"),
      DataType.fromDDL(config.getOrElse("data_type", "string")),
      config.getOrElse("codec", CryptoCodec.Xor))
    agent
  }
}
