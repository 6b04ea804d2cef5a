package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** The pluggable MQTT client seam.
  *
  * The Spark side of ingest ([[MqttSimSource]]) reads an append-only local
  * log; what FEEDS that log in production is a network MQTT client. This
  * file is that client's contract, shaped after the reference connector
  * (`/root/reference/src/classes/mqtt_classes.py:298-324`: username/password
  * auth, TLS with `CERT_NONE` + insecure mode, connect returning a
  * paho-style return code) and its seven lifecycle callbacks
  * (`mqtt_classes.py:124-185`: on_connect / on_disconnect / on_message /
  * on_subscribe / on_unsubscribe / on_socket_open / on_socket_close).
  *
  * The shipped transport is [[MqttSocketClient]]: MQTT 3.1.1 over a
  * real TCP (or TLS) socket, driven end to end against [[LoopbackBroker]]
  * by `MqttSocketClientSpec`. Another client library (paho-java, HiveMQ
  * client, …) would implement [[MqttClient]] and nothing else changes:
  * the callbacks bridge into the ingest log and Spark's offsets/
  * checkpointing stay exactly as they are.
  */
object MqttReturnCode {
  /** paho-style connack codes — reference `mqtt_classes.py:160-168`. */
  val Accepted = 0
  val BadProtocol = 1
  val BadClientId = 2
  val ServerUnavailable = 3
  val BadCredentials = 4
  val NotAuthorized = 5

  val table: Map[Int, String] = Map(
    Accepted -> "Connection successful",
    BadProtocol -> "Connection refused - incorrect protocol version",
    BadClientId -> "Connection refused - invalid client identifier",
    ServerUnavailable -> "Connection refused - server unavailable",
    BadCredentials -> "Connection refused - bad username or password",
    NotAuthorized -> "Connection refused - not authorized")

  def describe(rc: Int): String = table.getOrElse(rc, s"Unknown return code $rc")
}

/** Connection settings — the reference drives these from `SecretStore`
  * (`username_pw_set` + `tls_set(cert_reqs=CERT_NONE)` + `tls_insecure_set`,
  * `mqtt_classes.py:304-320`). */
final case class MqttConnectConfig(
    host: String,
    port: Int,
    username: String,
    password: String,
    useTls: Boolean = true,
    tlsInsecure: Boolean = true,
    keepAliveSecs: Int = 60)

/** The seven reference lifecycle callbacks. All default to no-ops so an
  * implementation overrides only what it observes. */
trait MqttCallbacks {
  def onConnect(rc: Int): Unit = ()
  def onDisconnect(rc: Int): Unit = ()
  def onMessage(topic: String, payload: Array[Byte], arrivalMicros: Long): Unit = ()
  def onSubscribe(topic: String, grantedQos: Int): Unit = ()
  def onUnsubscribe(topic: String): Unit = ()
  def onSocketOpen(): Unit = ()
  def onSocketClose(): Unit = ()
}

/** Minimal client surface the ingest pipeline needs; `connect` returns a
  * [[MqttReturnCode]] and fires the callbacks like paho does. */
trait MqttClient {
  def connect(cfg: MqttConnectConfig, callbacks: MqttCallbacks): Int
  def subscribe(topic: String, qos: Int = 0): Unit
  def unsubscribe(topic: String): Unit
  def disconnect(): Unit
  def isConnected: Boolean

  /** Retrying connect — the reference exits the program on connect failure
    * and relies on paho's reconnect loop afterwards; a long-running Spark
    * ingest wants bounded retry with backoff at startup too. */
  def connectWithRetry(
      cfg: MqttConnectConfig,
      callbacks: MqttCallbacks,
      maxRetries: Int,
      backoffMs: Long = 10L): Int = {
    var rc = connect(cfg, callbacks)
    var attempt = 1
    while (rc != MqttReturnCode.Accepted && attempt < maxRetries) {
      Thread.sleep(backoffMs * attempt) // linear backoff, bounded by maxRetries
      rc = connect(cfg, callbacks)
      attempt += 1
    }
    rc
  }
}

/** The production wiring of the seam, mirroring the reference's
  * `MqttConnector` (`mqtt_classes.py:298-324`): on_connect subscribes to
  * the configured topic; on_message appends into the local ingest log
  * that [[MqttSimSource]] serves to Spark; every lifecycle event is
  * recorded in an [[MqttEventLog]] (the reference logs each callback —
  * S2's observability surface). */
final class IngestBridge(
    client: MqttClient,
    ingestLog: String,
    topic: String,
    val events: MqttEventLog = new MqttEventLog)
    extends MqttCallbacks {

  override def onConnect(rc: Int): Unit = {
    events.add("connect", rc, MqttReturnCode.describe(rc))
    if (rc == MqttReturnCode.Accepted) client.subscribe(topic)
  }
  override def onDisconnect(rc: Int): Unit = events.add("disconnect", rc)
  override def onMessage(topic: String, payload: Array[Byte], arrivalMicros: Long): Unit = {
    events.add("message", 0, topic)
    MqttSimBroker.publish(ingestLog, topic, payload, arrivalMicros)
  }
  override def onSubscribe(topic: String, grantedQos: Int): Unit =
    events.add("subscribe", grantedQos, topic)
  override def onUnsubscribe(topic: String): Unit = events.add("unsubscribe", 0, topic)
  override def onSocketOpen(): Unit = events.add("socket_open", 0)
  override def onSocketClose(): Unit = events.add("socket_close", 0)
}

/** Append-only record of client lifecycle events — what the reference
  * writes to its rotating log, queryable by specs and ops tooling. */
final class MqttEventLog {
  final case class Event(kind: String, code: Int, detail: String)
  private val q = new ConcurrentLinkedQueue[Event]()
  def add(kind: String, code: Int, detail: String = ""): Unit = q.add(Event(kind, code, detail))
  def all: Seq[Event] = q.asScala.toSeq
  def kinds: Seq[String] = all.map(_.kind)
  def count(kind: String): Int = all.count(_.kind == kind)
}
