package graft.streaming

import java.io.{DataInputStream, DataOutputStream, EOFException, IOException}
import java.net.{InetSocketAddress, Socket}
import java.security.cert.X509Certificate
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import javax.net.ssl.{SSLContext, SSLSocketFactory, TrustManager, X509TrustManager}
import scala.jdk.CollectionConverters._

/** [[MqttClient]] over a REAL TCP socket — the transport the seam existed
  * for. Speaks MQTT 3.1.1 via [[MqttWire]] — the QoS-0 subscribe subset
  * the reference exercises plus QoS-1 inbound (PUBACK + DUP-redelivery
  * dedup) and QoS-2 inbound (the PUBREC/PUBREL/PUBCOMP exactly-once
  * handshake, see the reader); semantics mirror the reference connector
  * (`/root/reference/src/classes/mqtt_classes.py:298-324`):
  *
  *   - `connect` opens the socket (TLS when `useTls`; `tlsInsecure`
  *     installs a trust-all manager, the CERT_NONE + `tls_insecure_set`
  *     analogue), sends CONNECT with username/password, and returns the
  *     broker's CONNACK return code — the same paho code table
  *     [[MqttReturnCode]] describes. An unreachable or refusing host maps
  *     to `ServerUnavailable`, like paho surfacing a socket error.
  *   - on CONNACK 0 a reader thread starts: inbound PUBLISH packets fire
  *     `onMessage` (arrival stamped at receipt), PINGREQ is answered, and
  *     an unexpected socket close fires socket-close + a non-zero
  *     `onDisconnect` — the callback order the reference logs.
  *   - `subscribe`/`unsubscribe` send the packets and fire their
  *     callbacks on SUBACK/UNSUBACK (handled by the reader thread).
  *
  * `reconnect()` re-runs the stored handshake, and the inherited
  * `connectWithRetry` gives bounded-backoff startup — together the
  * paho-reconnect-loop equivalent. */
final class MqttSocketClient(clientId: String = "graft-ingest") extends MqttClient {

  @volatile private var cfg: MqttConnectConfig = _
  @volatile private var callbacks: MqttCallbacks = new MqttCallbacks {}
  @volatile private var socket: Socket = _
  @volatile private var out: DataOutputStream = _
  @volatile private var connected = false
  @volatile private var closing = false
  private val subs = new ConcurrentLinkedQueue[String]()
  private val packetIds = new AtomicInteger(1)
  // outbound-publish in-flight state, keyed by packet id: `pubDone` holds
  // pids whose flow completed (PUBACK at QoS 1, PUBCOMP at QoS 2),
  // `pubRecd` pids whose PUBREC arrived but whose PUBCOMP is pending —
  // the state that decides whether a resend is PUBLISH+DUP (leg 1 lost)
  // or PUBREL (leg 2/3 lost). The reader thread populates both and
  // notifies `pubSignal`; [[publish]] blocks on it. `pubInFlight` gates
  // the reader's writes: a LATE ack arriving after a timed-out publish
  // already cleaned up must not re-insert its pid — 65536 publishes
  // later the counter wraps to the same pid, and a stale `pubRecd`
  // entry would make the new message's first attempt a bare PUBREL
  // (never transmitting the payload) while a stale `pubDone` entry
  // would report success without any ack.
  private val pubDone = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private val pubRecd = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private val pubInFlight = java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  private val pubSignal = new Object

  /** Outbound-ladder state cardinality, exposed for the late-ack spec:
    * must return to 0 after every publish completes OR times out, even
    * when the ack arrives late — a nonzero residue is exactly the
    * pid-wrap poison the in-flight gate exists to prevent. */
  private[streaming] def outboundStateSize: Int =
    pubInFlight.size + pubDone.size + pubRecd.size

  /** Reader-side ack bookkeeping, ATOMIC with [[publish]]'s cleanup:
    * gate check and state insert run under `pubSignal`, the same monitor
    * the finally block holds while clearing the pid — so a late ack can
    * never observe the gate just before cleanup and insert just after
    * (the check-then-act window that would leave a stale `pubDone`/
    * `pubRecd` entry to poison the pid's next life after the 16-bit
    * wrap). `complete` marks the flow done (PUBACK / PUBCOMP); false
    * records leg-2 progress (PUBREC). Package-private so the race spec
    * can drive the exact interleaving deterministically. */
  private[streaming] def recordAck(pid: Int, complete: Boolean): Unit =
    pubSignal.synchronized {
      if (pubInFlight.contains(pid)) {
        if (complete) { pubRecd.remove(pid); pubDone.add(pid) }
        else pubRecd.add(pid)
      }
      pubSignal.notifyAll()
    }

  /** Arm a pid's in-flight gate — what [[publish]] does before its first
    * transmission. Package-private so the race spec can reproduce the
    * publish/reader interleaving without a socket in the loop. */
  private[streaming] def armOutbound(pid: Int): Unit =
    pubSignal.synchronized { pubInFlight.add(pid); () }

  /** Clear a pid's outbound state after its publish completed or timed
    * out — the other half of the [[recordAck]] atomicity contract. */
  private[streaming] def clearOutbound(pid: Int): Unit =
    pubSignal.synchronized {
      pubInFlight.remove(pid)
      pubDone.remove(pid)
      pubRecd.remove(pid)
    }

  /** Next packet id, skipping 0 on wrap: MQTT 3.1.1 (MQTT-2.3.1-1)
    * requires a NONZERO packet id on every QoS>0 PUBLISH / SUBSCRIBE. */
  private def nextPid(): Int = {
    var p = packetIds.getAndIncrement() & 0xffff
    while (p == 0) p = packetIds.getAndIncrement() & 0xffff
    p
  }

  override def isConnected: Boolean = connected

  private val HandshakeTimeoutMs = 2000

  /** Serializes packet writes: the reader thread (PUBACK/PUBREC/PUBCOMP/
    * PINGRESP) and caller threads (subscribe/unsubscribe/disconnect)
    * share one stream; interleaved bytes would corrupt the wire. */
  private def send(o: DataOutputStream, header: Int, body: Array[Byte]): Unit =
    o.synchronized { MqttWire.write(o, header, body) }

  private def trustAllFactory: SSLSocketFactory = {
    val ctx = SSLContext.getInstance("TLS")
    ctx.init(null, Array[TrustManager](new X509TrustManager {
      override def checkClientTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def checkServerTrusted(c: Array[X509Certificate], a: String): Unit = ()
      override def getAcceptedIssuers: Array[X509Certificate] = Array.empty
    }), null)
    ctx.getSocketFactory
  }

  override def connect(cfg: MqttConnectConfig, callbacks: MqttCallbacks): Int = {
    this.cfg = cfg
    this.callbacks = callbacks
    closing = false
    val plain = new Socket()
    var opened = false
    val rc =
      try {
        plain.connect(new InetSocketAddress(cfg.host, cfg.port), HandshakeTimeoutMs)
        // the same deadline bounds the TLS handshake and the CONNACK read:
        // a broker that accepts and never answers maps to rc=3 instead of
        // blocking connect (and connectWithRetry) forever
        plain.setSoTimeout(HandshakeTimeoutMs)
        val s =
          if (!cfg.useTls) plain
          else {
            val f = if (cfg.tlsInsecure) trustAllFactory
              else SSLContext.getDefault.getSocketFactory
            f.asInstanceOf[SSLSocketFactory]
              .createSocket(plain, cfg.host, cfg.port, true)
          }
        callbacks.onSocketOpen()
        opened = true
        val o = new DataOutputStream(s.getOutputStream)
        val in = new DataInputStream(s.getInputStream)
        MqttWire.write(o, MqttWire.CONNECT, MqttWire.connectBody(clientId, cfg))
        val ack = MqttWire.read(in)
        val code =
          if (ack.packetType != MqttWire.CONNACK || ack.body.length < 2)
            MqttReturnCode.ServerUnavailable
          else ack.body(1) & 0xff
        if (code == MqttReturnCode.Accepted) {
          s.setSoTimeout(0) // idle sessions block in the reader
          socket = s; out = o
          connected = true
          startReader(in, s, o)
        } else {
          s.close()
          callbacks.onSocketClose()
        }
        code
      } catch {
        case _: IOException =>
          // connection refused / reset or timed out mid-handshake: paho
          // raises a socket error the reference maps to "server unavailable"
          try plain.close() catch { case _: IOException => () }
          if (opened) callbacks.onSocketClose()
          MqttReturnCode.ServerUnavailable
      }
    callbacks.onConnect(rc)
    rc
  }

  /** Reader bound to ITS socket generation: after a drop + `reconnect()`,
    * the old reader's dying IOException must not clobber the new
    * connection's state or fire spurious callbacks — it only acts while
    * its own socket is still the current one. */
  private def startReader(in: DataInputStream, mySocket: Socket, myOut: DataOutputStream): Unit = {
    val t = new Thread(() => {
      // QoS-1 redelivery dedup, scoped to THIS connection (clean-session
      // CONNECT resets broker state, so ids never survive a reconnect):
      // ids this client has already PUBACKed, bounded FIFO — a DUP
      // redelivery of an acked id means our PUBACK was lost in flight,
      // and at-least-once becomes effectively-once by dropping it (the
      // ack is still re-sent so the broker stops retrying)
      val acked = new java.util.LinkedHashSet[Int]()
      val ackedCap = 4096
      // QoS-2 receiver state (spec §4.3.3, deliver-on-PUBLISH method):
      // pids delivered + PUBREC'd but not yet PUBREL'd. A re-sent PUBLISH
      // for an in-flight pid re-arms the PUBREC but must NOT re-deliver —
      // that is the exactly-once guarantee; PUBREL completes the flow
      // (PUBCOMP) and releases the pid for reuse by a future message.
      val unreleased = new java.util.HashSet[Int]()
      try {
        while (connected && (socket eq mySocket)) {
          val p = MqttWire.read(in)
          p.packetType match {
            case MqttWire.PUBLISH =>
              val s = new DataInputStream(new java.io.ByteArrayInputStream(p.body))
              val topic = MqttWire.readStr(s)
              // QoS 0 carries no packet id; QoS 1+ has a 2-byte id next
              val qos = p.publishQos
              val pid = if (qos > 0) s.readUnsignedShort() else 0
              val payload = new Array[Byte](s.available())
              s.readFully(payload)
              val duplicate =
                if (qos == 2) unreleased.contains(pid)
                else qos == 1 && p.publishDup && acked.contains(pid)
              if (qos == 1) {
                send(myOut, MqttWire.PUBACK, MqttWire.packetId(pid))
                acked.remove(pid) // re-insert → refresh FIFO position
                acked.add(pid)
                if (acked.size > ackedCap) {
                  val it = acked.iterator(); it.next(); it.remove()
                }
              } else if (qos == 2) {
                unreleased.add(pid)
                send(myOut, MqttWire.PUBREC, MqttWire.packetId(pid))
              }
              if (!duplicate)
                callbacks.onMessage(topic, payload, System.currentTimeMillis() * 1000L)
            case MqttWire.PUBREL_TYPE =>
              val s = new DataInputStream(new java.io.ByteArrayInputStream(p.body))
              val pid = s.readUnsignedShort()
              unreleased.remove(pid)
              // PUBCOMP answers EVERY PUBREL, including a retransmitted
              // one whose pid we already released (spec §4.3.3)
              send(myOut, MqttWire.PUBCOMP, MqttWire.packetId(pid))
            // ---- outbound-publish acks (this client as SENDER) ----
            // state writes are gated on pubInFlight INSIDE pubSignal:
            // late acks for a timed-out (already cleaned-up) pid must
            // not re-insert it, and the gate check + insert must be one
            // atomic step against publish()'s cleanup — a bare
            // check-then-act could read the gate just before cleanup
            // removes it and write the stale entry just after
            case MqttWire.PUBACK =>
              val s = new DataInputStream(new java.io.ByteArrayInputStream(p.body))
              recordAck(s.readUnsignedShort(), complete = true)
            case MqttWire.PUBREC =>
              // QoS-2 sender leg 2→3: every PUBREC (including a
              // retransmission, or a late one for a timed-out pid) is
              // answered with PUBREL (spec §4.3.3) so the receiver can
              // release its state — but only a live pid records it
              val s = new DataInputStream(new java.io.ByteArrayInputStream(p.body))
              val pid = s.readUnsignedShort()
              recordAck(pid, complete = false)
              send(myOut, MqttWire.PUBREL, MqttWire.packetId(pid))
            case MqttWire.PUBCOMP =>
              val s = new DataInputStream(new java.io.ByteArrayInputStream(p.body))
              recordAck(s.readUnsignedShort(), complete = true)
            case MqttWire.SUBACK =>
              val qos = if (p.body.length >= 3) p.body(2).toInt else 0
              callbacks.onSubscribe(subs.asScala.lastOption.getOrElse(""), qos)
            case MqttWire.UNSUBACK =>
              callbacks.onUnsubscribe("")
            case MqttWire.PINGREQ =>
              send(myOut, MqttWire.PINGRESP, Array.emptyByteArray)
            case _ => ()
          }
        }
      } catch {
        case _: EOFException | _: IOException =>
          // socket died under us (broker drop, network blip) — only an
          // UNEXPECTED close of the CURRENT socket is a non-zero
          // disconnect; `disconnect()` has already fired its callbacks
          // when `closing` is set, and a superseded reader stays silent
          if (connected && !closing && (socket eq mySocket)) {
            connected = false
            callbacks.onSocketClose()
            callbacks.onDisconnect(MqttReturnCode.ServerUnavailable)
          }
      }
    }, s"mqtt-reader-$clientId")
    t.setDaemon(true)
    t.start()
  }

  /** Outbound publish at QoS 0/1/2 — the SENDER half of the ladder the
    * reader's receiver half mirrors, so the demo pipeline
    * (SolarSynth → broker) can be exactly-once end to end instead of
    * QoS-0 fire-and-forget. QoS 0 returns immediately; QoS 1 blocks for
    * PUBACK, re-sending PUBLISH+DUP on timeout (at-least-once); QoS 2
    * runs the four-leg flow — PUBLISH → PUBREC → PUBREL → PUBCOMP —
    * where a timeout resend is PUBLISH+DUP while leg 1 is unconfirmed
    * but PUBREL once PUBREC arrived (re-publishing after PUBREC could
    * make a compliant receiver deliver twice; spec §4.3.3). The reader
    * answers PUBREC with PUBREL automatically, so this method only waits
    * for the completion mark and drives timeouts.
    *
    * @return true when the flow completed (always, for QoS 0); false on
    *         timeout after `maxResends` retransmissions or disconnect. */
  def publish(
      topic: String,
      payload: Array[Byte],
      qos: Int = 0,
      ackTimeoutMs: Long = 1000,
      maxResends: Int = 2,
      retain: Boolean = false): Boolean = {
    if (!connected) return false
    // RETAIN (spec §3.3.1.3) rides the PUBLISH fixed header's bit 0 on
    // every transmission of the flow, including DUP re-sends
    val rBit = if (retain) 0x01 else 0
    if (qos == 0) {
      send(out, MqttWire.PUBLISH | rBit, MqttWire.str(topic) ++ payload)
      return true
    }
    val pid = nextPid()
    armOutbound(pid)
    val body = MqttWire.str(topic) ++ MqttWire.packetId(pid) ++ payload
    def await(deadline: Long): Boolean = {
      pubSignal.synchronized {
        while (!pubDone.contains(pid) && System.nanoTime() < deadline && connected)
          pubSignal.wait(20)
      }
      pubDone.contains(pid)
    }
    var attempt = 0
    var ok = false
    try {
      while (!ok && attempt <= maxResends && connected) {
        val dup = if (attempt > 0) 0x08 else 0
        if (qos == 2 && pubRecd.contains(pid))
          send(out, MqttWire.PUBREL, MqttWire.packetId(pid)) // legs 1-2 done; PUBCOMP lost
        else
          send(out, MqttWire.PUBLISH | (qos << 1) | dup | rBit, body)
        ok = await(System.nanoTime() + ackTimeoutMs * 1000000L)
        attempt += 1
      }
      ok
    } finally {
      // atomic with recordAck (shared pubSignal monitor): a late ack
      // can no longer slip between the gate check and its state write
      clearOutbound(pid)
    }
  }

  override def subscribe(topic: String, qos: Int): Unit = if (connected) {
    subs.add(topic)
    val id = nextPid()
    val body = Array[Byte](((id >> 8) & 0xff).toByte, (id & 0xff).toByte) ++
      MqttWire.str(topic) :+ qos.toByte
    send(out, MqttWire.SUBSCRIBE, body)
  }

  override def unsubscribe(topic: String): Unit = if (connected) {
    subs.remove(topic)
    val id = nextPid()
    send(out, MqttWire.UNSUBSCRIBE,
      Array[Byte](((id >> 8) & 0xff).toByte, (id & 0xff).toByte) ++ MqttWire.str(topic))
  }

  override def disconnect(): Unit = if (connected) {
    closing = true
    connected = false
    try {
      send(out, MqttWire.DISCONNECT, Array.emptyByteArray)
      socket.close()
    } catch { case _: IOException => () }
    callbacks.onSocketClose()
    callbacks.onDisconnect(MqttReturnCode.Accepted)
  }

  /** Re-run the handshake with the stored config (paho `reconnect()`);
    * the ingest bridge re-subscribes from its on_connect, like the
    * reference. */
  def reconnect(): Int = connect(cfg, callbacks)
}
