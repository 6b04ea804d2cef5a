package graft.streaming

import java.io.{DataInputStream, DataOutputStream, IOException}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Loopback MQTT 3.1.1 broker stub — the "other end of the socket" for
  * [[MqttSocketClient]] specs and for `SolarMain`'s socket-transport demo
  * (the container ships no broker). Plain TCP on an ephemeral 127.0.0.1
  * port; validates CONNECT credentials against the registered pair and
  * answers with the paho return-code table the reference logs (bad
  * credentials → 4, broker down → 3). The test/demo side publishes with
  * [[publish]] and severs connections with [[dropAll]] (abrupt close —
  * the network-blip path).
  */
final class LoopbackBroker(user: String, password: String) {
  // diagnostics go through the logger, not System.err (bench/demo tails
  // stay clean; log4j routing still surfaces it under test)
  private val log = org.slf4j.LoggerFactory.getLogger(classOf[LoopbackBroker])
  private val server = new ServerSocket(0, 8, java.net.InetAddress.getByName("127.0.0.1"))
  @volatile var up = true
  /** Set by [[close]]; a connection that reaches the broker after it is
    * set is not served. */
  @volatile private var closed = false
  val port: Int = server.getLocalPort

  private final class Conn(val socket: Socket) {
    val out = new DataOutputStream(socket.getOutputStream)
    /** Serializes packet writes: the serve thread (SUBACK/PUBREL/...) and
      * the test thread (publish*) share this stream — interleaved bytes
      * would corrupt the wire. */
    def send(header: Int, body: Array[Byte]): Unit =
      out.synchronized { MqttWire.write(out, header, body) }
    val subs = new ConcurrentLinkedQueue[String]()
    /** QoS-2 inbound pids delivered but not yet PUBREL'd (receiver-side
      * exactly-once state for publishes FROM this client). */
    val inboundUnreleased = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    def matches(topic: String): Boolean = subs.asScala.exists { f =>
      if (f.endsWith("/#")) topic.startsWith(f.dropRight(1)) || topic == f.dropRight(2)
      else f == topic
    }
  }

  private val conns = new ConcurrentLinkedQueue[Conn]()

  /** Retained last-known message per topic (spec §3.3.1.3): written by a
    * RETAIN publish (empty payload clears), replayed — RETAIN bit set —
    * to every subscriber whose new filter matches, however late it
    * connects. This is what keeps a device's status topic observable to
    * consumers that attach after the device last spoke. */
  private val retained = new java.util.concurrent.ConcurrentHashMap[String, Array[Byte]]()

  /** Retained-topic count, exposed for specs. */
  def retainedCount: Int = retained.size

  private val acceptor = new Thread(() => {
    try {
      while (!closed) {
        // a blocked accept() can still hand back a connection that landed
        // while close() ran: the listening socket lives until it returns
        val s = server.accept()
        if (closed) s.close()
        else {
          val t = new Thread(() => serve(s), "loopback-broker-conn")
          t.setDaemon(true)
          t.start()
        }
      }
    } catch { case _: IOException => () }
  }, "loopback-broker-accept")
  acceptor.setDaemon(true)
  acceptor.start()

  private def serve(s: Socket): Unit = {
    val in = new DataInputStream(s.getInputStream)
    val out = new DataOutputStream(s.getOutputStream)
    try {
      val connect = MqttWire.read(in)
      if (connect.packetType != MqttWire.CONNECT) { s.close(); return }
      val body = new DataInputStream(new java.io.ByteArrayInputStream(connect.body))
      MqttWire.readStr(body) // protocol name
      body.readUnsignedByte() // level
      val flags = body.readUnsignedByte()
      body.readUnsignedShort() // keepalive
      MqttWire.readStr(body) // client id
      val u = if ((flags & 0x80) != 0) MqttWire.readStr(body) else ""
      val p = if ((flags & 0x40) != 0) MqttWire.readStr(body) else ""
      val rc =
        if (!up || closed) MqttReturnCode.ServerUnavailable
        else if (u != user || p != password) MqttReturnCode.BadCredentials
        else MqttReturnCode.Accepted
      MqttWire.write(out, MqttWire.CONNACK, Array[Byte](0, rc.toByte))
      if (rc != MqttReturnCode.Accepted) { s.close(); return }
      val conn = new Conn(s)
      conns.add(conn)
      try {
        while (!s.isClosed) {
          val pkt = MqttWire.read(in)
          pkt.packetType match {
            case MqttWire.SUBSCRIBE_TYPE =>
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              val id = b.readUnsignedShort()
              val topic = MqttWire.readStr(b)
              val qos = b.readUnsignedByte()
              conn.subs.add(topic)
              conn.send(MqttWire.SUBACK,
                Array[Byte](((id >> 8) & 0xff).toByte, (id & 0xff).toByte, qos.toByte))
              // RETAIN replay (spec §3.3.1.3): a LATE subscriber gets
              // each topic's stored last-known message matching the NEW
              // filter (not filters it already held — those replayed at
              // their own SUBSCRIBE), RETAIN bit SET so it can tell
              // replay from a live publish
              retained.forEach { (t, payload) =>
                val hit =
                  if (topic.endsWith("/#")) t.startsWith(topic.dropRight(1)) ||
                    t == topic.dropRight(2)
                  else t == topic
                if (hit)
                  conn.send(MqttWire.PUBLISH | 0x01, MqttWire.str(t) ++ payload)
              }
            case MqttWire.UNSUBSCRIBE_TYPE =>
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              val id = b.readUnsignedShort()
              conn.subs.remove(MqttWire.readStr(b))
              conn.send(MqttWire.UNSUBACK,
                Array[Byte](((id >> 8) & 0xff).toByte, (id & 0xff).toByte))
            case MqttWire.DISCONNECT =>
              s.close()
            case MqttWire.PINGREQ =>
              conn.send(MqttWire.PINGRESP, Array.emptyByteArray)
            case MqttWire.PUBLISH =>
              // CLIENT → broker publish (the client's outbound-QoS
              // ladder under test): record the delivery, answer per QoS,
              // and honor the drop-counters that simulate lost acks
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              val topic = MqttWire.readStr(b)
              val qos = pkt.publishQos
              val pid = if (qos > 0) b.readUnsignedShort() else 0
              val payload = new Array[Byte](b.available())
              b.readFully(payload)
              inboundCopies.incrementAndGet()
              // RETAIN store (spec §3.3.1.3): the payload becomes the
              // topic's last-known value; a zero-byte retained payload
              // CLEARS it. Stored regardless of QoS — retention is
              // orthogonal to the delivery handshake.
              if (pkt.publishRetain) {
                if (payload.isEmpty) retained.remove(topic)
                else retained.put(topic, payload)
                ()
              }
              if (qos == 2) {
                // deliver-on-PUBLISH with pid tracking (spec §4.3.3):
                // a DUP re-send of an unreleased pid must NOT re-deliver.
                // A FRESH (non-DUP) PUBLISH reusing the pid means the
                // sender abandoned the old flow (PUBRECs lost past its
                // resend budget) and wrapped back to the id — evict the
                // stale entry so the new message delivers instead of
                // being silently swallowed as a phantom duplicate.
                // diagnosability: MQTT 3.1.1 dedup keys on the pid FLOW
                // state with DUP only informational, so a sender that
                // retransmits an unreleased pid WITHOUT setting DUP gets
                // double-delivery here. The in-repo client always sets DUP
                // on resends (pinned by MqttSocketClientSpec); surface the
                // eviction so an accidental double-delivery from a foreign
                // client is attributable rather than silent.
                if (!pkt.publishDup && conn.inboundUnreleased.contains(pid))
                  log.warn(
                    s"evicting unreleased QoS-2 pid $pid on fresh non-DUP PUBLISH " +
                      "(sender wrapped or retransmitted without DUP); the new " +
                      "message will deliver")
                if (!pkt.publishDup) conn.inboundUnreleased.remove(pid)
                if (conn.inboundUnreleased.add(pid)) {
                  inbound.add(topic -> new String(payload, "UTF-8"))
                  route(topic, payload)
                }
                if (dropPubrecs.get() > 0) dropPubrecs.decrementAndGet()
                else conn.send(MqttWire.PUBREC, MqttWire.packetId(pid))
              } else {
                // QoS 0/1: at-most/at-least-once — every copy delivers
                // (a QoS-1 DUP whose PUBACK was lost IS a duplicate
                // delivery; that is the at-least-once contract the
                // exactly-once spec contrasts against)
                inbound.add(topic -> new String(payload, "UTF-8"))
                route(topic, payload)
                if (qos == 1) {
                  if (dropPubacks.get() > 0) dropPubacks.decrementAndGet()
                  else if (holdPubacks.get() > 0) {
                    holdPubacks.decrementAndGet()
                    heldAcks.add(conn -> pid)
                  } else conn.send(MqttWire.PUBACK, MqttWire.packetId(pid))
                }
              }
            case MqttWire.PUBREL_TYPE =>
              // QoS-2 leg 3 from a publishing client: release the pid
              // and complete the flow; PUBCOMP answers every PUBREL
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              val pid = b.readUnsignedShort()
              conn.inboundUnreleased.remove(pid)
              rels.add(pid)
              conn.send(MqttWire.PUBCOMP, MqttWire.packetId(pid))
            case MqttWire.PUBACK =>
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              acks.add(b.readUnsignedShort())
            case MqttWire.PUBREC =>
              // QoS-2 leg 2: the sender answers every PUBREC with PUBREL —
              // unless the pid's DUP copies are still being written
              // ([[publishQos2]] holds the pid until every copy is on the
              // wire, so the client can never see PUBREL before the last
              // DUP and accidentally re-deliver a spec-compliant duplicate)
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              val pid = b.readUnsignedShort()
              recs.add(pid)
              held.synchronized {
                if (held.contains(pid)) deferredRel.add((conn, pid))
                else conn.send(MqttWire.PUBREL, MqttWire.packetId(pid))
              }
            case MqttWire.PUBCOMP =>
              val b = new DataInputStream(new java.io.ByteArrayInputStream(pkt.body))
              comps.add(b.readUnsignedShort())
            case _ => ()
          }
        }
      } finally conns.remove(conn)
    } catch {
      // a malformed or foreign first packet (e.g. a TLS ClientHello) must
      // not leave the peer waiting on an open socket for a CONNACK
      case _: IOException => try s.close() catch { case _: IOException => () }
    }
  }

  /** Outbound QoS for ROUTED messages (client-published → subscribers):
    * 0 = fire-and-forget, 2 = the four-leg exactly-once flow. With both
    * ends at QoS 2 a message is exactly-once END TO END — accepted once
    * from the publisher (pid-tracked, DUP-safe) and delivered once to
    * each subscriber — the full demo-pipeline guarantee. */
  @volatile var forwardQos: Int = 0

  /** Route an ACCEPTED client publish to subscribed connections. */
  private def route(topic: String, payload: Array[Byte]): Unit =
    forwardQos match {
      case 2 => publishQos2(topic, payload); ()
      case 1 => publishQos1(topic, payload); ()
      case _ => publish(topic, payload)
    }

  /** Broker-side publish to every subscribed connection (QoS 0).
    * `retain` additionally stores the payload as the topic's last-known
    * value for late subscribers — the external-device pattern (the solar
    * gateway publishes status topics retained). */
  def publish(topic: String, payload: Array[Byte], retain: Boolean = false): Unit = {
    if (retain) {
      if (payload.isEmpty) retained.remove(topic) else retained.put(topic, payload)
      ()
    }
    conns.asScala.filter(_.matches(topic)).foreach { c =>
      try c.send(MqttWire.PUBLISH, MqttWire.str(topic) ++ payload)
      catch { case _: IOException => () }
    }
  }

  /** Client-published messages ACCEPTED for delivery (exactly one entry
    * per QoS-2 flow regardless of DUP re-sends; every copy at QoS 0/1),
    * in arrival order — the assertion surface for outbound-QoS specs. */
  val inbound = new ConcurrentLinkedQueue[(String, String)]()
  /** Raw inbound PUBLISH frames seen, INCLUDING DUP re-sends. */
  val inboundCopies = new java.util.concurrent.atomic.AtomicInteger(0)
  /** PUBREL packet ids received from publishing clients. */
  val rels = new ConcurrentLinkedQueue[Int]()
  /** Fault injection: swallow the next N PUBACKs / PUBRECs the broker
    * would send to a publishing client — the lost-ack paths that force
    * the client's DUP-resend ladder deterministically. */
  val dropPubacks = new java.util.concurrent.atomic.AtomicInteger(0)
  val dropPubrecs = new java.util.concurrent.atomic.AtomicInteger(0)
  /** HOLD the next N PUBACKs instead of sending; [[releaseHeldAcks]]
    * delivers them later — the LATE-ack path (vs dropPubacks' lost-ack
    * path): an ack that arrives after the publisher already timed out
    * and cleaned up must not poison its in-flight state. */
  val holdPubacks = new java.util.concurrent.atomic.AtomicInteger(0)
  private val heldAcks = new ConcurrentLinkedQueue[(Conn, Int)]()
  def releaseHeldAcks(): Unit = {
    var e = heldAcks.poll()
    while (e != null) {
      try e._1.send(MqttWire.PUBACK, MqttWire.packetId(e._2))
      catch { case _: IOException => () }
      e = heldAcks.poll()
    }
  }

  /** PUBACK packet ids received from clients, in arrival order. */
  val acks = new ConcurrentLinkedQueue[Int]()
  /** QoS-2 PUBREC / PUBCOMP packet ids received, in arrival order. */
  val recs = new ConcurrentLinkedQueue[Int]()
  val comps = new ConcurrentLinkedQueue[Int]()
  private val pubIds = new java.util.concurrent.atomic.AtomicInteger(1)
  /** QoS-2 pids whose PUBREL must wait until every DUP copy is written;
    * guarded by its own monitor (shared with [[deferredRel]]). */
  private val held = scala.collection.mutable.Set.empty[Int]
  private val deferredRel = new ConcurrentLinkedQueue[(Conn, Int)]()

  /** QoS-1 publish: PUBLISH carries a packet id and the QoS-1 flag; the
    * same packet is then re-sent `redeliveries` times with DUP set — the
    * broker-didn't-see-the-PUBACK path a spec forces deterministically
    * (a real broker retries on an ack timeout). Returns the packet id so
    * the spec can await its PUBACK in [[acks]]. */
  def publishQos1(topic: String, payload: Array[Byte], redeliveries: Int = 0): Int = {
    val pid = pubIds.getAndIncrement() & 0xffff
    val body = MqttWire.str(topic) ++ MqttWire.packetId(pid) ++ payload
    conns.asScala.filter(_.matches(topic)).foreach { c =>
      try {
        c.send(MqttWire.PUBLISH | 0x02, body)
        (0 until redeliveries).foreach { _ =>
          c.send(MqttWire.PUBLISH | 0x02 | 0x08, body)
        }
      } catch { case _: IOException => () }
    }
    pid
  }

  /** QoS-2 publish: PUBLISH carries a packet id and the QoS-2 flag; the
    * same packet is re-sent `republishes` times with DUP set BEFORE the
    * release handshake resolves — the broker-didn't-see-the-PUBREC path.
    * The serve loop answers each PUBREC with PUBREL (leg 2); the spec
    * awaits the pid in [[comps]] to know the four-leg flow completed. */
  def publishQos2(topic: String, payload: Array[Byte], republishes: Int = 0): Int = {
    val pid = pubIds.getAndIncrement() & 0xffff
    val body = MqttWire.str(topic) ++ MqttWire.packetId(pid) ++ payload
    if (republishes > 0) held.synchronized { held.add(pid); () }
    conns.asScala.filter(_.matches(topic)).foreach { c =>
      try {
        c.send(MqttWire.PUBLISH | 0x04, body)
        (0 until republishes).foreach { _ =>
          c.send(MqttWire.PUBLISH | 0x04 | 0x08, body)
        }
      } catch { case _: IOException => () }
    }
    if (republishes > 0) held.synchronized {
      // every DUP copy is on the wire: release the pid and send any
      // PUBRELs the serve thread parked while we were writing (TCP
      // ordering then guarantees the client sees the last DUP first)
      held.remove(pid)
      val it = deferredRel.iterator()
      while (it.hasNext) {
        val (c, p) = it.next()
        if (p == pid) {
          it.remove()
          try c.send(MqttWire.PUBREL, MqttWire.packetId(p))
          catch { case _: IOException => () }
        }
      }
    }
    pid
  }

  /** Abruptly sever every live connection — the network-blip path; the
    * client must see socket-close + a non-zero disconnect. */
  def dropAll(): Unit = {
    conns.asScala.foreach(c => try c.socket.close() catch { case _: IOException => () })
    conns.clear()
  }

  /** Stop accepting, wait for the acceptor to exit (after which the port
    * refuses connections), then sever every live connection. */
  def close(): Unit = {
    closed = true
    try server.close() catch { case _: IOException => () }
    acceptor.join()
    dropAll()
  }
}
