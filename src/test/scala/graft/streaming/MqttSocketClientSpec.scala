package graft.streaming

import graft.GraftSession
import graft.solar.{SolarSynth, Topics}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Drives the MQTT client seam where the reference's tests mock paho
  * (`/root/reference/tests/classes/test_mqtt_classes.py:105-560`), on the
  * REAL transport: a [[MqttSocketClient]] speaking MQTT 3.1.1 over a
  * loopback TCP socket to [[LoopbackBroker]]. Connect/auth-failure/
  * unavailable/TLS-handshake/drop/reconnect mirror the reference connector
  * (`/root/reference/src/classes/mqtt_classes.py:298-324`); delivery is
  * asynchronous on the reader thread, so assertions await with a deadline
  * instead of assuming same-thread effects.
  */
class MqttSocketClientSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")

  private def await(timeoutMs: Long = 5000)(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    cond
  }

  private def cfgFor(b: LoopbackBroker, user: String = "solar", pass: String = "tok123") =
    MqttConnectConfig("127.0.0.1", b.port, user, pass, useTls = false)

  test("socket connect + subscribe + deliver + clean disconnect") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(client.isConnected)
      // SUBACK arrives on the reader thread — wait for the callback
      assert(await()(bridge.events.count("subscribe") === 1), "no SUBACK")

      val fx = SolarSynth.encodeFx(1700000000L, 42)
      broker.publish(Topics.FxData, fx)
      broker.publish("other/topic", fx) // not subscribed — must not deliver
      assert(await()(MqttSimBroker.size(log) === 1), "publish did not arrive")
      Thread.sleep(50) // grace: the non-matching topic must NOT trickle in
      assert(MqttSimBroker.size(log) === 1)
      assert(bridge.events.kinds.containsSlice(Seq("socket_open", "connect")))

      client.disconnect()
      assert(!client.isConnected)
      assert(bridge.events.kinds.takeRight(2) === Seq("socket_close", "disconnect"))
      // after a clean disconnect nothing is delivered
      broker.publish(Topics.FxData, fx)
      Thread.sleep(50)
      assert(MqttSimBroker.size(log) === 1)
    } finally broker.close()
  }

  test("bad credentials over the wire: CONNACK rc=4, reference table entry") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val client = new MqttSocketClient()
      val bridge = new IngestBridge(client, s"slog-${System.nanoTime()}", "mate/#")
      val rc = client.connect(cfgFor(broker, pass = "WRONG"), bridge)
      assert(rc === MqttReturnCode.BadCredentials)
      assert(MqttReturnCode.describe(rc) === "Connection refused - bad username or password")
      assert(!client.isConnected)
      assert(bridge.events.count("subscribe") === 0)
      assert(bridge.events.kinds.contains("socket_close"))
    } finally broker.close()
  }

  test("TLS client against the plain broker: bounded handshake, rc=3; malformed CONNECT closed") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration._
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      // the stub broker does not terminate TLS: the handshake must fail
      // (or time out) inside connect, never block the caller
      val client = new MqttSocketClient()
      val bridge = new IngestBridge(client, s"slog-${System.nanoTime()}", "mate/#")
      val tlsCfg = cfgFor(broker).copy(useTls = true)
      val rc = Await.result(Future(client.connect(tlsCfg, bridge)), 10.seconds)
      assert(rc === MqttReturnCode.ServerUnavailable)
      assert(bridge.events.all.exists(e => e.kind == "connect" && e.code == 3))
      assert(!client.isConnected)
      assert(bridge.events.kinds.containsSlice(Seq("socket_open", "socket_close")))

      // a malformed CONNECT (remaining length 1, truncated protocol name):
      // the broker closes the socket instead of leaving it open unanswered
      val raw = new java.net.Socket("127.0.0.1", broker.port)
      try {
        raw.setSoTimeout(5000)
        raw.getOutputStream.write(Array[Byte](0x10, 0x01, 0x00))
        raw.getOutputStream.flush()
        assert(raw.getInputStream.read() === -1)
      } finally raw.close()
    } finally broker.close()
  }

  test("server unavailable: broker-down CONNACK and connection-refused both rc=3") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      broker.up = false
      val client = new MqttSocketClient()
      val bridge = new IngestBridge(client, s"slog-${System.nanoTime()}", "mate/#")
      val rc = client.connectWithRetry(cfgFor(broker), bridge, maxRetries = 3, backoffMs = 1L)
      assert(rc === MqttReturnCode.ServerUnavailable)
      assert(bridge.events.count("connect") === 3) // every attempt fired on_connect(rc)

      broker.up = true
      assert(client.connectWithRetry(cfgFor(broker), bridge, maxRetries = 3, backoffMs = 1L)
        === MqttReturnCode.Accepted)
      client.disconnect()

      // nothing listening at all (closed server socket) → same code paho maps
      val dead = new LoopbackBroker("solar", "tok123")
      dead.close()
      assert(new MqttSocketClient().connect(cfgFor(dead), new MqttCallbacks {})
        === MqttReturnCode.ServerUnavailable)
    } finally broker.close()
  }

  test("abrupt broker drop: non-zero disconnect, reconnect re-subscribes, delivery resumes") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))

      broker.dropAll()
      assert(await()(!client.isConnected), "client did not notice the drop")
      assert(await()(bridge.events.all.exists(e => e.kind == "disconnect" && e.code != 0)))

      assert(client.reconnect() === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 2), "no re-subscribe on reconnect")
      broker.publish(Topics.FxData, SolarSynth.encodeFx(1700000000L, 7))
      assert(await()(MqttSimBroker.size(log) === 1), "delivery did not resume")
      client.disconnect()
    } finally broker.close()
  }

  test("immediate reconnect after a drop: the old reader cannot clobber the new session") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))
      // drop and reconnect IMMEDIATELY — racing the old reader thread's
      // dying IOException; a reader not bound to its socket generation
      // would fire a late disconnect and flip connected=false under the
      // fresh session
      broker.dropAll()
      assert(client.reconnect() === MqttReturnCode.Accepted)
      Thread.sleep(300) // grace for the old reader to wake up and (not) interfere
      assert(client.isConnected, "late reader death clobbered the reconnected session")
      assert(await()(bridge.events.count("subscribe") === 2))
      broker.publish(Topics.FxData, SolarSynth.encodeFx(1700000000L, 9))
      assert(await()(MqttSimBroker.size(log) === 1), "delivery broken after racy reconnect")
      client.disconnect()
    } finally broker.close()
  }

  test("end-to-end over TCP: received messages reach a Spark micro-batch") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))

      broker.publish(Topics.MateStatus, "online".getBytes)
      // >127-byte payload: exercises the multi-byte remaining-length path
      broker.publish(Topics.FxData,
        SolarSynth.encodeFx(1700000000L, 1) ++ Array.fill[Byte](300)(0x5a))
      assert(await()(MqttSimBroker.size(log) === 2), "publishes did not arrive")

      val q = spark.readStream.format("graft.streaming.MqttSimSourceProvider")
        .option("broker", log).load()
        .writeStream.format("memory").queryName(s"smq_${System.nanoTime()}").start()
      q.processAllAvailable()
      val got = spark.sql(s"SELECT topic, length(payload) FROM ${q.name}")
        .collect().map(r => (r.getString(0), r.getInt(1))).toMap
      q.stop()
      client.disconnect()
      assert(got.keySet === Set(Topics.MateStatus, Topics.FxData))
      assert(got(Topics.FxData) > 300, "large payload truncated over the wire")
    } finally broker.close()
  }
  test("QoS 1: broker redelivers with DUP, client PUBACKs every copy, sink sees one row") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))

      // the PUBACK-was-lost path: the broker sends the same packet id
      // three times (original + 2 DUP redeliveries)
      val fx = SolarSynth.encodeFx(1700000000L, 7)
      val pid = broker.publishQos1(Topics.FxData, fx, redeliveries = 2)
      assert(await()(broker.acks.size >= 3), "client must PUBACK every delivery")
      assert(broker.acks.asScala.forall(_ == pid))
      Thread.sleep(50) // grace: duplicates must NOT trickle into the sink
      assert(MqttSimBroker.size(log) === 1,
        "at-least-once redelivery must collapse to effectively-once at the sink")

      // a FRESH id (no DUP) is a new message, not a duplicate
      broker.publishQos1(Topics.FxData, SolarSynth.encodeFx(1700000060L, 8))
      assert(await()(MqttSimBroker.size(log) === 2), "fresh QoS-1 publish did not arrive")
      client.disconnect()
    } finally broker.close()
  }

  test("QoS 2: four-leg handshake completes; in-flight republish delivers exactly once") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val log = s"slog-${System.nanoTime()}"
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      val bridge = new IngestBridge(client, log, "mate/#")
      assert(client.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))

      // the PUBREC-was-lost path: the broker re-sends the same PUBLISH
      // (same pid, DUP) twice more before the release handshake resolves
      val fx = SolarSynth.encodeFx(1700000000L, 9)
      val pid = broker.publishQos2(Topics.FxData, fx, republishes = 2)
      // every PUBLISH copy is PUBREC'd, every PUBREL is PUBCOMP'd
      assert(await()(broker.recs.size >= 3), "client must PUBREC every delivery")
      assert(broker.recs.asScala.forall(_ == pid))
      assert(await()(broker.comps.asScala.exists(_ == pid)),
        "the release leg must complete with PUBCOMP")
      Thread.sleep(50) // grace: in-flight duplicates must not reach the sink
      assert(MqttSimBroker.size(log) === 1,
        "QoS-2 republish of an unreleased pid must deliver exactly once")

      // after PUBCOMP the pid is released — a new message may reuse it
      broker.publishQos2(Topics.FxData, SolarSynth.encodeFx(1700000060L, 10))
      assert(await()(MqttSimBroker.size(log) === 2), "fresh QoS-2 publish did not arrive")
      client.disconnect()
    } finally broker.close()
  }

  test("outbound QoS 0/1: publish returns; a lost PUBACK forces a DUP re-send (at-least-once)") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      assert(client.connect(cfgFor(broker), new MqttCallbacks {}) === MqttReturnCode.Accepted)

      assert(client.publish("sensors/a", "m0".getBytes, qos = 0))
      assert(await()(broker.inbound.asScala.exists(_._2 == "m0")), "QoS-0 publish lost")

      // clean QoS 1: one copy, one PUBACK
      assert(client.publish("sensors/a", "m1".getBytes, qos = 1, ackTimeoutMs = 2000))
      assert(broker.inbound.asScala.count(_._2 == "m1") === 1)

      // lost-PUBACK path: the broker swallows the first PUBACK, the
      // client must re-send PUBLISH+DUP and succeed on the second —
      // and at-least-once means the broker ACCEPTS BOTH copies
      broker.dropPubacks.set(1)
      assert(client.publish("sensors/a", "m2".getBytes, qos = 1, ackTimeoutMs = 300))
      assert(await()(broker.inbound.asScala.count(_._2 == "m2") === 2),
        "QoS-1 redelivery after a lost PUBACK must produce a duplicate (at-least-once)")
      client.disconnect()
    } finally broker.close()
  }

  test("end-to-end exactly-once over TCP: publisher QoS 2 -> broker routes QoS 2 -> subscriber") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      broker.forwardQos = 2
      val log = s"slog-${System.nanoTime()}"
      val sub = new MqttSocketClient(s"sub-${System.nanoTime()}")
      val bridge = new IngestBridge(sub, log, "mate/#")
      assert(sub.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(bridge.events.count("subscribe") === 1))
      val pub = new MqttSocketClient(s"pub-${System.nanoTime()}")
      assert(pub.connect(cfgFor(broker), new MqttCallbacks {}) === MqttReturnCode.Accepted)

      // lost-PUBREC on the INBOUND leg: the publisher re-sends PUBLISH+DUP,
      // the broker accepts exactly once, routes exactly once at QoS 2, and
      // the subscriber's receiver ladder delivers exactly once — the
      // exactly-once guarantee holds across BOTH hops
      broker.dropPubrecs.set(1)
      val fx = SolarSynth.encodeFx(1700000000L, 21)
      assert(pub.publish(Topics.FxData, fx, qos = 2, ackTimeoutMs = 300))
      assert(await()(MqttSimBroker.size(log) === 1), "message did not reach the sink")
      Thread.sleep(80) // grace: no duplicate may trickle in from either hop
      assert(MqttSimBroker.size(log) === 1,
        "end-to-end QoS 2 must deliver exactly once despite the DUP re-send")
      assert(broker.inbound.asScala.count(_._1 == Topics.FxData) === 1)
      pub.disconnect(); sub.disconnect()
    } finally broker.close()
  }

  test("a LATE ack after a timed-out publish cannot poison in-flight state (pid-wrap guard)") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      assert(client.connect(cfgFor(broker), new MqttCallbacks {}) === MqttReturnCode.Accepted)

      // the broker HOLDS the PUBACK past the publisher's deadline
      broker.holdPubacks.set(1)
      assert(!client.publish("sensors/c", "late".getBytes, qos = 1,
        ackTimeoutMs = 150, maxResends = 0), "held ack must time the publish out")
      broker.releaseHeldAcks() // the ack lands AFTER publish() cleaned up
      Thread.sleep(150)
      assert(client.outboundStateSize === 0,
        "a late ack must not re-insert its pid — 65536 publishes later the " +
          "counter wraps to it and stale state silently corrupts the new flow")

      // the ladder is unaffected for subsequent publishes
      assert(client.publish("sensors/c", "next".getBytes, qos = 1, ackTimeoutMs = 2000))
      assert(client.publish("sensors/c", "next2".getBytes, qos = 2, ackTimeoutMs = 2000))
      assert(client.outboundStateSize === 0)
      client.disconnect()
    } finally broker.close()
  }

  test("RETAIN: a late subscriber receives retained status and the gate opens without a fresh publish") {
    // the production contract the reference relies on: the gateway
    // publishes status topics RETAINED, so a consumer that connects
    // after the device last spoke still learns it is online — data then
    // passes the status gate with no fresh status publish
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val pub = new MqttSocketClient(s"pub-${System.nanoTime()}")
      assert(pub.connect(cfgFor(broker), new MqttCallbacks {}) === MqttReturnCode.Accepted)
      val online = "online".getBytes("US-ASCII")
      // retain across the QoS ladder: QoS 1 and QoS 2 flows both store
      assert(pub.publish(Topics.MateStatus, online, qos = 1, retain = true))
      assert(pub.publish(Topics.FxStatus, online, qos = 2, retain = true))
      assert(broker.retainedCount === 2)

      // subscriber connects AFTER the device spoke — no live status will
      // ever be re-published
      Thread.sleep(5) // distinct arrival ms for deterministic gate order
      val log = s"retained-${System.nanoTime()}"
      val sub = new MqttSocketClient(s"sub-${System.nanoTime()}")
      val bridge = new IngestBridge(sub, log, "mate/#")
      assert(sub.connect(cfgFor(broker), bridge) === MqttReturnCode.Accepted)
      assert(await()(MqttSimBroker.size(log) === 2), "retained replay did not arrive")

      // now a LIVE data message — the gate must already be open
      Thread.sleep(5)
      val fx = SolarSynth.encodeFx(1700000000L, 7)
      assert(pub.publish(Topics.FxData, fx, qos = 1))
      assert(await()(MqttSimBroker.size(log) === 3))

      import spark.implicits._
      import org.apache.spark.sql.functions.{col, timestamp_micros}
      val raw = MqttSimBroker.slice(log, 0, 3)
        .map(m => (m.topic, m.payload, m.arrivalMicros))
        .toDF("topic", "payload", "us")
        .select(col("topic"), col("payload"), timestamp_micros(col("us")).as("arrival"))
      assert(graft.solar.SolarIngest.gated(raw).count() === 1,
        "retained statuses must open the gate for the late subscriber")
      assert(graft.solar.SolarIngest.gatedPoints(raw).count() === 14)

      // a zero-byte retained payload CLEARS the slot (spec §3.3.1.3)
      assert(pub.publish(Topics.FxStatus, Array.emptyByteArray, qos = 1, retain = true))
      assert(await()(broker.retainedCount == 1), "empty retained payload must clear")
      pub.disconnect(); sub.disconnect()
    } finally broker.close()
  }

  test("broker evicts an abandoned QoS-2 pid when a fresh non-DUP PUBLISH reuses it") {
    // a publisher that never PUBRELs (all its PUBRECs were lost past the
    // resend budget) leaves the pid in the broker's unreleased set; 65536
    // publishes later the counter wraps to it — the fresh flow must
    // DELIVER, not be swallowed as a phantom duplicate. Raw wire keeps
    // the pid reuse deterministic without 65k round trips.
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val s = new java.net.Socket("127.0.0.1", broker.port)
      val out = new java.io.DataOutputStream(s.getOutputStream)
      val in = new java.io.DataInputStream(s.getInputStream)
      MqttWire.write(out, MqttWire.CONNECT, MqttWire.connectBody("raw",
        MqttConnectConfig("127.0.0.1", broker.port, "solar", "tok123", useTls = false)))
      assert(MqttWire.read(in).packetType === MqttWire.CONNACK)
      def pub(pid: Int, payload: String, dup: Boolean = false): Unit =
        MqttWire.write(out, MqttWire.PUBLISH | 0x04 | (if (dup) 0x08 else 0),
          MqttWire.str("sensors/raw") ++ MqttWire.packetId(pid) ++ payload.getBytes)
      pub(9, "first") // flow abandoned: no PUBREL ever sent
      assert(MqttWire.read(in).packetType === MqttWire.PUBREC)
      // a DUP re-send of the unreleased pid must still dedup...
      pub(9, "first", dup = true)
      assert(MqttWire.read(in).packetType === MqttWire.PUBREC)
      // ...but a FRESH non-DUP reuse is a NEW message and must deliver
      pub(9, "second")
      assert(MqttWire.read(in).packetType === MqttWire.PUBREC)
      assert(await()(broker.inbound.asScala.map(_._2).toSeq == Seq("first", "second")),
        s"stale unreleased pid swallowed the fresh flow: ${broker.inbound.asScala.toList}")
      s.close()
    } finally broker.close()
  }

  test("ack recording and publish cleanup are ATOMIC under a reader/publisher race") {
    // the check-then-act hazard: reader reads the in-flight gate just
    // before cleanup clears it, then writes pubDone/pubRecd just after —
    // a stale entry that poisons the pid's next life after the 16-bit
    // wrap. recordAck/clearOutbound share one monitor, so hammering the
    // exact interleaving from two threads must never leave residue.
    // (The old unsynchronized gate fails this stress within a few
    // thousand iterations.)
    val client = new MqttSocketClient(s"c-${System.nanoTime()}")
    val iters = 20000
    for (kind <- Seq(true, false)) { // PUBACK/PUBCOMP and PUBREC flavors
      val start = new java.util.concurrent.CyclicBarrier(2)
      val done = new java.util.concurrent.CyclicBarrier(2)
      val reader = new Thread(() => {
        var i = 0
        while (i < iters) {
          start.await(); client.recordAck(7, complete = kind); done.await(); i += 1
        }
      })
      reader.start()
      var i = 0
      while (i < iters) {
        client.armOutbound(7)
        start.await() // release the racing "late ack" for this round
        client.clearOutbound(7)
        done.await() // the ack write (if any) has fully landed by now
        // atomicity contract: the ack either ran entirely before the
        // clear (its entry was just removed) or entirely after (the
        // gate was down, nothing written) — residue means it straddled
        assert(client.outboundStateSize === 0,
          s"stale outbound state after race round $i (complete=$kind)")
        i += 1
      }
      reader.join()
    }
  }

  test("outbound QoS 2: four legs complete; a lost PUBREC re-sends DUP but delivers exactly once") {
    val broker = new LoopbackBroker("solar", "tok123")
    try {
      val client = new MqttSocketClient(s"c-${System.nanoTime()}")
      assert(client.connect(cfgFor(broker), new MqttCallbacks {}) === MqttReturnCode.Accepted)

      // clean four-leg flow
      val copies0 = broker.inboundCopies.get()
      assert(client.publish("sensors/b", "x1".getBytes, qos = 2, ackTimeoutMs = 2000))
      assert(broker.inbound.asScala.count(_._2 == "x1") === 1)
      assert(await()(broker.rels.size >= 1), "client must send PUBREL after PUBREC")
      assert(broker.inboundCopies.get() - copies0 === 1)

      // lost-PUBREC path: the broker swallows its first PUBREC, so the
      // client re-sends the SAME pid as PUBLISH+DUP; the broker sees two
      // copies on the wire but must accept exactly ONE delivery — that
      // is the exactly-once contract the four-leg flow exists for
      broker.dropPubrecs.set(1)
      val copies1 = broker.inboundCopies.get()
      val rels1 = broker.rels.size
      assert(client.publish("sensors/b", "x2".getBytes, qos = 2, ackTimeoutMs = 300))
      assert(broker.inboundCopies.get() - copies1 >= 2,
        "a lost PUBREC must force at least one DUP re-send")
      assert(broker.inbound.asScala.count(_._2 == "x2") === 1,
        "QoS-2 DUP re-send of an unreleased pid must deliver exactly once")
      assert(await()(broker.rels.size > rels1), "the release leg must still complete")
      client.disconnect()
    } finally broker.close()
  }
}
