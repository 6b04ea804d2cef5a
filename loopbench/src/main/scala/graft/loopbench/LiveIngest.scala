package graft.loopbench

import graft.solar.PointStore
import graft.streaming.{IngestBridge, LoopbackBroker, MqttCallbacks, MqttConnectConfig,
  MqttReturnCode, MqttSimBroker, MqttSocketClient, StreamingIngest}
import java.util.concurrent.locks.LockSupport
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

/** The live phase of `ingest`: an open-loop publisher at a fixed rate
  * through the whole loop — publisher `MqttSocketClient` → `LoopbackBroker`
  * → subscriber `MqttSocketClient` + `IngestBridge` → `StreamingIngest` →
  * `PointStore`.
  *
  * Freshness of a message is the time from when it was due to be sent to
  * the end of the micro-batch that committed it, so a stall also counts
  * against the messages queued behind it. Samples are counted by batch. */
object LiveIngest {
  val Rate = 500 // messages per second
  val WarmSeconds = 1
  val MinBatches = 21
  val MaxExtraSeconds = 30
  val SetupReps = 4

  private final class Loop(ctx: Ctx, rep: Int) {
    val log = s"live-${ctx.seed}-$rep-${System.nanoTime()}"
    val bucket = ctx.dir(s"live/bucket-$rep")
    val broker = new LoopbackBroker("solar", "bench")
    val cfg = MqttConnectConfig("127.0.0.1", broker.port, "solar", "bench", useTls = false)
    val sub = new MqttSocketClient(s"bench-sub-$rep")
    val bridge = new IngestBridge(sub, log, "mate/#")
    val pub = new MqttSocketClient(s"bench-pub-$rep")
    var query: StreamingQuery = _

    def start(): Unit = {
      require(sub.connect(cfg, bridge) == MqttReturnCode.Accepted, "subscriber connect")
      await(bridge.events.count("subscribe") >= 1, "SUBACK")
      require(pub.connect(cfg, new MqttCallbacks {}) == MqttReturnCode.Accepted,
        "publisher connect")
      query = ctx.trace.span("ingest", "StreamingIngest.start") {
        StreamingIngest.start(ctx.spark, log, bucket, ctx.dir(s"live/chk-$rep"))
      }
      Feed.statusTopics.foreach(t => pub.publish(t, "online".getBytes("US-ASCII")))
      await(MqttSimBroker.size(log) >= Feed.statusTopics.size, "status delivery")
      query.processAllAvailable()
    }

    def stop(): Unit = {
      if (query != null) query.stop()
      pub.disconnect(); sub.disconnect(); broker.close()
    }
  }

  def run(ctx: Ctx, progress: ProgressListener): Unit = {
    val r = ctx.report

    // set-up, repeated: broker, both clients, the streaming query and its
    // first (status) batch; the last one is kept for the run
    val setups = (1 to SetupReps).map { rep =>
      val l = new Loop(ctx, rep)
      val t0 = System.nanoTime()
      l.start()
      val s = (System.nanoTime() - t0) / 1e9
      if (rep < SetupReps) { l.stop(); MqttSimBroker.clear(l.log) }
      (s, l)
    }
    r.e2e("setup_s", Stats.median(setups.map(_._1)), "s", SetupReps)
    r.note("live_setups_s", setups.map(s => f"${s._1}%.3f").mkString(" "))
    r.phase("live_setup")
    val loop = setups.last._2

    // open loop: message k is due at t0 + k / Rate, whatever the system
    // does. Packets from WarmSeconds on are timed; the generator runs until
    // `seconds` have passed and MinBatches batches of timed packets have
    // committed, so the median has ten batches beyond it.
    val rng = new java.util.SplittableRandom(ctx.seed)
    val firstTimed = WarmSeconds * Rate
    val cap = (WarmSeconds + ctx.seconds + MaxExtraSeconds) * Rate
    val intervalNs = 1000000000L / Rate
    val sentMs = new Array[Long](cap)
    val lateNs = new Array[Long](cap)
    @volatile var stop = false
    @volatile var published = 0
    val t0Ns = System.nanoTime()
    val t0Ms = System.currentTimeMillis()
    def dueMs(k: Int): Long = t0Ms + (k.toLong * intervalNs) / 1000000L
    val gen = new Thread(() => {
      var k = 0
      while (k < cap && !stop) {
        val due = t0Ns + k * intervalNs
        var now = System.nanoTime()
        while (now < due) { LockSupport.parkNanos(due - now); now = System.nanoTime() }
        lateNs(k) = now - due
        sentMs(k) = System.currentTimeMillis()
        loop.pub.publish(Feed.topic(k), Feed.packet(k, Feed.base(rng)))
        k += 1
        published = k
      }
    }, "bench-generator")
    gen.setDaemon(true)
    gen.start()
    // log index of packet k is k + the statuses: one TCP connection
    // delivers in order
    val firstTimedIndex = firstTimed + Feed.statusTopics.size
    def timedBatchesDone = Ingest.batches(progress, loop.query)
      .count(_.startOffset >= firstTimedIndex)
    Thread.sleep((WarmSeconds + ctx.seconds) * 1000L)
    await(timedBatchesDone >= MinBatches, "timed batches", MaxExtraSeconds * 1000L)
    stop = true
    gen.join()
    val total = published
    r.phase("live_warm_and_timed")
    await(MqttSimBroker.size(loop.log) >= total + Feed.statusTopics.size, "delivery", 20000)
    loop.query.processAllAvailable()
    loop.stop()
    r.phase("live_tail_and_stop")

    // which batch committed each packet: batches cover log slices; a
    // batch's sample is the median freshness of its timed packets
    val logSize = MqttSimBroker.size(loop.log)
    val msgs = MqttSimBroker.slice(loop.log, 0, logSize)
    val batches = Ingest.batches(progress, loop.query)
    val arrivalLagMs = scala.collection.mutable.ArrayBuffer.empty[Double]
    val timed = batches.flatMap { b =>
      val f = (b.startOffset until b.endOffset).flatMap { i =>
        val m = msgs(i.toInt)
        val k = if (Feed.statusTopics.contains(m.topic)) -1 else Feed.seqOf(m.payload).toInt
        if (k < firstTimed) None
        else {
          arrivalLagMs += (m.arrivalMicros / 1000.0 - sentMs(k))
          Some((b.endMs - dueMs(k)) / 1000.0)
        }
      }
      if (f.isEmpty) None else Some((b, Stats.median(f)))
    }
    val samples = timed.map(_._2)
    val p50 = Stats.median(samples)
    r.e2e("latency_s", p50, "s", samples.size)
    r.note("batches", samples.size)
    r.note("batches_beyond_p50", samples.count(_ > p50))
    // p90 needs ten batches beyond it: 100 batches, which a run does not hold
    r.note("freshness_p90_s", if (samples.size >= 100) Stats.pct(samples, 0.9).toString
      else s"n/a (${samples.size} batches < 100)")
    r.note("batch_ms", timed.map(_._1.durations.getOrElse("triggerExecution", 0L)).mkString(" "))
    val timedLate = lateNs.slice(firstTimed, total).map(_ / 1e6).toSeq
    r.note("generator_late_p50_ms", Stats.median(timedLate))
    r.note("generator_late_max_ms", timedLate.max)

    // exactly once: each published packet's event time holds exactly its
    // packet's points, and nothing else is in the store
    val got = PointStore.read(ctx.spark, loop.bucket)
      .groupBy(unix_timestamp(col("time")).as("t")).count()
      .collect().map(row => (row.getLong(0) - Feed.Epoch0) -> row.getLong(1)).toMap
    val wrong = (0 until total).count(k => got.getOrElse(k.toLong, 0L) != Feed.pointsOf(k))
    val extra = got.keys.count(k => k < 0 || k >= total)
    r.attempted += total
    r.failed += wrong + extra
    r.check("live: every published packet committed exactly once", wrong == 0 && extra == 0,
      s"$wrong packets with missing or duplicate points, $extra unexpected event times")
    r.phase("live_check")

    if (ctx.trace.on) {
      val timedBatches = timed.map(_._1)
      r.layer("transport.publish_to_log_p50_ms", Stats.median(arrivalLagMs.toSeq), "ms",
        arrivalLagMs.size)
      r.layer("transport.lost_msgs", (total - (logSize - Feed.statusTopics.size)).toDouble,
        "count")
      r.layer("source.latest_offset_ms_p50", Ingest.p50(timedBatches, "latestOffset"), "ms",
        timedBatches.size)
      r.layer("source.get_batch_ms_p50", Ingest.p50(timedBatches, "getBatch"), "ms",
        timedBatches.size)
      r.layer("source.backlog_max_msgs", timedBatches.map(_.rows).max.toDouble, "count")
      // the ingest log is never trimmed: everything since start is retained
      r.layer("source.log_retained_msgs", logSize.toDouble, "count")
      Ingest.batchLayers(ctx, "ingest", timedBatches)
    }
    MqttSimBroker.clear(loop.log)
  }

  def await(cond: => Boolean, what: String, timeoutMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(5)
    require(cond, s"timed out waiting for $what")
  }
}
