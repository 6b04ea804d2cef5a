package graft.streaming

import graft.solar.{PointStore, SolarIngest, Topics}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}

/** Streaming form of the reference pipeline (SURVEY §3.1): MQTT-shaped
  * source → stateful status gate → decode/explode → checkpointed append
  * sink. One `StreamingQuery` replaces the reference's three threads +
  * bounded queue; the sink upgrade is exactly-once-per-batch via
  * checkpoint + idempotent parquet append (T7 — the reference is
  * at-most-once with point drops).
  *
  * The status gate (T4) is one `flatMapGroupsWithState` keyed by device.
  * Each `mate/status` row is copied to every device key, so each device
  * carries its own copy of the mate flag next to its own flag, and the
  * whole gate is one shuffle and one state store of three rows. Rows on
  * other topics are dropped before the shuffle.
  *
  * State schema: `GateState(device, mate)` per device key. A checkpoint
  * written by the earlier two-stage layout (a device gate, then a mate
  * gate on one constant key) has a different state schema and cannot be
  * resumed; delete it and start from a fresh checkpoint.
  */
object StreamingIngest {

  final case class RawMsg(topic: String, payload: Array[Byte], arrival: java.sql.Timestamp)

  /** Gate state per device key: the device's online flag and the mate's. */
  final case class GateState(device: Boolean, mate: Boolean)

  /** A message routed to one device's gate; `seq` is its position in the
    * batch's delivery order. */
  final case class Routed(device: String, seq: Long, msg: RawMsg)

  private val devices: Seq[String] = Topics.dataTopics.values.toSeq.sorted

  private val deviceStatusTopics: Set[String] = Topics.statusTopicFor.values.toSet

  /** Data and status topics → their device; the mate topic is not in it. */
  private val deviceOf: Map[String, String] =
    Topics.dataTopics ++ Topics.statusTopicFor.map { case (data, status) => status -> Topics.dataTopics(data) }

  /** Fan the batch out to device keys: a mate row goes to every device,
    * a device row to its own, anything else nowhere. The source delivers a
    * batch as one partition, so the row index is the delivery order. */
  private def route(rows: Iterator[RawMsg]): Iterator[Routed] =
    rows.zipWithIndex.flatMap { case (r, i) =>
      val to = if (r.topic == Topics.MateStatus) devices else deviceOf.get(r.topic).toSeq
      to.iterator.map(Routed(_, i.toLong, r))
    }

  /** Arrival order; ties keep delivery order, as the reference's
    * single-threaded callbacks see them. */
  private val arrivalOrder: Ordering[Routed] = new Ordering[Routed] {
    def compare(a: Routed, b: Routed): Int = {
      val c = a.msg.arrival.compareTo(b.msg.arrival)
      if (c != 0) c else java.lang.Long.compare(a.seq, b.seq)
    }
  }

  private val online = "online".getBytes("US-ASCII")
  private val offline = "offline".getBytes("US-ASCII")

  /** Exact payload matches flip the flag; any other payload leaves it. */
  private def flag(payload: Array[Byte], current: Boolean): Boolean =
    if (java.util.Arrays.equals(payload, online)) true
    else if (java.util.Arrays.equals(payload, offline)) false
    else current

  /** Replay one device's micro-batch in arrival order against carried
    * state. Status rows flip the device or mate flag; data rows pass when
    * both are online. Devices and the mate start offline. */
  private def gateFn(
      device: String,
      rows: Iterator[Routed],
      state: GroupState[GateState]): Iterator[RawMsg] = {
    var s = state.getOption.getOrElse(GateState(device = false, mate = false))
    val out = Vector.newBuilder[RawMsg]
    rows.toVector.sorted(arrivalOrder).foreach { case Routed(_, _, m) =>
      if (m.topic == Topics.MateStatus) s = s.copy(mate = flag(m.payload, s.mate))
      else if (deviceStatusTopics.contains(m.topic)) s = s.copy(device = flag(m.payload, s.device))
      else if (s.device && s.mate) out += m
    }
    state.update(s)
    out.result().iterator
  }

  /** The status gate: one stateful pass keyed by device, state carried
    * across micro-batches. */
  def gated(raw: Dataset[RawMsg]): Dataset[RawMsg] = {
    import raw.sparkSession.implicits._
    raw
      .mapPartitions(route)
      .groupByKey(_.device)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout())(gateFn)
  }

  /** The full streaming pipeline: subscribe → gate → decode → append.
    * Undecodable payloads land in `<bucket>_deadletter` with their raw
    * bytes (T6: the reference logs-and-drops; here nothing is lost). */
  def start(
      spark: SparkSession,
      broker: String,
      bucketPath: String,
      checkpoint: String): StreamingQuery = {
    import spark.implicits._
    val raw = spark.readStream
      .format("graft.streaming.MqttSimSourceProvider")
      .option("broker", broker)
      .load()
      .as[RawMsg]

    gated(raw).writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[RawMsg], _: Long) =>
        // The probes and writes below are four actions; persisted, the
        // gate runs once for all of them instead of once each.
        batch.persist()
        try {
          val df = batch.toDF()
          val pts = SolarIngest.points(df)
          if (!pts.isEmpty) PointStore.write(pts, bucketPath)
          val dead = SolarIngest.deadLetter(df).select("topic", "payload", "arrival")
          if (!dead.isEmpty)
            dead.write.mode("append").parquet(s"${bucketPath}_deadletter")
        } finally batch.unpersist()
      }
      .start()
  }
}
