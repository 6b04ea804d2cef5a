package graft.solar

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Topic model — mirrors `MqttTopics`
  * (`/root/reference/src/classes/mqtt_classes.py:71-95`).
  */
object Topics {
  val MateStatus = "mate/status"
  val DcName = "dc-1"; val DcStatus = "mate/dc-1/status"; val DcData = "mate/dc-1/dc-status"
  val FxName = "fx-1"; val FxStatus = "mate/fx-1/status"; val FxData = "mate/fx-1/fx-status"
  val MxName = "mx-1"; val MxStatus = "mate/mx-1/status"; val MxData = "mate/mx-1/mx-status"

  val dataTopics: Map[String, String] =
    Map(DcData -> DcName, FxData -> FxName, MxData -> MxName)
  val statusTopicFor: Map[String, String] =
    Map(DcData -> DcStatus, FxData -> FxStatus, MxData -> MxStatus)
}

/** The ingestion dataflow (SURVEY §3.1), batch form: raw MQTT-shaped rows
  * `(topic string, payload binary, arrival timestamp)` → long-format points
  * `(measurement, time, field, value)`.
  *
  * Reference chain per message: topic dispatch → detach time → pymate
  * decode → explode fields → float-cast
  * (`/root/reference/src/classes/mqtt_classes.py:224-282,200-222`). Here the
  * whole chain is one declarative plan: a `when`-dispatched decode into a
  * `map<string,double>` column followed by `explode` — Catalyst plans a
  * single pass over the input with every decode expression codegen'd; at
  * 100 TB this is a shuffle-free narrow pipeline (the only shuffles are in
  * whatever aggregation runs downstream).
  *
  * Malformed payloads (shorter than their packet's full length) are split
  * to a dead-letter frame, whole, rather than killing the job — the batch
  * upgrade of the reference's log-and-swallow policy (T6, `mqtt_classes
  * .py:289-296`).
  */
object SolarIngest {

  /** Decoded (measurement, time, fields) for data topics, in ONE pass.
    *
    * Round-1 shape was a 3-branch union (one filtered projection per packet
    * type) because a `when`-chain carrying all three per-field expression
    * maps in one projection exceeds janino's 64 KB method limit. That union
    * scanned — and re-evaluated any upstream expressions over — the input
    * three times. The [[graft.expressions.DecodePacket]] expression decodes
    * a whole packet as one static call, so the dispatch collapses to a
    * single tiny `when`-chain: one scan, one codegen stage, regardless of
    * how many packet types exist. */
  def decoded(raw: DataFrame): DataFrame = {
    import graft.expressions.DecodePacket
    val p = col("payload")
    val measurement = when(col("topic") === Topics.DcData, Topics.DcName)
      .when(col("topic") === Topics.FxData, Topics.FxName)
      .when(col("topic") === Topics.MxData, Topics.MxName)
    val fields = when(col("topic") === Topics.DcData, DecodePacket.dc(p, Packets.TimeSize))
      .when(col("topic") === Topics.FxData, DecodePacket.fx(p, Packets.TimeSize))
      .when(col("topic") === Topics.MxData, DecodePacket.mx(p, Packets.TimeSize))
    raw
      .filter(col("topic").isin(Topics.dataTopics.keys.toSeq: _*))
      .select(
        measurement.as("measurement"),
        Packets.eventTime(p).as("time"),
        fields.as("fields"),
        col("*"))
  }

  /** Full message length per data topic: time prefix, struct and pad. */
  private val messageLength: Map[String, Int] = Map(
    Topics.DcData -> (Packets.TimeSize + Packets.DcStructLen + Packets.DcPad),
    Topics.FxData -> (Packets.TimeSize + Packets.FxStructLen + Packets.FxPad),
    Topics.MxData -> (Packets.TimeSize + Packets.MxStructLen + Packets.MxPad))

  /** A data row whose payload is missing or shorter than its packet's full
    * length. The reference's decoder rejects such a packet whole (T6), so
    * none of its fields is stored, even those a short body still holds. */
  val truncated: Column = messageLength.map { case (topic, n) =>
    col("topic") === topic && coalesce(length(col("payload")) < n, lit(true))
  }.reduce(_ || _)

  /** Long-format points from raw messages (no status gating). */
  def points(raw: DataFrame): DataFrame =
    decoded(raw)
      .filter(!truncated)
      .select(col("measurement"), col("time"), explode(col("fields")).as(Seq("field", "value")))
      .filter(col("value").isNotNull)

  /** Rows whose payload is cut short (dead-letter channel, T6). */
  def deadLetter(raw: DataFrame): DataFrame =
    decoded(raw).filter(truncated)

  /** The status gate's state after a replay: status topic → last online
    * flag. The streaming gate stores one per micro-batch in its metadata
    * log, as JSON `{"online":{topic: flag}}`. */
  final case class GateFlags(online: Map[String, Boolean])

  val statusTopics: Seq[String] = Topics.MateStatus +: Topics.statusTopicFor.values.toSeq

  /** Devices and the mate start offline (the reference's `_status` init). */
  val allOffline: GateFlags = GateFlags(statusTopics.map(_ -> false).toMap)

  private val online = "online".getBytes("US-ASCII")
  private val offline = "offline".getBytes("US-ASCII")

  /** The reference compares the ascii payload to "online"/"offline": an
    * exact match flips the flag, any other payload leaves it. */
  private def flag(payload: Array[Byte], current: Boolean): Boolean =
    if (java.util.Arrays.equals(payload, online)) true
    else if (java.util.Arrays.equals(payload, offline)) false
    else current

  /** Status gate (F2, `mqtt_classes.py:187-198,229-294`): a data message
    * passes only if its device's status topic AND the global `mate/status`
    * topic last reported "online".
    *
    * Replays status rows `(key, topic, payload)` in key order from the
    * carried flags; rows with equal keys keep their given order. Returns
    * the end flags and, per data topic, the sorted keys at which its gate
    * opens or closes (`Long.MinValue` when it is open from the start).
    * The key is the log index in streaming and the arrival in batch. */
  def replay(
      carry: GateFlags,
      status: Seq[(Long, String, Array[Byte])]): (GateFlags, Map[String, Array[Long]]) = {
    def open(f: Map[String, Boolean], data: String) =
      f(Topics.statusTopicFor(data)) && f(Topics.MateStatus)
    val flips = Topics.dataTopics.keys.map(_ -> Array.newBuilder[Long]).toMap
    flips.foreach { case (d, b) => if (open(carry.online, d)) b += Long.MinValue }
    val end = status.sortBy(_._1).foldLeft(carry.online) { case (f, (k, topic, payload)) =>
      val next = f.updated(topic, flag(payload, f(topic)))
      flips.foreach { case (d, b) => if (open(next, d) != open(f, d)) b += k }
      next
    }
    (GateFlags(end), flips.map { case (d, b) => d -> b.result() })
  }

  /** A data row passes when an odd number of its topic's flips lie at or
    * below its key, so a status row applies to a data row with the same
    * key. Rows on any other topic never pass. */
  def passes(flips: Map[String, Array[Long]], topic: String, key: Long): Boolean =
    flips.get(topic).exists { f =>
      var lo = 0
      var hi = f.length
      while (lo < hi) {
        val mid = (lo + hi) >>> 1
        if (f(mid) <= key) lo = mid + 1 else hi = mid
      }
      lo % 2 == 1
    }

  /** Batch form of the status gate: the data rows of `raw` whose device
    * and mate were online at their arrival, with every column kept.
    *
    * One job collects the status rows to the driver, which replays them
    * in arrival order from all-offline; one narrow filter then checks
    * each data row against its topic's flips. No shuffle, no window:
    * nothing sorts a device's history. The driver holds the status
    * changelog only, O(status rows): 40,234 rows for `q_status_gate` at
    * sf0.1, 40% of `events`. A status row without an arrival has no
    * place in the order and is left out; a data row without one is
    * dropped. */
  def gated(raw: DataFrame): DataFrame = {
    val status = raw
      .filter(col("topic").isin(statusTopics: _*) && col("arrival").isNotNull)
      .select(unix_micros(col("arrival")), col("topic"), col("payload"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getAs[Array[Byte]](2)))
    val (_, flips) = replay(allOffline, status.toSeq)
    val gate = udf((topic: String, key: Long) => passes(flips, topic, key))
    raw.filter(gate(col("topic"), unix_micros(col("arrival"))))
  }

  /** Full reference pipeline: gate → decode → explode. */
  def gatedPoints(raw: DataFrame): DataFrame = points(gated(raw))
}
