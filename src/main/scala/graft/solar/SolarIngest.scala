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

  /** Status gate (F2, `mqtt_classes.py:187-198,229-294`): a data message
    * passes only if, as of its arrival, the per-device status topic AND the
    * global `mate/status` topic last reported "online".
    *
    * Batch semantics (SURVEY §2.9 T4): status is applied in arrival order —
    * `last("online"-flag)` over a window keyed by device. Scale notes: the
    * per-device gate shuffles once on the device key (status rows and data
    * rows share the partitioning); the global mate gate would serialize on
    * a constant key, so instead the (tiny) mate changelog becomes interval
    * rows broadcast against the fact stream — a broadcast range join, no
    * extra shuffle of the data.
    */
  def gated(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    // Per-device gate: union of a device's status+data rows, last status
    // at-or-before each row in arrival order.
    val keyed = raw
      .withColumn("gate_key", deviceKeyCol)
      .withColumn("gate_flag", statusFlagCol)
    val w = Window
      .partitionBy(col("gate_key"))
      .orderBy(col("arrival"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deviceGated = keyed
      .withColumn("device_online", coalesce(last(col("gate_flag"), ignoreNulls = true).over(w), lit(0)))
      .filter(col("topic").isin(Topics.statusTopicFor.keys.toSeq: _*) && col("device_online") === 1)
      .drop("gate_key", "gate_flag", "device_online")

    mateGate(deviceGated, raw)
  }

  /** The status gate with the per-device window SEGMENTED — the form that
    * survives a 100× replay. [[gated]]'s window partitions on the device
    * key, a ~3-value column, so each task sorts a device's ENTIRE history;
    * at 100 TB that is three giant sort tasks (the hazard that
    * [[graft.operators.Quantiles]] avoids on the query side by never
    * sorting a whole group).
    *
    * Here the window is keyed by (device, segment) — `segment` is any
    * deterministic monotone bucketing of `arrival` (calendar date by
    * default; pick a bucket that yields partition-sized segments for the
    * replay at hand) — and state crosses segment boundaries via an
    * explicit carry-in:
    *
    *   1. in-segment running state: `last(flag) ignoring nulls` over
    *      (device, segment) — each sort task holds ONE segment of one
    *      device, never the full history;
    *   2. per-segment final state: one hash aggregation (map-side
    *      combined) of `max(struct(arrival, flag))` over status rows;
    *   3. carry-in per (device, segment): latest earlier segment's final
    *      state — a window over the tiny (device × segment) axis, joined
    *      back BROADCAST (the fact stream is never reshuffled for it);
    *   4. effective state = coalesce(in-segment running, carry-in,
    *      offline) — bit-identical to the unsegmented gate wherever
    *      arrival is a total order per device (`GateSegmentationSpec`
    *      pins result equality against [[gated]]).
    */
  def gatedSegmented(raw: DataFrame, segment: Column = to_date(col("arrival"))): DataFrame = {
    import org.apache.spark.sql.expressions.Window

    val keyed = raw
      .withColumn("gate_key", deviceKeyCol)
      .withColumn("gate_flag", statusFlagCol)
      .withColumn("gate_seg", segment)

    // (2) per-(device, segment) final status — the max-arrival non-null
    // flag, as one aggregation. Ties on arrival resolve by flag value here
    // vs row order in the window — identical whenever arrival is unique
    // per device, which broker delivery order guarantees upstream.
    val segLast = keyed
      .filter(col("gate_flag").isNotNull)
      .groupBy(col("gate_key"), col("gate_seg"))
      .agg(max(struct(col("arrival"), col("gate_flag"))).as("m"))
      .select(col("gate_key"), col("gate_seg"), col("m.gate_flag").as("seg_flag"))

    // (3) carry-in over the COMPLETE segment axis — a segment holding only
    // data rows still needs the state of the latest earlier segment, so
    // the axis comes from all rows, not just status rows.
    val segAxis = keyed.select(col("gate_key"), col("gate_seg")).distinct()
    val wCarry = Window
      .partitionBy(col("gate_key"))
      .orderBy(col("gate_seg"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val carry = segAxis
      .join(segLast, Seq("gate_key", "gate_seg"), "left")
      .withColumn("carry_flag", last(col("seg_flag"), ignoreNulls = true).over(wCarry))
      .select(col("gate_key").as("ck"), col("gate_seg").as("cs"), col("carry_flag"))

    // (1) + (4): segment-bounded running state, carry-in broadcast back.
    val wSeg = Window
      .partitionBy(col("gate_key"), col("gate_seg"))
      .orderBy(col("arrival"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val deviceGated = keyed
      .withColumn("seg_run", last(col("gate_flag"), ignoreNulls = true).over(wSeg))
      .join(broadcast(carry),
        col("gate_key") <=> col("ck") && col("gate_seg") <=> col("cs"), "left")
      .withColumn("device_online", coalesce(col("seg_run"), col("carry_flag"), lit(0)))
      .filter(col("topic").isin(Topics.statusTopicFor.keys.toSeq: _*) && col("device_online") === 1)
      .drop("gate_key", "gate_flag", "gate_seg", "seg_run", "ck", "cs", "carry_flag",
        "device_online")

    mateGate(deviceGated, raw)
  }

  /** Device key for gate rows: the device's status topic, for both its
    * data topic and the status topic itself; NULL for everything else. */
  private def deviceKeyCol: Column = {
    val statusOf = Topics.statusTopicFor
    statusOf.foldLeft(lit(null: String)) { case (acc, (data, status)) =>
      when(col("topic") === data || col("topic") === status, statusOf(data)).otherwise(acc)
    }
  }

  // Reference compares the ascii payload to "online"/"offline"; anything
  // else leaves the previous state — it only flips on exact matches, and
  // unknown devices default to "offline" (`_status` init map). Binary
  // equality avoids ANSI decode() throwing on binary packet payloads.
  private val online = lit("online".getBytes("US-ASCII"))
  private val offline = lit("offline".getBytes("US-ASCII"))

  /** 1/0/NULL status flag: defined only on status rows with an exact
    * online/offline payload. */
  private def statusFlagCol: Column = {
    val isStatusRow = col("topic").isin(
      (Topics.MateStatus +: Topics.statusTopicFor.values.toSeq): _*)
    when(isStatusRow && col("payload") === online, 1)
      .when(isStatusRow && col("payload") === offline, 0)
  }

  /** Global mate gate: intervals from the tiny mate/status changelog,
    * broadcast; a data row passes if it falls in an online interval. */
  private def mateGate(deviceGated: DataFrame, raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val mateIntervals = raw
      .filter(col("topic") === Topics.MateStatus)
      .select(
        col("topic"),
        col("arrival").as("on_from"),
        when(col("payload") === online, "online")
          .when(col("payload") === offline, "offline").as("sv"))
      // non-matching payloads leave the state unchanged → they must not
      // open or close an interval
      .filter(col("sv").isNotNull)
      // partition by `topic` — constant by the filter above (one logical
      // mate-status stream, so one partition is the SEMANTICS, and the
      // changelog is a handful of flips), but non-foldable, so the
      // partition spec survives optimization and WindowExec doesn't warn
      // about a missing one. lit(1) here gets constant-folded to an empty
      // spec and spams "No Partition Defined" over a ~10-row frame.
      .withColumn("on_to", lead(col("on_from"), 1, null).over(
        Window.partitionBy(col("topic")).orderBy(col("on_from"))))
      .filter(col("sv") === "online")
      .select("on_from", "on_to")

    deviceGated.join(
      broadcast(mateIntervals),
      col("arrival") >= col("on_from") &&
        (col("on_to").isNull || col("arrival") < col("on_to")),
      "left_semi")
  }

  /** Full reference pipeline: gate → decode → explode. */
  def gatedPoints(raw: DataFrame): DataFrame = points(gated(raw))
}
