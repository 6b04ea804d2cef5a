package graft.solar

import graft.GraftSession
import java.sql.Timestamp
import org.scalatest.funsuite.AnyFunSuite

/** End-to-end ingest semantics: encode→decode roundtrip, explosion counts,
  * dead-letter routing, status gating, and the partitioned point store.
  */
class SolarIngestSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val online = "online".getBytes("US-ASCII")
  private val offline = "offline".getBytes("US-ASCII")

  test("points: one packet explodes to its field count, values roundtrip") {
    val epoch = 1700000000L
    val raw = Seq(
      (Topics.DcData, SolarSynth.encodeDc(epoch, 123), ts("2024-01-01 00:00:00")),
      (Topics.FxData, SolarSynth.encodeFx(epoch, 123), ts("2024-01-01 00:00:01")),
      (Topics.MxData, SolarSynth.encodeMx(epoch, 123), ts("2024-01-01 00:00:02"))
    ).toDF("topic", "payload", "arrival")
    val pts = SolarIngest.points(raw).collect()
    assert(pts.length === 31 + 14 + 10)
    assert(pts.forall(_.getTimestamp(1).toInstant.getEpochSecond == epoch))

    val byKey = pts.map(r => (r.getString(0), r.getString(2)) -> r.getDouble(3)).toMap
    for (spec <- SolarSynth.dcSpecs)
      assert(byKey(("dc-1", spec.name)) === SolarSynth.expectedValue(spec, 123), spec.name)
    for (spec <- SolarSynth.fxSpecs)
      assert(byKey(("fx-1", spec.name)) === SolarSynth.expectedValue(spec, 123), spec.name)
    for (spec <- SolarSynth.mxSpecs)
      assert(byKey(("mx-1", spec.name)) === SolarSynth.expectedValue(spec, 123), spec.name)
  }

  test("dead letter: truncated payload routes out instead of failing") {
    val raw = Seq(
      (Topics.DcData, Array[Byte](1, 2, 3), ts("2024-01-01 00:00:00")),
      (Topics.FxData, SolarSynth.encodeFx(1700000000L, 5), ts("2024-01-01 00:00:01"))
    ).toDF("topic", "payload", "arrival")
    assert(SolarIngest.deadLetter(raw).count() === 1)
    assert(SolarIngest.points(raw).select("measurement").distinct().collect()
      .map(_.getString(0)).toSeq === Seq("fx-1"))
  }

  test("dead letter: a packet cut inside its body goes out whole, no partial fields") {
    val fx = SolarSynth.encodeFx(1700000000L, 5)
    val dc = SolarSynth.encodeDc(1700000000L, 5)
    val raw = Seq(
      (Topics.FxData, fx, ts("2024-01-01 00:00:00")),
      (Topics.FxData, fx.take(Packets.TimeSize + 6), ts("2024-01-01 00:00:01")),
      (Topics.DcData, dc.take(Packets.TimeSize + Packets.DcStructLen - 1), ts("2024-01-01 00:00:02")),
      (Topics.FxData, fx.dropRight(1), ts("2024-01-01 00:00:03")), // pad cut
      (Topics.MxData, SolarSynth.encodeMx(1700000000L, 5), ts("2024-01-01 00:00:04"))
    ).toDF("topic", "payload", "arrival")
    assert(SolarIngest.deadLetter(raw).select("arrival").collect().map(_.getTimestamp(0)).toSet ===
      Set(ts("2024-01-01 00:00:01"), ts("2024-01-01 00:00:02"), ts("2024-01-01 00:00:03")))
    val pts = SolarIngest.points(raw)
    assert(pts.count() === 14 + 10)
    assert(pts.filter($"measurement" === Topics.DcName).count() === 0)
  }

  test("status gate: device and mate gating in arrival order") {
    val epoch = 1700000000L
    def at(s: Int) = ts(s"2024-01-01 00:00:${"%02d".format(s)}")
    val fx = SolarSynth.encodeFx(epoch, 10)
    val raw = Seq(
      (Topics.MateStatus, online, at(0)),
      (Topics.FxData, fx, at(1)), // dropped: fx status still offline (init)
      (Topics.FxStatus, online, at(2)),
      (Topics.FxData, fx, at(3)), // passes
      (Topics.MateStatus, offline, at(4)),
      (Topics.FxData, fx, at(5)), // dropped: mate offline
      (Topics.MateStatus, online, at(6)),
      (Topics.FxData, fx, at(7)), // passes
      (Topics.FxStatus, offline, at(8)),
      (Topics.FxData, fx, at(9)) // dropped: device offline
    ).toDF("topic", "payload", "arrival")
    val passed = SolarIngest.gated(raw).select("arrival").collect().map(_.getTimestamp(0))
    assert(passed.toSet === Set(at(3), at(7)))
    // and the full pipeline yields 2 packets × 14 fields
    assert(SolarIngest.gatedPoints(raw).count() === 28)

    // arrival ties: a status row applies to a data row with the same
    // arrival, whatever their order in the input
    val tied = Seq(
      (Topics.FxData, fx, at(0)), // passes: both flips below come at the same arrival
      (Topics.MateStatus, online, at(0)),
      (Topics.FxStatus, online, at(0)),
      (Topics.FxData, fx, at(1)), // passes
      (Topics.FxData, fx, at(2)), // dropped: the mate goes offline at this arrival
      (Topics.MateStatus, offline, at(2))
    ).toDF("topic", "payload", "arrival")
    assert(SolarIngest.gated(tied).select("arrival").collect().map(_.getTimestamp(0)).toSet ===
      Set(at(0), at(1)))
  }

  test("downsample: raw bucket rolls up to a coarser bucket, same query surface") {
    val raw = Seq(
      ("fx-1", ts("2024-01-01 10:00:10"), "battery_voltage", 10.0),
      ("fx-1", ts("2024-01-01 10:00:50"), "battery_voltage", 30.0),
      ("fx-1", ts("2024-01-01 10:02:10"), "battery_voltage", 50.0),
      ("mx-1", ts("2024-01-01 10:00:20"), "pv_current", 7.0)
    ).toDF("measurement", "time", "field", "value")
    val base = java.nio.file.Files.createTempDirectory("ds").toString
    PointStore.write(raw, s"$base/raw")
    PointStore.downsample(spark, s"$base/raw", s"$base/1m", every = "1m", fn = "mean")

    val back = PointStore.read(spark, s"$base/1m").collect()
      .map(r => (r.getString(0), r.getTimestamp(1), r.getString(2)) -> r.getDouble(3)).toMap
    assert(back.size === 3) // two fx windows + one mx window
    assert(back(("fx-1", ts("2024-01-01 10:01:00"), "battery_voltage")) === 20.0)
    assert(back(("fx-1", ts("2024-01-01 10:03:00"), "battery_voltage")) === 50.0)
    assert(back(("mx-1", ts("2024-01-01 10:01:00"), "pv_current")) === 7.0)

    // the downsampled bucket serves the same QueryBuilder surface
    val recs = graft.query.QueryBuilder(spark, s"$base/1m")
      .appendFilter("_measurement", "fx-1")
      .appendSort("_time")
      .records()
    assert(recs.map(_("_value")) === Seq(20.0, 50.0))
  }

  test("point store: partitioned write, measurement+date pruning in plan") {
    val epoch = 1700000000L
    val raw = Seq(
      (Topics.FxData, SolarSynth.encodeFx(epoch, 7), ts("2024-01-01 00:00:00")),
      (Topics.MxData, SolarSynth.encodeMx(epoch + 86400, 9), ts("2024-01-02 00:00:00"))
    ).toDF("topic", "payload", "arrival")
    val dir = java.nio.file.Files.createTempDirectory("bucket").toString + "/b"
    PointStore.write(SolarIngest.points(raw), dir)
    assert(PointStore.healthCheck(spark, dir))

    val back = PointStore.read(spark, dir)
    assert(back.count() === 24)
    // partition pruning: measurement filter reaches PartitionFilters
    val pruned = back.filter($"measurement" === "fx-1")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("measurement"))
    assert(pruned.count() === 14)

    // QueryBuilder over the stored bucket (the reference's from(bucket))
    val recs = graft.query.QueryBuilder(spark, dir)
      .withNow(ts("2023-11-15 00:00:00")) // epoch 1700000000 ≈ 2023-11-14 22:13 UTC
      .range("-1d")
      .appendFilter("_measurement", "fx-1")
      .records()
    assert(recs.size === 14)
  }
}
