package graft.streaming

import graft.GraftSession
import graft.solar.{PointStore, SolarSynth, Topics}
import org.scalatest.funsuite.AnyFunSuite

/** Drives the full streaming pipeline through the custom mqtt-sim
  * MicroBatchStream: publish → micro-batch → stateful gate → decode →
  * checkpointed parquet append; verifies cross-batch state carryover and
  * offset-based restart (no reprocessing, no loss).
  */
class StreamingIngestSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")

  private val epoch = 1700000000L
  private def us(i: Long) = i * 1000000L // arrival micros

  test("stream: gate state carries across micro-batches; restart resumes offsets") {
    val broker = s"t-${System.nanoTime()}"
    val tmp = java.nio.file.Files.createTempDirectory("stream").toString
    val bucket = s"$tmp/bucket"
    val chk = s"$tmp/chk"
    val fx = SolarSynth.encodeFx(epoch, 42)

    // batch 1: mate online, fx online, one data packet (passes), one while
    // device offline (dropped)
    MqttSimBroker.publish(broker, Topics.MateStatus, "online".getBytes, us(0))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(1)) // dropped: device init offline
    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, us(2))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(3)) // passes

    val q1 = StreamingIngest.start(spark, broker, bucket, chk)
    q1.processAllAvailable()
    assert(PointStore.read(spark, bucket).count() === 14) // one FX packet

    // batch 2: no status messages at all — device/mate state must carry
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(4)) // passes via carried state
    q1.processAllAvailable()
    assert(PointStore.read(spark, bucket).count() === 28)
    q1.stop()

    // restart from checkpoint: already-consumed offsets are not replayed
    MqttSimBroker.publish(broker, Topics.MxData, SolarSynth.encodeMx(epoch, 7), us(5)) // mx offline → dropped
    MqttSimBroker.publish(broker, Topics.MxStatus, "online".getBytes, us(6))
    MqttSimBroker.publish(broker, Topics.MxData, SolarSynth.encodeMx(epoch, 8), us(7)) // passes
    val q2 = StreamingIngest.start(spark, broker, bucket, chk)
    q2.processAllAvailable()
    q2.stop()

    val pts = PointStore.read(spark, bucket)
    assert(pts.count() === 28 + 10) // no FX duplicates, one MX packet added
    assert(pts.filter(org.apache.spark.sql.functions.col("measurement") === "mx-1").count() === 10)
  }

  test("stream: mate offline gates every device") {
    val broker = s"t2-${System.nanoTime()}"
    val tmp = java.nio.file.Files.createTempDirectory("stream2").toString
    val fx = SolarSynth.encodeFx(epoch, 9)

    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, us(0))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(1)) // dropped: mate never online
    MqttSimBroker.publish(broker, Topics.MateStatus, "online".getBytes, us(2))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(3)) // passes
    MqttSimBroker.publish(broker, Topics.MateStatus, "offline".getBytes, us(4))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(5)) // dropped again

    // plus one truncated packet while everything is online → dead letter
    MqttSimBroker.publish(broker, Topics.MateStatus, "online".getBytes, us(6))
    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, us(7))
    MqttSimBroker.publish(broker, Topics.FxData, Array[Byte](1, 2), us(8))

    val q = StreamingIngest.start(spark, broker, s"$tmp/bucket", s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    assert(PointStore.read(spark, s"$tmp/bucket").count() === 14)
    assert(spark.read.parquet(s"$tmp/bucket_deadletter").count() === 1)
  }

  private def fresh(name: String) = {
    val tmp = java.nio.file.Files.createTempDirectory(name).toString
    (s"$name-${System.nanoTime()}", s"$tmp/bucket", s"$tmp/chk")
  }

  test("stream: an arrival tie resolves in delivery order") {
    val (broker, bucket, chk) = fresh("tie")
    val fx = SolarSynth.encodeFx(epoch, 3)
    // one batch; the first packet shares its arrival with the mate flip but
    // was delivered before it, so it passes (the reference's callback order)
    MqttSimBroker.publish(broker, Topics.MateStatus, "online".getBytes, 1000L)
    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, 2000L)
    MqttSimBroker.publish(broker, Topics.FxData, fx, 5000L) // passes
    MqttSimBroker.publish(broker, Topics.MateStatus, "offline".getBytes, 5000L)
    MqttSimBroker.publish(broker, Topics.FxData, fx, 9000L) // dropped

    val q = StreamingIngest.start(spark, broker, bucket, chk)
    q.processAllAvailable()
    q.stop()
    assert(PointStore.read(spark, bucket).count() === 14)
  }

  test("stream: a mate flip in a batch without a device's rows gates that device later") {
    val (broker, bucket, chk) = fresh("carry")
    val q = StreamingIngest.start(spark, broker, bucket, chk)
    def batch(msgs: (String, Array[Byte], Long)*): Long = {
      msgs.foreach { case (t, p, a) => MqttSimBroker.publish(broker, t, p, a) }
      q.processAllAvailable()
      PointStore.read(spark, bucket).count()
    }
    val mx = SolarSynth.encodeMx(epoch, 5)
    assert(batch(
      (Topics.MateStatus, "online".getBytes, us(0)),
      (Topics.MxStatus, "online".getBytes, us(1)),
      (Topics.MxData, mx, us(2))) === 10)
    assert(batch((Topics.MateStatus, "offline".getBytes, us(3))) === 10) // no mx rows here
    assert(batch((Topics.MxData, mx, us(4))) === 10) // gated by the carried mate flag
    assert(batch(
      (Topics.MateStatus, "online".getBytes, us(5)),
      (Topics.MxData, mx, us(6))) === 20)
    q.stop()
  }

  test("stream: rows on unknown topics are neither stored nor dead-lettered") {
    val (broker, bucket, chk) = fresh("unknown")
    val fx = SolarSynth.encodeFx(epoch, 4)
    MqttSimBroker.publish(broker, Topics.MateStatus, "online".getBytes, us(0))
    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, us(1))
    MqttSimBroker.publish(broker, "mate/xx-1/xx-status", Array[Byte](1, 2), us(2))
    MqttSimBroker.publish(broker, "solar/other", fx, us(3))
    MqttSimBroker.publish(broker, Topics.FxData, fx, us(4)) // passes

    val q = StreamingIngest.start(spark, broker, bucket, chk)
    q.processAllAvailable()
    q.stop()
    assert(PointStore.read(spark, bucket).count() === 14)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(s"${bucket}_deadletter")))
  }

  test("stream: one state operator, one state row per device") {
    val (broker, bucket, chk) = fresh("state")
    MqttSimBroker.publish(broker, Topics.DcStatus, "online".getBytes, us(0))
    MqttSimBroker.publish(broker, Topics.FxStatus, "online".getBytes, us(1))
    MqttSimBroker.publish(broker, Topics.MxStatus, "online".getBytes, us(2))
    MqttSimBroker.publish(broker, Topics.FxData, SolarSynth.encodeFx(epoch, 1), us(3))

    val q = StreamingIngest.start(spark, broker, bucket, chk)
    q.processAllAvailable()
    q.stop()
    val ops = q.recentProgress.filter(_.numInputRows > 0).last.stateOperators
    assert(ops.length === 1)
    assert(ops.head.numRowsTotal === 3)
  }
}
