package graft.streaming

import graft.GraftSession
import graft.solar.{SolarSynth, Topics}
import org.scalatest.funsuite.AnyFunSuite

/** T5 backpressure: maxPerTrigger caps each micro-batch's admission from
  * the backlog; S2 observability: the listener sees lifecycle + batches.
  */
class BackpressureSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")

  test("maxPerTrigger drains a backlog in bounded batches; listener observes") {
    val broker = s"bp-${System.nanoTime()}"
    for (i <- 0 until 10)
      MqttSimBroker.publish(broker, Topics.FxData, SolarSynth.encodeFx(1700000000L + i, i), i.toLong)

    val listener = Observability.attach(spark)
    val raw = spark.readStream
      .format("graft.streaming.MqttSimSourceProvider")
      .option("broker", broker)
      .option("maxPerTrigger", "3")
      .load()
    val q = raw.writeStream
      .outputMode("append")
      .format("memory")
      .queryName(s"bp_out_${System.nanoTime()}")
      .start()
    q.processAllAvailable()
    q.stop()
    spark.streams.awaitAnyTermination(1000)

    import scala.jdk.CollectionConverters._
    val stats = listener.batches.asScala.toVector.filter(_.numInputRows > 0)
    assert(stats.map(_.numInputRows).sum === 10)
    assert(stats.forall(_.numInputRows <= 3), stats.map(_.numInputRows))
    assert(stats.size >= 4) // 10 rows at <=3/batch → at least 4 batches
    assert(listener.started.size() >= 1)
    // a stateless query: times filled, no state operators
    assert(stats.forall(b => b.triggerMs > 0 && b.triggerMs >= b.addBatchMs), stats)
    assert(stats.forall(b => b.stateRows == 0 && b.stateCommitMs == 0), stats)
    Observability.detach(spark, listener)
  }

  test("listener records batch and state-store times of the ingest gate") {
    val broker = s"bps-${System.nanoTime()}"
    val tmp = java.nio.file.Files.createTempDirectory("bps").toString
    Seq(Topics.MateStatus, Topics.DcStatus, Topics.FxStatus, Topics.MxStatus).zipWithIndex
      .foreach { case (t, i) => MqttSimBroker.publish(broker, t, "online".getBytes, i.toLong) }
    for (i <- 0 until 5)
      MqttSimBroker.publish(broker, Topics.FxData, SolarSynth.encodeFx(1700000000L + i, i), 10L + i)

    val listener = Observability.attach(spark)
    val q = StreamingIngest.start(spark, broker, s"$tmp/bucket", s"$tmp/chk")
    q.processAllAvailable()
    q.stop()
    // the listener bus is asynchronous; termination is posted last
    val deadline = System.currentTimeMillis() + 10000
    while (!listener.terminated.contains(q.id.toString) && System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    Observability.detach(spark, listener)

    import scala.jdk.CollectionConverters._
    val stats = listener.batches.asScala.toVector
      .filter(b => b.source == s"MqttSimStream[$broker]" && b.numInputRows > 0)
    assert(stats.nonEmpty)
    val progress = q.recentProgress.map(p => p.batchId -> p).toMap
    stats.foreach { b =>
      val p = progress(b.batchId)
      assert(b.triggerMs === p.durationMs.get("triggerExecution").longValue)
      assert(b.addBatchMs === p.durationMs.get("addBatch").longValue)
      assert(b.stateCommitMs === p.stateOperators.map(_.commitTimeMs).sum)
      assert(b.triggerMs > 0 && b.addBatchMs > 0)
      assert(b.stateRows === 0) // the gate keeps no state store
    }
    val line = listener.summary(b => b.source == s"MqttSimStream[$broker]" && b.numInputRows > 0)
    assert(line.startsWith(s"batches=${stats.size} ") && line.endsWith("state_rows=0"), line)
  }
}
