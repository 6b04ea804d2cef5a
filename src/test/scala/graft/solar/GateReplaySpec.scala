package graft.solar

import graft.GraftSession
import graft.queries.SolarQueries
import graft.streaming.{MqttSimBroker, StreamingIngest}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The batch and streaming status gates are one rule: the points the
  * streaming pipeline stores from a published stream equal the batch
  * pipeline's points over the same rows, even when the stream arrives in
  * more than one micro-batch and the gate's flags carry across them.
  */
class GateReplaySpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")
  private val sf = "/root/testdata/sf0.001"

  private def sorted(points: DataFrame): Seq[(String, Long, String, Double)] =
    points.select(col("measurement"), unix_micros(col("time")), col("field"), col("value"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getString(2), r.getDouble(3)))
      .toSeq.sorted

  test("streaming gate over two micro-batches stores exactly the batch gate's points") {
    val raw = SolarQueries.statusRaw(spark, sf)
    val msgs = raw.select(col("topic"), col("payload"), unix_micros(col("arrival")))
      .orderBy(col("arrival")) // event_id order, the order statusRaw's clock encodes
      .collect().map(r => (r.getString(0), r.getAs[Array[Byte]](1), r.getLong(2)))
    val batch = sorted(SolarIngest.gatedPoints(raw))
    assert(batch.nonEmpty, "batch gate passed no points: vacuous comparison")

    // split just before the median passing data row: the second batch
    // opens with a row that only the carried flags let through
    val passed = SolarIngest.gated(raw).select(unix_micros(col("arrival")))
      .collect().map(_.getLong(0)).sorted
    val cut = msgs.indexWhere(_._3 == passed(passed.length / 2))
    assert(cut > 0)

    val broker = s"replay-${System.nanoTime()}"
    val tmp = java.nio.file.Files.createTempDirectory("gatereplay").toString
    val q = StreamingIngest.start(spark, broker, s"$tmp/bucket", s"$tmp/chk")
    try {
      for (half <- Seq(msgs.take(cut), msgs.drop(cut))) {
        half.foreach { case (t, p, a) => MqttSimBroker.publish(broker, t, p, a) }
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(q.recentProgress.count(_.numInputRows > 0) >= 2, "the stream ran as one batch")
    assert(sorted(PointStore.read(spark, s"$tmp/bucket")) === batch)
  }
}
