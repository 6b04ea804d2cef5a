package graft.solar

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Drives [[SolarMain.run]] — the `start_logger.py`-parity entrypoint —
  * end-to-end exactly as `runMain graft.solar.SolarMain` does: simulated
  * MATE publisher → TCP loopback broker → MQTT client subscribe over a
  * real socket → status gate → packet decode → partitioned point store,
  * with the LIVE windowed rollup query and the reference's `run_example`
  * query running against the result. This is the composition test the
  * individual stage specs (`StreamingIngestSpec`,
  * `StreamingQueryBuilderSpec`, `MqttSocketClientSpec`) don't cover: one
  * run, every stage wired together.
  */
class SolarMainSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")

  test("SolarMain.run: publisher → ingest → rollup → query, end to end") {
    val bucket = java.nio.file.Files.createTempDirectory("solarmain").toString + "/bucket"
    val r = SolarMain.run(spark, bucket, seconds = 3, periodMs = 50L)

    // the pipeline ingested real decoded points, across >1 device family
    assert(r.points > 0, "no points ingested")
    assert(r.byMeasurement.nonEmpty && r.byMeasurement.values.forall(_ > 0))
    assert(r.deadLetters === 0, s"well-formed synth packets dead-lettered: ${r.deadLetters}")

    // client lifecycle fired through the callback surface (S2)
    assert(r.connects >= 1 && r.subscribes >= 1 && r.disconnects >= 1)
    // each data MESSAGE (minus the 4 status publishes and the flush tick)
    // decodes into one point per packet field — many points per message
    assert(r.points >= r.messages - 5, "data messages produced no points")

    // the live watermarked 1m-mean rollup finalized at least one window
    assert(r.rollupRows > 0, "flush tick did not finalize any rollup window")

    // the run_example dispatch returned records from the live bucket
    assert(r.exampleRecords > 0, "run_example found no records in the last 5m")

    // and the bucket is a real partitioned store a batch reader can query
    val again = PointStore.read(spark, bucket).count()
    assert(again === r.points)
  }

  test("SolarMain.run over the real TCP loopback transport") {
    val bucket = java.nio.file.Files.createTempDirectory("solarmaintcp").toString + "/bucket"
    val r = SolarMain.run(spark, bucket, seconds = 2, periodMs = 50L)
    assert(r.points > 0 && r.deadLetters === 0)
    assert(r.connects >= 1 && r.subscribes >= 1)
    assert(r.rollupRows > 0)
  }
}
