package graft.solar

import graft.GraftSession
import graft.config.{IniConfig, SecretStore}
import graft.streaming._
import org.apache.spark.sql.SparkSession

/** Runnable parity for the reference's `start_logger.py` →
  * `ThreadedRunner.start()` (`/root/reference/src/app/solar_main.py:43-86`):
  * secrets → MQTT client connect/subscribe → status-gate → decode →
  * partitioned point-store append, as ONE StreamingQuery instead of three
  * threads and a bounded queue — PLUS a second live query the reference
  * can only emulate by polling InfluxDB: a watermarked tumbling-window
  * rollup (`QueryBuilder.streaming` → `aggregateWindow(1m, mean)`) written
  * continuously to a rollup bucket — then the reference's `run_example`
  * query (`influx_query.py:88-100`) dispatched through the config-driven
  * execute path.
  *
  * `runMain graft.solar.SolarMain [bucketDir] [seconds]` — the container
  * has no MQTT broker, so the demo stands a broker in behind the SAME
  * `MqttClient` seam a production transport implements: credentials are
  * validated, the lifecycle callbacks fire, and received messages flow
  * through `IngestBridge` into the DataSourceV2 ingest log that Spark
  * consumes as micro-batches. Two transports:
  *
  *   - default: the in-memory [[MqttSimNetwork]]/[[MqttSimClient]] pair;
  *   - `SOLAR_TRANSPORT=socket`: a real MQTT 3.1.1 session — a
  *     [[LoopbackBroker]] on an ephemeral 127.0.0.1 port, a
  *     [[MqttSocketClient]] CONNECT/SUBSCRIBE handshake over TCP, and
  *     every packet delivered through an actual socket (plain TCP; the
  *     stub broker does not terminate TLS).
  *
  * The pipeline body lives in [[run]] so `SolarMainSpec` drives the whole
  * composition end-to-end (broker → wire → gate → decode → store →
  * windowed rollup → query) exactly as `main` does.
  */
object SolarMain {

  /** What one demo run produced — everything `main` prints, returned as
    * data so a spec can assert on the complete end-to-end composition. */
  case class Report(
      points: Long,
      byMeasurement: Map[String, Long],
      rollupRows: Long,
      deadLetters: Long,
      connects: Long,
      subscribes: Long,
      messages: Long,
      disconnects: Long,
      exampleRecords: Long)

  /** Run the full pipeline for ~`seconds` of wall-clock publishing.
    *
    * Stages, all live at once:
    *   1. simulated MATE publisher → broker (sim network or TCP loopback);
    *   2. [[StreamingIngest.start]]: subscribe → status-gate → decode →
    *      [[PointStore]] append (checkpointed);
    *   3. [[graft.query.QueryBuilder.streaming]] tail of the bucket →
    *      `aggregateWindow(1m, mean)` → parquet rollup bucket
    *      (checkpointed, append mode — each window emitted once final).
    *
    * After the publish window closes, one "flush tick" packet stamped
    * `watermarkLeadSec` ahead advances the event-time watermark so the
    * in-flight windows finalize and the rollup is visibly non-empty —
    * the demo equivalent of the reference's next poll arriving.
    */
  def run(
      spark: SparkSession,
      bucket: String,
      seconds: Int,
      useSocket: Boolean,
      periodMs: Long = 100L,
      watermarkLeadSec: Long = 180L): Report = {
    val ingestLog = s"solar-${System.nanoTime()}"
    require(PointStore.healthCheck(spark, bucket), s"bucket not writable: $bucket")

    // secrets: env-first with demo defaults (the reference fails hard on
    // missing env; a demo main provides the fallback the .env would)
    val defaults = Map(
      "MQTT_HOST" -> "sim-broker", "MQTT_PORT" -> "8883",
      "MQTT_USER" -> "solar", "MQTT_TOKEN" -> "demo-token",
      "MQTT_TOPIC" -> "mate/#")
    val secrets = SecretStore.mqttSecrets(k => sys.env.get(k).orElse(defaults.get(k)))

    // the "remote broker" + the client seam a production transport
    // implements — in-memory sim by default, a REAL TCP loopback MQTT
    // session with useSocket
    val (client: MqttClient, cfg: MqttConnectConfig, loopback: Option[LoopbackBroker]) =
      if (useSocket) {
        val b = new LoopbackBroker(secrets.user, secrets.token)
        println(s"socket transport: loopback broker on 127.0.0.1:${b.port}")
        (new MqttSocketClient("solar-logger"),
          MqttConnectConfig("127.0.0.1", b.port, secrets.user, secrets.token, useTls = false),
          Some(b))
      } else {
        MqttSimNetwork.register(secrets.host, secrets.port, secrets.user, secrets.token)
        (new MqttSimClient, MqttConnectConfig.fromSecrets(secrets), None)
      }
    val bridge = new IngestBridge(client, ingestLog, secrets.topic)
    val rc = client.connectWithRetry(cfg, bridge, maxRetries = 3)
    require(rc == MqttReturnCode.Accepted, MqttReturnCode.describe(rc))
    // over a real socket the SUBACK is asynchronous — publishing before
    // the subscription registers would silently drop the status messages
    val subDeadline = System.currentTimeMillis() + 5000
    while (bridge.events.count("subscribe") < 1 && System.currentTimeMillis() < subDeadline)
      Thread.sleep(10)
    require(bridge.events.count("subscribe") >= 1, "subscription not acknowledged")

    // Simulated MATE: statuses online, then a packet per periodMs,
    // published into the broker → delivered to the subscribed client
    val online = "online".getBytes("US-ASCII")
    def netPublish(topic: String, payload: Array[Byte], us: Long): Unit =
      loopback match {
        case Some(b) => b.publish(topic, payload) // arrival stamped at receipt
        case None => MqttSimNetwork.publish(secrets.host, secrets.port, topic, payload, us)
      }
    netPublish(Topics.MateStatus, online, 0L)
    Seq(Topics.DcStatus, Topics.FxStatus, Topics.MxStatus)
      .zipWithIndex
      .foreach { case (t, i) => netPublish(t, online, i + 1L) }
    val publisher = new Thread(() => {
      var i = 0L
      val t0 = System.currentTimeMillis()
      while (System.currentTimeMillis() - t0 < seconds * 1000L) {
        val epoch = System.currentTimeMillis() / 1000
        netPublish(
          SolarSynth.topicOf(i),
          SolarSynth.encode(i, epoch, (i % 500).toDouble),
          System.nanoTime() / 1000)
        i += 1
        Thread.sleep(periodMs)
      }
    })
    publisher.setDaemon(true)
    publisher.start()

    // stage 2: ingest (gate → decode → partitioned point store)
    val checkpoint = bucket + "_checkpoint"
    val query = StreamingIngest.start(spark, ingestLog, bucket, checkpoint)
    // stage 3: the LIVE windowed rollup over the bucket tail — the same
    // aggregateWindow the batch query surface offers, as a stream
    val rollupDir = bucket + "_rollup"
    val rollup = graft.query.QueryBuilder
      .streaming(spark, bucket, watermark = "30 seconds")
      .appendAggregate("1m", "mean")
      .build()
      .writeStream
      .outputMode("append")
      .option("checkpointLocation", rollupDir + "_checkpoint")
      .option("path", rollupDir)
      .format("parquet")
      .start()

    Thread.sleep(seconds * 1000L)
    publisher.join()
    // flush tick: one future-stamped packet per device family advances the
    // event-time watermark past every in-flight window so append mode
    // finalizes them (the rollup would otherwise hold the current minute
    // open — correct streaming semantics, but an empty demo printout)
    val flushEpoch = System.currentTimeMillis() / 1000 + watermarkLeadSec
    netPublish(SolarSynth.topicOf(0L), SolarSynth.encode(0L, flushEpoch, 0.0),
      System.nanoTime() / 1000)
    query.processAllAvailable()   // probe lands in the bucket…
    rollup.processAllAvailable()  // …then the tail sees it and finalizes
    query.stop()
    rollup.stop()
    client.disconnect()
    loopback.foreach(_.close())

    val points = PointStore.read(spark, bucket)
    val byMeasurement = points.groupBy("measurement").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val rollupRows =
      try spark.read.parquet(rollupDir).count()
      catch { case _: Throwable => 0L }
    val deadLetters =
      try spark.read.parquet(bucket + "_deadletter").count()
      catch { case _: Throwable => 0L } // absent dir = zero dead letters

    // the reference's canned query (influx_query.py:88-100) over live
    // data, dispatched through the config-driven execute path
    val ini = IniConfig.parse("[query_settings]\nquery_mode = flux\n")
    val qb = graft.query.QueryBuilder(spark, bucket)
      .range("-5m")
      .appendFilter("_measurement", "fx-1", joiner = "or")
      .appendFilter("_measurement", "mx-1")
    val exampleRecords = graft.query.QueryExec.execute(qb, ini) match {
      case graft.query.Records(rows) => rows.size.toLong
      case _ => -1L
    }

    Report(
      points = byMeasurement.values.sum,
      byMeasurement = byMeasurement,
      rollupRows = rollupRows,
      deadLetters = deadLetters,
      connects = bridge.events.count("connect"),
      subscribes = bridge.events.count("subscribe"),
      messages = bridge.events.count("message"),
      disconnects = bridge.events.count("disconnect"),
      exampleRecords = exampleRecords)
  }

  def main(args: Array[String]): Unit = {
    val bucket =
      if (args.nonEmpty) args(0)
      else java.nio.file.Files.createTempDirectory("solar").toString + "/bucket"
    val seconds = if (args.length > 1) args(1).toInt else 10

    val spark = GraftSession.builder(master = "local[8]", app = "solar-logger").getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val listener = Observability.attach(spark)

    val useSocket = sys.env.get("SOLAR_TRANSPORT").contains("socket")
    val r = run(spark, bucket, seconds, useSocket)

    println(s"ingested ${r.points} points into $bucket " +
      s"(dead letters: ${r.deadLetters})")
    r.byMeasurement.toSeq.sortBy(_._1)
      .foreach { case (m, n) => println(f"  $m%-8s $n%6d") }
    println(s"live 1m-mean rollup rows: ${r.rollupRows} (${bucket}_rollup)")
    println(s"client lifecycle: connect=${r.connects} subscribe=${r.subscribes} " +
      s"messages=${r.messages} disconnect=${r.disconnects}")
    println(s"run_example records (last 5m, fx-1 or mx-1): ${r.exampleRecords}")
    println(s"ingest ${listener.summary(_.source.contains("MqttSim"))}")
    spark.stop()
  }
}
