package graft.tools

import graft.GraftSession
import graft.query.QueryBuilder
import graft.solar.{PointStore, SolarSynth, Topics}
import graft.streaming.{IngestBridge, LoopbackBroker, MqttCallbacks, MqttConnectConfig,
  MqttReturnCode, MqttSimBroker, MqttSocketClient, StreamingDedup, StreamingIngest, StreamingLm}
import org.apache.spark.sql.SparkSession

/** The full operational surface in ONE runnable main — ops parity demo,
  * not a gate — in three acts, every stage the spec-pinned production
  * code path:
  *
  * Act 1/2 (the reference's loop): a scripted MQTT "day" (mate/device
  * status transitions + DC/FX/MX packets, including a packet published
  * while a device is offline, which the stateful gate must drop) flows
  * through the DataSourceV2 MQTT source → stateful status gate → packet
  * decode → checkpointed point-bucket append; the SAME bucket is read
  * back through the query surface (batch `QueryBuilder` aggregate and
  * the live streaming tail that finalizes windows on a late append).
  * The feed runs on the REAL transport, exactly-once end to end: a
  * publisher [[MqttSocketClient]] publishes every message at
  * QoS 2 over a live socket to a [[LoopbackBroker]] routing at QoS 2 to
  * a subscriber [[MqttSocketClient]] whose [[IngestBridge]] lands it in
  * the ingest log — the four-leg PUBLISH/PUBREC/PUBREL/PUBCOMP
  * handshake runs on BOTH hops of every message before Spark sees it.
  *
  * Act 3 (the LLM-pipeline crawl-filter loop, r13 verdict item 5):
  * prebuilt stores — the SimHash band index (`q_dedup_index_probe`'s
  * artifact) and the trained bigram LM (`q_lm_index_score`'s) — serve
  * a live document stream: each micro-batch is near-dup-screened via
  * [[StreamingDedup.probeBandIndex]] and perplexity-scored via
  * [[StreamingLm.scoreAgainstStoredLm]] inside one foreachBatch, the
  * exact shape an always-on crawl ingest runs for months. The demo's
  * counts are pinned by `StreamingDemoSpec`.
  *
  * Usage: `runMain graft.tools.StreamingDemo [workDir]`.
  */
object StreamingDemo {

  /** Act 3 factored for the spec: stream `sf`'s documents through the
    * stored band index + LM in `nBatches` micro-batches; returns
    * (docs streamed, near-dup reports, docs scored) — the latter two
    * must equal the batch gates' own row counts for the same corpus. */
  def crawlFilterAct(spark: SparkSession, sf: String, nBatches: Int = 2,
      quiet: Boolean = false): (Long, Long, Long) = {
    import spark.implicits._
    // build-or-freshen the stores through the batch gates themselves
    graft.queries.DedupQueries.qDedupIndexProbe.run(spark, sf).collect()
    graft.queries.RankQueries.qLmIndexScore.run(spark, sf).collect()
    val bandsDir = graft.operators.IndexStore.dirFor(sf, "dedup_bands")
    val lmDir = graft.operators.IndexStore.dirFor(sf, "lm")

    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .selectExpr("doc_id", "lang", "text")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    implicit val sqlCtx = spark.sqlContext
    val in = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Long, String, String)]
    var probed = 0L
    var scored = 0L
    val q = in.toDF().toDF("doc_id", "lang", "text").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
        val hits = StreamingDedup.probeBandIndex(batch, bandsDir).count()
        val lm = StreamingLm.scoreAgainstStoredLm(batch, lmDir)
        val n = lm.count()
        probed += hits
        scored += n
        if (!quiet) {
          println(s"[demo] crawl batch $id: ${batch.count()} docs in, " +
            s"$hits near-dup reports, $n perplexity-scored; worst 3 by avg_nll:")
          lm.orderBy(org.apache.spark.sql.functions.col("avg_nll").desc)
            .show(3, truncate = false)
        }
        ()
      }
      .start()
    val per = math.max(1, docs.length / nBatches)
    docs.grouped(per).foreach { chunk =>
      in.addData(chunk.toSeq)
      q.processAllAvailable()
    }
    q.stop()
    (docs.length.toLong, probed, scored)
  }

  def main(args: Array[String]): Unit = {
    val work = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_demo").toString)
    val spark = GraftSession.get("local[8]")
    spark.sparkContext.setLogLevel("WARN")
    val broker = s"demo-${System.nanoTime()}"
    val bucket = s"$work/bucket"
    val chk = s"$work/chk"
    val epoch = 1700000000L
    def us(i: Long) = i * 1000000L

    // ---- transport: real TCP, QoS 2 on both hops ----------------------
    val lb = new LoopbackBroker("solar", "tok123")
    lb.forwardQos = 2 // routed copies run the four-leg flow too
    val sub = new MqttSocketClient("demo-sub")
    val bridge = new IngestBridge(sub, broker, "mate/#")
    val cfg = MqttConnectConfig("127.0.0.1", lb.port, "solar", "tok123", useTls = false)
    require(sub.connect(cfg, bridge) == MqttReturnCode.Accepted, "subscriber connect")
    awaitDemo(bridge.events.count("subscribe") >= 1, "SUBACK")
    val pub = new MqttSocketClient("demo-pub")
    require(pub.connect(cfg, new MqttCallbacks {}) == MqttReturnCode.Accepted,
      "publisher connect")
    var published = 0L
    def send(topic: String, payload: Array[Byte]): Unit = { // arrival stamped at receipt
      require(pub.publish(topic, payload, qos = 2), s"QoS-2 publish failed: $topic")
      published += 1
    }
    // delivery lands on the subscriber's reader thread — drain the
    // two-hop QoS-2 flows before each Spark read
    def drained(): Unit = awaitDemo(MqttSimBroker.size(broker) == published, "delivery")

    // -------- act 1: everything online, then an FX outage ---------------
    send(Topics.MateStatus, "online".getBytes)
    send(Topics.DcStatus, "online".getBytes)
    send(Topics.FxStatus, "online".getBytes)
    send(Topics.MxStatus, "online".getBytes)
    for (i <- 0 until 8) {
      send(Topics.DcData, SolarSynth.encodeDc(epoch + 60 * i, i))
      send(Topics.FxData, SolarSynth.encodeFx(epoch + 60 * i, i))
      send(Topics.MxData, SolarSynth.encodeMx(epoch + 60 * i, i))
    }
    send(Topics.FxStatus, "offline".getBytes)
    // published during the outage: the gate must DROP this packet
    send(Topics.FxData, SolarSynth.encodeFx(epoch + 600, 99))
    drained()

    println(s"[demo] act 1 publishing done: ${MqttSimBroker.size(broker)} MQTT messages " +
      s"on '$broker' via TCP QoS 2 x 2 hops")
    val q = StreamingIngest.start(spark, broker, bucket, chk)
    q.processAllAvailable()

    // -------- act 2: a second micro-batch; device state carried over ----
    send(Topics.FxStatus, "online".getBytes)
    send(Topics.FxData, SolarSynth.encodeFx(epoch + 660, 12))
    drained()
    q.processAllAvailable()
    q.stop()
    pub.disconnect(); sub.disconnect(); lb.close()

    val pts = PointStore.read(spark, bucket)
    println(s"[demo] point bucket: ${pts.count()} points, " +
      s"${pts.select("measurement").distinct().count()} series; " +
      "outage packet dropped by the stateful gate, post-recovery packet kept")

    // -------- the reference's query surface over the ingested bucket ----
    val agg = QueryBuilder(spark, bucket)
      .range("1970-01-01T00:00:00Z", "2099-01-01T00:00:00Z")
      .appendFilter("_measurement", "fx-1")
      .appendAggregate("5m", "mean")
      .build()
    println("[demo] QueryBuilder: from(bucket) |> range |> filter(fx-1) |> " +
      "aggregateWindow(5m, mean):")
    agg.show(20, truncate = false)

    // -------- the same surface as a LIVE streaming tail of the bucket ---
    val tail = QueryBuilder.streaming(spark, bucket, watermark = "0 seconds")
      .appendFilter("_measurement", "mx-1")
      .appendAggregate("5m", "mean")
      .build()
    val sink = s"demo_tail_${System.nanoTime()}"
    val tq = tail.writeStream.format("memory").queryName(sink)
      .outputMode("append").start()
    tq.processAllAvailable()
    // a LATE bucket append arrives as a new micro-batch of the tail
    import org.apache.spark.sql.functions.col
    PointStore.write(
      graft.solar.SolarIngest.points(
        spark.createDataFrame(Seq(
          (Topics.MxStatus, "online".getBytes, us(100)),
          (Topics.MxData, SolarSynth.encodeMx(epoch + 3600, 21), us(101))))
          .toDF("topic", "payload", "arrival")
          .withColumn("arrival", (col("arrival") / 1000000L).cast("timestamp"))),
      bucket)
    tq.processAllAvailable()
    tq.stop()
    val tailRows = spark.sql(s"SELECT * FROM $sink ORDER BY time")
    println("[demo] streaming tail (mx-1, 5m mean, append mode): the late file " +
      "append arrived as a micro-batch and its event time advanced the " +
      "watermark, FINALIZING the earlier windows below (the newest window " +
      "stays open until a still-later event closes it — Flux can only poll; " +
      "this is the same builder emitting each window exactly once):")
    tailRows.show(20, truncate = false)

    // -------- act 3: the crawl-filter loop over the prebuilt stores -----
    val sf = sys.env.getOrElse("SPARK_GRAFT_DEMO_SF", "/root/testdata/sf0.001")
    println(s"[demo] act 3: streaming $sf documents through the persisted " +
      "SimHash band index and trained bigram LM (the always-on crawl filter):")
    val (nDocs, nProbed, nScored) = crawlFilterAct(spark, sf)
    println(s"[demo] crawl-filter done: $nDocs docs streamed, $nProbed near-dup " +
      s"reports, $nScored perplexity-scored — identical rows to the batch gates " +
      "(StreamingDemoSpec pins this)")
    println(s"[demo] done; bucket at $bucket")
    spark.stop()
  }

  private def awaitDemo(cond: => Boolean, what: String, timeoutMs: Long = 15000): Unit = {
    val deadline = System.nanoTime() + timeoutMs * 1000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(10)
    require(cond, s"demo timed out waiting for $what")
  }
}
