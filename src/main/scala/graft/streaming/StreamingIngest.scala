package graft.streaming

import graft.solar.{PointStore, SolarIngest}
import graft.solar.SolarIngest.{GateFlags, allOffline, passes, replay, statusTopics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, HDFSMetadataLog}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of the reference pipeline (SURVEY §3.1): MQTT-shaped
  * source → status gate → decode/explode → checkpointed append sink. One
  * `StreamingQuery` replaces the reference's three threads + bounded
  * queue.
  *
  * Delivery (T7) is at-least-once: the point and dead-letter appends are
  * not keyed by `batchId`, so a crash between a batch's parquet append and
  * its checkpoint commit stores that batch's points twice on restart
  * (ROADMAP item 7). The reference is at-most-once with point drops. What
  * does hold is the gate: a replayed batch recomputes the same rows.
  *
  * The status gate (T4) is [[SolarIngest.replay]], the batch gate's rule,
  * keyed by log index, and keeps no state store. Each micro-batch collects
  * its status rows to the driver and replays them in log-index order (the
  * reference's callback order) from the previous batch's end flags; the
  * data rows are filtered against the resulting flips in one narrow pass.
  * The end flags go to Spark's metadata log under `<checkpoint>/gate`
  * before the sink writes, so they are replay-safe. A checkpoint of an
  * earlier gate layout (no `gate/` log) is refused: delete it.
  */
object StreamingIngest {

  /** The gate's metadata log; refuses a checkpoint that has committed
    * batches but no gate entries, as an earlier gate layout wrote it. */
  private def gateLog(spark: SparkSession, checkpoint: String): HDFSMetadataLog[GateFlags] = {
    val log = new HDFSMetadataLog[GateFlags](spark, s"$checkpoint/gate")
    val committed = new CommitLog(spark, s"$checkpoint/commits").getLatestBatchId()
    if (log.getLatestBatchId().isEmpty && committed.nonEmpty)
      throw new IllegalStateException(
        s"checkpoint $checkpoint was written by an earlier status-gate layout; delete it and restart")
    log
  }

  /** The full streaming pipeline: subscribe → gate → decode → append.
    * Packets cut short land in `<bucket>_deadletter` with their raw bytes
    * (T6: the reference logs-and-drops; here nothing is lost). */
  def start(
      spark: SparkSession,
      broker: String,
      bucketPath: String,
      checkpoint: String): StreamingQuery = {
    val log = gateLog(spark, checkpoint)
    val retain = spark.conf.get(SQLConf.MIN_BATCHES_TO_RETAIN.key).toInt
    spark.readStream
      .format("graft.streaming.MqttSimSourceProvider")
      .option("broker", broker)
      .load()
      .writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val carry =
          log.listBatchesOnDisk.filter(_ < batchId).maxOption.flatMap(log.get).getOrElse(allOffline)
        // one job brings the status rows and the cut packets to the driver
        val (status, cut) = batch.filter(col("topic").isin(statusTopics: _*) || SolarIngest.truncated)
          .collect().partition(r => statusTopics.contains(r.getAs[String]("topic")))
        val (end, flips) = replay(carry, status.toSeq.map(r =>
          (r.getAs[Long]("index"), r.getAs[String]("topic"), r.getAs[Array[Byte]]("payload"))))
        log.add(batchId, end)
        if (batchId > retain) log.purge(batchId - retain)
        val gate = udf((topic: String, index: Long) => passes(flips, topic, index))
        if (flips.values.exists(_.nonEmpty))
          PointStore.write(
            SolarIngest.points(batch.filter(gate(col("topic"), col("index")))), bucketPath)
        val dead = cut.filter(r => passes(flips, r.getAs[String]("topic"), r.getAs[Long]("index")))
        if (dead.nonEmpty)
          spark.createDataFrame(java.util.Arrays.asList(dead: _*), batch.schema).drop("index")
            .write.mode("append").parquet(s"${bucketPath}_deadletter")
      }
      .start()
  }
}
