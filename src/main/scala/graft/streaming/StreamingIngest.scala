package graft.streaming

import graft.solar.{PointStore, SolarIngest, Topics}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.{CommitLog, HDFSMetadataLog}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming form of the reference pipeline (SURVEY §3.1): MQTT-shaped
  * source → status gate → decode/explode → checkpointed append sink. One
  * `StreamingQuery` replaces the reference's three threads + bounded
  * queue; the sink upgrade is exactly-once-per-batch via checkpoint +
  * idempotent parquet append (T7 — the reference is at-most-once with
  * point drops).
  *
  * The status gate (T4) keeps no state store. Each micro-batch collects
  * its status rows to the driver and replays them in log-index order (the
  * reference's callback order) from the previous batch's end flags, into
  * the indices where each data topic's gate opens or closes; the data rows
  * are filtered against those in one narrow pass. The end flags go to
  * Spark's metadata log under `<checkpoint>/gate` before the sink writes,
  * so a replayed batch recomputes the same output. A checkpoint of an
  * earlier gate layout (no `gate/` log) is refused: delete it.
  */
object StreamingIngest {

  /** A batch's end state: status topic → last online flag. */
  final case class GateFlags(online: Map[String, Boolean])

  private val statusTopics: Seq[String] = Topics.MateStatus +: Topics.statusTopicFor.values.toSeq

  /** Devices and the mate start offline. */
  private val allOffline = GateFlags(statusTopics.map(_ -> false).toMap)

  private val online = "online".getBytes("US-ASCII")
  private val offline = "offline".getBytes("US-ASCII")

  /** Exact payload matches flip the flag; any other payload leaves it. */
  private def flag(payload: Array[Byte], current: Boolean): Boolean =
    if (java.util.Arrays.equals(payload, online)) true
    else if (java.util.Arrays.equals(payload, offline)) false
    else current

  /** Replay status rows `(index, topic, payload)` in index order from the
    * carried flags. Returns the end flags and, per data topic, the sorted
    * indices at which its gate opens or closes (`Long.MinValue` when it is
    * open from the start): a data row passes when both its device and the
    * mate are online. */
  private def replay(
      carry: GateFlags,
      status: Seq[(Long, String, Array[Byte])]): (GateFlags, Map[String, Array[Long]]) = {
    def open(f: Map[String, Boolean], data: String) =
      f(Topics.statusTopicFor(data)) && f(Topics.MateStatus)
    val flips = Topics.dataTopics.keys.map(_ -> Array.newBuilder[Long]).toMap
    flips.foreach { case (d, b) => if (open(carry.online, d)) b += Long.MinValue }
    val end = status.sortBy(_._1).foldLeft(carry.online) { case (f, (i, topic, payload)) =>
      val next = f.updated(topic, flag(payload, f(topic)))
      flips.foreach { case (d, b) => if (open(next, d) != open(f, d)) b += i }
      next
    }
    (GateFlags(end), flips.map { case (d, b) => d -> b.result() })
  }

  /** A row passes when an odd number of its topic's flips lie below its
    * index (a data row never shares an index with a status row). */
  private def passes(flips: Map[String, Array[Long]], topic: String, index: Long): Boolean =
    flips.get(topic).exists(f => (-java.util.Arrays.binarySearch(f, index) - 1) % 2 == 1)

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
