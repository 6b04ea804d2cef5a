package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Streaming observability — the Spark-native form of the reference's
  * connection/status callbacks (SURVEY §2.1 S2: on_connect/disconnect/
  * subscribe logging, `/root/reference/src/classes/mqtt_classes.py:124-185`).
  * A `StreamingQueryListener` sees lifecycle (start/terminate ≈ connect/
  * disconnect) and per-batch progress (rows/sec ≈ message callbacks).
  */
class IngestListener extends StreamingQueryListener {
  /** One progress event: input rows, the batch's `triggerExecution` and
    * `addBatch` times, and the state operators' total rows and commit
    * time (summed over operators; 0 for a stateless query). */
  final case class BatchStat(
      batchId: Long,
      numInputRows: Long,
      source: String,
      triggerMs: Long,
      addBatchMs: Long,
      stateRows: Long,
      stateCommitMs: Long)

  val started = new ConcurrentLinkedQueue[String]()
  val batches = new ConcurrentLinkedQueue[BatchStat]()
  val terminated = new ConcurrentLinkedQueue[String]()

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    started.add(e.name match { case null => e.id.toString; case n => n })

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    val src = if (p.sources.nonEmpty) p.sources.head.description else ""
    def ms(k: String): Long = Option(p.durationMs.get(k)).fold(0L)(_.longValue)
    batches.add(BatchStat(p.batchId, p.numInputRows, src,
      triggerMs = ms("triggerExecution"),
      addBatchMs = ms("addBatch"),
      stateRows = p.stateOperators.map(_.numRowsTotal).sum,
      stateCommitMs = p.stateOperators.map(_.commitTimeMs).sum))
  }

  /** One line over the batches seen so far that `keep` selects (one
    * query's, say, by its source): count, p50 `triggerExecution` ms, and
    * the state rows of the latest batch. */
  def summary(keep: BatchStat => Boolean): String = {
    import scala.jdk.CollectionConverters._
    val bs = batches.asScala.toVector.filter(keep)
    val ms = bs.map(_.triggerMs).sorted
    val p50 = if (ms.isEmpty) 0L else ms(ms.size / 2)
    s"batches=${bs.size} batch_ms_p50=$p50 state_rows=${bs.lastOption.fold(0L)(_.stateRows)}"
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    terminated.add(e.id.toString)
}

object Observability {
  /** Register a fresh listener on the session; caller keeps the handle. */
  def attach(spark: SparkSession): IngestListener = {
    val l = new IngestListener
    spark.streams.addListener(l)
    l
  }

  def detach(spark: SparkSession, l: IngestListener): Unit =
    spark.streams.removeListener(l)
}
