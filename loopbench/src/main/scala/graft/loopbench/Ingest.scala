package graft.loopbench

import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import scala.jdk.CollectionConverters._

/** `ingest`: the paper's loop after an outage. First a backlog is drained
  * from the ingest log ([[CatchupIngest]]: throughput, per-row gate,
  * decode and sink work), then the same pipeline keeps up with an
  * open-loop publisher over MQTT/TCP ([[LiveIngest]]: freshness, per-batch
  * fixed cost). The drains also warm the pipeline the live phase runs. */
object Ingest {
  def run(ctx: Ctx): Unit = {
    val progress = new ProgressListener
    ctx.spark.streams.addListener(progress)
    try {
      CatchupIngest.run(ctx, progress)
      LiveIngest.run(ctx, progress)
    } finally ctx.spark.streams.removeListener(progress)
  }

  /** One micro-batch as its progress event reports it. */
  final case class Batch(
      runId: java.util.UUID, id: Long, startOffset: Long, endOffset: Long, rows: Long,
      endMs: Long, durations: Map[String, Long], stateRows: Long, stateCommitMs: Long)

  /** The batches of `q` that read input, in order. */
  def batches(progress: ProgressListener, q: StreamingQuery): Seq[Batch] =
    progress.events.asScala.filter(p =>
      p.runId == q.runId && p.sources.nonEmpty && p.numInputRows > 0).map { p =>
      val src = p.sources.head
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      Batch(
        q.runId, p.batchId,
        Option(src.startOffset).map(_.toLong).getOrElse(0L),
        src.endOffset.toLong,
        p.numInputRows,
        java.time.Instant.parse(p.timestamp).toEpochMilli + d.getOrElse("triggerExecution", 0L),
        d,
        p.stateOperators.map(_.numRowsTotal).sum,
        p.stateOperators.map(_.commitTimeMs).sum)
    }.toSeq.sortBy(_.id)

  def p50(batches: Seq[Batch], key: String): Double =
    Stats.median(batches.map(_.durations.getOrElse(key, 0L).toDouble))

  /** Per-batch engine metrics under `prefix`: the progress event's
    * durations and state-store figures, and the Spark work per batch. */
  def batchLayers(ctx: Ctx, prefix: String, batches: Seq[Batch]): Unit = {
    val r = ctx.report
    val n = batches.size
    r.layer(s"$prefix.batches", n.toDouble, "count")
    r.layer(s"$prefix.batch_ms_p50", p50(batches, "triggerExecution"), "ms", n)
    r.layer(s"$prefix.add_batch_ms_p50", p50(batches, "addBatch"), "ms", n)
    r.layer(s"$prefix.query_planning_ms_p50", p50(batches, "queryPlanning"), "ms", n)
    r.layer(s"$prefix.wal_commit_ms_p50", p50(batches, "walCommit"), "ms", n)
    r.layer(s"$prefix.commit_offsets_ms_p50", p50(batches, "commitOffsets"), "ms", n)
    r.layer(s"$prefix.state_rows", batches.map(_.stateRows).max.toDouble, "count")
    r.layer(s"$prefix.state_commit_ms_p50",
      Stats.median(batches.map(_.stateCommitMs.toDouble)), "ms", n)
    val work = batches.map(b => ctx.trace.work.get(WorkListener.batchKey(b.runId, b.id)))
    r.layer(s"$prefix.jobs_per_batch", Stats.median(work.map(_.jobs.toDouble)), "count", n)
    r.layer(s"$prefix.tasks_per_batch", Stats.median(work.map(_.tasks.toDouble)), "count", n)
    // the slowest task against the mean one: a batch funnelled through one
    // key shows a large ratio
    r.layer(s"$prefix.gate_task_skew", Stats.median(work.filter(_.taskMs.nonEmpty).map { w =>
      val ms = w.taskMs.map(_.toDouble)
      ms.max / math.max(1.0, ms.sum / ms.size)
    }), "ratio", n)
  }
}
