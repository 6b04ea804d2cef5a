package graft.loopbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Spans around the benchmark's calls into each graft layer, plus the
  * Spark work those calls caused.
  *
  * A span is (id, layer, name, parent, start, end). While a span is open
  * on a thread, that thread's Spark job group is the span id, so the
  * [[WorkListener]] can attribute every job, stage and task it sees to
  * the span that launched it. Spans stay in memory and are written when
  * the run ends. With tracing off, `span` only runs its body.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  final case class Span(id: Long, layer: String, name: String, parent: Long,
      startNs: Long, endNs: Long)

  private val ids = new AtomicLong(0)
  private val done = new java.util.concurrent.ConcurrentLinkedQueue[Span]()
  private val stack = new ThreadLocal[List[Long]] { override def initialValue() = Nil }
  val work = new WorkListener
  if (on) spark.sparkContext.addSparkListener(work)

  /** Nanoseconds spent in the trace's own bookkeeping and listener. */
  def overheadNs: Long = own.get() + work.ownNs.get()
  private val own = new AtomicLong(0)

  def span[T](layer: String, name: String)(body: => T): T =
    if (!on) body
    else {
      val o0 = System.nanoTime()
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val prevGroup = Option(sc.getLocalProperty("spark.jobGroup.id"))
      val prevDesc = Option(sc.getLocalProperty("spark.job.description"))
      stack.set(id :: stack.get())
      sc.setJobGroup(s"span-$id", s"$layer:$name")
      val t0 = System.nanoTime()
      own.addAndGet(t0 - o0)
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        prevGroup match {
          case Some(g) => sc.setJobGroup(g, prevDesc.orNull)
          case None => sc.clearJobGroup()
        }
        done.add(Span(id, layer, name, parent, t0, t1))
        own.addAndGet(System.nanoTime() - t1)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.id)

  def detach(): Unit = if (on) spark.sparkContext.removeSparkListener(work)

  def json: String = spans.map { s =>
    s"""{"id": ${s.id}, "layer": "${s.layer}", "name": "${s.name}", "parent": ${s.parent}, """ +
      s""""start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
  }.mkString("[", ", ", "]")
}

/** Per-job-group and per-streaming-batch totals of the Spark work seen. */
final class WorkListener extends SparkListener {
  final class Totals {
    var jobs = 0L; var stages = 0L; var tasks = 0L
    var shuffleWrite = 0L; var inputBytes = 0L; var spill = 0L
    val taskMs = mutable.ArrayBuffer.empty[Long]
  }

  val ownNs = new AtomicLong(0)
  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    ownNs.addAndGet(System.nanoTime() - t0)
  }

  private val stageKey = new ConcurrentHashMap[Int, String]()
  private val totals = new ConcurrentHashMap[String, Totals]()

  /** A streaming batch's jobs run in the query run's job group; key them
    * by run and batch. Other jobs are keyed by their span's job group. */
  private def keyOf(props: java.util.Properties): String = {
    def prop(k: String) = Option(props).flatMap(p => Option(p.getProperty(k)))
    val group = prop("spark.jobGroup.id").getOrElse("other")
    prop("streaming.sql.batchId").map(b => WorkListener.batchKey(group, b)).getOrElse(group)
  }

  def get(key: String): Totals = totals.computeIfAbsent(key, _ => new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val k = keyOf(e.properties)
    e.stageIds.foreach(s => stageKey.put(s, k))
    val t = get(k)
    t.synchronized { t.jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
    val k = Option(stageKey.get(e.stageInfo.stageId)).getOrElse("other")
    val t = get(k)
    t.synchronized { t.stages += 1; t.tasks += e.stageInfo.numTasks }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (e.taskMetrics != null) timed {
    val m = e.taskMetrics
    val k = Option(stageKey.get(e.stageId)).getOrElse("other")
    val t = get(k)
    t.synchronized {
      t.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      t.inputBytes += m.inputMetrics.bytesRead
      t.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      t.taskMs += m.executorRunTime
    }
  }
}

object WorkListener {
  def batchKey(runId: Any, batchId: Any): String = s"$runId/batch-$batchId"
}

/** Keeps every streaming progress event. The ingest workloads always
  * install one: freshness and drain times are read from it. */
final class ProgressListener extends StreamingQueryListener {
  val events = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.sql.streaming.StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(e.progress)
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
