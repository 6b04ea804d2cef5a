package graft.loopbench

import graft.solar.{PointStore, SolarSynth}
import graft.streaming.{MqttSimBroker, StreamingIngest}
import org.apache.spark.sql.functions._

/** The catch-up phase of `ingest`: a backlog sits in the ingest log before
  * `StreamingIngest.start`, as after a subscriber outage, and the run
  * times how fast the loop drains it. Every drain starts from a fresh
  * bucket, a fresh checkpoint and a cleared log.
  *
  * One packet in [[TruncateEvery]] arrives cut short inside its time
  * prefix, so it must land in the dead-letter bucket. With
  * `--inject-failures` a further share is cut inside the packet body. */
object CatchupIngest {
  val Messages = 120000
  val TruncateEvery = 1000
  val WarmMessages = 20000
  val Drains = 2

  final case class Backlog(bases: Array[Long], cutTo: Array[Int]) {
    def payload(k: Int): Array[Byte] = {
      val p = Feed.packet(k, bases(k))
      if (cutTo(k) < 0) p else java.util.Arrays.copyOf(p, cutTo(k))
    }
  }

  def backlog(seed: Long, inject: Boolean): Backlog = {
    val rng = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val bases = Array.fill(Messages)(Feed.base(rng))
    val cut = Array.fill(Messages)(-1)
    // a fixed share, at seeded positions: one per block of TruncateEvery
    (0 until Messages / TruncateEvery).foreach { b =>
      cut(b * TruncateEvery + rng.nextInt(TruncateEvery)) = rng.nextInt(4)
    }
    if (inject) (0 until Messages by 97).foreach(k => if (cut(k) < 0) cut(k) = 10)
    Backlog(bases, cut)
  }

  def run(ctx: Ctx, progress: ProgressListener): Unit = {
    val r = ctx.report
    val data = backlog(ctx.seed, ctx.injectFailures)
    val good = (0 until Messages).filter(data.cutTo(_) < 0)
    val dead = Messages - good.size
    val expectedPoints = good.map(Feed.pointsOf(_).toLong).sum

    val loadS = scala.collection.mutable.ArrayBuffer.empty[Double]
    val drainS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var lastBucket = ""
    var failedChecks = 0

    /** One drain of the first `n` messages; returns its wall time. */
    def drain(rep: Int, n: Int, check: Boolean): Double = {
      val log = s"catchup-${ctx.seed}-$rep-${System.nanoTime()}"
      val bucket = ctx.dir(s"catchup/bucket-$rep")
      // set-up: the backlog lands in the ingest log, statuses first
      val t0 = System.nanoTime()
      ctx.trace.span("source", "MqttSimBroker.publish") {
        Feed.statusTopics.zipWithIndex.foreach { case (t, i) =>
          MqttSimBroker.publish(log, t, "online".getBytes("US-ASCII"), i.toLong)
        }
        var k = 0
        while (k < n) {
          MqttSimBroker.publish(log, Feed.topic(k), data.payload(k), 1000L + k)
          k += 1
        }
      }
      if (check) loadS += (System.nanoTime() - t0) / 1e9

      val t1 = System.nanoTime()
      val q = StreamingIngest.start(ctx.spark, log, bucket, ctx.dir(s"catchup/chk-$rep"))
      q.processAllAvailable()
      val s = (System.nanoTime() - t1) / 1e9
      q.stop()
      if (ctx.trace.on && rep == 1) Ingest.batchLayers(ctx, "drain", Ingest.batches(progress, q))
      MqttSimBroker.clear(log)

      // every drain commits exactly the closed-form point count
      if (check) {
        val got = PointStore.read(ctx.spark, bucket).count()
        if (got != expectedPoints) {
          failedChecks += 1
          r.check(s"catchup drain $rep: committed points", ok = false,
            s"$got committed, $expectedPoints expected")
        }
        lastBucket = bucket
      }
      s
    }

    // warm-up: the same path over a smaller backlog, not timed
    drain(0, WarmMessages, check = false)
    r.phase("drain_setup_and_warm")
    (1 to Drains).foreach(rep => drainS += drain(rep, Messages, check = true))
    r.phase("drains")

    r.e2e("throughput_per_s", expectedPoints / Stats.median(drainS.toSeq), "1/s", drainS.size)
    r.note("backlog_load_s", Stats.median(loadS.toSeq))
    r.note("drains", drainS.size)
    r.note("drain_s", drainS.map(d => f"$d%.3f").mkString(" "))
    r.note("points_per_drain", expectedPoints)
    r.check("catchup: every drain committed the closed-form point count", failedChecks == 0,
      s"$failedChecks of ${drainS.size} drains wrong")

    // exact sums per (measurement, field) and dead letters, on the last
    // drain: values carry at most 6 decimals, so micro-units sum exactly
    val want = scala.collection.mutable.HashMap.empty[(String, String), Long]
    good.foreach { k =>
      val m = Feed.measurement(k)
      Feed.fieldsOf(k).foreach { spec =>
        val micros = math.round(SolarSynth.expectedValue(spec, data.bases(k)) * 1e6)
        want((m, spec.name)) = want.getOrElse((m, spec.name), 0L) + micros
      }
    }
    val got = PointStore.read(ctx.spark, lastBucket)
      .groupBy("measurement", "field")
      .agg(sum(col("value").cast("decimal(38,6)")).as("s"))
      .collect().map(row => (row.getString(0), row.getString(1)) ->
        row.getDecimal(2).movePointRight(6).longValueExact())
      .toMap
    val badSums = (want.keySet ++ got.keySet).count(k => want.get(k) != got.get(k))
    r.check("catchup: per-(measurement, field) decimal sums", badSums == 0,
      s"$badSums of ${want.size} series differ")
    val deadGot = ctx.spark.read.parquet(s"${lastBucket}_deadletter").count()
    r.check("catchup: dead letters equal injected truncations", deadGot == dead,
      s"$deadGot dead letters, $dead injected")
    if (ctx.trace.on) {
      r.layer("decode.dead_letters", deadGot.toDouble, "count")
      r.layer("decode.points_per_s", expectedPoints / Stats.median(drainS.toSeq), "1/s")
    }
    r.phase("drain_check")
    // a drain that fails a check fails all its packets; the sums and dead
    // letters are checked on the last drain
    val lastWrong = failedChecks == 0 && (badSums > 0 || deadGot != dead)
    r.attempted += Messages.toLong * drainS.size
    r.failed += Messages.toLong * (failedChecks + (if (lastWrong) 1 else 0))
  }
}
