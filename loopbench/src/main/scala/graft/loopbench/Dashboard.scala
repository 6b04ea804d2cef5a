package graft.loopbench

import graft.config.QuerySettings
import graft.query.{CsvWritten, QueryBuilder, QueryExec}
import graft.solar.{PointStore, SolarIngest, SolarSynth}
import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** `query`: one closed-loop client refreshes six dashboard panels over a
  * stored bucket, appends the newest step of points after each refresh,
  * so writes land beside reads, and then runs the [[Analytics]] battery.
  * The store (one packet per device every [[StepSeconds]] over [[Days]]
  * days) is built in set-up, in [[Chunks]] appends. */
object Dashboard {
  val Days = 30
  val Chunks = 3
  val StepSeconds = 120
  val MinCycles = 2
  val Day0 = 1699920000L // 2023-11-14T00:00:00Z

  /** A panel: its query, and how its result is yielded. */
  final case class Panel(name: String, query: Timestamp => QueryBuilder, yieldAs: String)

  /** One spelling per value, whatever type the yield mode returned. */
  private def num(v: Any): String = v match {
    case null => "null"
    case d: Double => BigDecimal(d).setScale(6, BigDecimal.RoundingMode.HALF_UP).toString
    case t: Timestamp => (t.getTime / 1000).toString
    case o => o.toString
  }

  private def hashRows(rows: Iterator[Seq[Any]]): (Long, Long) = {
    var n = 0L; var s = 0L
    rows.foreach { r =>
      n += 1
      s += scala.util.hashing.MurmurHash3.stringHash(r.map(num).mkString("|"))
    }
    (n, s)
  }

  private def hashRecords(rs: Seq[Map[String, Any]]): (Long, Long) =
    hashRows(rs.iterator.map(m =>
      Seq(m("_measurement"), m("_timestamp"), m("_field"), m("_value"))))

  /** The packets of steps [s0, s1) of the store, as raw MQTT rows. */
  private def packets(spark: SparkSession, seed: Long, s0: Long, s1: Long): DataFrame =
    spark.range(s0 * 3, s1 * 3, 1, spark.sparkContext.defaultParallelism)
      .select(
        (col("id") % 3).as("dev"),
        (lit(Day0) + (col("id") / 3).cast("long") * StepSeconds).as("t"),
        (pmod(xxhash64(col("id"), lit(seed)), lit(50000L)) / 10.0 + 0.05).as("v"))
      .select(
        SolarSynth.topicCol(col("dev")).as("topic"),
        SolarSynth.encodeCol(col("dev"), col("t"), col("v")).as("payload"),
        timestamp_seconds(col("t")).as("arrival"))

  private val fxFields = SolarSynth.fxSpecs.map(_.name)

  def panels(spark: SparkSession, bucket: String, inject: Boolean): Seq[Panel] = {
    def qb(now: Timestamp) = QueryBuilder(spark, bucket).withNow(now)
    // self-test: a panel whose query throws must count as failed, not timed
    val throwing = Panel("injected_throw", now => qb(now).range("-5m")
      .appendAggregate("5m", "no_such_fn"), "records")
    (if (inject) Seq(throwing) else Nil) ++ Seq(
      // the reference's run_example: the last 5 minutes of fx-1 or mx-1
      Panel("recent_5m_fx_mx", now => qb(now).range("-5m")
        .appendFilter("_measurement", "fx-1", joiner = "or")
        .appendFilter("_measurement", "mx-1"), "records"),
      Panel("recent_1h_field", now => qb(now).range("-1h")
        .appendFilter("_field", "battery_voltage"), "records"),
      Panel("week_5m_max_sorted", now => qb(now).range("-7d")
        .appendFilter("_measurement", "mx-1").appendFilter("_field", "pv_voltage")
        .appendAggregate("5m", "max").appendSort("_value", desc = true), "records"),
      Panel("month_1h_mean", now => qb(now).range("-30d").appendAggregate("1h", "mean"),
        "iterator"),
      Panel("day_pivot", now => qb(now).range("-1d").appendFilter("_measurement", "fx-1"),
        "pivot"),
      Panel("week_csv", now => qb(now).range("-7d").appendFilter("_measurement", "dc-1")
        .appendAggregate("1h", "mean"), "csv"))
  }

  /** Run a panel through its yield mode; (rows, order-independent hash). */
  def call(p: Panel, now: Timestamp, csvDir: String): (Long, Long) = {
    val q = p.query(now)
    p.yieldAs match {
      case "records" => hashRecords(q.records())
      case "iterator" => hashRows(q.iterator().map(r => Seq(r.get(0), r.get(1), r.get(2), r.get(3))))
      case "pivot" => hashRows(q.pivotFields(fxFields).collect().iterator.map(_.toSeq))
      case "csv" =>
        val csv = QuerySettings("csv", Some(csvDir + "/"), Some(s"${p.name}.csv"), Some("w"))
        QueryExec.execute(q, csv) match {
          case CsvWritten(path, _) => hashCsv(path)
          case other => throw new IllegalStateException(s"csv mode returned $other")
        }
    }
  }

  /** Build and optimize a panel's query without running it. */
  def plan(p: Panel, now: Timestamp): Unit = {
    val q = p.query(now)
    val df = if (p.yieldAs == "pivot") q.pivotFields(fxFields) else q.build()
    df.queryExecution.executedPlan
  }

  private def hashCsv(path: String): (Long, Long) = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get(path)).asScala
    val head = lines.head.split(",").toSeq
    val idx = Seq("_measurement", "_timestamp", "_field", "_value").map(head.indexOf(_))
    hashRows(lines.iterator.drop(1).map { l =>
      val c = l.split(",", -1)
      Seq(c(idx(0)), java.time.OffsetDateTime.parse(c(idx(1))).toEpochSecond, c(idx(2)),
        c(idx(3)).toDouble)
    })
  }

  /** The same six panels in plain Spark SQL over the bucket's files, run
    * side by side (they are untimed). */
  def reference(spark: SparkSession, bucket: String, now: Timestamp): Map[String, (Long, Long)] = {
    spark.read.parquet(bucket).createOrReplaceTempView("bench_bucket")
    val n = now.getTime / 1000
    def range(secs: Long) =
      s"time >= timestamp_seconds(${n - secs}) AND time < timestamp_seconds($n)"
    def win(secs: Int) = s"timestamp_seconds((floor(unix_seconds(time) / $secs) + 1) * $secs)"
    val mean = "CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value)"
    def rows(sql: String) = hashRows(spark.sql(sql).collect().iterator.map(_.toSeq))
    val pivot = fxFields.map(f => s"max(CASE WHEN field = '$f' THEN value END) AS `$f`")
      .mkString(", ")
    val sqls = Seq(
      "recent_5m_fx_mx" -> (s"SELECT measurement, time, field, value FROM bench_bucket " +
        s"WHERE ${range(300)} AND measurement IN ('fx-1', 'mx-1')"),
      "recent_1h_field" -> (s"SELECT measurement, time, field, value FROM bench_bucket " +
        s"WHERE ${range(3600)} AND field = 'battery_voltage'"),
      "week_5m_max_sorted" -> (s"SELECT measurement, ${win(300)} AS t, field, max(value) " +
        s"FROM bench_bucket WHERE ${range(7 * 86400)} AND measurement = 'mx-1' " +
        "AND field = 'pv_voltage' GROUP BY 1, 2, 3"),
      "month_1h_mean" -> (s"SELECT measurement, ${win(3600)} AS t, field, $mean " +
        s"FROM bench_bucket WHERE ${range(30 * 86400)} GROUP BY 1, 2, 3"),
      "day_pivot" -> (s"SELECT measurement, time, $pivot FROM bench_bucket " +
        s"WHERE ${range(86400)} AND measurement = 'fx-1' GROUP BY measurement, time"),
      "week_csv" -> (s"SELECT measurement, ${win(3600)} AS t, field, $mean " +
        s"FROM bench_bucket WHERE ${range(7 * 86400)} AND measurement = 'dc-1' " +
        "GROUP BY 1, 2, 3"))
    sqls.map(_._1).zip(Warm.concurrently(sqls.map { case (_, sql) => () => rows(sql) })).toMap
  }

  def run(ctx: Ctx): Unit = {
    val r = ctx.report
    val spark = ctx.spark
    val bucket = ctx.dir("dashboard") + "/bucket"
    val steps = Days * 86400L / StepSeconds

    // set-up: the store, in equal appends of consecutive days
    val chunkS = (0 until Chunks).map { c =>
      val t0 = System.nanoTime()
      ctx.trace.span("store", "PointStore.write") {
        PointStore.write(SolarIngest.points(
          packets(spark, ctx.seed, c * steps / Chunks, (c + 1) * steps / Chunks)), bucket)
      }
      (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s", Stats.median(chunkS), "s", Chunks)
    r.note("store_chunks_s", chunkS.map(c => f"$c%.3f").mkString(" "))
    r.phase("setup")
    val sf = Analytics.tables(spark, ctx.seed, ctx.dir("analytics"))
    r.phase("analytics_tables")
    val ps = panels(spark, bucket, ctx.injectFailures)
    val battery = Analytics.battery
    val csvDir = ctx.dir("dashboard/csv")
    var end = steps // steps stored so far
    def now = new Timestamp((Day0 + end * StepSeconds) * 1000)

    // warm cycle, checked against plain Spark SQL over the same files
    val warmNow = now
    val warm = ps.zip(Warm.concurrently(ps.map(p => () =>
      scala.util.Try(call(p, warmNow, csvDir))))).map { case (p, out) => p.name -> out }.toMap
    val ref = reference(spark, bucket, warmNow)
    ps.foreach { p =>
      r.check(s"dashboard ${p.name}: rows and hash equal the SQL reference",
        ref.get(p.name).exists(warm(p.name).toOption.contains),
        s"got ${warm(p.name).fold(_.toString, _.toString)}, reference ${ref.get(p.name)}")
    }
    r.phase("warm_and_reference")
    // the battery's warm pass is dumped for the DuckDB oracle (run.py runs
    // tools/selfcheck.py on it). It runs after the panels' warm refresh,
    // which warms the engine paths both share: run first, it and the
    // timed battery were both slower.
    val dumped = ctx.dir("analytics/dump")
    Analytics.dump(spark, sf, dumped)
    r.selfcheck = Some((dumped, sf, battery.size))
    r.phase("analytics_warm_and_dump")

    def append(): Unit = {
      PointStore.write(SolarIngest.points(packets(spark, ctx.seed, end, end + 1)), bucket)
      end += 1
    }
    // a cycle refreshes the panels, appends the newest step, and runs the
    // battery; every call is timed on its own. Whole cycles run until
    // `seconds` have passed and at least MinCycles are done, so every
    // query has the same number of samples.
    val cycle: Seq[(String, String, () => Long)] =
      ps.map(p => ("query", p.name, () => call(p, now, csvDir)._1)) ++
        battery.map(q => ("registry", q.name, () => { Analytics.call(q, spark, sf); 1L }))
    val lat = cycle.map(_._2 -> scala.collection.mutable.ArrayBuffer.empty[Double]).toMap
    val appendS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var calls = 0L
    var failed = 0L
    val t0 = System.nanoTime()
    val deadline = t0 + ctx.seconds * 1000000000L
    val failing = scala.collection.mutable.LinkedHashMap.empty[String, String]
    var i = 0
    while (i % cycle.size != 0 || i < MinCycles * cycle.size || System.nanoTime() < deadline) {
      val (layer, name, body) = cycle(i % cycle.size)
      val s0 = System.nanoTime()
      val out = scala.util.Try(ctx.trace.span(layer, name)(body()))
      calls += 1
      if (out.isSuccess && out.get > 0) lat(name) += (System.nanoTime() - s0) / 1e9
      else {
        failed += 1
        failing.getOrElseUpdate(name, out.fold(_.toString, v => s"$v rows"))
      }
      i += 1
      // after each refresh of the panels, the newest step arrives
      if (i % cycle.size == ps.size) {
        val a0 = System.nanoTime()
        ctx.trace.span("store", "PointStore.write")(append())
        appendS += (System.nanoTime() - a0) / 1e9
      }
    }
    failing.foreach { case (n, why) => r.check(s"query $n: timed calls", ok = false, why) }
    val wallS = (System.nanoTime() - t0) / 1e9
    r.phase("timed")
    // a query whose every call failed has no time; it is counted in `failed`
    val perQuery = lat.collect { case (k, v) if v.nonEmpty => k -> Stats.median(v.toSeq) }
    val panelS = ps.flatMap(p => lat(p.name))
    r.e2e("latency_s", perQuery.values.sum, "s", i / cycle.size)
    r.e2e("throughput_per_s", (calls - failed) / wallS, "1/s", calls)
    r.note("cycles", i / cycle.size)
    r.note("query_p50_s", Stats.median(panelS))
    r.note("query_p90_s", Stats.pct(panelS, 0.9))
    r.note("append_p50_s", Stats.median(appendS.toSeq))
    r.note("panels_s", ps.flatMap(p => perQuery.get(p.name)).sum)
    r.note("battery_s", battery.flatMap(q => perQuery.get(q.name)).sum)
    cycle.foreach { case (_, k, _) =>
      r.note(s"calls_${k}_s", lat(k).map(v => f"$v%.3f").mkString(" "))
    }
    r.attempted = calls
    r.failed = failed

    // every append is in the store
    val stored = PointStore.read(spark, bucket).count()
    val expected = packetsPoints(steps + appendS.size)
    r.check("dashboard: store holds the built points plus every append", stored == expected,
      s"$stored stored, $expected expected")

    r.phase("final_check")
    if (ctx.trace.on) {
      def spansOf(layer: String, name: String) =
        ctx.trace.spans.filter(s => s.layer == layer && s.name == name)
      ps.foreach { p =>
        val spans = spansOf("query", p.name)
        val w = spans.map(s => ctx.trace.work.get(s"span-${s.id}"))
        def med(f: ctx.trace.work.Totals => Double) = Stats.median(w.map(f))
        val planMs = Stats.median(Seq.fill(3) {
          val t = System.nanoTime()
          plan(p, now)
          (System.nanoTime() - t) / 1e6
        })
        r.layer(s"query.${p.name}.plan_ms", planMs, "ms", 3)
        r.layer(s"query.${p.name}.exec_ms", Stats.median(spans.map(s =>
          (s.endNs - s.startNs) / 1e6)), "ms", spans.size)
        r.layer(s"query.${p.name}.jobs", med(_.jobs.toDouble), "count", w.size)
        r.layer(s"query.${p.name}.input_bytes", med(_.inputBytes.toDouble), "bytes", w.size)
        r.layer(s"query.${p.name}.shuffle_bytes", med(_.shuffleWrite.toDouble), "bytes", w.size)
      }
      battery.foreach { q =>
        val spans = spansOf("registry", q.name)
        val w = spans.map(s => ctx.trace.work.get(s"span-${s.id}"))
        def med(f: ctx.trace.work.Totals => Double) = Stats.median(w.map(f))
        r.layer(s"registry.${q.name}.s", Stats.median(spans.map(s =>
          (s.endNs - s.startNs) / 1e9)), "s", spans.size)
        r.layer(s"registry.${q.name}.jobs", med(_.jobs.toDouble), "count", w.size)
        r.layer(s"registry.${q.name}.stages", med(_.stages.toDouble), "count", w.size)
        r.layer(s"registry.${q.name}.shuffle_bytes", med(_.shuffleWrite.toDouble), "bytes",
          w.size)
        r.layer(s"registry.${q.name}.spill_bytes", med(_.spill.toDouble), "bytes", w.size)
      }
      val writes = ctx.trace.spans.filter(_.layer == "store")
      r.layer("store.write_s", Stats.median(writes.drop(Chunks).map(s =>
        (s.endNs - s.startNs) / 1e9)), "s", writes.size - Chunks)
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(bucket)).iterator().asScala
        .filter(_.toString.endsWith(".parquet")).toSeq
      r.layer("store.files", files.size.toDouble, "count")
      r.layer("store.bytes_per_point",
        files.map(f => java.nio.file.Files.size(f)).sum.toDouble / stored, "bytes")
    }
  }

  private def packetsPoints(steps: Long): Long =
    steps * (SolarSynth.dcSpecs.size + SolarSynth.fxSpecs.size + SolarSynth.mxSpecs.size)
}
