package graft.queries

import graft.Tables._
import graft.solar.{SolarIngest, SolarSynth, Topics}
import org.apache.spark.sql.functions._

/** End-to-end verification of the solar ingestion dataflow (SURVEY §3.1):
  * every `events` row is deterministically encoded into a binary MATE-style
  * packet (LE epoch prefix + big-endian struct + padding), pushed through
  * the real decode pipeline (custom codegen extract expressions → field map
  * → explode to long points), and aggregated per (measurement, field).
  *
  * The DuckDB oracle can't decode binary — instead it recomputes the
  * decoded values in closed form from the same source rows (SolarSynth
  * mirrors each decode float-op exactly), so a hash match proves the whole
  * binary chain: time detach, endianness, bit-packing, scaling, explosion.
  *
  * Scale: encode+decode are narrow per-row transforms (one codegen stage);
  * the only shuffle is the final aggregation — at 100 TB this is a scan-
  * shaped pipeline identical to the real ingest path.
  */
object SolarQueries {

  private def oracleIngestSql: String = {
    def branch(measurement: String, rem: Int, specs: Seq[SolarSynth.FieldSpec]): Seq[String] =
      specs.map { spec =>
        s"""SELECT '$measurement' AS measurement, '${spec.name}' AS field,
           |  CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CAST(${SolarSynth.valueSql(spec)} AS DECIMAL(27,4))) AS DOUBLE) AS sum_value,
           |  CAST(max(floor(epoch(ts))) AS BIGINT) AS max_time_s
           |FROM events WHERE user_id % 3 = $rem""".stripMargin
      }
    val branches =
      branch(Topics.DcName, 0, SolarSynth.dcSpecs) ++
        branch(Topics.FxName, 1, SolarSynth.fxSpecs) ++
        branch(Topics.MxName, 2, SolarSynth.mxSpecs)
    branches.mkString("SELECT * FROM (\n", "\nUNION ALL\n", "\n) ORDER BY measurement, field")
  }

  /** Full binary ingest chain, aggregated: 55 (measurement, field) series. */
  val qSolarIngest: Q = Q.sql(
    "q_solar_ingest",
    oracleIngestSql,
    doc = "binary packet encode→decode→explode→aggregate, oracle-checked") { (s, d) =>
    // single-file source → repartition so the encode/decode CPU spreads
    // across cores (at scale the scan is already parallel)
    val raw = events(s, d).repartition(s.sparkContext.defaultParallelism).select(
      SolarSynth.topicCol(col("user_id")).as("topic"),
      SolarSynth.encodeCol(col("user_id"), unix_timestamp(col("ts")), col("value"))
        .as("payload"),
      col("ts").as("arrival"))
    SolarIngest
      .points(raw)
      .groupBy(col("measurement"), col("field"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("value").cast("decimal(27,4)")).cast("double").as("sum_value"),
        max(unix_timestamp(col("time"))).as("max_time_s"))
      .orderBy("measurement", "field")
  }

  /** The interleaved status/data raw stream [[qStatusGate]] feeds the
    * gate: each events row becomes exactly one raw message — a mate flip
    * (every 500th event), a device flip ('error' → offline, 'signup' →
    * online), or a data packet. Factored out so GateReplaySpec can
    * publish the identical stream to the streaming gate. */
  def statusRaw(s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    val ev = events(s, d)
    val dev = col("user_id") % 3
    val dataTopic = when(dev === 0, Topics.DcData).when(dev === 1, Topics.FxData)
      .otherwise(Topics.MxData)
    val devStatusTopic = when(dev === 0, Topics.DcStatus).when(dev === 1, Topics.FxStatus)
      .otherwise(Topics.MxStatus)
    val mateFlip = col("event_id") % 500 === 0
    val mateOnline = col("event_id") % 1000 === 0
    val devFlip = col("event_type").isin("error", "signup")
    ev.select(
      when(mateFlip, Topics.MateStatus)
        .when(devFlip, devStatusTopic)
        .otherwise(dataTopic).as("topic"),
      when(mateFlip, when(mateOnline, lit("online")).otherwise(lit("offline")).cast("binary"))
        .when(devFlip,
          when(col("event_type") === "signup", lit("online")).otherwise(lit("offline"))
            .cast("binary"))
        .otherwise(SolarSynth.encodeCol(col("user_id"), unix_timestamp(col("ts")), col("value")))
        .as("payload"),
      // Broker delivery order must be total for deterministic gating —
      // event_id is unique, so it becomes the (synthetic) arrival clock.
      timestamp_micros(col("event_id")).as("arrival"),
      col("value"))
  }

  /** The reference's status gate (F2) exercised end-to-end: a synthetic
    * status changelog (derived from events: 'error' rows flip devices
    * offline, 'signup' rows flip them back online; every 500th event flips
    * the global mate status) interleaved with data packets; the gate must
    * drop exactly the rows whose device or mate was offline at arrival.
    * Oracle recomputes the gating with window functions. */
  val qStatusGate: Q = Q.sql(
    "q_status_gate",
    """WITH tagged AS (
      |  SELECT event_id, ts, user_id, value, user_id % 3 AS dev,
      |    CASE WHEN event_id % 500 = 0 THEN (CASE WHEN event_id % 1000 = 0 THEN 'online' ELSE 'offline' END) END AS mate_flip,
      |    CASE WHEN event_id % 500 = 0 THEN NULL
      |         WHEN event_type = 'error' THEN 'offline'
      |         WHEN event_type = 'signup' THEN 'online' END AS dev_flip
      |  FROM events
      |), with_state AS (
      |  SELECT event_id, ts, dev, value, dev_flip, mate_flip,
      |    coalesce(last_value(dev_flip IGNORE NULLS) OVER (
      |      PARTITION BY dev ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'offline') AS dev_state,
      |    coalesce(last_value(mate_flip IGNORE NULLS) OVER (
      |      ORDER BY event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 'offline') AS mate_state
      |  FROM tagged
      |)
      |SELECT CAST(dev AS BIGINT) AS dev,
      |  CAST(count(*) AS BIGINT) AS n_passed,
      |  CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value
      |FROM with_state
      |WHERE dev_flip IS NULL AND mate_flip IS NULL
      |  AND dev_state = 'online' AND mate_state = 'online'
      |GROUP BY dev
      |ORDER BY dev""".stripMargin,
    doc = "stateful status gate over an interleaved status/data stream") { (s, d) =>
    // The gate sees only (topic, payload, arrival); re-join value by arrival
    // would be brittle, so thread it through as an extra column (the gate
    // keeps every column).
    SolarIngest
      .gated(statusRaw(s, d))
      .withColumn(
        "dev",
        when(col("topic") === Topics.DcData, 0L)
          .when(col("topic") === Topics.FxData, 1L)
          .otherwise(2L))
      .groupBy(col("dev"))
      .agg(
        count(lit(1)).as("n_passed"),
        sum(col("value").cast("decimal(27,2)")).cast("double").as("sum_value"))
      .orderBy("dev")
  }

  /** The Flux-parity QueryBuilder exercised end-to-end over decoded points:
    * `range(-20d)` → filter band (fx-1 OR mx-1) → band (battery_voltage OR
    * bat_voltage) → `aggregateWindow(1d, mean)` → sort — the reference's
    * canonical query shape (`influx_query.py:88-100`) against real decoded
    * data, oracle-recomputed in closed form. Window ends are compared as
    * epoch seconds (both engines align tumbling windows to the epoch). */
  val qQueryBuilder: Q = {
    val nowTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
    val nowS = 1706745600L // 2024-02-01 00:00:00 UTC
    val startS = nowS - 20L * 86400
    Q.sql(
      "q_querybuilder_agg",
      s"""WITH pts AS (
         |  SELECT floor(epoch(ts)) AS t_s, 'fx-1' AS measurement, 'battery_voltage' AS field,
         |    CAST((CAST(floor(value*10) AS BIGINT) % 5000) AS DOUBLE) / 10.0 AS value
         |  FROM events WHERE user_id % 3 = 1
         |  UNION ALL
         |  SELECT floor(epoch(ts)), 'mx-1', 'bat_voltage',
         |    CAST((CAST(floor(value*10) AS BIGINT) * 3 % 5000) AS DOUBLE) / 10.0
         |  FROM events WHERE user_id % 3 = 2
         |)
         |SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
         |  field, round(CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value), 3) AS value
         |FROM pts
         |WHERE t_s >= $startS AND t_s < $nowS
         |GROUP BY 1, 2, 3
         |ORDER BY measurement, window_end_s, field""".stripMargin,
      doc = "QueryBuilder range→filter bands→aggregateWindow(1d,mean)→sort") { (s, d) =>
      val raw = events(s, d).repartition(s.sparkContext.defaultParallelism).select(
        SolarSynth.topicCol(col("user_id")).as("topic"),
        SolarSynth.encodeCol(col("user_id"), unix_timestamp(col("ts")), col("value"))
          .as("payload"),
        col("ts").as("arrival"))
      val points = SolarIngest.points(raw)
      val built = graft.query.QueryBuilder
        .fromDataFrame(s, () => points)
        .withNow(nowTs)
        .range("-20d")
        .appendFilter("_measurement", "fx-1", joiner = "or")
        .appendFilter("_measurement", "mx-1")
        .appendFilter("_field", "battery_voltage", joiner = "or", newBand = true)
        .appendFilter("_field", "bat_voltage")
        .appendAggregate("1d", "mean")
        .appendSort("_time")
        .build()
      // deterministic total order + epoch-seconds window key for the compare
      built
        .select(
          col("measurement"),
          unix_timestamp(col("time")).as("window_end_s"),
          col("field"),
          round(col("value"), 3).as("value"))
        .orderBy("measurement", "window_end_s", "field")
    }
  }

  /** Flux `aggregateWindow(createEmpty: true)` + `fill(usePrevious)` —
    * the dense-grid + gap-fill semantics InfluxDB provides and the
    * reference's builder never reaches (SURVEY §7.4 documented the gap;
    * this closes it). A sparse series (rare high-value purchase events)
    * is windowed hourly: most windows are empty, appear in the output
    * (createEmpty), and carry the previous observation forward (LOCF).
    * Oracle replays the grid with generate_series and the fill with a
    * window max over a running value-count (DuckDB's last_value IGNORE
    * NULLS equivalent). */
  val qGapfill: Q = Q.sql(
    "q_gapfill",
    """WITH pts AS (
      |  SELECT 'purchase' AS measurement, ts AS time, 'value' AS field, value
      |  FROM events WHERE event_type = 'purchase' AND value > 200.0
      |), agg AS (
      |  SELECT measurement, field,
      |    date_trunc('hour', time) + INTERVAL 1 HOUR AS time,
      |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS value
      |  FROM pts GROUP BY 1, 2, 3
      |), grid AS (
      |  SELECT measurement, field, unnest(generate_series(min(time), max(time), INTERVAL 1 HOUR)) AS time
      |  FROM agg GROUP BY measurement, field
      |), dense AS (
      |  SELECT g.measurement, g.time, g.field, a.value
      |  FROM grid g LEFT JOIN agg a
      |    ON a.measurement = g.measurement AND a.field = g.field AND a.time = g.time
      |)
      |SELECT measurement, time, field,
      |  last_value(value IGNORE NULLS) OVER (
      |    PARTITION BY measurement, field ORDER BY time
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
      |FROM dense
      |ORDER BY time""".stripMargin,
    doc = "aggregateWindow(createEmpty) + fill(usePrevious) gap-filled series") { (s, d) =>
    val pts = events(s, d)
      .filter(col("event_type") === "purchase" && col("value") > 200.0)
      .select(
        // measurement = the filtered event_type column, not lit("purchase"):
        // same value on every row, but non-foldable — a literal would
        // constant-fold out of the LOCF window's partition spec and turn it
        // into an unpartitioned (single-partition, warning-spewing) window
        col("event_type").as("measurement"),
        col("ts").as("time"),
        lit("value").as("field"),
        col("value"))
    graft.query.QueryBuilder
      .fromDataFrame(s, () => pts)
      .appendAggregate("1h", "mean", createEmpty = true)
      .fillPrevious()
      .appendSort("_time")
      .build()
  }

  /** Shared base for the Flux-transformation gates: the
    * [[qQueryBuilder]] aggregation (1d mean per series over decoded
    * packets) with the UNROUNDED mean, as a CTE `m` the window-function
    * transformations read. Both engines derive `value` with the same
    * decimal-sum/count division, so the doubles the transformations see
    * are bit-identical. */
  private val qbNowTs = java.sql.Timestamp.valueOf("2024-02-01 00:00:00")
  private val qbNowS = 1706745600L
  private val qbStartS = qbNowS - 20L * 86400
  private def qbPtsSql: String =
    s"""pts AS (
       |  SELECT floor(epoch(ts)) AS t_s, 'fx-1' AS measurement, 'battery_voltage' AS field,
       |    CAST((CAST(floor(value*10) AS BIGINT) % 5000) AS DOUBLE) / 10.0 AS value
       |  FROM events WHERE user_id % 3 = 1
       |  UNION ALL
       |  SELECT floor(epoch(ts)), 'mx-1', 'bat_voltage',
       |    CAST((CAST(floor(value*10) AS BIGINT) * 3 % 5000) AS DOUBLE) / 10.0
       |  FROM events WHERE user_id % 3 = 2
       |)""".stripMargin
  private def qbBaseSql: String =
    s"""WITH $qbPtsSql, m AS (
       |  SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
       |    field, CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS value
       |  FROM pts
       |  WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2, 3
       |)""".stripMargin
  /** The decoded solar point bucket, PERSISTED once per source under the
    * usual stamp/meta freshness bracket — the reference's own
    * architecture (packets decode at INGEST into the point store; queries
    * read the bucket), and the same ingest-once/serve-many discipline as
    * the ANN and BPE artifacts. Before this, every one of the 17 qb gates
    * re-ran the encode+decode chain over events (~1.4 s fixed cost per
    * gate at sf0.1) to answer a ~38-row Flux query; a production bucket
    * is parsed exactly once. Values are bit-identical either way (the
    * decode chain is deterministic), so every oracle is unchanged. */
  private def qbPoints(
      s: org.apache.spark.sql.SparkSession, d: String): org.apache.spark.sql.DataFrame = {
    import graft.operators.IndexStore
    val dir = IndexStore.dirFor(d, "solar_points")
    val stamp = IndexStore.sourceStamp(s"$d/events.parquet")
    if (!IndexStore.isFresh(s, dir, stamp)) {
      val n = events(s, d).count()
      val raw = events(s, d).repartition(s.sparkContext.defaultParallelism).select(
        SolarSynth.topicCol(col("user_id")).as("topic"),
        SolarSynth.encodeCol(col("user_id"), unix_timestamp(col("ts")), col("value"))
          .as("payload"),
        col("ts").as("arrival"))
      IndexStore.publish(s, dir, n, Seq(("points", SolarIngest.points(raw), Nil)), stamp)
    }
    IndexStore.read(s, dir, "points",
      "measurement STRING, time TIMESTAMP, field STRING, value DOUBLE")
  }

  /** The ranged+filtered builder the Flux-transformation gates share,
    * BEFORE the aggregate — so gates can pick their own window fn. */
  private def qbBuilder(
      s: org.apache.spark.sql.SparkSession, d: String): graft.query.QueryBuilder = {
    val points = qbPoints(s, d)
    graft.query.QueryBuilder
      .fromDataFrame(s, () => points)
      .withNow(qbNowTs)
      .range("-20d")
      .appendFilter("_measurement", "fx-1", joiner = "or")
      .appendFilter("_measurement", "mx-1")
      .appendFilter("_field", "battery_voltage", joiner = "or", newBand = true)
      .appendFilter("_field", "bat_voltage")
  }
  private def qbBase(
      s: org.apache.spark.sql.SparkSession, d: String): graft.query.QueryBuilder =
    qbBuilder(s, d).appendAggregate("1d", "mean").appendSort("_time")
  private def qbProject(
      df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(
        col("measurement"),
        unix_timestamp(col("time")).as("window_end_s"),
        col("field"),
        col("value"))
      .orderBy("measurement", "window_end_s", "field")

  /** Flux `derivative(unit: 1h)` — per-series rate of change over the
    * daily means, using the ACTUAL gap between emitted windows (an
    * omitted empty window widens the denominator, as InfluxDB computes
    * it). Determinism: one subtraction and one division of the
    * bit-identical base doubles per row — no reordered float folds. */
  val qQbDerivative: Q = Q.sql(
    "q_qb_derivative",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field,
       |  (value - lag(value) OVER w) * 3600.0
       |    / CAST(window_end_s - lag(window_end_s) OVER w AS DOUBLE) AS value
       |FROM m
       |WINDOW w AS (PARTITION BY measurement, field ORDER BY window_end_s)
       |QUALIFY lag(value) OVER w IS NOT NULL
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux derivative(unit: 1h) over aggregateWindow(1d, mean) series") { (s, d) =>
    qbProject(qbBase(s, d).derivative("1h").build())
  }

  /** Flux `movingAverage(n: 3)` — trailing 3-window mean per series,
    * emitted from the third point on (no partial windows, Flux
    * semantics). The 3-row frame folds left-to-right in both engines. */
  val qQbMovingAvg: Q = Q.sql(
    "q_qb_moving_avg",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field, value FROM (
       |  SELECT measurement, window_end_s, field,
       |    avg(value) OVER (PARTITION BY measurement, field ORDER BY window_end_s
       |      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS value,
       |    row_number() OVER (PARTITION BY measurement, field ORDER BY window_end_s) AS rn
       |  FROM m) _x
       |WHERE rn >= 3
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux movingAverage(n: 3) over aggregateWindow(1d, mean) series") { (s, d) =>
    qbProject(qbBase(s, d).movingAverage(3).build())
  }

  /** Flux `increase()` — monotonized cumulative total per series
    * (cumulative sum of non-negative day-over-day differences; counter
    * resets contribute zero). The running frame accumulates in ORDER in
    * both engines, so the float fold is reproducible. */
  val qQbIncrease: Q = Q.sql(
    "q_qb_increase",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field, value FROM (
       |  SELECT measurement, window_end_s, field, first_row,
       |    sum(CASE WHEN d > 0 THEN d ELSE 0 END) OVER (
       |      PARTITION BY measurement, field ORDER BY window_end_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
       |  FROM (
       |    SELECT measurement, window_end_s, field,
       |      value - lag(value) OVER w AS d,
       |      (lag(value) OVER w IS NULL) AS first_row
       |    FROM m
       |    WINDOW w AS (PARTITION BY measurement, field ORDER BY window_end_s)) _d) _x
       |WHERE NOT first_row
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux increase() (monotonized counter total) over aggregateWindow(1d, mean) series") {
    (s, d) => qbProject(qbBase(s, d).increase().build())
  }

  /** Flux `cumulativeSum()` — per-series running total of the daily
    * means; every window is emitted. The running frame accumulates in
    * ORDER in both engines, so the float fold is reproducible. */
  val qQbCumsum: Q = Q.sql(
    "q_qb_cumsum",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field,
       |  sum(value) OVER (PARTITION BY measurement, field ORDER BY window_end_s
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS value
       |FROM m
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux cumulativeSum() over aggregateWindow(1d, mean) series") { (s, d) =>
    qbProject(qbBase(s, d).cumulativeSum().build())
  }

  /** Flux `difference()` — raw day-over-day change per series (the
    * un-monotonized sibling of increase()); first window of each series
    * dropped. One subtraction of bit-identical base doubles per row. */
  val qQbDifference: Q = Q.sql(
    "q_qb_difference",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field,
       |  value - lag(value) OVER w AS value
       |FROM m
       |WINDOW w AS (PARTITION BY measurement, field ORDER BY window_end_s)
       |QUALIFY lag(value) OVER w IS NOT NULL
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux difference() over aggregateWindow(1d, mean) series") { (s, d) =>
    qbProject(qbBase(s, d).difference().build())
  }

  /** Flux `elapsed(unit: 1h)` — hours since the previous emitted window
    * per series (omitted empty windows widen the gap, surfacing outages);
    * emitted as the value (documented schema delta vs Flux's appended
    * column). Pure integer-second subtraction scaled once. */
  val qQbElapsed: Q = Q.sql(
    "q_qb_elapsed",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field,
       |  CAST(window_end_s - lag(window_end_s) OVER w AS DOUBLE) / 3600.0 AS value
       |FROM m
       |WINDOW w AS (PARTITION BY measurement, field ORDER BY window_end_s)
       |QUALIFY lag(window_end_s) OVER w IS NOT NULL
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux elapsed(unit: 1h) over aggregateWindow(1d, mean) series") { (s, d) =>
    qbProject(qbBase(s, d).elapsed("1h").build())
  }

  /** Flux `pivot` / `schema.fieldsAsCols()` — the wide per-timestamp
    * shape every dashboard panel reads: one row per (measurement,
    * window), one column per field, NULL where a series has no point.
    * One map-side-combined conditional aggregate over the daily means —
    * no window, no shuffle beyond the (measurement, window) key. */
  val qQbPivot: Q = Q.sql(
    "q_qb_pivot",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s,
       |  max(CASE WHEN field = 'battery_voltage' THEN value END) AS battery_voltage,
       |  max(CASE WHEN field = 'bat_voltage' THEN value END) AS bat_voltage
       |FROM m GROUP BY 1, 2
       |ORDER BY measurement, window_end_s""".stripMargin,
    doc = "Flux pivot (fieldsAsCols): one column per field over aggregateWindow(1d, mean)") {
    (s, d) =>
      qbBase(s, d).pivotFields(Seq("battery_voltage", "bat_voltage"))
        .select(col("measurement"), unix_timestamp(col("time")).as("window_end_s"),
          col("battery_voltage"), col("bat_voltage"))
        .orderBy("measurement", "window_end_s")
  }

  /** Flux `aggregateWindow(fn: quantile(q: 0.9))` — per-series daily P90:
    * Spark's EXACT interpolated percentile vs DuckDB's quantile_cont,
    * the same rank p·(n−1) linear-interpolation definition; round(6) on
    * both sides absorbs the interpolation's last-ulp expression-order
    * difference. Per-window exact sort is bounded by window occupancy —
    * at 100 TB the windows are the parallel unit, never a global sort. */
  val qQbQuantile: Q = Q.sql(
    "q_qb_quantile",
    s"""WITH $qbPtsSql, m AS (
       |  SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
       |    field, round(quantile_cont(value, 0.9), 6) AS value
       |  FROM pts
       |  WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2, 3
       |)
       |SELECT measurement, window_end_s, field, value FROM m
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux aggregateWindow(quantile 0.9): exact interpolated per-window P90") { (s, d) =>
    qbProject(
      qbBuilder(s, d).appendAggregate("1d", "quantile_0.9").appendSort("_time").build())
      .withColumn("value", round(col("value"), 6))
  }

  /** Shared run-id CTE for the state pipes: a row's run id `g` is the
    * count of non-matching rows at-or-before it per series — the same
    * one-running-sum trick the Spark pipes use, so both engines derive
    * runs from the identical bit-identical base doubles. */
  private def qbStateRunsSql(pred: String): String =
    s"""runs AS (
       |  SELECT measurement, window_end_s, field, value, ($pred) AS m,
       |    sum(CASE WHEN $pred THEN 0 ELSE 1 END) OVER (
       |      PARTITION BY measurement, field ORDER BY window_end_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS g
       |  FROM m
       |)""".stripMargin

  /** Flux `stateCount(fn: (r) => r._value > 250)` + `timeShift(1d)` —
    * "how many consecutive days has this series run hot", shifted one day
    * for an overlay. The count restarts after every non-matching day
    * (−1 rows), exactly InfluxDB's alert-escalation semantics. One
    * running sum + one run-partitioned rank over the per-series shuffle
    * the aggregation already produced — no extra fact-scale shuffle. */
  val qQbStateCount: Q = Q.sql(
    "q_qb_state_count",
    s"""$qbBaseSql, ${qbStateRunsSql("value > 250.0")}
       |SELECT measurement, window_end_s + 86400 AS window_end_s, field,
       |  CASE WHEN m THEN CAST(row_number() OVER (
       |      PARTITION BY measurement, field, g ORDER BY window_end_s)
       |      - CASE WHEN g > 0 THEN 1 ELSE 0 END AS DOUBLE)
       |    ELSE -1.0 END AS value
       |FROM runs
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux stateCount(value > 250) + timeShift(1d) over aggregateWindow(1d, mean)") {
    (s, d) =>
      qbProject(qbBase(s, d).stateCount(">", 250.0).timeShift("1d").build())
  }

  /** Flux `stateDuration(fn: (r) => r._value > 250, unit: 1h)` — hours
    * since the current hot run began (0 on the run's first day, −1 on
    * cool days): the "how LONG has it been out of band" complement to
    * [[qQbStateCount]]. Pure integer-second subtraction scaled once. */
  val qQbStateDuration: Q = Q.sql(
    "q_qb_state_duration",
    s"""$qbBaseSql, ${qbStateRunsSql("value > 250.0")}
       |SELECT measurement, window_end_s, field,
       |  CASE WHEN m THEN CAST(window_end_s - min(CASE WHEN m THEN window_end_s END) OVER (
       |      PARTITION BY measurement, field, g ORDER BY window_end_s
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) / 3600.0
       |    ELSE -1.0 END AS value
       |FROM runs
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux stateDuration(value > 250, unit: 1h) over aggregateWindow(1d, mean)") {
    (s, d) =>
      qbProject(qbBase(s, d).stateDuration(">", 250.0, "1h").build())
  }

  /** Flux `aggregateWindow(fn: stddev)` + `createEmpty` + `fill(value:
    * −1)` — per-series daily variability with a dense grid where empty
    * (and single-point, stddev-undefined) days read −1, the dashboard's
    * "no signal" sentinel. Determinism: the stddev folds 1e-6 fixed-point
    * INTEGER sums (exact in any partition order — see
    * `QueryBuilder.aggregateFn`), leaving one division + one sqrt on
    * identical operands; the oracle replays the identical integer
    * algebra in HUGEINT. */
  val qQbStddev: Q = Q.sql(
    "q_qb_stddev",
    s"""WITH $qbPtsSql, agg AS (
       |  SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
       |    field,
       |    CASE WHEN count(*) >= 2 THEN
       |      sqrt(CAST(count(*) * sum(xq * xq) - sum(xq) * sum(xq) AS DOUBLE)
       |        / CAST(count(*) * (count(*) - 1) AS DOUBLE)) / 1000000.0
       |    END AS value
       |  FROM (SELECT *, CAST(round(value * 1000000) AS HUGEINT) AS xq FROM pts) _q
       |  WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2, 3
       |), grid AS (
       |  SELECT measurement, field,
       |    unnest(generate_series(min(window_end_s), max(window_end_s), 86400)) AS window_end_s
       |  FROM agg GROUP BY 1, 2
       |)
       |SELECT g.measurement, g.window_end_s, g.field, coalesce(a.value, -1.0) AS value
       |FROM grid g LEFT JOIN agg a
       |  ON a.measurement = g.measurement AND a.field = g.field
       |  AND a.window_end_s = g.window_end_s
       |ORDER BY g.measurement, g.window_end_s, g.field""".stripMargin,
    doc = "Flux aggregateWindow(stddev) + createEmpty + fill(value: -1): daily variability grid") {
    (s, d) =>
      qbProject(
        qbBuilder(s, d).appendAggregate("1d", "stddev", createEmpty = true)
          .fillValue(-1.0).appendSort("_time").build())
  }

  /** Flux `top(n: 3)` — the three highest daily means per series, ties
    * toward the earlier day. Plans as a rank window Spark rewrites to
    * WindowGroupLimit: per-task 3-row heaps on the per-series shuffle the
    * aggregation already produced — no per-series sort at scale. */
  val qQbTop: Q = Q.sql(
    "q_qb_top",
    s"""$qbBaseSql
       |SELECT measurement, window_end_s, field, value FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY measurement, field ORDER BY value DESC, window_end_s) AS rn
       |  FROM m) _x
       |WHERE rn <= 3
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux top(n: 3): three highest daily means per series via WindowGroupLimit") { (s, d) =>
    qbProject(qbBase(s, d).top(3).build())
  }

  /** Flux `unique(column: "_value")` over daily point COUNTS — the first
    * day each distinct per-day sample count appeared per series (the
    * ingest-cardinality change log: a new count value means the fleet's
    * reporting cadence changed). Counts are exact integers, so the
    * distinct-value grouping is float-free. */
  val qQbUnique: Q = Q.sql(
    "q_qb_unique",
    s"""WITH $qbPtsSql, m AS (
       |  SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
       |    field, CAST(count(value) AS DOUBLE) AS value
       |  FROM pts
       |  WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2, 3
       |)
       |SELECT measurement, window_end_s, field, value FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY measurement, field, value ORDER BY window_end_s) AS rn
       |  FROM m) _x
       |WHERE rn = 1
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux unique(): first day each distinct daily sample count appeared per series") {
    (s, d) =>
      qbProject(
        qbBuilder(s, d).appendAggregate("1d", "count").unique().appendSort("_time").build())
  }

  /** Histogram bin upper bounds shared by [[qQbHistogram]] and
    * [[qQbHistQuantile]] (battery telemetry spans [0, 500)). */
  private val qbBins = Seq(100.0, 200.0, 300.0, 400.0, 500.0)
  private def qbBinsSql(cum: String): String =
    qbBins.zipWithIndex.map { case (b, i) =>
      s"SELECT measurement, field, CAST($b AS DOUBLE) AS le, $cum$i AS count FROM c"
    }.mkString("\n  UNION ALL ")

  /** Flux `histogram(bins)` — per-series CUMULATIVE counts of raw points
    * ≤ each bin bound (the Prometheus-style `le` convention Flux uses).
    * One conditional aggregate with |bins| exact-integer sums per series,
    * map-side combined; output is series × 5 rows regardless of corpus
    * size. */
  val qQbHistogram: Q = Q.sql(
    "q_qb_histogram",
    s"""WITH $qbPtsSql, c AS (
       |  SELECT measurement, field,
       |    ${qbBins.zipWithIndex.map { case (b, i) =>
            s"CAST(sum(CASE WHEN value <= $b THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
          }.mkString(",\n    ")}
       |  FROM pts WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2
       |)
       |SELECT * FROM (
       |  ${qbBinsSql("c")}
       |) _u
       |ORDER BY measurement, field, le""".stripMargin,
    doc = "Flux histogram(bins): per-series cumulative le-bin counts of raw points") { (s, d) =>
    qbBuilder(s, d).histogram(qbBins)
      .orderBy("measurement", "field", "le")
  }

  /** Flux `histogramQuantile(quantile: 0.9)` — P90 estimated from the
    * cumulative histogram by linear interpolation inside the crossing
    * bin (first bin's lower edge at 0, Flux's convention). Rank algebra
    * runs on the series × 5 histogram frame; the interpolation is one
    * pinned-order double expression, round(6) both sides. */
  val qQbHistQuantile: Q = Q.sql(
    "q_qb_hist_quantile",
    s"""WITH $qbPtsSql, c AS (
       |  SELECT measurement, field,
       |    ${qbBins.zipWithIndex.map { case (b, i) =>
            s"CAST(sum(CASE WHEN value <= $b THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
          }.mkString(",\n    ")}
       |  FROM pts WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2
       |), h AS (
       |  SELECT * FROM (
       |  ${qbBinsSql("c")}
       |  ) _u
       |), r AS (
       |  SELECT measurement, field, le, count,
       |    0.9 * CAST(max(count) OVER (PARTITION BY measurement, field) AS DOUBLE) AS rank,
       |    coalesce(lag(le) OVER w, 0.0) AS prev_le,
       |    coalesce(lag(count) OVER w, 0) AS prev_c
       |  FROM h
       |  WINDOW w AS (PARTITION BY measurement, field ORDER BY le)
       |)
       |SELECT measurement, field,
       |  round(prev_le + (rank - CAST(prev_c AS DOUBLE)) / CAST(count - prev_c AS DOUBLE)
       |    * (le - prev_le), 6) AS value
       |FROM r
       |WHERE CAST(prev_c AS DOUBLE) < rank AND CAST(count AS DOUBLE) >= rank
       |ORDER BY measurement, field""".stripMargin,
    doc = "Flux histogramQuantile(0.9): P90 interpolated from cumulative le-bin counts") {
    (s, d) =>
      qbBuilder(s, d).histogramQuantile(0.9, qbBins)
        .orderBy("measurement", "field")
  }

  /** Flux `holtWinters(n: 3, interval: 1d)` (trend-only) — three
    * forecast days per series from Holt's linear method over the daily
    * means, with α=0.5 / β=0.3 PINNED (documented delta: Flux fits them
    * by Nelder-Mead, whose optimizer trajectory no second engine can
    * replay; a fixed recurrence is bit-exact in both). The fold is
    * inherently sequential per series, so it runs as one `aggregate` HOF
    * over each series' collected WINDOW array — buffer bounded by window
    * count (aggregation output, never raw points), series stay the
    * parallel unit. Oracle replays the identical recurrence as a
    * recursive CTE; 1−β is computed as a subtraction in BOTH engines
    * (the literal 0.7 is a round-to-even tie away from 1−0.3 in
    * binary64). */
  val qQbHoltWinters: Q = Q.sql(
    "q_qb_holt_winters",
    s"""WITH RECURSIVE $qbPtsSql, m AS (
       |  SELECT measurement, CAST((CAST(t_s AS BIGINT) // 86400 + 1) * 86400 AS BIGINT) AS window_end_s,
       |    field, CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS value
       |  FROM pts
       |  WHERE t_s >= $qbStartS AND t_s < $qbNowS
       |  GROUP BY 1, 2, 3
       |), series AS (
       |  SELECT measurement, field,
       |    list(struct_pack(t := window_end_s, v := value) ORDER BY window_end_s) AS vs
       |  FROM m GROUP BY 1, 2
       |), hw AS (
       |  SELECT measurement, field, vs, len(vs) AS m, 2 AS i,
       |    vs[2].v AS l, vs[2].v - vs[1].v AS b
       |  FROM series WHERE len(vs) >= 2
       |  UNION ALL
       |  SELECT measurement, field, vs, m, i + 1,
       |    CAST(0.5 AS DOUBLE) * vs[i+1].v + (1.0 - CAST(0.5 AS DOUBLE)) * (l + b),
       |    CAST(0.3 AS DOUBLE) * ((CAST(0.5 AS DOUBLE) * vs[i+1].v
       |      + (1.0 - CAST(0.5 AS DOUBLE)) * (l + b)) - l)
       |      + (1.0 - CAST(0.3 AS DOUBLE)) * b
       |  FROM hw WHERE i < m
       |), fin AS (
       |  SELECT measurement, field, vs[m].t AS t_last, l, b FROM hw WHERE i = m
       |)
       |SELECT measurement, t_last + h * 86400 AS window_end_s, field,
       |  round(l + CAST(h AS DOUBLE) * b, 6) AS value
       |FROM fin CROSS JOIN (SELECT unnest([1, 2, 3]) AS h) _h
       |ORDER BY measurement, window_end_s, field""".stripMargin,
    doc = "Flux holtWinters(n: 3, interval: 1d): pinned-parameter Holt trend forecast per series") {
    (s, d) =>
      qbBase(s, d).holtWinters(3, "1d")
        .select(col("measurement"), unix_timestamp(col("time")).as("window_end_s"),
          col("field"), col("value"))
        .orderBy("measurement", "window_end_s", "field")
  }

  /** Flux `cov(x, y, on: ["_time"])` + `pearsonr` — sample covariance
    * and Pearson correlation between the two battery series' daily
    * means, joined on the window key: the cross-sensor coupling
    * readout. Five co-moment sums fold as exact 1e-6 fixed-point
    * integers (DECIMAL(38,0)/HUGEINT), so both statistics are pinned
    * IEEE trees over identical operands. */
  val qQbCov: Q = Q.sql(
    "q_qb_cov",
    s"""$qbBaseSql, x AS (
       |  SELECT window_end_s, CAST(round(value * 1000000) AS HUGEINT) AS xq
       |  FROM m WHERE measurement = 'fx-1' AND field = 'battery_voltage'
       |), y AS (
       |  SELECT window_end_s, CAST(round(value * 1000000) AS HUGEINT) AS yq
       |  FROM m WHERE measurement = 'mx-1' AND field = 'bat_voltage'
       |), a AS (
       |  SELECT CAST(count(*) AS HUGEINT) AS n,
       |    CAST(sum(xq) AS HUGEINT) AS sx, CAST(sum(yq) AS HUGEINT) AS sy,
       |    CAST(sum(xq * yq) AS HUGEINT) AS sxy,
       |    CAST(sum(xq * xq) AS HUGEINT) AS sxx,
       |    CAST(sum(yq * yq) AS HUGEINT) AS syy
       |  FROM x JOIN y USING (window_end_s)
       |)
       |SELECT CAST(n AS BIGINT) AS n,
       |  CASE WHEN n < 2 THEN NULL
       |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
       |      / CAST(n * (n - 1) AS DOUBLE) / 1e12, 9) END AS cov,
       |  CASE WHEN n < 2 THEN NULL
       |    ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
       |      / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
       |         * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9) END AS pearson_r
       |FROM a""".stripMargin,
    doc = "Flux cov + pearsonr between the two battery series' daily means") { (s, d) =>
    qbBase(s, d).covPearson(("fx-1", "battery_voltage"), ("mx-1", "bat_voltage"))
  }

  val all: Seq[Q] = Seq(qSolarIngest, qStatusGate, qQueryBuilder, qGapfill,
    qQbDerivative, qQbMovingAvg, qQbIncrease, qQbCumsum, qQbDifference, qQbElapsed,
    qQbPivot, qQbQuantile, qQbStateCount, qQbStateDuration,
    qQbStddev, qQbTop, qQbUnique, qQbHistogram, qQbHistQuantile, qQbHoltWinters, qQbCov)
}
