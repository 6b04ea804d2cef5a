package graft.queries

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's query surface (SURVEY §2.2 F5/F6, §2.4 A1, §2.6 O1) is a
  * Flux pipeline over a time-series stream: `range` → `filter` (AND-ed bands,
  * OR within a band) → `aggregateWindow` (tumbling, per series) → `sort`.
  * These queries express exactly those semantics over the `events` table
  * (`event_type` plays the series key role that `measurement`+`field` play
  * for solar points; the solar-shaped variants live in SolarQueries).
  *
  * Scale notes: the range predicate reaches the parquet scan (and would prune
  * date partitions on a partitioned bucket); tumbling windows are plain
  * `date_trunc` group-bys — hash aggregation with map-side combine, no
  * analytic-window shuffle; the pivot enumerates its key space explicitly so
  * Spark skips the extra distinct-collection job.
  */
object TimeSeriesQueries {

  /** Flux `from |> range(start, stop)` — time-range scan (F6 + S5). */
  val qRangeScan: Q = Q.sql(
    "q_range_scan",
    """SELECT event_id, ts, user_id, event_type, value
      |FROM events
      |WHERE ts >= TIMESTAMP '2024-01-05 00:00:00' AND ts < TIMESTAMP '2024-01-07 00:00:00'
      |ORDER BY event_id""".stripMargin,
    doc = "Flux range(): time-bounded scan, predicate pushed to parquet") { (s, d) =>
    eventsRange(
      s,
      d,
      java.sql.Timestamp.valueOf("2024-01-05 00:00:00"),
      java.sql.Timestamp.valueOf("2024-01-07 00:00:00"))
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Flux filter bands (F5): bands AND together, `or` joins within a band —
    * semantics pinned by `tests/classes/test_query_classes.py:88-108`. */
  val qFilterBands: Q = Q.sql(
    "q_filter_bands",
    """SELECT event_id, event_type, value
      |FROM events
      |WHERE (event_type = 'click' OR event_type = 'view') AND value > 300.0
      |ORDER BY event_id""".stripMargin,
    doc = "Flux filter(): OR within band, AND across bands") { (s, d) =>
    events(s, d)
      .filter(col("event_type") === "click" || col("event_type") === "view") // band 1
      .filter(col("value") > 300.0) // band 2 (new_band=True)
      .select("event_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** Flux `aggregateWindow(every: 1h, fn: mean)` (A1): tumbling window per
    * series. InfluxDB windows per series, so the group key includes the
    * series column. One query exercises the whole fn dispatch table
    * (mean/min/max/sum/count) the reference names in its docs. */
  val qAggWindow: Q = Q.sql(
    "q_agg_window",
    """SELECT date_trunc('hour', ts) AS bucket, event_type,
      |  CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) / count(*) AS mean_value,
      |  min(value) AS min_value,
      |  max(value) AS max_value,
      |  CAST(sum(CAST(value AS DECIMAL(27,2))) AS DOUBLE) AS sum_value,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY bucket, event_type""".stripMargin,
    doc = "Flux aggregateWindow(): tumbling 1h window per series") { (s, d) =>
    val dsum = sum(col("value").cast("decimal(27,2)")).cast("double")
    events(s, d)
      .groupBy(date_trunc("hour", col("ts")).as("bucket"), col("event_type"))
      .agg(
        (dsum / count(lit(1))).as("mean_value"),
        min("value").as("min_value"),
        max("value").as("max_value"),
        dsum.as("sum_value"),
        count(lit(1)).as("n"))
      .orderBy("bucket", "event_type")
  }

  /** Flux `sort(columns: ["_value"], desc: true)` (O1) + limit. */
  val qSortDesc: Q = Q.sql(
    "q_sort_desc",
    """SELECT event_id, event_type, value
      |FROM events
      |ORDER BY value DESC, event_id
      |LIMIT 200""".stripMargin,
    doc = "Flux sort() desc with deterministic tiebreak") { (s, d) =>
    events(s, d)
      .orderBy(col("value").desc, col("event_id").asc)
      .limit(200)
      .select("event_id", "event_type", "value")
  }

  /** Long→wide pivot (Flux tables → records view, SURVEY §1.4). The pivot
    * key space is enumerated so no distinct-collection pre-pass runs. */
  val qPivotWide: Q = Q.sql(
    "q_pivot_wide",
    """SELECT date_trunc('day', ts) AS day,
      |  CAST(sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(27,2)) END) AS DOUBLE) AS click,
      |  CAST(sum(CASE WHEN event_type = 'error' THEN CAST(value AS DECIMAL(27,2)) END) AS DOUBLE) AS error,
      |  CAST(sum(CASE WHEN event_type = 'purchase' THEN CAST(value AS DECIMAL(27,2)) END) AS DOUBLE) AS purchase,
      |  CAST(sum(CASE WHEN event_type = 'signup' THEN CAST(value AS DECIMAL(27,2)) END) AS DOUBLE) AS signup,
      |  CAST(sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(27,2)) END) AS DOUBLE) AS view
      |FROM events
      |GROUP BY 1
      |ORDER BY day""".stripMargin,
    doc = "long→wide pivot with enumerated key space") { (s, d) =>
    val types = Seq("click", "error", "purchase", "signup", "view")
    events(s, d)
      .groupBy(date_trunc("day", col("ts")).as("day"))
      .pivot("event_type", types)
      .agg(sum(col("value").cast("decimal(27,2)")).cast("double"))
      .orderBy("day")
  }

  /** Gap-based sessionization — the batch analog of a session window
    * (SURVEY §2.9 T3 notes the reference has none; this is the extension a
    * real events pipeline needs). lag + running sum over (user, time): one
    * shuffle on user_id, both windows share the same partitioning. */
  val qSessionize: Q = Q.sql(
    "q_sessionize",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, event_id,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |  FROM flagged
      |)
      |SELECT user_id, session_id,
      |  CAST(count(*) AS BIGINT) AS n_events,
      |  min(ts) AS session_start, max(ts) AS session_end
      |FROM sess
      |GROUP BY user_id, session_id
      |ORDER BY user_id, session_id""".stripMargin,
    doc = "gap-based sessionization (30 min) via lag + running sum") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagTs = lag(col("ts"), 1).over(w)
    events(s, d)
      .withColumn(
        "new_session",
        when(lagTs.isNull, 1)
          .when(unix_micros(col("ts")) - unix_micros(lagTs) > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn(
        "session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("session_start"),
        max(col("ts")).as("session_end"))
      .orderBy("user_id", "session_id")
  }

  /** Flux `derivative(unit: 1s, nonNegative: false)` — per-series rate of
    * change between consecutive points: (v - lag(v)) / seconds between.
    * THE canonical query over the reference's cumulative counters
    * (kwh_today, ah_today). One shuffle on the series key; lag and the
    * projection share the partitioning. */
  val qDerivative: Q = Q.sql(
    "q_derivative",
    """WITH seq AS (
      |  SELECT event_type, ts, event_id, value,
      |    lag(value) OVER w AS pv,
      |    lag(ts) OVER w AS pt
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
      |)
      |SELECT event_type, event_id,
      |  round((value - pv) / (epoch_us(ts) - epoch_us(pt)) * 1000000.0, 6) AS deriv
      |FROM seq
      |WHERE pv IS NOT NULL AND epoch_us(ts) > epoch_us(pt)
      |ORDER BY event_type, event_id""".stripMargin,
    doc = "Flux derivative(): per-series rate of change per second") { (s, d) =>
    val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(
        col("event_type"), col("ts"), col("event_id"), col("value"),
        lag(col("value"), 1).over(w).as("pv"),
        lag(col("ts"), 1).over(w).as("pt"))
      .filter(col("pv").isNotNull && unix_micros(col("ts")) > unix_micros(col("pt")))
      .select(
        col("event_type"), col("event_id"),
        round(
          (col("value") - col("pv")) /
            (unix_micros(col("ts")) - unix_micros(col("pt"))) * 1000000.0,
          6).as("deriv"))
      .orderBy("event_type", "event_id")
  }

  /** Flux `movingAverage(n: 5)` — trailing 5-point mean per series, exact
    * decimal accumulation inside the frame so partial order can't flip
    * the last ulp. */
  val qMovingAvg: Q = Q.sql(
    "q_moving_avg",
    """SELECT event_type, event_id,
      |  CAST(sum(CAST(value AS DECIMAL(27,2))) OVER (
      |    PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS DOUBLE)
      |    / count(*) OVER (
      |    PARTITION BY event_type ORDER BY ts, event_id
      |    ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS ma5
      |FROM events
      |ORDER BY event_type, event_id""".stripMargin,
    doc = "Flux movingAverage(): trailing 5-point mean per series") { (s, d) =>
    val frame = Window
      .partitionBy(col("event_type"))
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-4, Window.currentRow)
    events(s, d)
      .select(
        col("event_type"), col("event_id"),
        (sum(col("value").cast("decimal(27,2)")).over(frame).cast("double")
          / count(lit(1)).over(frame)).as("ma5"))
      .orderBy("event_type", "event_id")
  }

  /** Time-INTERVAL window frame — the frame family q_moving_avg's
    * ROWS-based frame can't express: "everything in the last 10 minutes",
    * robust to irregular sampling (a rows frame counts points, a range
    * frame counts TIME). The frame ranges over exact integer epoch-µs,
    * and with RANGE semantics all timestamp peers join the frame
    * together, so duplicate timestamps can't make the result
    * order-dependent.
    *
    * Scale design: the window partitions by (series, day) — the
    * q_integral segmentation — so no task ever sorts more than one
    * series-day; the trailing window truncates at the day boundary by
    * construction (documented semantics, identical in both engines). */
  val qRangeFrame: Q = Q.sql(
    "q_range_frame",
    """SELECT event_type, event_id,
      |  CAST(count(*) OVER w AS BIGINT) AS n_10m,
      |  CAST(sum(CAST(value AS DECIMAL(27,2))) OVER w AS DOUBLE) AS sum_10m
      |FROM (
      |  SELECT event_type, event_id, value, date_trunc('day', ts) AS day,
      |    epoch_us(ts) AS tsu
      |  FROM events) t
      |WINDOW w AS (PARTITION BY event_type, day ORDER BY tsu
      |  RANGE BETWEEN 600000000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_type, event_id""".stripMargin,
    doc = "trailing 10-minute RANGE frame per series-day (time-based, peer-safe)") { (s, d) =>
    val w = Window
      .partitionBy(col("event_type"), col("day"))
      .orderBy(col("tsu"))
      .rangeBetween(-600000000L, Window.currentRow)
    events(s, d)
      .select(
        col("event_type"), col("event_id"), col("value"),
        date_trunc("day", col("ts")).as("day"),
        unix_micros(col("ts")).as("tsu"))
      .select(
        col("event_type"), col("event_id"),
        count(lit(1)).over(w).cast("long").as("n_10m"),
        sum(col("value").cast("decimal(27,2)")).over(w).cast("double").as("sum_10m"))
      .orderBy("event_type", "event_id")
  }

  val EwmaTaps = 8
  val EwmaDecay = 0.7

  /** Flux exponentialMovingAverage(): trailing exponentially-weighted mean
    * per series, truncated at [[EwmaTaps]] taps (tail weight 0.7^8 ≈ 5.8%
    * — the bounded-window form every streaming EWMA uses so state stays
    * O(taps), not O(history)).
    *
    * Float parity: the recursive EWMA definition can't be replayed
    * bit-for-bit across engines (each accumulates in its own order), so
    * both sides compute the SAME finite convolution — a left-associated
    * sum of lag(value, k) · decay^k with the weight literals printed from
    * one Scala Double (shortest round-trip repr ⇒ DuckDB parses the
    * identical bits). Identical per-row IEEE trees are already
    * bit-identical, so the output is a RAW double (NOTES Lesson 12:
    * round() belongs only where accumulation order varies). Partition
    * heads renormalize by the weight mass of the taps that exist. Pure
    * window math — one shuffle on the series key, no joins, state
    * bounded at [[EwmaTaps]] rows per partition. */
  val qEwma: Q = Q.sql(
    "q_ewma", {
      val weights = (0 until EwmaTaps).map(k => math.pow(EwmaDecay, k))
      val num = (1 until EwmaTaps)
        .map(k => s"coalesce(lag(value, $k) OVER w * ${weights(k)}, 0.0)")
        .mkString("value * 1.0 + ", " + ", "")
      val den = (1 until EwmaTaps)
        .map(k => s"CASE WHEN lag(value, $k) OVER w IS NULL THEN 0.0 ELSE ${weights(k)} END")
        .mkString("1.0 + ", " + ", "")
      s"""SELECT event_type, event_id,
         |  ($num) / ($den) AS ewma
         |FROM events
         |WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         |ORDER BY event_type, event_id""".stripMargin
    },
    doc = s"Flux exponentialMovingAverage(): $EwmaTaps-tap EWMA per series, decay $EwmaDecay") {
    (s, d) =>
      val wspec = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val weights = (0 until EwmaTaps).map(k => math.pow(EwmaDecay, k))
      val num = (1 until EwmaTaps)
        .map(k => coalesce(lag(col("value"), k).over(wspec) * lit(weights(k)), lit(0.0)))
        .foldLeft(col("value") * lit(1.0))(_ + _)
      val den = (1 until EwmaTaps)
        .map(k =>
          when(lag(col("value"), k).over(wspec).isNull, lit(0.0)).otherwise(lit(weights(k))))
        .foldLeft(lit(1.0))(_ + _)
      events(s, d)
        .select(col("event_type"), col("event_id"), (num / den).as("ewma"))
        .orderBy("event_type", "event_id")
  }

  /** Spark's NATIVE gap-based session operator (`session_window`) — the
    * streaming-capable twin of [[qSessionize]]'s manual lag+cumsum: state
    * store merging in Structured Streaming, one shuffle on user_id in
    * batch. Session end is last-event + gap (Spark's definition); the
    * oracle replays the islands algorithm with the SAME merge rule (a new
    * session starts when the gap is >= 30 min — session_window merges an
    * event iff it lands strictly inside the previous event's
    * [ts, ts+gap) extension). */
  val qSessionWindow: Q = Q.sql(
    "q_session_window",
    """WITH m AS (
      |  SELECT user_id, ts,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN ts - lag(ts) OVER w >= INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS brk
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts)
      |), g AS (
      |  SELECT user_id, ts,
      |    sum(brk) OVER (PARTITION BY user_id ORDER BY ts
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      |  FROM m
      |)
      |SELECT user_id,
      |  min(ts) AS s_start,
      |  max(ts) + INTERVAL 30 MINUTE AS s_end,
      |  CAST(count(*) AS BIGINT) AS n_events
      |FROM g
      |GROUP BY user_id, sid
      |ORDER BY user_id, s_start""".stripMargin,
    doc = "native session_window sessionization (gap 30 min, streaming-capable)") { (s, d) =>
    events(s, d)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(
        col("user_id"),
        col("session_window.start").as("s_start"),
        col("session_window.end").as("s_end"),
        col("n_events"))
      .orderBy("user_id", "s_start")
  }

  /** SLIDING windows (width 1 h, slide 30 min): each event lands in
    * exactly width/slide = 2 overlapping windows — the trailing-window
    * dashboards and rate-limit checks that tumbling windows can't
    * express. Spark's `window(ts, "1 hour", "30 minutes")` generates the
    * per-event window memberships; the oracle replays them as the two
    * epoch-aligned slide multiples in (t−width, t]. Exact decimal sums;
    * still a hash aggregation with map-side combine (the generate just
    * doubles rows), no analytic-window shuffle. */
  val qSlidingWindow: Q = Q.sql(
    "q_sliding_window", {
      val slideUs = 1800L * 1000000
      s"""WITH e AS (
         |  SELECT ts, user_id, value,
         |    unnest([
         |      (epoch_us(ts) // $slideUs) * $slideUs - $slideUs,
         |      (epoch_us(ts) // $slideUs) * $slideUs]) AS w_start_us
         |  FROM events
         |)
         |SELECT make_timestamp(w_start_us) AS w_start,
         |  make_timestamp(w_start_us + ${2 * slideUs}) AS w_end,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
         |FROM e
         |GROUP BY w_start_us
         |ORDER BY w_start""".stripMargin
    },
    doc = "sliding windows (1h width / 30min slide) — overlapping tumbling via generate") { (s, d) =>
    events(s, d)
      .groupBy(window(col("ts"), "1 hour", "30 minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .select(
        col("window.start").as("w_start"),
        col("window.end").as("w_end"),
        col("n_events"), col("n_users"), col("sum_value"))
      .orderBy("w_start")
  }

  /** Equi-DEPTH binning: NTILE(4) quartiles of price within each return
    * flag — the histogram whose bins hold equal row counts (the
    * complement of q_len_hist's equal-width bins). The tile assignment
    * needs a total order, so ties break on the unique (orderkey,
    * linenumber) — both engines then assign identical tiles. Output is
    * the per-(flag, quartile) envelope, not the row stream.
    *
    * Scale note, stated honestly: NTILE sorts each flag partition — 3
    * giant sort tasks at 100 TB, the same hazard
    * [[graft.operators.Quantiles]] exists to avoid. Exact-equal bin
    * COUNTS inherently need that order; when approximate-equal depth is
    * acceptable (nearly always at scale), [[qBinEquidepth]] is the
    * production path: cut points from `Quantiles.exact` (two aggregates,
    * no sort), bins by comparison — a narrow map, no per-group sort.
    * This query keeps the exact NTILE semantics because that is the
    * operator being proved, and it serves as [[qBinEquidepth]]'s
    * semantic oracle (same bins wherever ties permit). */
  val qNtile: Q = Q.sql(
    "q_ntile",
    """WITH t AS (
      |  SELECT l_returnflag, l_extendedprice,
      |    ntile(4) OVER (PARTITION BY l_returnflag
      |      ORDER BY l_extendedprice, l_orderkey, l_linenumber) AS q
      |  FROM lineitem
      |)
      |SELECT l_returnflag, CAST(q AS BIGINT) AS quartile,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(min(l_extendedprice), 2) AS lo,
      |  round(max(l_extendedprice), 2) AS hi
      |FROM t GROUP BY l_returnflag, q
      |ORDER BY l_returnflag, quartile""".stripMargin,
    doc = "equi-depth quartiles via NTILE (deterministic tie-break)") { (s, d) =>
    val w = Window.partitionBy(col("l_returnflag"))
      .orderBy(col("l_extendedprice"), col("l_orderkey"), col("l_linenumber"))
    lineitem(s, d)
      .select(col("l_returnflag"), col("l_extendedprice"), ntile(4).over(w).as("q"))
      .groupBy(col("l_returnflag"), col("q").cast("long").as("quartile"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"))
      .orderBy("l_returnflag", "quartile")
  }

  /** Equi-depth binning THE WAY IT SURVIVES 100 TB — the scale-safe
    * counterpart of [[qNtile]]. Instead of NTILE's per-flag total-order
    * sort (one task per flag holding that flag's entire history), the 3
    * quartile cut points per flag come from
    * [[graft.operators.Quantiles.exact]] — two aggregates that hold at
    * most a narrow value band per flag — and each row's bin is then pure
    * comparison arithmetic against its flag's broadcast cut row: bin =
    * 1 + (v>c1) + (v>c2) + (v>c3). The heavy path over lineitem is a
    * narrow map + one hash aggregation; no Window operator and no
    * per-group sort appear anywhere in the plan (asserted in PlanSpec).
    *
    * Tradeoff vs NTILE, stated honestly: rows EQUAL to a cut point all
    * land in the lower bin, so bin counts are equal only up to ties at
    * the cut values — the standard approximate-equal-depth contract every
    * engine's histogram/CLUSTER BY accepts at scale. The DuckDB oracle
    * replays the identical cut-point semantics (`quantile_cont` uses the
    * same rank p·(n−1) linear interpolation as `Quantiles.exact`, pinned
    * bit-exact by the q_percentiles gate), so the gate hashes the full
    * envelope, not a relaxation. */
  val qBinEquidepth: Q = Q.sql(
    "q_bin_equidepth",
    """WITH c AS (
      |  SELECT l_returnflag AS ck,
      |    quantile_cont(l_extendedprice, 0.25) AS c1,
      |    quantile_cont(l_extendedprice, 0.50) AS c2,
      |    quantile_cont(l_extendedprice, 0.75) AS c3
      |  FROM lineitem GROUP BY 1
      |), b AS (
      |  SELECT l.l_returnflag, l.l_extendedprice,
      |    1 + CAST(l.l_extendedprice > c.c1 AS INT)
      |      + CAST(l.l_extendedprice > c.c2 AS INT)
      |      + CAST(l.l_extendedprice > c.c3 AS INT) AS bin
      |  FROM lineitem l JOIN c ON l.l_returnflag = c.ck
      |)
      |SELECT l_returnflag, CAST(bin AS BIGINT) AS bin,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(min(l_extendedprice), 2) AS lo,
      |  round(max(l_extendedprice), 2) AS hi
      |FROM b GROUP BY l_returnflag, bin
      |ORDER BY l_returnflag, bin""".stripMargin,
    doc = "equi-depth bins via distributed quantile cut points (no per-group sort)") { (s, d) =>
    val li = lineitem(s, d)
    val cuts = graft.operators.Quantiles
      .exact(li, "l_returnflag", "l_extendedprice", Seq(0.25, 0.5, 0.75), Seq("c1", "c2", "c3"))
      .select(col("l_returnflag").as("ck"), col("c1"), col("c2"), col("c3"))
    val bin = (lit(1)
      + (col("l_extendedprice") > col("c1")).cast("int")
      + (col("l_extendedprice") > col("c2")).cast("int")
      + (col("l_extendedprice") > col("c3")).cast("int")).cast("long")
    li.join(broadcast(cuts), col("l_returnflag") === col("ck"))
      .select(col("l_returnflag"), col("l_extendedprice"), bin.as("bin"))
      .groupBy(col("l_returnflag"), col("bin"))
      .agg(
        count(lit(1)).as("n"),
        round(min(col("l_extendedprice")), 2).as("lo"),
        round(max(col("l_extendedprice")), 2).as("hi"))
      .orderBy("l_returnflag", "bin")
  }

  /** Flux `integral(unit: 1s)` — trapezoidal integration per series per
    * day (the Wh-from-W operator every solar dashboard runs). Each
    * segment contributes (v₁+v₂)/2·Δt; segments are formed by `lag` over
    * a window keyed by (series, day), so no task ever sorts more than
    * one series-day — a segmented window applied to numeric
    * integration.
    *
    * Oracle parity: `value` is exactly two-decimal (asserted against the
    * data), so each segment is computed in EXACT integer cents·µs —
    * (v₁+v₂ in cents) × Δt_µs — summed as integers (order-independent by
    * construction), with ONE double division at the very end. No
    * `round()` on doubles anywhere: Spark's round (shortest-decimal
    * based) and DuckDB's (exact-binary based) disagree on boundary
    * cases, while identical integers cast to double are identical. */
  val qIntegral: Q = Q.sql(
    "q_integral",
    """WITH seq AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, ts, event_id,
      |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS v100,
      |    lag(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT)) OVER w AS pv100,
      |    lag(ts) OVER w AS pt
      |  FROM events
      |  WINDOW w AS (PARTITION BY event_type, date_trunc('day', ts) ORDER BY ts, event_id)
      |)
      |SELECT event_type, day,
      |  CAST(sum((v100 + pv100) * (epoch_us(ts) - epoch_us(pt))) AS DOUBLE) / 200000000.0 AS energy,
      |  CAST(count(*) AS BIGINT) AS n_segments
      |FROM seq
      |WHERE pv100 IS NOT NULL
      |GROUP BY event_type, day
      |ORDER BY event_type, day""".stripMargin,
    doc = "Flux integral(): per-series-per-day trapezoidal integration") { (s, d) =>
    val staged = events(s, d)
      .select(
        col("event_type"), date_trunc("day", col("ts")).as("day"),
        col("ts"), col("event_id"),
        (col("value").cast("decimal(18,2)") * 100).cast("long").as("v100"))
    val w = Window.partitionBy(col("event_type"), col("day")).orderBy(col("ts"), col("event_id"))
    staged
      .select(
        col("event_type"), col("day"), col("ts"), col("v100"),
        lag(col("v100"), 1).over(w).as("pv100"),
        lag(col("ts"), 1).over(w).as("pt"))
      .filter(col("pv100").isNotNull)
      .groupBy(col("event_type"), col("day"))
      .agg(
        (sum((col("v100") + col("pv100")) * (unix_micros(col("ts")) - unix_micros(col("pt"))))
          .cast("double") / 200000000.0).as("energy"),
        count(lit(1)).as("n_segments"))
      .orderBy("event_type", "day")
  }

  /** Linear gap interpolation — Flux `interpolate.linear`: hourly means
    * on a sparse filter leave empty buckets; each gap is filled on the
    * line between its bracketing anchors. Complements q_gapfill's
    * fill-previous (LOCF) with the other standard fill.
    *
    * Shape: hash agg → per-series grid (sequence/explode, no shuffle
    * beyond the agg) → two bounded-frame windows (running last / running
    * first with IGNORE NULLS) keyed per series. The window partitions
    * are time-bounded hourly buckets per series — small by construction,
    * like q_gapfill's, not data-proportional. The interpolation is
    * identical IEEE double arithmetic on both engines (anchor means are
    * exact-decimal sums divided once), so the raw doubles are
    * bit-identical — deliberately NOT rounded, because round() itself is
    * the one non-portable operation (see qIntegral). */
  val qInterpLinear: Q = Q.sql(
    "q_interp_linear",
    """WITH agg AS (
      |  SELECT event_type, date_trunc('hour', ts) AS bucket,
      |    CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) / count(value) AS v
      |  FROM events WHERE value > 150.0 GROUP BY 1, 2
      |), bounds AS (
      |  SELECT event_type, min(bucket) AS lo, max(bucket) AS hi FROM agg GROUP BY event_type
      |), grid AS (
      |  SELECT event_type, unnest(generate_series(lo, hi, INTERVAL 1 HOUR)) AS bucket FROM bounds
      |), dense AS (
      |  SELECT g.event_type, g.bucket, a.v
      |  FROM grid g LEFT JOIN agg a ON a.event_type = g.event_type AND a.bucket = g.bucket
      |), ctx AS (
      |  SELECT event_type, bucket, v,
      |    last_value(v IGNORE NULLS) OVER wp AS pv,
      |    last_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wp AS pt,
      |    first_value(v IGNORE NULLS) OVER wf AS nv,
      |    first_value(CASE WHEN v IS NOT NULL THEN bucket END IGNORE NULLS) OVER wf AS nt
      |  FROM dense
      |  WINDOW wp AS (PARTITION BY event_type ORDER BY bucket
      |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
      |         wf AS (PARTITION BY event_type ORDER BY bucket
      |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |)
      |SELECT event_type, bucket,
      |  CAST(CASE WHEN v IS NOT NULL THEN 0 ELSE 1 END AS BIGINT) AS filled,
      |  CASE
      |    WHEN v IS NOT NULL THEN v
      |    WHEN pv IS NULL THEN nv
      |    WHEN nv IS NULL THEN pv
      |    ELSE pv + (nv - pv) * (CAST(epoch_us(bucket) - epoch_us(pt) AS DOUBLE)
      |      / (epoch_us(nt) - epoch_us(pt)))
      |  END AS v_interp
      |FROM ctx
      |ORDER BY event_type, bucket""".stripMargin,
    doc = "linear gap interpolation between bracketing hourly anchors") { (s, d) =>
    val agg = events(s, d)
      .filter(col("value") > 150.0)
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("bucket"))
      .agg((sum(col("value").cast("decimal(30,6)")).cast("double") / count(col("value"))).as("v"))
    val grid = agg
      .groupBy(col("event_type"))
      .agg(min(col("bucket")).as("lo"), max(col("bucket")).as("hi"))
      .select(
        col("event_type"),
        explode(sequence(col("lo"), col("hi"), expr("interval 1 hour"))).as("bucket"))
    val dense = grid.join(agg, Seq("event_type", "bucket"), "left")
    val wp = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wf = Window.partitionBy(col("event_type")).orderBy(col("bucket"))
      .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val anchorT = when(col("v").isNotNull, col("bucket"))
    val interp = when(col("v").isNotNull, col("v"))
      .when(col("pv").isNull, col("nv"))
      .when(col("nv").isNull, col("pv"))
      .otherwise(
        col("pv") + (col("nv") - col("pv")) *
          ((unix_micros(col("bucket")) - unix_micros(col("pt"))).cast("double")
            / (unix_micros(col("nt")) - unix_micros(col("pt")))))
    dense
      .select(
        col("event_type"), col("bucket"), col("v"),
        last(col("v"), ignoreNulls = true).over(wp).as("pv"),
        last(anchorT, ignoreNulls = true).over(wp).as("pt"),
        first(col("v"), ignoreNulls = true).over(wf).as("nv"),
        first(anchorT, ignoreNulls = true).over(wf).as("nt"))
      .select(
        col("event_type"), col("bucket"),
        when(col("v").isNotNull, 0L).otherwise(1L).as("filled"),
        interp.as("v_interp"))
      .orderBy("event_type", "bucket")
  }

  /** Ordered conversion funnel — view → click (after the view) →
    * purchase (after the click), per user, with stage counts and mean
    * wait. Each stage is a per-user min-aggregate joined against the
    * previous stage's timestamps: two hash joins on user_id, no window
    * over raw events, so the heavy frame is only ever aggregated. Mean
    * wait is an exact integer µs sum with one final double division
    * (lesson 12: round nothing that is already bit-deterministic). */
  val qFunnel: Q = Q.sql(
    "q_funnel",
    """WITH v AS (SELECT user_id, min(ts) AS t0 FROM events
      |  WHERE event_type = 'view' GROUP BY user_id),
      |c AS (SELECT e.user_id, min(v.t0) AS t0, min(e.ts) AS t1
      |      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t0
      |      WHERE e.event_type = 'click' GROUP BY e.user_id),
      |p AS (SELECT e.user_id, min(c.t1) AS t1, min(e.ts) AS t2
      |      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t1
      |      WHERE e.event_type = 'purchase' GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT 1 AS step, 'view' AS stage, CAST(count(*) AS BIGINT) AS n_users,
      |    CAST(NULL AS DOUBLE) AS avg_wait_sec FROM v
      |  UNION ALL
      |  SELECT 2, 'click', CAST(count(*) AS BIGINT),
      |    CAST(sum(epoch_us(t1) - epoch_us(t0)) AS DOUBLE) / (1000000.0 * count(*)) FROM c
      |  UNION ALL
      |  SELECT 3, 'purchase', CAST(count(*) AS BIGINT),
      |    CAST(sum(epoch_us(t2) - epoch_us(t1)) AS DOUBLE) / (1000000.0 * count(*)) FROM p
      |) ORDER BY step""".stripMargin,
    doc = "ordered conversion funnel: per-stage user counts + mean wait") { (s, d) =>
    val ev = events(s, d)
    val v = ev.filter(col("event_type") === "view")
      .groupBy(col("user_id")).agg(min(col("ts")).as("t0"))
    val c = ev.filter(col("event_type") === "click").as("e")
      .join(v.as("v"), col("e.user_id") === col("v.user_id") && col("e.ts") > col("v.t0"))
      .groupBy(col("e.user_id"))
      .agg(min(col("v.t0")).as("t0"), min(col("e.ts")).as("t1"))
    val p = ev.filter(col("event_type") === "purchase").as("e")
      .join(c.as("c"), col("e.user_id") === col("c.user_id") && col("e.ts") > col("c.t1"))
      .groupBy(col("e.user_id"))
      .agg(min(col("c.t1")).as("t1"), min(col("e.ts")).as("t2"))
    def stage(df: org.apache.spark.sql.DataFrame, step: Int, name: String,
        wait: org.apache.spark.sql.Column) =
      df.agg(count(lit(1)).as("n_users"), wait.as("avg_wait_sec"))
        .select(lit(step).as("step"), lit(name).as("stage"), col("n_users"), col("avg_wait_sec"))
    def meanWait(from: String, to: String) =
      sum(unix_micros(col(to)) - unix_micros(col(from))).cast("double") /
        (lit(1000000.0) * count(lit(1)))
    stage(v, 1, "view", max(lit(null).cast("double")))
      .union(stage(c, 2, "click", meanWait("t0", "t1")))
      .union(stage(p, 3, "purchase", meanWait("t1", "t2")))
      .orderBy("step")
  }

  /** Cohort retention — users grouped by first-seen day, activity counted
    * per (cohort, day offset) for the first week. Two aggregates over
    * events (first-seen, distinct active days) and one user-level join:
    * the raw event table is never windowed or self-joined, so the shape
    * is two shuffles on user_id + one on (cohort, offset) regardless of
    * scale. */
  val qCohortRetention: Q = Q.sql(
    "q_cohort_retention",
    """WITH f AS (SELECT user_id, min(date_trunc('day', ts)) AS cohort
      |           FROM events GROUP BY user_id),
      |a AS (SELECT DISTINCT user_id, date_trunc('day', ts) AS day FROM events),
      |r AS (SELECT f.cohort, CAST(date_diff('day', f.cohort, a.day) AS BIGINT) AS day_offset,
      |      CAST(count(*) AS BIGINT) AS n_active
      |      FROM a JOIN f ON a.user_id = f.user_id GROUP BY 1, 2)
      |SELECT cohort, day_offset, n_active FROM r WHERE day_offset <= 7
      |ORDER BY cohort, day_offset""".stripMargin,
    doc = "cohort retention: first-seen-day cohorts × active-day offsets") { (s, d) =>
    val ev = events(s, d)
    val f = ev.groupBy(col("user_id"))
      .agg(min(date_trunc("day", col("ts"))).as("cohort"))
      .withColumnRenamed("user_id", "fuid")
    val a = ev.select(col("user_id"), date_trunc("day", col("ts")).as("day")).distinct()
    a.join(f, col("user_id") === col("fuid"))
      .select(col("cohort"), datediff(col("day"), col("cohort")).cast("long").as("day_offset"))
      .filter(col("day_offset") <= 7)
      .groupBy(col("cohort"), col("day_offset"))
      .agg(count(lit(1)).as("n_active"))
      .orderBy("cohort", "day_offset")
  }

  /** Rolling z-score anomaly counts: each event is scored against the
    * trailing 20 events of ITS OWN user (at least 8 of history), and the
    * per-type anomaly totals come out. The window partitions on user_id —
    * high cardinality, so no task ever sorts more than one user's small
    * history (unlike a per-type window, whose 5 giant partitions would
    * serialize at scale).
    *
    * Cross-engine exactness: `value` is exactly 2-decimal, so the z>3 test
    * is done in integer cents — `(v·n − s)²·(n−1) > 9·n·(n·q − s²)` is the
    * threshold inequality with mean and sample variance cleared of
    * denominators. No float accumulates anywhere, so window summation
    * order can never flip a boundary row (the failure mode a float
    * z-score would have exactly at |z|≈3). */
  val qAnomaly: Q = Q.sql(
    "q_anomaly",
    """WITH c AS (
      |  SELECT event_id, ts, user_id, event_type, CAST(round(value*100) AS BIGINT) AS v
      |  FROM events
      |), w AS (
      |  SELECT event_type, v,
      |    sum(v)   OVER win AS s,
      |    sum(v*v) OVER win AS q,
      |    count(*) OVER win AS n
      |  FROM c
      |  WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
      |                 ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING)
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n_scored,
      |  CAST(sum(CASE WHEN (v*n - s)*(v*n - s)*(n-1) > 9*n*(n*q - s*s)
      |           THEN 1 ELSE 0 END) AS BIGINT) AS n_anomalies
      |FROM w WHERE n >= 8
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    doc = "rolling per-user z-score outliers, integer-exact threshold test") { (s, d) =>
    val win = Window.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-20, -1)
    val c = events(s, d).select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"),
      round(col("value") * 100).cast("long").as("v"))
    val w = c.select(
      col("event_type"), col("v"),
      sum("v").over(win).as("s"),
      sum(col("v") * col("v")).over(win).as("q"),
      count(lit(1)).over(win).as("n"))
    val dev = col("v") * col("n") - col("s")
    w.filter(col("n") >= 8)
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("long").as("n_scored"),
        sum(when(dev * dev * (col("n") - 1) > lit(9L) * col("n") * (col("n") * col("q") - col("s") * col("s")), 1)
          .otherwise(0)).cast("long").as("n_anomalies"))
      .orderBy("event_type")
  }

  /** Distribution-position analytic functions — the family q_window_rank
    * (row_number) and q_ntile don't cover: percent_rank, cume_dist, and
    * the inter-event gap (lag), per user ordered by event time.
    *
    * Scale design: the window partitions by user_id — a high-cardinality
    * key whose per-partition history is bounded by one user's activity, so
    * unlike a per-flag sort this survives 100× (the q_ntile hazard needs
    * a low-cardinality key). Parity: percent_rank = (rank−1)/(n−1) and
    * cume_dist = peers/n are exact integer ratios (one correctly-rounded
    * IEEE division each, identical bits in both engines — no round());
    * the gap is exact integer microseconds. (ts, event_id) is unique, so
    * the order — and therefore every rank — is fully deterministic. */
  val qRankFuncs: Q = Q.sql(
    "q_rank_funcs",
    """SELECT user_id, event_id,
      |  percent_rank() OVER w AS pr,
      |  cume_dist() OVER w AS cd,
      |  epoch_us(ts) - epoch_us(lag(ts) OVER w) AS gap_us
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |ORDER BY user_id, event_id""".stripMargin,
    doc = "percent_rank/cume_dist/lag-gap per user (high-cardinality window key)") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .select(
        col("user_id"), col("event_id"),
        percent_rank().over(w).as("pr"),
        cume_dist().over(w).as("cd"),
        (unix_micros(col("ts")) - unix_micros(lag(col("ts"), 1).over(w))).as("gap_us"))
      .orderBy("user_id", "event_id")
  }

  /** Cumulative distinct users per day — the growth-curve metric
    * (DAU-to-date) that a naive implementation writes as
    * `count(DISTINCT user_id) OVER (ORDER BY day)`: a running
    * distinct-state window that holds every user id seen so far in one
    * task's state and re-scans it per row — quadratic state at 100 TB.
    *
    * The scale-safe identity: a user contributes to the cumulative count
    * exactly once, in their FIRST hour. So: min(hour) per user (one hash
    * aggregation on the high-cardinality key, map-side combined), count
    * per first-hour (tiny), one running sum over the hour axis. The only
    * window runs over #hours rows — bounded by the calendar, not the
    * data. */
  val qRunningDistinct: Q = Q.sql(
    "q_running_distinct",
    """WITH fs AS (
      |  SELECT user_id, min(date_trunc('hour', ts)) AS hr FROM events GROUP BY user_id
      |), nd AS (
      |  SELECT hr, CAST(count(*) AS BIGINT) AS new_users FROM fs GROUP BY hr
      |)
      |SELECT hr, new_users,
      |  CAST(sum(new_users) OVER (ORDER BY hr) AS BIGINT) AS cum_users
      |FROM nd ORDER BY hr""".stripMargin,
    doc = "cumulative distinct users via first-seen hours (no distinct-state window)") { (s, d) =>
    val fs = events(s, d)
      .groupBy(col("user_id"))
      .agg(min(date_trunc("hour", col("ts"))).as("hr"))
    val nd = fs.groupBy(col("hr")).agg(count(lit(1)).cast("long").as("new_users"))
    val w = Window.orderBy("hr").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    nd.select(
      col("hr"), col("new_users"),
      sum(col("new_users")).over(w).cast("long").as("cum_users"))
      .orderBy("hr")
  }

  /** Min/max envelope downsampling — the chart-serving reduction a
    * time-series store runs before shipping points to a dashboard
    * (Grafana/LTTB-family): per series per day, keep the extreme points
    * WITH their identities so spikes survive the downsample (a plain
    * avg-per-bucket erases exactly the excursions an operator looks for).
    *
    * One hash aggregation, no window, no self-join: the extremes and
    * their row identities come from a single lexicographic
    * `min/max(struct(value, event_id))` — ties break deterministically
    * (min side → smallest id, max side → largest), which the oracle
    * mirrors with conditional aggregates over a re-join. Map-side
    * combine applies; at 100 TB this is a scan plus a
    * series×days-bounded shuffle. */
  val qDownsampleMm: Q = Q.sql(
    "q_downsample_mm",
    """WITH b AS (
      |  SELECT event_type, date_trunc('day', ts) AS day, value, event_id FROM events
      |), m AS (
      |  SELECT event_type, day, CAST(count(*) AS BIGINT) AS n,
      |    min(value) AS vmin, max(value) AS vmax
      |  FROM b GROUP BY event_type, day
      |)
      |SELECT event_type, day, m.n, m.vmin, m.vmax,
      |  CAST(min(CASE WHEN b.value = m.vmin THEN b.event_id END) AS BIGINT) AS min_eid,
      |  CAST(max(CASE WHEN b.value = m.vmax THEN b.event_id END) AS BIGINT) AS max_eid
      |FROM b JOIN m USING (event_type, day)
      |GROUP BY event_type, day, m.n, m.vmin, m.vmax
      |ORDER BY event_type, day""".stripMargin,
    doc = "min/max envelope downsampling per series-day (single agg, identity-preserving extremes)") { (s, d) =>
    events(s, d)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        min(struct(col("value"), col("event_id"))).as("lo"),
        max(struct(col("value"), col("event_id"))).as("hi"))
      .select(
        col("event_type"), col("day"), col("n"),
        col("lo.value").as("vmin"), col("hi.value").as("vmax"),
        col("lo.event_id").cast("long").as("min_eid"),
        col("hi.event_id").cast("long").as("max_eid"))
      .orderBy("event_type", "day")
  }

  /** Additive seasonal decomposition, STL-lite (Cleveland et al. 1990's
    * trend/seasonal/remainder split restated with fixed windows): trend =
    * centered 25-point moving average per series-day, seasonal = mean
    * detrended value per (series, hour-of-day), remainder = what's left;
    * reported as the 24-hour seasonal profile per series plus the
    * variance-explained strength 1 − Σr²/Σd² — the standard "is this
    * series seasonal?" audit a telemetry pipeline runs.
    *
    * Scale design: the trend window partitions by (series, day) — the
    * q_range_frame segmentation, truncating at day boundaries by
    * documented construction — so no task sorts more than one
    * series-day; the seasonal index is a 24-row-per-series aggregate.
    * Parity: detrended values quantize to 1e-6 fixed point per ROW, so
    * every downstream sum (seasonal means, variance terms) is an exact
    * integer/decimal fold, and the output ratios ship as RAW doubles
    * (exact integers through correctly-rounded IEEE ops are bit-identical
    * across engines; a final round() would NOT be — Spark rounds the
    * shortest decimal repr where DuckDB rounds the exact binary value,
    * and a 6th-decimal tie diverges by 1 ulp, observed at sf0.01); the
    * strength guard makes the constant-series 0/0 case NULL on both
    * engines by construction. */
  val qSeasonal: Q = Q.sql(
    "q_seasonal",
    """WITH b AS (
      |  SELECT event_type, event_id, value, ts,
      |    CAST(hour(ts) AS BIGINT) AS hod, date_trunc('day', ts) AS day
      |  FROM events
      |), t AS (
      |  SELECT event_type, event_id, hod,
      |    CAST(round((value - CAST(sum(CAST(value AS DECIMAL(27,2))) OVER w AS DOUBLE)
      |      / count(*) OVER w) * 1000000.0, 0) AS BIGINT) AS detq
      |  FROM b
      |  WINDOW w AS (PARTITION BY event_type, day ORDER BY ts, event_id
      |    ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
      |), se AS (
      |  SELECT event_type, hod, CAST(sum(detq) AS BIGINT) AS sq,
      |    CAST(count(*) AS BIGINT) AS n
      |  FROM t GROUP BY 1, 2
      |), r AS (
      |  SELECT t.event_type, t.detq,
      |    t.detq - CAST(round(1000000.0 *
      |      (CAST(se.sq AS DOUBLE) / 1000000.0 / se.n), 0) AS BIGINT) AS remq
      |  FROM t JOIN se ON t.event_type = se.event_type AND t.hod = se.hod
      |), st AS (
      |  SELECT event_type,
      |    CAST(sum(CAST(remq AS DECIMAL(38,0)) * CAST(remq AS DECIMAL(38,0))) AS DOUBLE) AS ssr,
      |    CAST(sum(CAST(detq AS DECIMAL(38,0)) * CAST(detq AS DECIMAL(38,0))) AS DOUBLE) AS ssd
      |  FROM r GROUP BY 1
      |)
      |SELECT se.event_type AS event_type, se.hod, se.n,
      |  CAST(se.sq AS DOUBLE) / 1000000.0 / se.n AS seasonal,
      |  CASE WHEN st.ssd = 0 THEN NULL
      |       ELSE 1.0 - st.ssr / st.ssd END AS strength
      |FROM se JOIN st ON se.event_type = st.event_type
      |ORDER BY se.event_type, se.hod""".stripMargin,
    doc = "STL-lite seasonal decomposition: day-segmented trend MA, hour-of-day index, strength") {
    (s, d) =>
      val w = Window
        .partitionBy(col("event_type"), col("day"))
        .orderBy(col("ts"), col("event_id"))
        .rowsBetween(-12, 12)
      val trend = sum(col("value").cast("decimal(27,2)")).over(w).cast("double") /
        count(lit(1)).over(w)
      val t = graft.ScratchCache.tracked(
        events(s, d)
          .select(
            col("event_type"), col("event_id"), col("value"), col("ts"),
            hour(col("ts")).cast("long").as("hod"), date_trunc("day", col("ts")).as("day"))
          .select(
            col("event_type"), col("event_id"), col("hod"),
            round((col("value") - trend) * 1000000.0, 0).cast("long").as("detq")))
      // materialize before fan-out: t feeds both the seasonal aggregate
      // and the join-back — cold, those stages race and recompute the
      // trend window twice (NOTES lesson 11b)
      t.count()
      val se = t.groupBy(col("event_type"), col("hod"))
        .agg(sum(col("detq")).cast("long").as("sq"), count(lit(1)).cast("long").as("n"))
      val seasonalD = col("sq").cast("double") / 1000000.0 / col("n")
      val r = t.join(broadcast(se), Seq("event_type", "hod"))
        .select(
          col("event_type"), col("detq"),
          (col("detq") - round(lit(1000000.0) * seasonalD, 0).cast("long")).as("remq"))
      val st = r.groupBy(col("event_type"))
        .agg(
          sum((col("remq").cast("decimal(38,0)") * col("remq").cast("decimal(38,0)")))
            .cast("double").as("ssr"),
          sum((col("detq").cast("decimal(38,0)") * col("detq").cast("decimal(38,0)")))
            .cast("double").as("ssd"))
      se.join(broadcast(st), "event_type")
        .select(
          col("event_type"), col("hod"), col("n"),
          seasonalD.as("seasonal"),
          when(col("ssd") === 0.0, lit(null).cast("double"))
            .otherwise(lit(1.0) - col("ssr") / col("ssd")).as("strength"))
        .orderBy("event_type", "hod")
  }

  /** Data-outage report: per series, every inter-point gap longer than
    * 10 minutes — count, worst, total, and when the worst one started.
    * The monitoring question every telemetry deployment asks first
    * ("when did the sensor go dark?"), and the reference's pipeline has
    * no answer to (it drops offline-device data silently via the status
    * gate; this measures the silence).
    *
    * Scale design — the two-level segmentation pattern: within-day gaps
    * come from a lag window partitioned by (series, day), so no task
    * sorts more than one series-day; DAY-BOUNDARY gaps (including whole
    * missing days) come from a lead window over the per-(series, day)
    * min/max summary — a |series|×|days| frame, tiny at any corpus
    * size. Everything is integer epoch-µs arithmetic — exact on both
    * engines; the worst-gap pick tie-breaks on start time. */
  val qGapReport: Q = Q.sql(
    "q_gap_report",
    """WITH b AS (
      |  SELECT event_type, ts, event_id, date_trunc('day', ts) AS day,
      |    epoch_us(ts) AS tsu
      |  FROM events
      |), within AS (
      |  SELECT event_type, tsu - lag(tsu) OVER w AS gap_us, lag(tsu) OVER w AS start_us
      |  FROM b WINDOW w AS (PARTITION BY event_type, day ORDER BY tsu, event_id)
      |), daily AS (
      |  SELECT event_type, day, min(tsu) AS first_us, max(tsu) AS last_us
      |  FROM b GROUP BY 1, 2
      |), crossday AS (
      |  SELECT event_type,
      |    lead(first_us) OVER (PARTITION BY event_type ORDER BY day) - last_us AS gap_us,
      |    last_us AS start_us
      |  FROM daily
      |), gaps AS (
      |  SELECT * FROM within WHERE gap_us > 600000000
      |  UNION ALL
      |  SELECT * FROM crossday WHERE gap_us > 600000000
      |)
      |SELECT event_type,
      |  CAST(count(*) AS BIGINT) AS n_gaps,
      |  CAST(max(gap_us) AS BIGINT) AS max_gap_us,
      |  CAST(sum(gap_us) AS BIGINT) AS total_gap_us,
      |  CAST(min(CASE WHEN rk = 1 THEN start_us END) AS BIGINT) AS worst_start_us
      |FROM (
      |  SELECT event_type, gap_us, start_us,
      |    row_number() OVER (PARTITION BY event_type ORDER BY gap_us DESC, start_us) AS rk
      |  FROM gaps) g
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin,
    doc = "per-series data-outage report: >10 min gaps incl. day boundaries, two-level segmentation") {
    (s, d) =>
      val b = events(s, d).select(
        col("event_type"), col("event_id"),
        date_trunc("day", col("ts")).as("day"),
        unix_micros(col("ts")).as("tsu"))
      val wIn = Window.partitionBy(col("event_type"), col("day")).orderBy(col("tsu"), col("event_id"))
      val within = b.select(
        col("event_type"),
        (col("tsu") - lag(col("tsu"), 1).over(wIn)).as("gap_us"),
        lag(col("tsu"), 1).over(wIn).as("start_us"))
      val daily = b.groupBy(col("event_type"), col("day"))
        .agg(min(col("tsu")).as("first_us"), max(col("tsu")).as("last_us"))
      val wDay = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val crossday = daily.select(
        col("event_type"),
        (lead(col("first_us"), 1).over(wDay) - col("last_us")).as("gap_us"),
        col("last_us").as("start_us"))
      val gaps = within.filter(col("gap_us") > 600000000L)
        .unionAll(crossday.filter(col("gap_us") > 600000000L))
      val wRank = Window.partitionBy(col("event_type")).orderBy(col("gap_us").desc, col("start_us"))
      gaps
        .withColumn("rk", row_number().over(wRank))
        .groupBy(col("event_type"))
        .agg(
          count(lit(1)).cast("long").as("n_gaps"),
          max(col("gap_us")).cast("long").as("max_gap_us"),
          sum(col("gap_us")).cast("long").as("total_gap_us"),
          min(when(col("rk") === 1, col("start_us"))).cast("long").as("worst_start_us"))
        .orderBy("event_type")
  }

  /** Maximum autocorrelation lag. */
  val AcfMaxLag = 6

  /** Autocorrelation function (ACF) of each event-type series at lags
    * 1..[[AcfMaxLag]] — the standard diagnostic for periodicity and decay
    * structure (the input to Box-Jenkins order selection, and the natural
    * companion to [[qSeasonal]]'s decomposition: a seasonal series shows
    * an ACF spike at its period). ACF here is the Pearson correlation of
    * the series with its k-step-lagged self over the (ts, event_id)
    * total order.
    *
    * Scale design: ONE window pass computes all [[AcfMaxLag]] lag
    * columns (the sort is paid once, per-series partitions), an in-row
    * explode stacks them, and the correlations reduce in a single
    * partial-aggregated co-moment pass — no self-join on row offsets,
    * which would shuffle the fact table [[AcfMaxLag]] times. Per-series
    * window partitions hold one series; for the few-massive-series
    * regime the same co-moments compose over day segments (the
    * [[qRangeFrame]] segmentation pattern) since every lag-k pair lies
    * within a segment or one of k boundary rows. */
  val qAcf: Q = Q.sql(
    "q_acf", {
      val legs = (1 to AcfMaxLag)
        .map(k => s"SELECT event_type, $k AS lag, value, l$k AS lv FROM L")
        .mkString(" UNION ALL ")
      val lagCols = (1 to AcfMaxLag).map(k => s"lag(value, $k) OVER w AS l$k").mkString(", ")
      s"""WITH L AS (
         |  SELECT event_type, value, $lagCols
         |  FROM events
         |  WINDOW w AS (PARTITION BY event_type ORDER BY ts, event_id)
         |)
         |SELECT event_type, CAST(lag AS BIGINT) AS lag,
         |  round(corr(value, lv), 6) AS acf, CAST(count(*) AS BIGINT) AS n
         |FROM ($legs) _s
         |WHERE lv IS NOT NULL
         |GROUP BY 1, 2
         |ORDER BY 1, 2""".stripMargin
    },
    doc = s"autocorrelation of each event-type series at lags 1..$AcfMaxLag (one window pass)") {
    (s, d) =>
      val w = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
      val lagged = events(s, d).select(
        (col("event_type") +: col("value") +:
          (1 to AcfMaxLag).map(k => lag(col("value"), k).over(w).as(s"l$k"))): _*)
      lagged
        .select(col("event_type"), col("value"),
          explode(array((1 to AcfMaxLag).map(k =>
            struct(lit(k).as("lag"), col(s"l$k").as("lv"))): _*)).as("x"))
        .select(col("event_type"), col("x.lag").as("lag"), col("value"), col("x.lv").as("lv"))
        .filter(col("lv").isNotNull)
        .groupBy(col("event_type"), col("lag").cast("long").as("lag"))
        .agg(round(corr(col("value"), col("lv")), 6).as("acf"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "lag")
  }

  /** Peak concurrent sessions per day — the sweep-line interval-overlap
    * aggregate (count running sessions at every boundary, take the daily
    * max) behind capacity planning and license-peak reporting. Sessions
    * are the [[qSessionize]] 30-minute-gap intervals; each contributes a
    * +1 boundary at its start and a −1 at its end (end INCLUSIVE: at an
    * identical timestamp starts order before ends via `delta DESC`, so a
    * session ending exactly when another starts counts as overlap). The
    * daily peak always lands on a +1 boundary, so sweeping boundaries
    * only is exact; a day whose sessions all span it without a boundary
    * inside produces no row (defined out of scope, not a miss).
    *
    * Scale design — the global running sum is decomposed as a TWO-LEVEL
    * prefix sum (the [[qGapReport]] segmentation idea applied to prefix
    * aggregation): a day-partitioned local running sum plus a broadcast
    * per-day carry (cumulative sum of whole-day deltas over the tiny
    * day-totals table — the only unpartitioned window, #days rows). No
    * single-partition sweep over the boundary stream ever runs; a
    * billion-boundary day recurses the same trick to hours. The oracle
    * replays the mathematically-equal single global window. */
  val qConcurrency: Q = Q.sql(
    "q_concurrency",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts,
      |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      |  FROM flagged
      |), ivl AS (
      |  SELECT user_id, session_id, min(ts) AS s, max(ts) AS e
      |  FROM sess GROUP BY user_id, session_id
      |), b AS (
      |  SELECT s AS ts, 1 AS delta FROM ivl
      |  UNION ALL
      |  SELECT e AS ts, -1 AS delta FROM ivl
      |), run AS (
      |  SELECT ts, delta,
      |    sum(delta) OVER (ORDER BY ts, delta DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
      |  FROM b
      |)
      |SELECT date_trunc('day', ts) AS day,
      |  CAST(max(conc) AS BIGINT) AS peak_concurrency,
      |  CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions_started
      |FROM run GROUP BY day ORDER BY day""".stripMargin,
    doc = "daily peak concurrent sessions: sweep line as a two-level prefix sum") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    val lagTs = lag(col("ts"), 1).over(w)
    val sess = events(s, d)
      .withColumn(
        "new_session",
        when(lagTs.isNull, 1)
          .when(unix_micros(col("ts")) - unix_micros(lagTs) > 30L * 60 * 1000000, 1)
          .otherwise(0))
      .withColumn(
        "session_id",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("session_id"))
      .agg(min(col("ts")).as("s"), max(col("ts")).as("e"))
    val b = sess.select(col("s").as("ts"), lit(1).as("delta"))
      .unionAll(sess.select(col("e").as("ts"), lit(-1).as("delta")))
      .withColumn("day", date_trunc("day", col("ts")))
    // level 1: whole-day delta totals → cumulative carry over the tiny
    // per-day table (the one unpartitioned window, #days rows)
    val wDay = Window.orderBy(col("day")).rowsBetween(Window.unboundedPreceding, -1)
    val carry = b.groupBy(col("day")).agg(sum(col("delta")).as("dtot"))
      .withColumn("carry", coalesce(sum(col("dtot")).over(wDay), lit(0L)))
      .select(col("day"), col("carry"))
    // level 2: day-partitioned local running sum; starts before ends at
    // an identical timestamp (delta DESC) = inclusive-end overlap
    val wIn = Window.partitionBy(col("day")).orderBy(col("ts"), col("delta").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(carry), "day")
      .withColumn("conc", col("carry") + sum(col("delta")).over(wIn))
      .groupBy(col("day"))
      .agg(
        max(col("conc")).cast("long").as("peak_concurrency"),
        sum(when(col("delta") === 1, 1L).otherwise(0L)).cast("long").as("n_sessions_started"))
      .orderBy("day")
  }

  /** Last-touch attribution — for every purchase, the user's most recent
    * preceding non-purchase event claims the conversion (the marketing
    * default; first-touch is the same window with `first`). One
    * user-keyed window pass (`last IGNORE NULLS` over the strictly-
    * preceding frame — the carry-forward idiom the status gate and
    * q_gapfill already pin) + one aggregation; purchases with no prior
    * touch report as 'none', and gaps accumulate as exact integer µs.
    * The window partitions on the high-cardinality user key, so no task
    * ever sorts more than one user's history. */
  val qAttribution: Q = Q.sql(
    "q_attribution",
    """WITH ordered AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN event_type END IGNORE NULLS)
      |      OVER w AS prev_type,
      |    last_value(CASE WHEN event_type <> 'purchase' THEN ts END IGNORE NULLS)
      |      OVER w AS prev_ts
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |)
      |SELECT coalesce(prev_type, 'none') AS attributed,
      |  CAST(count(*) AS BIGINT) AS n_purchases,
      |  CAST(sum(CASE WHEN prev_ts IS NOT NULL
      |    THEN epoch_us(ts) - epoch_us(prev_ts) ELSE 0 END) AS BIGINT) AS total_gap_us
      |FROM ordered WHERE event_type = 'purchase'
      |GROUP BY attributed ORDER BY attributed""".stripMargin,
    doc = "last-touch conversion attribution: carry-forward window + one aggregation") { (s, d) =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val nonPurchase = (c: org.apache.spark.sql.Column) =>
      when(col("event_type") =!= "purchase", c)
    events(s, d)
      .withColumn("prev_type", last(nonPurchase(col("event_type")), ignoreNulls = true).over(w))
      .withColumn("prev_ts", last(nonPurchase(col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase")
      .groupBy(coalesce(col("prev_type"), lit("none")).as("attributed"))
      .agg(
        count(lit(1)).cast("long").as("n_purchases"),
        sum(when(col("prev_ts").isNotNull,
          unix_micros(col("ts")) - unix_micros(col("prev_ts"))).otherwise(0L))
          .cast("long").as("total_gap_us"))
      .orderBy("attributed")
  }

  /** Windowed conversion funnel (the ClickHouse-windowFunnel shape):
    * per user, the deepest prefix of signup → view → click → purchase
    * reachable with every step inside ONE DAY of the anchoring signup —
    * unlike [[qFunnel]]'s global per-stage minima, the window constraint
    * makes this a per-chain search. Greedy earliest-next-event is
    * optimal here (the deadline is anchored at the chain start, so
    * taking the earliest qualifying next event never closes a door),
    * which turns the search into three chained min-aggregated range
    * joins; the user level is the max over that user's anchors, and the
    * output is the level histogram.
    *
    * Scale design: every join is an equi-join on user_id with a range
    * residual — per-user event lists bound the fan-out, no window
    * function ever sorts more than one user's chain anchors, and the
    * level fold is a plain unioned max. */
  val qWindowFunnel: Q = Q.sql(
    "q_window_funnel",
    """WITH ev AS (SELECT user_id AS u, ts, event_type AS et FROM events),
      |s1 AS (SELECT u, ts AS t1 FROM ev WHERE et = 'signup'),
      |s2 AS (SELECT s1.u, s1.t1, min(v.ts) AS t2 FROM s1 JOIN ev v
      |  ON v.u = s1.u AND v.et = 'view' AND v.ts > s1.t1
      |    AND v.ts <= s1.t1 + INTERVAL 1 DAY GROUP BY s1.u, s1.t1),
      |s3 AS (SELECT s2.u, s2.t1, min(c.ts) AS t3 FROM s2 JOIN ev c
      |  ON c.u = s2.u AND c.et = 'click' AND c.ts > s2.t2
      |    AND c.ts <= s2.t1 + INTERVAL 1 DAY GROUP BY s2.u, s2.t1),
      |s4 AS (SELECT s3.u, s3.t1, min(p.ts) AS t4 FROM s3 JOIN ev p
      |  ON p.u = s3.u AND p.et = 'purchase' AND p.ts > s3.t3
      |    AND p.ts <= s3.t1 + INTERVAL 1 DAY GROUP BY s3.u, s3.t1),
      |lv AS (SELECT u, max(l) AS lvl FROM (
      |  SELECT u, 1 AS l FROM s1 UNION ALL SELECT u, 2 AS l FROM s2
      |  UNION ALL SELECT u, 3 AS l FROM s3 UNION ALL SELECT u, 4 AS l FROM s4) t
      |  GROUP BY u)
      |SELECT lvl, CAST(count(*) AS BIGINT) AS n_users
      |FROM lv GROUP BY lvl ORDER BY lvl""".stripMargin,
    doc = "windowed funnel: deepest stage chain within 1 day of the signup anchor") {
    (s, d) =>
      val ev = graft.ScratchCache.tracked(
        events(s, d).select(col("user_id").as("u"), col("ts"), col("event_type").as("et")))
      ev.count() // four consumers: the anchor stage + three chained probes
      val oneDay = expr("INTERVAL 1 DAY")
      val s1 = ev.filter(col("et") === "signup").select(col("u"), col("ts").as("t1"))
      def step(prev: org.apache.spark.sql.DataFrame, fromCol: String, et: String,
          out: String) = prev.as("s")
        .join(ev.as("e"),
          col("e.u") === col("s.u") && col("e.et") === et &&
            col("e.ts") > col(s"s.$fromCol") && col("e.ts") <= col("s.t1") + oneDay)
        .groupBy(col("s.u").as("u"), col("s.t1").as("t1"))
        .agg(min(col("e.ts")).as(out))
      val s2 = step(s1, "t1", "view", "t2")
      val s3 = step(s2, "t2", "click", "t3")
      val s4 = step(s3, "t3", "purchase", "t4")
      val lv = s1.select(col("u"), lit(1).as("l"))
        .unionByName(s2.select(col("u"), lit(2).as("l")))
        .unionByName(s3.select(col("u"), lit(3).as("l")))
        .unionByName(s4.select(col("u"), lit(4).as("l")))
        .groupBy(col("u")).agg(max(col("l")).as("lvl"))
      lv.groupBy(col("lvl")).agg(count(lit(1)).cast("long").as("n_users"))
        .orderBy("lvl")
  }

  /** Sequential pattern mining (order-sensitive 2-event patterns): the
    * support of "x happens, then y happens later in the SAME session" —
    * the directed counterpart of co-occurrence and the generalization of
    * [[qWindowFunnel]]'s fixed chain to all type pairs. Sessions come
    * from the same 30-minute gap rule as [[qSessionize]]; a session
    * supports (x→y) once no matter how often the pair repeats (DISTINCT
    * per session, the standard support definition); support is the
    * session fraction, top-20 by support.
    *
    * Scale design: the precedence test is a self-join on (user, session)
    * — the session key bounds fan-out by session length², and sessions
    * are short by construction (the 30-minute gap cuts them), so the
    * join never goes quadratic in the stream. No window touches more
    * than one user's events; the global top-20 is
    * TakeOrderedAndProject. */
  val qSeqMining: Q = Q.sql(
    "q_seq_mining",
    """WITH flagged AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CASE WHEN lag(ts) OVER w IS NULL THEN 1
      |         WHEN ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1
      |         ELSE 0 END AS new_session
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
      |), sess AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sid
      |  FROM flagged
      |), ns AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n FROM (
      |    SELECT DISTINCT user_id, sid FROM sess) t
      |), pp AS (
      |  SELECT DISTINCT a.user_id, a.sid, a.event_type AS x, b.event_type AS y
      |  FROM sess a JOIN sess b ON b.user_id = a.user_id AND b.sid = a.sid
      |    AND (a.ts < b.ts OR (a.ts = b.ts AND a.event_id < b.event_id))
      |    AND a.event_type <> b.event_type
      |), sup AS (
      |  SELECT x, y, CAST(count(*) AS BIGINT) AS n_sessions FROM pp GROUP BY x, y
      |)
      |SELECT x, y, n_sessions, CAST(n_sessions AS DOUBLE) / ns.n AS support
      |FROM sup, ns ORDER BY support DESC, x, y LIMIT 20""".stripMargin,
    doc = "sequential pattern mining: directed same-session 2-event support, top-20") {
    (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val lagTs = lag(col("ts"), 1).over(w)
      val sess = graft.ScratchCache.tracked(
        events(s, d)
          .withColumn("new_session",
            when(lagTs.isNull, 1)
              .when(unix_micros(col("ts")) - unix_micros(lagTs) > 30L * 60 * 1000000, 1)
              .otherwise(0))
          .withColumn("sid",
            sum(col("new_session"))
              .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow))
              .cast("long"))
          .select(col("user_id"), col("ts"), col("event_id"), col("event_type"), col("sid")))
      sess.count() // three consumers: both join sides + the session total
      val ns = sess.select("user_id", "sid").distinct()
        .agg(count(lit(1)).cast("long").as("n"))
      val pp = sess.as("a").join(sess.as("b"),
          col("b.user_id") === col("a.user_id") && col("b.sid") === col("a.sid") &&
            (col("a.ts") < col("b.ts") ||
              (col("a.ts") === col("b.ts") && col("a.event_id") < col("b.event_id"))) &&
            col("a.event_type") =!= col("b.event_type"))
        .select(col("a.user_id").as("user_id"), col("a.sid").as("sid"),
          col("a.event_type").as("x"), col("b.event_type").as("y"))
        .distinct()
      pp.groupBy(col("x"), col("y"))
        .agg(count(lit(1)).cast("long").as("n_sessions"))
        .crossJoin(broadcast(ns))
        .select(col("x"), col("y"), col("n_sessions"),
          (col("n_sessions").cast("double") / col("n")).as("support"))
        .orderBy(col("support").desc, col("x"), col("y"))
        .limit(20)
  }

  /** Offline changepoint detection (CUSUM, Page 1954): per series the
    * cumulative sum of daily-mean deviations from the series mean peaks
    * at the most likely mean-shift day — the standard "when did this
    * metric change" estimator, complementing [[qAnomaly]]'s pointwise
    * outliers with a structural-break answer.
    *
    * Determinism: daily means quantize to 1e-6 longs, so the series
    * mean comes from an INTEGER sum (safe under any partial-aggregation
    * order); the running CUSUM is an ordered window fold over the tiny
    * per-(series, day) frame — both engines fold the identical IEEE
    * sequence, so argmax ties cannot flip. Scale: the raw stream
    * collapses to (series, day) aggregates FIRST; every window after
    * that runs over ≤ days rows per series. */
  val qChangepoint: Q = Q.sql(
    "q_changepoint",
    """WITH dm AS (
      |  SELECT event_type, date_trunc('day', ts) AS dy,
      |    CAST((20000 * sum(CAST(round(value * 100) AS BIGINT)) + count(*))
      |      // (2 * count(*)) AS BIGINT) AS xq
      |  FROM events GROUP BY event_type, date_trunc('day', ts)),
      |mu AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(xq) AS DOUBLE) / 1000000.0 / count(*) AS mean_daily
      |  FROM dm GROUP BY event_type),
      |cs AS (SELECT dm.event_type, dm.dy, mu.n_days, mu.mean_daily,
      |    sum(CAST(dm.xq AS DOUBLE) / 1000000.0 - mu.mean_daily)
      |      OVER (PARTITION BY dm.event_type ORDER BY dm.dy
      |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
      |  FROM dm JOIN mu ON mu.event_type = dm.event_type),
      |rk AS (SELECT event_type, dy, n_days, mean_daily, s,
      |    row_number() OVER (PARTITION BY event_type ORDER BY abs(s) DESC, dy) AS rn
      |  FROM cs)
      |SELECT event_type, n_days, mean_daily, dy AS cp_day, abs(s) AS max_abs_cusum
      |FROM rk WHERE rn = 1 ORDER BY event_type""".stripMargin,
    doc = "CUSUM changepoint per series: argmax cumulative deviation of daily means") {
    (s, d) =>
      val dm = graft.ScratchCache.tracked(
        events(s, d)
          .groupBy(col("event_type"), date_trunc("day", col("ts")).as("dy"))
          // half-up 1e-6 quantization in PURE integer math (x DIV y) —
          // a double quotient through round() would hit the cross-engine
          // round(double) tie divergence (NOTES lesson 11)
          .agg(expr("CAST((20000 * sum(CAST(round(value * 100) AS BIGINT)) + count(*)) " +
            "DIV (2 * count(*)) AS BIGINT)").as("xq")))
      dm.count() // two consumers: per-series mean + the CUSUM frame
      val mu = dm.groupBy(col("event_type")).agg(
        count(lit(1)).cast("long").as("n_days"),
        (sum(col("xq")).cast("double") / 1000000.0 / count(lit(1))).as("mean_daily"))
      val wc = Window.partitionBy(col("event_type")).orderBy(col("dy"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val cs = dm.join(mu, "event_type")
        .withColumn("s",
          sum(col("xq").cast("double") / 1000000.0 - col("mean_daily")).over(wc))
      val wr = Window.partitionBy(col("event_type")).orderBy(abs(col("s")).desc, col("dy"))
      cs.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("event_type"), col("n_days"), col("mean_daily"),
          col("dy").as("cp_day"), abs(col("s")).as("max_abs_cusum"))
        .orderBy("event_type")
  }

  /** First-order Markov transition matrix over the user journey: for
    * every (from → to) pair of IMMEDIATELY consecutive events of the
    * same user, the transition count and conditional probability — the
    * user-journey model behind next-action prediction and funnel
    * simulation, and the immediate-successor counterpart of
    * [[qSeqMining]]'s any-precedence patterns. One per-user lead window
    * (ties broken by event_id) + one |types|²-bounded aggregate; row
    * probabilities are a single integer division, so the matrix is
    * engine-exact and rows sum to 1 by construction (spec-pinned). */
  val qMarkovTransition: Q = Q.sql(
    "q_markov_transition",
    """WITH o AS (
      |  SELECT event_type AS from_state,
      |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS to_state
      |  FROM events),
      |t AS (SELECT from_state, to_state, CAST(count(*) AS BIGINT) AS n
      |  FROM o WHERE to_state IS NOT NULL GROUP BY from_state, to_state),
      |m AS (SELECT from_state, CAST(sum(n) AS BIGINT) AS tot FROM t GROUP BY from_state)
      |SELECT t.from_state, t.to_state, t.n,
      |  CAST(t.n AS DOUBLE) / m.tot AS prob
      |FROM t JOIN m ON m.from_state = t.from_state
      |ORDER BY t.from_state, t.to_state""".stripMargin,
    doc = "first-order Markov transition matrix of the user journey (lead window + one agg)") {
    (s, d) =>
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      val t = events(s, d)
        .select(col("event_type").as("from_state"),
          lead(col("event_type"), 1).over(w).as("to_state"))
        .filter(col("to_state").isNotNull)
        .groupBy(col("from_state"), col("to_state"))
        .agg(count(lit(1)).cast("long").as("n"))
      val m = t.groupBy(col("from_state")).agg(sum(col("n")).cast("long").as("tot"))
      t.join(broadcast(m), "from_state")
        .select(col("from_state"), col("to_state"), col("n"),
          (col("n").cast("double") / col("tot")).as("prob"))
        .orderBy("from_state", "to_state")
  }

  /** Cohort LTV curves: cumulative per-user purchase revenue by signup
    * cohort (first-seen week) and age (weeks since cohort) — the
    * triangular matrix every growth team reads next to
    * [[qCohortRetention]]'s activity version. Revenue accumulates in
    * exact cents; cohort/age derive from week-truncated timestamps whose
    * microsecond difference is an exact multiple of a week, divided in
    * INTEGER math; the cumulative sum is an ordered window over the tiny
    * (cohort, age) frame, never over raw events. */
  val qCohortLtv: Q = Q.sql(
    "q_cohort_ltv",
    """WITH fs AS (SELECT user_id, date_trunc('week', min(ts)) AS cwk
      |  FROM events GROUP BY user_id),
      |rv AS (SELECT e.user_id, date_trunc('week', e.ts) AS wk,
      |    CAST(sum(CAST(round(e.value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events e WHERE e.event_type = 'purchase'
      |  GROUP BY e.user_id, date_trunc('week', e.ts)),
      |cs AS (SELECT CAST(count(*) AS BIGINT) AS n_users, f.cwk FROM fs f GROUP BY f.cwk),
      |ag AS (SELECT f.cwk,
      |    CAST((epoch_us(r.wk) - epoch_us(f.cwk)) // 604800000000 AS BIGINT) AS age_weeks,
      |    CAST(sum(r.cents) AS BIGINT) AS cents
      |  FROM rv r JOIN fs f ON f.user_id = r.user_id GROUP BY 1, 2),
      |cu AS (SELECT cwk, age_weeks, cents,
      |    sum(cents) OVER (PARTITION BY cwk ORDER BY age_weeks
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_cents
      |  FROM ag)
      |SELECT cu.cwk AS cohort_week, cu.age_weeks, cs.n_users,
      |  CAST(cu.cum_cents AS DOUBLE) / 100.0 / cs.n_users AS ltv_per_user
      |FROM cu JOIN cs ON cs.cwk = cu.cwk
      |ORDER BY cohort_week, age_weeks""".stripMargin,
    doc = "cohort LTV: cumulative revenue per signup cohort by age in weeks, exact cents") {
    (s, d) =>
      val fs = graft.ScratchCache.tracked(
        events(s, d).groupBy(col("user_id"))
          .agg(date_trunc("week", min(col("ts"))).as("cwk")))
      fs.count() // two consumers: cohort sizes + the revenue join
      val rv = events(s, d).filter(col("event_type") === "purchase")
        .groupBy(col("user_id"), date_trunc("week", col("ts")).as("wk"))
        .agg(sum(round(col("value") * 100).cast("long")).cast("long").as("cents"))
      val cs = fs.groupBy(col("cwk")).agg(count(lit(1)).cast("long").as("n_users"))
      val ag = rv.join(fs, "user_id")
        .groupBy(col("cwk"),
          expr("CAST((unix_micros(wk) - unix_micros(cwk)) DIV 604800000000 AS BIGINT)")
            .as("age_weeks"))
        .agg(sum(col("cents")).cast("long").as("cents"))
      val wc = Window.partitionBy(col("cwk")).orderBy(col("age_weeks"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ag.withColumn("cum_cents", sum(col("cents")).over(wc))
        .join(broadcast(cs), "cwk")
        .select(col("cwk").as("cohort_week"), col("age_weeks"), col("n_users"),
          (col("cum_cents").cast("double") / 100.0 / col("n_users")).as("ltv_per_user"))
        .orderBy("cohort_week", "age_weeks")
  }

  /** Lead-lag cross-correlation matrix between event-type series: for
    * every ORDERED pair of distinct event types and every lag in
    * [-5, +5] days, the Pearson correlation of (A's daily total at day
    * t, B's daily total at day t+lag) — the "does signups' curve lead
    * purchases' curve, and by how many days" diagnostic behind metric
    * causality dashboards.
    *
    * Determinism: daily totals are exact cent sums (BIGINT); all five
    * Pearson moments accumulate as exact integers (products as
    * DECIMAL(38,0)), and the correlation is one fixed double expression
    * over their exact images — the qGini precedent: DECIMAL→DOUBLE is
    * correctly rounded in both engines.
    *
    * Scale: the fact stream collapses to (type, day) grain FIRST
    * (map-side combined); the 11-lag fan-out and the self-join run on
    * that day-grain frame (|types|·|days| rows), so a year of 10^12
    * events is still a ~2k-row join after the one real shuffle. */
  val qXcorrLeadlag: Q = Q.sql(
    "q_xcorr_leadlag",
    """WITH dm AS (
      |  SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
      |  FROM events GROUP BY 1, 2),
      |lg AS (SELECT unnest(range(-5, 6)) AS lag),
      |p AS (
      |  SELECT a.event_type AS from_type, b.event_type AS to_type, lg.lag,
      |    a.sq AS x, b.sq AS y
      |  FROM dm a CROSS JOIN lg JOIN dm b
      |    ON b.di = a.di + lg.lag AND b.event_type <> a.event_type),
      |m AS (
      |  SELECT from_type, to_type, lag,
      |    CAST(count(*) AS BIGINT) AS n_days,
      |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
      |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxy,
      |    CAST(sum(CAST(x AS DECIMAL(19,0)) * CAST(x AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS sxx,
      |    CAST(sum(CAST(y AS DECIMAL(19,0)) * CAST(y AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS syy
      |  FROM p GROUP BY 1, 2, 3
      |  HAVING count(*) >= 3
      |    AND n_days * sxx > CAST(sx AS DECIMAL(38,0)) * sx
      |    AND n_days * syy > CAST(sy AS DECIMAL(38,0)) * sy)
      |SELECT from_type, to_type, lag, n_days,
      |  (n_days * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
      |    / (sqrt(n_days * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
      |       * sqrt(n_days * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS corr
      |FROM m ORDER BY from_type, to_type, lag""".stripMargin,
    doc = "lead-lag daily cross-correlation for every ordered event-type pair, lags -5..5") {
    (s, d) =>
      val dm = graft.ScratchCache.tracked(
        events(s, d)
          .groupBy(col("event_type"),
            datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
          .agg(sum(round(col("value") * 100).cast("long")).cast("long").as("sq")))
      dm.count() // materialize before the self-join fan-out (lesson 11b)
      val a = dm.select(col("event_type").as("from_type"), col("di"), col("sq").as("x"))
        .withColumn("lag", explode(sequence(lit(-5), lit(5))))
      val b = dm.select(col("event_type").as("to_type"), col("di").as("dj"), col("sq").as("y"))
      val xd = col("x").cast("decimal(19,0)")
      val yd = col("y").cast("decimal(19,0)")
      val m = a.join(b, col("dj") === col("di") + col("lag") &&
          col("to_type") =!= col("from_type"))
        .groupBy(col("from_type"), col("to_type"), col("lag"))
        .agg(
          count(lit(1)).cast("long").as("n_days"),
          sum(col("x")).cast("long").as("sx"), sum(col("y")).cast("long").as("sy"),
          sum(xd * yd).cast("decimal(38,0)").as("sxy"),
          sum(xd * xd).cast("decimal(38,0)").as("sxx"),
          sum(yd * yd).cast("decimal(38,0)").as("syy"))
        .filter(col("n_days") >= 3 &&
          col("n_days") * col("sxx") > col("sx").cast("decimal(38,0)") * col("sx") &&
          col("n_days") * col("syy") > col("sy").cast("decimal(38,0)") * col("sy"))
      val nD = col("n_days").cast("double")
      val (sxD, syD) = (col("sx").cast("double"), col("sy").cast("double"))
      m.select(col("from_type"), col("to_type"), col("lag").cast("long").as("lag"),
          col("n_days"),
          ((nD * col("sxy").cast("double") - sxD * syD) /
            (sqrt(nD * col("sxx").cast("double") - sxD * sxD) *
             sqrt(nD * col("syy").cast("double") - syD * syD))).as("corr"))
        .orderBy("from_type", "to_type", "lag")
  }

  /** Theil-Sen robust trend per event-type series: the MEDIAN of all
    * pairwise day-to-day slopes of the daily total — the
    * outlier-resistant alternative to [[qRegrTrend]]'s least squares (a
    * single corrupted day moves OLS arbitrarily but shifts a median of
    * O(days²) slopes by one rank).
    *
    * Determinism: each slope is ONE IEEE division of exact integers
    * (cent delta / day delta), so every engine computes bit-identical
    * slopes; the median picks rank ⌈m/2⌉ and ⌈(m+1)/2⌉ under a total
    * order (slope, day_i, day_j) and averages two doubles — all exact.
    *
    * Scale: pairs are generated on the (type, day) AGGREGATE frame —
    * O(|days|²) per series, day-grain, never fact-grain. For
    * multi-year histories the standard fix is pairing each day with a
    * bounded hash-sample of partners (same shape, O(|days|·k)); at
    * dashboard horizons (≤ a few hundred points) exact pairs win. */
  val qTheilSen: Q = Q.sql(
    "q_theilsen",
    """WITH dm AS (
      |  SELECT event_type, datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS di,
      |    CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sq
      |  FROM events GROUP BY 1, 2),
      |p AS (
      |  SELECT a.event_type, a.di AS d1, b.di AS d2,
      |    CAST(b.sq - a.sq AS DOUBLE) / (b.di - a.di) AS slope
      |  FROM dm a JOIN dm b ON b.event_type = a.event_type AND b.di > a.di),
      |r AS (
      |  SELECT event_type, slope,
      |    CAST(row_number() OVER (PARTITION BY event_type
      |      ORDER BY slope, d1, d2) AS BIGINT) AS rn,
      |    CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS m
      |  FROM p)
      |SELECT event_type, max(m) AS n_pairs,
      |  avg(slope) AS slope_cents_per_day
      |FROM r WHERE rn = (m + 1) // 2 OR rn = (m + 2) // 2
      |GROUP BY event_type ORDER BY event_type""".stripMargin,
    doc = "Theil-Sen median-of-slopes robust daily trend per event-type series") { (s, d) =>
    val dm = graft.ScratchCache.tracked(
      events(s, d)
        .groupBy(col("event_type"),
          datediff(col("ts").cast("date"), lit("2024-01-01").cast("date")).as("di"))
        .agg(sum(round(col("value") * 100).cast("long")).cast("long").as("sq")))
    dm.count() // materialize before the self-join fan-out (lesson 11b)
    val a = dm.select(col("event_type"), col("di").as("d1"), col("sq").as("s1"))
    val b = dm.select(col("event_type").as("et2"), col("di").as("d2"), col("sq").as("s2"))
    val p = a.join(b, col("et2") === col("event_type") && col("d2") > col("d1"))
      .select(col("event_type"), col("d1"), col("d2"),
        ((col("s2") - col("s1")).cast("double") / (col("d2") - col("d1"))).as("slope"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("slope"), col("d1"), col("d2"))
    val wm = Window.partitionBy(col("event_type"))
    p.withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("m", count(lit(1)).over(wm).cast("long"))
      .filter(col("rn") === expr("(m + 1) DIV 2") || col("rn") === expr("(m + 2) DIV 2"))
      .groupBy(col("event_type"))
      .agg(max(col("m")).as("n_pairs"), avg(col("slope")).as("slope_cents_per_day"))
      .orderBy("event_type")
  }

  /** SAX motif discovery (Lin 2003, "Symbolic Aggregate approXimation";
    * Chiu 2003 for motifs): discretize each event-type series into a
    * 4-symbol alphabet, slide a 4-symbol word over TIME order, and report
    * the top-5 most frequent words per series — the classic cheap
    * repeated-pattern miner over telemetry.
    *
    * Determinism without breakpoint floats: symbols come from ntile(4)
    * over a TOTALLY ordered frame (value, ts, event_id — unique), i.e.
    * comparison-only equi-depth binning (the [[qBinEquidepth]] contract)
    * rather than gaussian breakpoints, so no boundary double ever decides
    * a symbol differently across engines. Words pack base-4 into one
    * integer; NULL-ending windows fall out via integer+NULL propagation.
    *
    * Scale shape: two per-series windows (rank pass, word pass) keyed by
    * event_type — the SAX contract is that one series fits a partition
    * (chunk longer series by day first); then a map-side-combined
    * (series, word) count and a 256-words-per-series top-k window. */
  val qSaxMotifs: Q = Q.sql(
    "q_sax_motifs",
    """WITH s AS (
      |  SELECT event_type, ts, event_id,
      |    ntile(4) OVER (PARTITION BY event_type ORDER BY value, ts, event_id) - 1 AS sym
      |  FROM events
      |), w AS (
      |  SELECT event_type,
      |    sym * 64 + lead(sym, 1) OVER tw * 16
      |      + lead(sym, 2) OVER tw * 4 + lead(sym, 3) OVER tw AS word
      |  FROM s WINDOW tw AS (PARTITION BY event_type ORDER BY ts, event_id)
      |), c AS (
      |  SELECT event_type, CAST(word AS BIGINT) AS word, CAST(count(*) AS BIGINT) AS cnt
      |  FROM w WHERE word IS NOT NULL GROUP BY 1, 2
      |), r AS (
      |  SELECT event_type, word, cnt,
      |    CAST(row_number() OVER (PARTITION BY event_type ORDER BY cnt DESC, word) AS BIGINT) AS rk
      |  FROM c)
      |SELECT event_type, word, cnt, rk FROM r WHERE rk <= 5
      |ORDER BY event_type, rk""".stripMargin,
    doc = "SAX 4-symbol motif mining per event-type series, top-5 words") { (s, d) =>
    val wRank = Window.partitionBy(col("event_type"))
      .orderBy(col("value"), col("ts"), col("event_id"))
    val tw = Window.partitionBy(col("event_type")).orderBy(col("ts"), col("event_id"))
    val sym = events(s, d)
      .select(col("event_type"), col("ts"), col("event_id"),
        (ntile(4).over(wRank) - 1).as("sym"))
    val words = sym
      .select(col("event_type"),
        (col("sym") * 64 + lead(col("sym"), 1).over(tw) * 16
          + lead(col("sym"), 2).over(tw) * 4 + lead(col("sym"), 3).over(tw)).as("word"))
      .filter(col("word").isNotNull)
    val c = words.groupBy(col("event_type"), col("word").cast("long").as("word"))
      .agg(count(lit(1)).cast("long").as("cnt"))
    val wTop = Window.partitionBy(col("event_type")).orderBy(col("cnt").desc, col("word"))
    c.select(col("event_type"), col("word"), col("cnt"),
        row_number().over(wTop).cast("long").as("rk"))
      .filter(col("rk") <= 5)
      .orderBy("event_type", "rk")
  }

  /** Time-weighted average (the Flux/InfluxDB `timeWeightedAvg` — the
    * irregular-sampling-correct mean a plain AVG gets wrong when points
    * arrive unevenly): per event type, LOCF integral of value over time
    * divided by the observed span, Σ vᵢ·(tᵢ₊₁ − tᵢ) / (t_N − t_0).
    *
    * Exactness: values quantize to 1e-6 (floor of identical doubles),
    * gaps are integer seconds, so every term vq·dt is an exact integer
    * and the fold is order-independent in DECIMAL/HUGEINT; the result is
    * two divisions of exact sums, round(6). One per-series lead window +
    * one aggregate. */
  /** The TWA integral numerator Σ vq·dt over (`vq`, `dt`) columns, exact
    * at any scale: the integrand operands are cast to decimal BEFORE the
    * product so the fold genuinely accumulates in DECIMAL(38,0) — a
    * BIGINT vq·dt sum would wrap once per-series integrals near 2⁶³
    * (large values × long gaps × many points), silently diverging from
    * the oracle's HUGEINT. Factored out so OverflowBoundarySpec can
    * drive the production fold past the 2⁶³ per-term boundary. */
  private[queries] def twaNumerator: org.apache.spark.sql.Column = {
    val term = col("vq").cast("decimal(19,0)") * col("dt").cast("decimal(19,0)")
    sum(when(col("dt").isNull, lit(0).cast("decimal(38,0)")).otherwise(term))
      .cast("decimal(38,0)")
  }

  val qTwa: Q = Q.sql(
    "q_twa",
    """WITH p AS (
      |  SELECT event_type, CAST(floor(epoch(ts)) AS BIGINT) AS t_s, event_id,
      |    CAST(floor(value * 1000000) AS BIGINT) AS vq
      |  FROM events
      |), g AS (
      |  SELECT event_type, vq,
      |    lead(t_s) OVER (PARTITION BY event_type ORDER BY t_s, event_id) - t_s AS dt,
      |    t_s
      |  FROM p
      |), a AS (
      |  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN dt IS NULL THEN 0 ELSE vq * dt END) AS HUGEINT) AS num,
      |    CAST(max(t_s) - min(t_s) AS HUGEINT) AS span_s
      |  FROM g GROUP BY 1)
      |SELECT event_type, n,
      |  CASE WHEN span_s = 0 THEN NULL
      |    ELSE round(CAST(num AS DOUBLE) / 1000000.0 / CAST(span_s AS DOUBLE), 6)
      |  END AS twa
      |FROM a ORDER BY event_type""".stripMargin,
    doc = "time-weighted average per event type (LOCF integral / span, exact integer terms)") {
    (s, d) =>
      val p = events(s, d).select(
        col("event_type"),
        floor(col("ts").cast("double")).cast("long").as("t_s"),
        col("event_id"),
        floor(col("value") * 1000000).cast("long").as("vq"))
      val w = Window.partitionBy(col("event_type")).orderBy(col("t_s"), col("event_id"))
      val g = p.select(col("event_type"), col("vq"), col("t_s"),
        (lead(col("t_s"), 1).over(w) - col("t_s")).as("dt"))
      g.groupBy("event_type")
        .agg(
          count(lit(1)).cast("long").as("n"),
          TimeSeriesQueries.twaNumerator.as("num"),
          (max(col("t_s")) - min(col("t_s"))).cast("decimal(38,0)").as("span_s"))
        .select(col("event_type"), col("n"),
          when(col("span_s") === 0, lit(null).cast("double"))
            .otherwise(round(col("num").cast("double") / 1000000.0
              / col("span_s").cast("double"), 6))
            .as("twa"))
        .orderBy("event_type")
  }

  /** Position-based (U-shaped) multi-touch attribution — the
    * multi-credit companion to [[qAttribution]]'s last-touch: every
    * purchase credits ALL touches since the user's previous purchase,
    * 40% to the first, 40% to the last, 20% split over the middles
    * (k=1 → 100%, k=2 → 50/50). The standard position-based model of
    * every marketing-analytics warehouse.
    *
    * Exactness: per-touch weights are half-up PARTS-PER-TRILLION
    * integers (the middle split (2·2·10¹¹ + (k−2)) // (2(k−2)) is the
    * only rounding; per-group totals may land a few ppt off 10¹² —
    * documented), so the per-channel credit fold is an exact integer
    * sum rendered once as round(Σ/10¹², 6).
    *
    * Scale shape: one cumulative-purchase window per user assigns every
    * touch to its next conversion (group key = user × purchase index —
    * no self-join), one (group) count/rank window bounded by touches
    * per conversion, one channel aggregate. */
  val qAttributionPosition: Q = Q.sql(
    "q_attribution_position",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |      OVER (PARTITION BY user_id ORDER BY ts, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cp
      |  FROM events
      |), t AS (
      |  SELECT user_id, event_type, ts, event_id, cp + 1 AS grp
      |  FROM o WHERE event_type <> 'purchase'
      |), conv AS (SELECT user_id, cp AS grp FROM o WHERE event_type = 'purchase'),
      |r AS (
      |  SELECT t.user_id, t.event_type, t.grp,
      |    CAST(row_number() OVER wg AS BIGINT) AS pos,
      |    CAST(count(*) OVER (PARTITION BY t.user_id, t.grp) AS BIGINT) AS k
      |  FROM t JOIN conv ON t.user_id = conv.user_id AND t.grp = conv.grp
      |  WINDOW wg AS (PARTITION BY t.user_id, t.grp ORDER BY t.ts, t.event_id)
      |), cr AS (
      |  SELECT event_type,
      |    CASE WHEN k = 1 THEN 1000000000000
      |      WHEN pos = 1 OR pos = k THEN CASE WHEN k = 2 THEN 500000000000 ELSE 400000000000 END
      |      ELSE (2 * 200000000000 + (k - 2)) // (2 * (k - 2)) END AS w
      |  FROM r)
      |SELECT event_type AS channel, CAST(count(*) AS BIGINT) AS n_touches,
      |  round(CAST(sum(w) AS DOUBLE) / 1000000000000.0, 6) AS credit
      |FROM cr GROUP BY 1 ORDER BY channel""".stripMargin,
    doc = "U-shaped (40/20/40) multi-touch attribution, exact ppt integer credits") { (s, d) =>
    val wCum = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val o = events(s, d).select(col("user_id"), col("ts"), col("event_id"), col("event_type"),
      sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).over(wCum).as("cp"))
    val t = o.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"),
        (col("cp") + 1).as("grp"))
    val conv = o.filter(col("event_type") === "purchase")
      .select(col("user_id").as("cu"), col("cp").as("cgrp"))
    val wg = Window.partitionBy(col("user_id"), col("grp")).orderBy(col("ts"), col("event_id"))
    val wk = Window.partitionBy(col("user_id"), col("grp"))
    val r = t.join(conv, col("user_id") === col("cu") && col("grp") === col("cgrp"))
      .select(col("user_id"), col("event_type"), col("grp"), col("ts"), col("event_id"))
      .select(col("event_type"),
        row_number().over(wg).cast("long").as("pos"),
        count(lit(1)).over(wk).cast("long").as("k"))
    r.select(col("event_type"),
        when(col("k") === 1, lit(1000000000000L))
          .when(col("pos") === 1 || col("pos") === col("k"),
            when(col("k") === 2, lit(500000000000L)).otherwise(lit(400000000000L)))
          .otherwise(expr("(2 * 200000000000 + (k - 2)) DIV (2 * (k - 2))"))
          .as("w"))
      .groupBy(col("event_type").as("channel"))
      .agg(count(lit(1)).cast("long").as("n_touches"),
        round(sum(col("w")).cast("double") / 1000000000000.0, 6).as("credit"))
      .orderBy("channel")
  }

  /** Sakoe-Chiba band width for [[qDtwProfiles]] — shared with the oracle
    * so both engines prune the identical cell set. */
  val DtwBand = 6

  /** Band-limited DTW distance between event-type DIURNAL profiles — the
    * alignment-tolerant "which activity types share a daily rhythm,
    * possibly phase-shifted" similarity that plain correlation (which
    * [[qXcorrLeadlag]] handles for single lags) misses for non-uniform
    * warps. Profiles are 24-cell hour-of-day value sums in 1e-3 fixed
    * point; distance is the exact integer DTW of
    * `expressions/DtwDist.scala` (rolling two-row DP, |i−j| ≤ [[DtwBand]]
    * Sakoe-Chiba pruning).
    *
    * Scale design — DTW is quadratic per pair, so the inputs are BOUNDED
    * by construction: the corpus collapses to (type, hour) in ONE
    * map-side-combined aggregate (24 cells per type regardless of fact
    * volume), the dense profile is a 24-row grid join, and the pair join
    * is |types|²-bounded. The oracle replays the DP recurrence as a
    * recursive CTE over the linearized cell grid — all-integer, so the
    * gate hash-proves the codegen kernel cell-for-cell. */
  val qDtwProfiles: Q = Q.sql(
    "q_dtw_profiles", {
      val inf = graft.expressions.DtwDist.Inf
      s"""WITH RECURSIVE hourly AS (
         |  SELECT event_type, CAST((CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS INT) AS h,
         |    CAST(sum(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS xq
         |  FROM events GROUP BY 1, 2
         |), grid AS (
         |  SELECT t.event_type, g.h
         |  FROM (SELECT DISTINCT event_type FROM events) t
         |  CROSS JOIN (SELECT unnest(range(0, 24)) AS h) g
         |), prof AS (
         |  SELECT g.event_type, list(coalesce(x.xq, 0) ORDER BY g.h) AS p
         |  FROM grid g LEFT JOIN hourly x ON x.event_type = g.event_type AND x.h = g.h
         |  GROUP BY 1
         |), pairs AS (
         |  SELECT a.event_type AS t1, b.event_type AS t2, a.p AS xs, b.p AS ys
         |  FROM prof a JOIN prof b ON a.event_type < b.event_type
         |), st AS (
         |  SELECT t1, t2, xs, ys, 0 AS k, [CAST(0 AS BIGINT)] AS dp FROM pairs
         |  UNION ALL
         |  SELECT t1, t2, xs, ys, k + 1,
         |    list_append(dp, CASE
         |      WHEN (k + 1) % 25 = 0 OR (k + 1) // 25 = 0 THEN CAST($inf AS BIGINT)
         |      WHEN abs((k + 1) // 25 - (k + 1) % 25) > $DtwBand THEN CAST($inf AS BIGINT)
         |      ELSE least(dp[k - 23], dp[k + 1], dp[k - 24])
         |        + abs(xs[(k + 1) // 25] - ys[(k + 1) % 25])
         |    END)
         |  FROM st WHERE k < 25 * 25 - 1
         |)
         |SELECT t1, t2, dp[25 * 25] AS dtw_dist
         |FROM st WHERE k = 25 * 25 - 1
         |ORDER BY t1, t2""".stripMargin
    },
    doc = "band-limited integer DTW between event-type hour-of-day profiles") { (s, d) =>
    val ev = events(s, d).select(
      col("event_type"),
      ((floor(unix_timestamp(col("ts"))).cast("long") / 3600).cast("long") % 24)
        .cast("int").as("h"),
      round(col("value") * 1000).cast("long").as("vq"))
    val hourly = ev.groupBy("event_type", "h").agg(sum(col("vq")).as("xq"))
    val grid = ev.select(col("event_type")).distinct()
      .select(col("event_type"), explode(sequence(lit(0), lit(23))).as("h"))
    val prof = grid
      .join(hourly, Seq("event_type", "h"), "left")
      .groupBy("event_type")
      .agg(transform(
        array_sort(collect_list(struct(col("h"), coalesce(col("xq"), lit(0L)).as("xq")))),
        s => s.getField("xq")).as("p"))
    prof.as("a")
      .join(prof.as("b"), col("a.event_type") < col("b.event_type"))
      .select(
        col("a.event_type").as("t1"),
        col("b.event_type").as("t2"),
        graft.expressions.DtwDist.dtwDist(col("a.p"), col("b.p"), DtwBand).as("dtw_dist"))
      .orderBy("t1", "t2")
  }

  val all: Seq[Q] =
    Seq(qRangeScan, qFilterBands, qAggWindow, qSortDesc, qPivotWide, qSessionize, qConcurrency,
      qDerivative, qMovingAvg, qRangeFrame, qEwma, qSessionWindow, qSlidingWindow, qNtile,
      qBinEquidepth, qIntegral, qInterpLinear, qFunnel, qCohortRetention, qAnomaly, qRankFuncs,
      qRunningDistinct, qDownsampleMm, qSeasonal, qGapReport, qAcf, qAttribution, qWindowFunnel,
      qSeqMining, qChangepoint, qMarkovTransition, qCohortLtv, qXcorrLeadlag, qTheilSen,
      qSaxMotifs, qTwa, qAttributionPosition, qDtwProfiles)
}
