package graft.queries

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-statistics operators — the profiling pass a data pipeline
  * runs before deciding filters and normalizations: exact percentiles,
  * correlation/covariance, and per-group feature scaling.
  *
  * Scale design: percentiles use Spark's exact `percentile` (sort-based
  * within group — per-group data must fit a partition, which holds for
  * per-flag/per-type groupings; the approx sketch variant lives in
  * q_approx_aggs). Correlation/covariance are one-pass co-moment
  * aggregates (partial+final, no sort). Feature scaling joins each row
  * against broadcast per-group moments — two scans, no window over the
  * whole fact table.
  */
object StatsQueries {

  /** Exact interpolated percentiles of l_extendedprice per return flag.
    * Both engines define p-quantile at rank p·(n−1) with linear
    * interpolation, so values match to rounding. */
  val qPercentiles: Q = Q.sql(
    "q_percentiles",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(quantile_cont(l_extendedprice, 0.5), 6) AS p50,
      |  round(quantile_cont(l_extendedprice, 0.9), 6) AS p90,
      |  round(quantile_cont(l_extendedprice, 0.99), 6) AS p99
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin,
    doc = "exact interpolated percentiles per group (distributed order statistics)") { (s, d) =>
    // NOT the built-in exact `percentile`: that buffers every group value
    // in one aggregation buffer (3 giant groups = 3 tasks holding the
    // table; 6.7 s at sf0.1, OOM at scale). Quantiles.exact gives the same
    // answer from an approximate bracket and a narrow per-group band — see
    // the operator's Scaladoc.
    graft.operators.Quantiles
      .exact(lineitem(s, d), "l_returnflag", "l_extendedprice",
        Seq(0.5, 0.9, 0.99), Seq("p50", "p90", "p99"))
      .select(
        col("l_returnflag"), col("n"),
        round(col("p50"), 6).as("p50"),
        round(col("p90"), 6).as("p90"),
        round(col("p99"), 6).as("p99"))
      .orderBy("l_returnflag")
  }

  /** Pearson correlation + sample covariance/stddev of quantity vs price
    * per return flag — one-pass co-moment aggregation in both engines. */
  val qCorrStats: Q = Q.sql(
    "q_corr_stats",
    """SELECT l_returnflag,
      |  CAST(count(*) AS BIGINT) AS n,
      |  round(corr(l_quantity, l_extendedprice), 6) AS corr_qp,
      |  round(covar_samp(l_quantity, l_extendedprice), 4) AS covar_qp,
      |  round(stddev_samp(l_quantity), 6) AS sd_qty
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin,
    doc = "correlation / covariance / stddev per group (one-pass co-moments)") { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 6).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        round(stddev_samp(col("l_quantity")), 6).as("sd_qty"))
      .orderBy("l_returnflag")
  }

  /** Per-event-type feature scaling: z-score and min-max normalization of
    * `value`. Group moments come from ONE aggregation broadcast back onto
    * the fact rows (at 100 TB: a tiny dimension join, not a window sort
    * over every row). */
  val qFeatureScale: Q = Q.sql(
    "q_feature_scale",
    """WITH m AS (
      |  SELECT event_type, avg(value) AS mu, stddev_samp(value) AS sd,
      |    min(value) AS mn, max(value) AS mx
      |  FROM events GROUP BY event_type
      |)
      |SELECT e.event_id, e.event_type,
      |  round(e.value, 6) AS value,
      |  round((e.value - m.mu) / m.sd, 6) AS zscore,
      |  round((e.value - m.mn) / (m.mx - m.mn), 6) AS minmax
      |FROM events e JOIN m ON e.event_type = m.event_type
      |ORDER BY e.event_id""".stripMargin,
    doc = "feature scaling: z-score + min-max per event type (broadcast moments)") { (s, d) =>
    val ev = events(s, d)
    val m = ev.groupBy(col("event_type").as("mtype")).agg(
      avg(col("value")).as("mu"),
      stddev_samp(col("value")).as("sd"),
      min(col("value")).as("mn"),
      max(col("value")).as("mx"))
    ev.join(broadcast(m), col("event_type") === col("mtype"))
      .select(
        col("event_id"),
        col("event_type"),
        round(col("value"), 6).as("value"),
        round((col("value") - col("mu")) / col("sd"), 6).as("zscore"),
        round((col("value") - col("mn")) / (col("mx") - col("mn")), 6).as("minmax"))
      .orderBy("event_id")
  }

  /** Doc-length histogram: fixed 100-char bins over n_chars — the
    * length-filter design pass. Pure integer arithmetic. */
  val qLenHist: Q = Q.sql(
    "q_len_hist",
    """SELECT CAST(n_chars // 100 AS BIGINT) AS bin,
      |  CAST(n_chars // 100 * 100 AS BIGINT) AS lo,
      |  CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars
      |FROM documents
      |GROUP BY 1, 2
      |ORDER BY bin""".stripMargin,
    doc = "document-length histogram (fixed-width integer bins)") { (s, d) =>
    documents(s, d)
      .groupBy(
        floor(col("n_chars") / 100).cast("long").as("bin"),
        (floor(col("n_chars") / 100) * 100).cast("long").as("lo"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"))
      .orderBy("bin")
  }

  /** KMV (k-minimum-values) distinct-count sketch, k = 64 — the
    * cardinality sketch that is DETERMINISTIC and therefore fully
    * oracle-able, unlike HLL (q_approx_aggs is rows-only for exactly
    * that reason; this gate closes the gap with a sketch whose estimate
    * DuckDB replays bit-for-bit). Per language, hash every distinct
    * token to md5, keep the 64 smallest hashes, and estimate
    * |vocabulary| ≈ (k−1)/u_k where u_k is the k-th smallest hash mapped
    * into [0,1). Groups with fewer than k distinct values are exact by
    * the KMV rule.
    *
    * Scale shape: explode → distinct (one shuffle on (lang, hash)) →
    * per-group k-smallest, planned as WindowGroupLimit (rank ≤ k is
    * pushed into the sort, so partial top-k runs map-side and no task
    * ever holds a group's full hash set) → one tiny join against the
    * exact counts. The sketch itself is mergeable (union = k smallest of
    * the union), which is what makes KMV the distributed-friendly choice
    * at 100 TB. Estimate arithmetic is two IEEE divisions on identical
    * operands — no round(), bit-identical across engines. */
  val qKmvDistinct: Q = Q.sql(
    "q_kmv_distinct",
    s"""WITH tok AS (SELECT lang, unnest(${graft.text.TextFunctions.tokensSql}) AS t FROM documents),
       |th AS (SELECT DISTINCT lang, md5(t) AS h FROM tok),
       |r AS (SELECT lang, h, row_number() OVER (PARTITION BY lang ORDER BY h) AS rn FROM th),
       |nd AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_distinct FROM th GROUP BY lang),
       |sk AS (SELECT lang, CAST(count(*) AS BIGINT) AS in_sketch, max(h) AS kth_hash
       |       FROM r WHERE rn <= 64 GROUP BY lang)
       |SELECT n.lang, n.n_distinct, s.in_sketch, s.kth_hash,
       |  CASE WHEN s.in_sketch < 64 THEN CAST(n.n_distinct AS DOUBLE)
       |    ELSE 63.0 / (CAST(('0x' || substr(s.kth_hash, 1, 12)) AS BIGINT) / 281474976710656.0)
       |  END AS est_distinct
       |FROM nd n JOIN sk s ON n.lang = s.lang
       |ORDER BY n.lang""".stripMargin,
    doc = "KMV distinct-count sketch (k=64): deterministic, mergeable, oracle-replayed") { (s, d) =>
    val th = documents(s, d)
      .transform(graft.Tables.spread(s, _))
      .select(col("lang"), explode(graft.text.TextFunctions.tokens(col("text"))).as("t"))
      .select(col("lang"), md5(col("t")).as("h"))
      .distinct()
    val nd = th.groupBy(col("lang")).agg(count(lit(1)).as("n_distinct"))
    val w = Window.partitionBy(col("lang")).orderBy(col("h"))
    val sk = th
      .select(col("lang").as("sklang"), col("h"), row_number().over(w).as("rn"))
      .filter(col("rn") <= 64)
      .groupBy(col("sklang"))
      .agg(count(lit(1)).as("in_sketch"), max(col("h")).as("kth_hash"))
    val uK = conv(substring(col("kth_hash"), 1, 12), 16, 10).cast("double") / 281474976710656.0
    nd.join(sk, col("lang") === col("sklang"))
      .select(
        col("lang"), col("n_distinct"), col("in_sketch"), col("kth_hash"),
        when(col("in_sketch") < 64, col("n_distinct").cast("double"))
          .otherwise(lit(63.0) / uK)
          .as("est_distinct"))
      .orderBy("lang")
  }

  /** Per-type linear trend of event values over time — the built-in
    * regression aggregates (`regr_slope`/`regr_intercept`/`regr_r2`), which
    * both engines define identically as one-pass co-moment ratios
    * (covar_pop/var_pop etc.). Partial+final hash aggregation, no sort, no
    * window: the same single-shuffle shape as any groupBy at any scale.
    * Time is cast to fractional days so the slope is per-day. */
  val qRegrTrend: Q = Q.sql(
    "q_regr_trend",
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  round(regr_slope(value, epoch(ts)/86400.0), 6) AS slope_per_day,
      |  round(regr_intercept(value, epoch(ts)/86400.0), 4) AS intercept,
      |  round(regr_r2(value, epoch(ts)/86400.0), 6) AS r2
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    doc = "linear value-vs-time trend per event type (regression aggregates)") { (s, d) =>
    val x = col("ts").cast("double") / 86400.0
    events(s, d)
      .groupBy("event_type")
      .agg(
        count(lit(1)).cast("long").as("n"),
        round(regr_slope(col("value"), x), 6).as("slope_per_day"),
        round(regr_intercept(col("value"), x), 4).as("intercept"),
        round(regr_r2(col("value"), x), 6).as("r2"))
      .orderBy("event_type")
  }

  /** Data-quality audit battery (Deequ-style): null-rate, domain,
    * range, PK-uniqueness, and FK-orphan constraints evaluated in bulk,
    * one result row per check. Shape: ONE pass over each table folding
    * every per-table check into a single aggregate row that `stack`
    * unpivots into rows (no per-check scans), plus one left-anti join for
    * referential integrity. The tax bound is deliberately tighter than
    * the data (max l_tax = 0.08) so the violation-counting path is
    * provably non-vacuous. */
  val qDqAudit: Q = Q.sql(
    "q_dq_audit",
    """WITH o AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT) AS bad_price,
      |    CAST(sum(CASE WHEN o_orderstatus NOT IN ('O','F','P') THEN 1 ELSE 0 END) AS BIGINT) AS bad_status,
      |    CAST(sum(CASE WHEN o_custkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_cust,
      |    CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS dup_pk
      |  FROM orders
      |), l AS (
      |  SELECT CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CASE WHEN l_quantity < 1 OR l_quantity > 50 THEN 1 ELSE 0 END) AS BIGINT) AS bad_qty,
      |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 0.1 THEN 1 ELSE 0 END) AS BIGINT) AS bad_disc,
      |    CAST(sum(CASE WHEN l_tax > 0.07 THEN 1 ELSE 0 END) AS BIGINT) AS high_tax
      |  FROM lineitem
      |), fk AS (
      |  SELECT CAST(count(*) AS BIGINT) AS orphans FROM lineitem
      |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
      |)
      |SELECT * FROM (
      |  SELECT 'orders_positive_price' AS chk, n AS n_checked, bad_price AS n_violations FROM o
      |  UNION ALL SELECT 'orders_status_domain', n, bad_status FROM o
      |  UNION ALL SELECT 'orders_custkey_not_null', n, null_cust FROM o
      |  UNION ALL SELECT 'orders_pk_unique', n, dup_pk FROM o
      |  UNION ALL SELECT 'lineitem_qty_range', n, bad_qty FROM l
      |  UNION ALL SELECT 'lineitem_discount_range', n, bad_disc FROM l
      |  UNION ALL SELECT 'lineitem_tax_le_007', n, high_tax FROM l
      |  UNION ALL SELECT 'lineitem_order_fk', (SELECT n FROM l), orphans FROM fk
      |) ORDER BY chk""".stripMargin,
    doc = "bulk data-quality constraint checks: one scan per table + FK anti-join") { (s, d) =>
    val v = (c: org.apache.spark.sql.Column) => sum(when(c, 1).otherwise(0)).cast("long")
    val o = orders(s, d).agg(
      count(lit(1)).cast("long").as("n"),
      v(col("o_totalprice") <= 0).as("bad_price"),
      v(!col("o_orderstatus").isin("O", "F", "P")).as("bad_status"),
      v(col("o_custkey").isNull).as("null_cust"),
      (count(lit(1)) - countDistinct(col("o_orderkey"))).cast("long").as("dup_pk"))
    val l = lineitem(s, d).agg(
      count(lit(1)).cast("long").as("n"),
      v(col("l_quantity") < 1 || col("l_quantity") > 50).as("bad_qty"),
      v(col("l_discount") < 0 || col("l_discount") > 0.1).as("bad_disc"),
      v(col("l_tax") > 0.07).as("high_tax"))
    val fk = lineitem(s, d)
      .join(orders(s, d).select(col("o_orderkey")), col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).cast("long").as("orphans"))
      .crossJoin(l.select(col("n"))) // reuses l's aggregate subtree (exchange dedup)
    o.select(expr(
        """stack(4,
          |  'orders_positive_price', n, bad_price,
          |  'orders_status_domain', n, bad_status,
          |  'orders_custkey_not_null', n, null_cust,
          |  'orders_pk_unique', n, dup_pk) AS (chk, n_checked, n_violations)""".stripMargin))
      .unionAll(l.select(expr(
        """stack(3,
          |  'lineitem_qty_range', n, bad_qty,
          |  'lineitem_discount_range', n, bad_disc,
          |  'lineitem_tax_le_007', n, high_tax) AS (chk, n_checked, n_violations)""".stripMargin)))
      .unionAll(fk.select(lit("lineitem_order_fk").as("chk"),
        col("n").as("n_checked"), col("orphans").as("n_violations")))
      .orderBy("chk")
  }

  /** Two-sample Kolmogorov-Smirnov drift audit: for every source, the KS
    * statistic D = max |CDF_source − CDF_rest| over the document-length
    * distribution, plus where the gap peaks — the dataset-shift check a
    * pipeline runs when a new crawl source lands.
    *
    * Scale design: the corpus collapses FIRST to (source, length) counts —
    * a domain-bounded frame (|sources| × |distinct lengths|), so the CDF
    * windows and the source×length grid run over aggregates, never rows;
    * corpus size only affects the one counting shuffle. Parity: CDFs are
    * exact-integer cumulative counts with one correctly-rounded division
    * each; |a/b − c/d| is then bit-identical across engines, so ks_d
    * ships raw. Ties on the argmax break to the smallest length. */
  val qKsDrift: Q = Q.sql(
    "q_ks_drift",
    """WITH c AS (
      |  SELECT source, n_chars AS len, CAST(count(*) AS BIGINT) AS cnt
      |  FROM documents GROUP BY 1, 2
      |), t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM c GROUP BY 1),
      |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
      |la AS (SELECT len, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM c GROUP BY 1),
      |grid AS (SELECT t.source, la.len, la.cnt_all FROM t CROSS JOIN la),
      |cum AS (
      |  SELECT g.source, g.len,
      |    CAST(sum(coalesce(c.cnt, 0)) OVER w AS BIGINT) AS cum_s,
      |    CAST(sum(g.cnt_all) OVER w AS BIGINT) AS cum_all
      |  FROM grid g LEFT JOIN c ON c.source = g.source AND c.len = g.len
      |  WINDOW w AS (PARTITION BY g.source ORDER BY g.len)
      |), d AS (
      |  SELECT cum.source, len,
      |    abs(CAST(cum_s AS DOUBLE) / t.n_s
      |      - CAST(cum_all - cum_s AS DOUBLE) / nullif(tot.n - t.n_s, 0)) AS diff
      |  FROM cum JOIN t ON cum.source = t.source CROSS JOIN tot
      |), r AS (
      |  SELECT source, len, diff,
      |    row_number() OVER (PARTITION BY source ORDER BY diff DESC, len) AS rk
      |  FROM d
      |)
      |SELECT r.source, t.n_s AS n_docs, r.diff AS ks_d, CAST(r.len AS BIGINT) AS at_len
      |FROM r JOIN t ON r.source = t.source
      |WHERE rk = 1
      |ORDER BY r.source""".stripMargin,
    doc = "KS drift audit: per-source max CDF gap vs rest of corpus (domain-bounded)") { (s, d) =>
    val c = graft.ScratchCache.tracked(
      documents(s, d)
        .groupBy(col("source"), col("n_chars").as("len"))
        .agg(count(lit(1)).as("cnt")))
    // same fan-out materialization as qPsiDrift (NOTES lesson 11b)
    c.count()
    val t = c.groupBy(col("source")).agg(sum(col("cnt")).cast("long").as("n_s"))
    val tot = c.agg(sum(col("cnt")).cast("long").as("n"))
    val la = c.groupBy(col("len")).agg(sum(col("cnt")).cast("long").as("cnt_all"))
    val grid = t.select(col("source")).crossJoin(broadcast(la))
    val w = Window.partitionBy(col("source")).orderBy(col("len"))
    val cum = grid
      .join(c.withColumnRenamed("source", "cs").withColumnRenamed("len", "cl"),
        col("source") === col("cs") && col("len") === col("cl"), "left")
      .select(
        col("source"), col("len"),
        sum(coalesce(col("cnt"), lit(0L))).over(w).cast("long").as("cum_s"),
        sum(col("cnt_all")).over(w).cast("long").as("cum_all"))
    // nullif guard on the rest-of-corpus size: with a single source the
    // denominator is 0, where Spark (non-ANSI) yields NULL but DuckDB's
    // IEEE division yields inf/nan — both engines emit NULL by
    // construction instead (the whole source's diffs go NULL together,
    // so the rank tiebreak stays engine-independent too)
    val diff = abs(
      col("cum_s").cast("double") / col("n_s")
        - (col("cum_all") - col("cum_s")).cast("double")
        / when(col("n") =!= col("n_s"), col("n") - col("n_s")))
    val rw = Window.partitionBy(col("source")).orderBy(col("diff").desc, col("len"))
    cum
      .join(broadcast(t), "source")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("len"), col("n_s"), diff.as("diff"))
      .withColumn("rk", row_number().over(rw))
      .filter(col("rk") === 1)
      .select(col("source"), col("n_s").as("n_docs"), col("diff").as("ks_d"),
        col("len").cast("long").as("at_len"))
      .orderBy("source")
  }

  /** Cross-source contamination matrix: 3-gram shingle Jaccard between
    * every pair of sources — the audit a mix designer runs before
    * weighting "independent" crawls that may share mirrors, syndicated
    * boilerplate, or a common upstream dump (overlapping sources break
    * the independence assumption every mixing weight rests on).
    *
    * Scale design: one explode + DISTINCT collapses the corpus to the
    * (source, gram) incidence — the inverted-index shape — and the pair
    * join fans each gram out to at most |sources|² rows, a corpus-size-
    * independent bound; per-source totals broadcast back. The incidence
    * frame feeds three consumers, so it is scratch-cached. Counts are
    * exact integers; one division, rounded at the edge. */
  val qSourceOverlap: Q = Q.sql(
    "q_source_overlap",
    s"""WITH sg AS (
      |  SELECT DISTINCT source, g FROM (
      |    SELECT source, unnest(${graft.text.TextFunctions.shinglesSql}) AS g FROM documents)
      |), sizes AS (
      |  SELECT source, CAST(count(*) AS BIGINT) AS n FROM sg GROUP BY 1
      |), it AS (
      |  SELECT a.source AS src1, b.source AS src2, CAST(count(*) AS BIGINT) AS inter
      |  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
      |  GROUP BY 1, 2
      |)
      |SELECT it.src1, it.src2, s1.n AS n1, s2.n AS n2, it.inter,
      |  round(CAST(it.inter AS DOUBLE) / (s1.n + s2.n - it.inter), 6) AS jaccard
      |FROM it
      |JOIN sizes s1 ON it.src1 = s1.source
      |JOIN sizes s2 ON it.src2 = s2.source
      |ORDER BY src1, src2""".stripMargin,
    doc = "cross-source 3-gram Jaccard matrix: shared-upstream contamination audit") { (s, d) =>
    import graft.text.TextFunctions._
    val sg = graft.ScratchCache.tracked(
      documents(s, d)
        .transform(graft.Tables.spread(s, _))
        .select(col("source"), tokens(col("text")).as("w"))
        .select(col("source"), explode(shinglesOf(col("w"))).as("g"))
        .distinct())
    // materialize before the fan-out (NOTES lesson 11b): three consumers
    // — the sizes aggregate and BOTH sides of the pair self-join — would
    // otherwise race and recompute the distinct-shingle shuffle cold
    sg.count()
    val sizes = sg.groupBy("source").agg(count(lit(1)).as("n"))
    val it = sg.as("a")
      .join(sg.as("b"), col("a.g") === col("b.g") && col("a.source") < col("b.source"))
      .groupBy(col("a.source").as("src1"), col("b.source").as("src2"))
      .agg(count(lit(1)).as("inter"))
    it
      .join(broadcast(sizes.select(col("source").as("src1"), col("n").as("n1"))), "src1")
      .join(broadcast(sizes.select(col("source").as("src2"), col("n").as("n2"))), "src2")
      .select(
        col("src1"), col("src2"), col("n1"), col("n2"), col("inter"),
        round(col("inter").cast("double") / (col("n1") + col("n2") - col("inter")), 6)
          .as("jaccard"))
      .orderBy("src1", "src2")
  }

  /** Robust outlier detection via median absolute deviation — the
    * heavy-tail-safe alternative to q_anomaly's rolling z-score (a mean/
    * stddev threshold is itself dragged by the outliers it hunts; the
    * median/MAD pair has a 50% breakdown point). Per event type: median,
    * MAD, and the count of values beyond the standard 3σ-equivalent fence
    * `|v − med| > 3 · 1.4826 · MAD` (1.4826 = 1/Φ⁻¹(3/4), the consistency
    * constant that makes MAD estimate σ under normality).
    *
    * Both medians run through [[graft.operators.Quantiles.exact]] —
    * an approximate bracket, then an exact selection from a narrow
    * per-group band, never a buffer-the-whole-group percentile. The MAD
    * depends on the median, so the two run one after the other: values,
    * then absolute deviations. Neither is cached: each plan is two small
    * aggregates, cheaper to re-run for its consumers than a persist plus
    * the count() that would materialize it.
    *
    * Float parity is by construction, not hope: values quantize to exact
    * integer cents first (the q_anomaly trick), so every interpolated
    * median lands on a dyadic rational (k/2 of integers; deviations k/4)
    * that both engines represent exactly — the fence comparison can never
    * straddle an ulp. */
  val qMadOutliers: Q = Q.sql(
    "q_mad_outliers",
    """WITH c AS (
      |  SELECT event_type, CAST(round(value*100) AS BIGINT) AS v FROM events
      |), m AS (
      |  SELECT event_type, quantile_cont(v, 0.5) AS med FROM c GROUP BY event_type
      |), a AS (
      |  SELECT c.event_type, abs(c.v - m.med) AS ad FROM c JOIN m USING (event_type)
      |), md AS (
      |  SELECT event_type, quantile_cont(ad, 0.5) AS mad FROM a GROUP BY event_type
      |)
      |SELECT event_type, CAST(count(*) AS BIGINT) AS n,
      |  m.med AS med_cents, md.mad AS mad_cents,
      |  CAST(sum(CASE WHEN a.ad > 3 * 1.4826 * md.mad THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_outliers
      |FROM a JOIN m USING (event_type) JOIN md USING (event_type)
      |GROUP BY event_type, m.med, md.mad
      |ORDER BY event_type""".stripMargin,
    doc = "median/MAD robust outlier fence per group (two distributed order-statistic passes)") { (s, d) =>
    val c = events(s, d).select(
      col("event_type"), round(col("value") * 100).cast("long").as("v"))
    val m = graft.operators.Quantiles
      .exact(c, "event_type", "v", Seq(0.5), Seq("med"))
      .select(col("event_type"), col("med"))
    val a = c.join(broadcast(m), "event_type")
      .select(col("event_type"), abs(col("v") - col("med")).as("ad"))
    val md = graft.operators.Quantiles
      .exact(a, "event_type", "ad", Seq(0.5), Seq("mad"))
      .select(col("event_type"), col("mad"))
    a.join(broadcast(m), "event_type").join(broadcast(md), "event_type")
      .groupBy(col("event_type"), col("med"), col("mad"))
      .agg(
        count(lit(1)).cast("long").as("n"),
        sum(when(col("ad") > lit(3) * lit(1.4826) * col("mad"), 1).otherwise(0))
          .cast("long").as("n_outliers"))
      .select(
        col("event_type"), col("n"), col("med").as("med_cents"),
        col("mad").as("mad_cents"), col("n_outliers"))
      .orderBy("event_type")
  }

  /** PSI term quantum: each (p−q)·ln(p/q) term is quantized to 1e-12
    * before summation so the 10-term sum is an integer add — immune to
    * partial-aggregation order on both engines (the q_bigram_lm
    * fixed-point pattern). */
  private val PsiQuantum = 1e12

  /** Population-stability-index drift audit: for every source, PSI of its
    * document-length histogram against the rest of the corpus over 10
    * fixed-width bins — the monitoring-standard companion to [[qKsDrift]]
    * (KS answers "is there drift anywhere in the CDF"; PSI scores HOW
    * redistributed the mass is, the number dashboards alarm on at 0.1/0.25).
    *
    * Laplace-smoothed proportions (cnt+1)/(n+B) keep every bin strictly
    * positive, so ln is always defined and the single-source degenerate
    * case (rest = ∅ → uniform prior) agrees across engines by
    * construction — no nullif guard needed.
    *
    * Scale design: the corpus collapses FIRST to (source, bin) counts —
    * a |sources|×10 frame — so the grid, smoothing, and PSI fold run
    * over aggregates; corpus size only affects the one counting shuffle.
    * Parity: each term is quantized to [[PsiQuantum]] before the fold
    * (integer sum ⇒ order-independent), divided back once, rounded. */
  val qPsiDrift: Q = Q.sql(
    "q_psi_drift",
    s"""WITH c AS (
       |  SELECT source, least(n_chars // 64, 9) AS bin, CAST(count(*) AS BIGINT) AS cnt
       |  FROM documents GROUP BY 1, 2
       |), t AS (SELECT source, CAST(sum(cnt) AS BIGINT) AS n_s FROM c GROUP BY 1),
       |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM c),
       |ba AS (SELECT bin, CAST(sum(cnt) AS BIGINT) AS cnt_all FROM c GROUP BY 1),
       |bins AS (SELECT unnest(generate_series(0, 9)) AS bin),
       |prop AS (
       |  SELECT g.source, g.n_s,
       |    CAST(coalesce(c.cnt, 0) + 1 AS DOUBLE) / (g.n_s + 10) AS p,
       |    CAST(coalesce(ba.cnt_all, 0) - coalesce(c.cnt, 0) + 1 AS DOUBLE)
       |      / (tot.n - g.n_s + 10) AS q
       |  FROM (SELECT t.source, t.n_s, b.bin FROM t CROSS JOIN bins b) g
       |  LEFT JOIN c ON c.source = g.source AND c.bin = g.bin
       |  LEFT JOIN ba ON ba.bin = g.bin
       |  CROSS JOIN tot
       |)
       |SELECT source, n_s AS n_docs,
       |  round(CAST(sum(CAST(round((p - q) * ln(p / q) * $PsiQuantum, 0) AS BIGINT)) AS DOUBLE)
       |    / $PsiQuantum, 6) AS psi
       |FROM prop GROUP BY 1, 2 ORDER BY source""".stripMargin,
    doc = "PSI drift audit: per-source length-histogram stability vs rest (10 fixed bins)") {
    (s, d) =>
      val c = graft.ScratchCache.tracked(
        documents(s, d)
          .groupBy(col("source"), least(floor(col("n_chars") / 64), lit(9L)).as("bin"))
          .agg(count(lit(1)).as("cnt")))
      // materialize before the fan-out (t, tot, ba, and the grid join all
      // read c): persist() does not dedupe concurrent first computation
      // (NOTES lesson 11b)
      c.count()
      val t = c.groupBy(col("source")).agg(sum(col("cnt")).cast("long").as("n_s"))
      val tot = c.agg(sum(col("cnt")).cast("long").as("n"))
      val ba = c.groupBy(col("bin")).agg(sum(col("cnt")).cast("long").as("cnt_all"))
      val grid = t.crossJoin(broadcast(
        binFrame(s)))
      val p = (coalesce(col("cnt"), lit(0L)) + 1).cast("double") / (col("n_s") + 10)
      val q = (coalesce(col("cnt_all"), lit(0L)) - coalesce(col("cnt"), lit(0L)) + 1)
        .cast("double") / (col("n") - col("n_s") + 10)
      val term = round((p - q) * log(p / q) * PsiQuantum, 0).cast("long")
      grid
        .join(c.withColumnRenamed("source", "cs").withColumnRenamed("bin", "cb"),
          col("source") === col("cs") && col("bin") === col("cb"), "left")
        .join(broadcast(ba), Seq("bin"), "left")
        .crossJoin(broadcast(tot))
        .select(col("source"), col("n_s"), term.as("term"))
        .groupBy("source", "n_s")
        .agg(round(sum(col("term")).cast("double") / PsiQuantum, 6).as("psi"))
        .select(col("source"), col("n_s").as("n_docs"), col("psi"))
        .orderBy("source")
  }

  /** The 10-bin frame for [[qPsiDrift]]'s grid: `sequence` is evaluated
    * once on a single-row frame, then exploded — no driver-side range. */
  private def binFrame(s: org.apache.spark.sql.SparkSession): org.apache.spark.sql.DataFrame =
    s.range(1).select(explode(sequence(lit(0L), lit(9L))).as("bin"))

  /** Count-min sketch geometry: depth (independent hash rows) × width. */
  val CmsDepth = 4
  val CmsWidth = 256
  private val CmsTopK = 20

  /** Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005): fold
    * the corpus token stream into a [[CmsDepth]]×[[CmsWidth]] counter
    * matrix and read back estimates for the exact top-[[CmsTopK]] terms —
    * `est = min_j cell[j][h_j(t)]`, with the one-sided guarantee
    * est ≥ true count. Like [[qKmvDistinct]] (and unlike HLL), the
    * sketch is fully DETERMINISTIC — md5-derived bucket hashes — so the
    * DuckDB oracle replays every cell and every estimate bit-for-bit;
    * this is the frequency sketch next to KMV's cardinality sketch.
    *
    * Scale design: the sketch is what makes heavy hitters tractable on a
    * stream — a FIXED 1 Ki-cell matrix with map-side partial sums
    * (mergeable: CMS(A∪B) = CMS(A)+CMS(B), cell-wise), built here from
    * the vocabulary-bounded count frame rather than raw occurrences
    * (same cells, one shuffle less). The estimate probe joins the
    * top-k×depth rows against the BROADCAST sketch. */
  val qCmsTopk: Q = Q.sql(
    "q_cms_topk",
    s"""WITH tok AS (
       |  SELECT unnest(${graft.text.TextFunctions.tokensSql}) AS t FROM documents
       |), cnt AS (
       |  SELECT t, CAST(count(*) AS BIGINT) AS c FROM tok GROUP BY 1
       |), js AS (SELECT unnest(generate_series(0, ${CmsDepth - 1})) AS j),
       |sk AS (
       |  SELECT j.j,
       |    CAST(('0x' || substr(md5(j.j || ':' || cnt.t), 1, 8)) AS BIGINT) % $CmsWidth AS bucket,
       |    CAST(sum(cnt.c) AS BIGINT) AS cell
       |  FROM cnt CROSS JOIN js j
       |  GROUP BY 1, 2
       |), top AS (
       |  SELECT t, c, row_number() OVER (ORDER BY c DESC, t) AS rk
       |  FROM cnt QUALIFY rk <= $CmsTopK
       |), est AS (
       |  SELECT top.t, top.c, top.rk, CAST(min(sk.cell) AS BIGINT) AS est
       |  FROM top CROSS JOIN js j
       |  JOIN sk ON sk.j = j.j
       |    AND sk.bucket =
       |      CAST(('0x' || substr(md5(j.j || ':' || top.t), 1, 8)) AS BIGINT) % $CmsWidth
       |  GROUP BY 1, 2, 3
       |)
       |SELECT CAST(rk AS BIGINT) AS rk, t AS term, c AS n, est, est - c AS overcount
       |FROM est ORDER BY rk""".stripMargin,
    doc = s"count-min sketch heavy hitters (${CmsDepth}x$CmsWidth, deterministic, oracle-replayed)") {
    (s, d) =>
      import graft.text.TextFunctions.tokens
      def bucket(j: Int, t: org.apache.spark.sql.Column) =
        conv(substring(md5(concat(lit(s"$j:"), t)), 1, 8), 16, 10).cast("long") % CmsWidth
      val cnt = graft.ScratchCache.tracked(
        documents(s, d)
          .select(explode(tokens(col("text"))).as("t"))
          .groupBy("t").agg(count(lit(1)).as("c")))
      // cnt feeds the sketch build AND the top-k probe: materialize before
      // the fan-out (NOTES lesson 11b)
      cnt.count()
      val sk = (0 until CmsDepth)
        .map(j => cnt.select(lit(j).as("j"), bucket(j, col("t")).as("bucket"), col("c")))
        .reduce(_ unionAll _)
        .groupBy("j", "bucket").agg(sum(col("c")).cast("long").as("cell"))
      val top = cnt
        .withColumn("rk",
          row_number().over(Window.orderBy(col("c").desc, col("t"))).cast("long"))
        .filter(col("rk") <= CmsTopK)
      (0 until CmsDepth)
        .map(j => top.select(col("t"), col("c"), col("rk"),
          lit(j).as("j"), bucket(j, col("t")).as("bucket")))
        .reduce(_ unionAll _)
        .join(broadcast(sk), Seq("j", "bucket"))
        .groupBy("t", "c", "rk").agg(min(col("cell")).cast("long").as("est"))
        .select(col("rk"), col("t").as("term"), col("c").as("n"), col("est"),
          (col("est") - col("c")).as("overcount"))
        .orderBy("rk")
  }

  /** Winsorization — clip each group's values at its own P01/P99 before
    * averaging (the outlier-robust preprocessing step that, unlike
    * dropping rows, keeps n stable). Composes [[graft.operators.Quantiles]]
    * into a TRANSFORM: cut points come from the distributed order
    * statistics (never a per-group buffer), broadcast back, and the clip
    * is a narrow conditional. Clipped values quantize to 1e-6 before the
    * sum (exact longs — partial-aggregation order cannot matter); cuts
    * round to 6 decimals on BOTH engines so the boundary comparisons use
    * identical operands. */
  val qWinsorize: Q = Q.sql(
    "q_winsorize",
    """WITH cuts AS (
      |  SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.01), 6) AS lo,
      |         round(quantile_cont(l_extendedprice, 0.99), 6) AS hi
      |  FROM lineitem GROUP BY 1)
      |SELECT l.l_returnflag, CAST(count(*) AS BIGINT) AS n,
      |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
      |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
      |  CAST(sum(CAST(round(1000000 * CASE WHEN l_extendedprice < lo THEN lo
      |    WHEN l_extendedprice > hi THEN hi ELSE l_extendedprice END) AS BIGINT)) AS DOUBLE)
      |    / (1000000.0 * count(*)) AS mean_winsor
      |FROM lineitem l JOIN cuts c ON c.l_returnflag = l.l_returnflag
      |GROUP BY l.l_returnflag ORDER BY l.l_returnflag""".stripMargin,
    doc = "winsorized mean per group: distributed P01/P99 cuts broadcast into a clip") {
    (s, d) =>
      val cuts = graft.operators.Quantiles
        .exact(lineitem(s, d), "l_returnflag", "l_extendedprice",
          Seq(0.01, 0.99), Seq("lo", "hi"))
        .select(col("l_returnflag"),
          round(col("lo"), 6).as("lo"), round(col("hi"), 6).as("hi"))
      val v = col("l_extendedprice")
      val clipped = when(v < col("lo"), col("lo")).when(v > col("hi"), col("hi")).otherwise(v)
      lineitem(s, d)
        .join(broadcast(cuts), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(when(v < col("lo"), 1L).otherwise(0L)).cast("long").as("n_lo"),
          sum(when(v > col("hi"), 1L).otherwise(0L)).cast("long").as("n_hi"),
          (sum(round(lit(1000000) * clipped).cast("long")).cast("double") /
            (lit(1000000.0) * count(lit(1)))).as("mean_winsor"))
        .orderBy("l_returnflag")
  }

  /** Mergeable-sketch rollup — the pre-aggregation pattern that makes
    * distinct-counting viable at 100 TB: build a per-DAY KMV sketch of
    * active users (64 smallest md5 hashes — one tiny deterministic state
    * per day), then answer the per-WEEK distinct question from the DAILY
    * sketches alone (k-smallest of the union of k-smallest IS the
    * k-smallest of the union — KMV's merge law), never rescanning raw
    * events. The weekly merge touches 64·days rows regardless of event
    * volume. True weekly distincts ride along so the gate also exposes
    * the estimator error; like [[qKmvDistinct]], determinism makes the
    * whole sketch oracle-replayable bit-for-bit. */
  val qKmvRollup: Q = Q.sql(
    "q_kmv_rollup",
    """WITH uh AS (SELECT DISTINCT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS day,
      |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |ds AS (SELECT wk, day, h FROM (
      |  SELECT wk, day, h, row_number() OVER (PARTITION BY day ORDER BY h) AS rn FROM uh) _d
      |  WHERE rn <= 64),
      |mg AS (SELECT wk, h FROM (
      |  SELECT wk, h, row_number() OVER (PARTITION BY wk ORDER BY h) AS rn
      |  FROM (SELECT DISTINCT wk, h FROM ds) _u) _m WHERE rn <= 64),
      |sk AS (SELECT wk, CAST(count(*) AS BIGINT) AS in_sketch, max(h) AS kth FROM mg GROUP BY wk),
      |tru AS (SELECT wk, CAST(count(DISTINCT h) AS BIGINT) AS true_distinct FROM uh GROUP BY wk),
      |nd AS (SELECT wk, CAST(count(DISTINCT day) AS BIGINT) AS n_days FROM uh GROUP BY wk)
      |SELECT t.wk, nd.n_days, t.true_distinct, s.in_sketch,
      |  CASE WHEN s.in_sketch < 64 THEN CAST(t.true_distinct AS DOUBLE)
      |    ELSE 63.0 / (CAST(('0x' || substr(s.kth, 1, 12)) AS BIGINT) / 281474976710656.0)
      |  END AS est_distinct
      |FROM tru t JOIN sk s ON s.wk = t.wk JOIN nd ON nd.wk = t.wk
      |ORDER BY t.wk""".stripMargin,
    doc = "KMV sketch rollup: daily user sketches merged to weekly distinct estimates") {
    (s, d) =>
      val uh = graft.ScratchCache.tracked(
        events(s, d)
          .select(
            date_trunc("week", col("ts")).as("wk"),
            date_trunc("day", col("ts")).as("day"),
            md5(col("user_id").cast("string")).as("h"))
          .distinct())
      uh.count() // three consumers (daily sketch, truth, day count)
      val wd = Window.partitionBy(col("day")).orderBy(col("h"))
      val ds = uh.withColumn("rn", row_number().over(wd)).filter(col("rn") <= 64)
        .select("wk", "h").distinct()
      val wm = Window.partitionBy(col("wk")).orderBy(col("h"))
      val sk = ds.withColumn("rn", row_number().over(wm)).filter(col("rn") <= 64)
        .groupBy(col("wk"))
        .agg(count(lit(1)).cast("long").as("in_sketch"), max(col("h")).as("kth"))
      val tru = uh.groupBy(col("wk")).agg(
        countDistinct(col("h")).cast("long").as("true_distinct"),
        countDistinct(col("day")).cast("long").as("n_days"))
      val uK = conv(substring(col("kth"), 1, 12), 16, 10).cast("double") / 281474976710656.0
      tru.join(sk, "wk")
        .select(
          col("wk"), col("n_days"), col("true_distinct"), col("in_sketch"),
          when(col("in_sketch") < 64, col("true_distinct").cast("double"))
            .otherwise(lit(63.0) / uK)
            .as("est_distinct"))
        .orderBy("wk")
  }

  /** KMV sketch INTERSECTION — day-over-day returning users estimated
    * from the daily sketches alone. Where [[qKmvRollup]] exercises the
    * KMV merge law (unions), this exercises the other half of the sketch
    * algebra: Jaccard from the merged sketch (fraction of the union
    * sketch's hashes present in both sides) times the union estimate
    * gives the intersection size (Beyer 2007) — the audience-overlap /
    * retention question answered at fact scale from 64-row-per-day
    * states, never rescanning events. The previous day's sketch is
    * shifted forward one day so "today ∩ yesterday" is a plain per-day
    * group; true intersections ride along to expose estimator error, and
    * determinism makes the whole sketch oracle-replayable bit-for-bit
    * (when the union sketch isn't full the estimate IS exact — pinned at
    * sf0.001, where days hold 11-15 users). */
  val qKmvRetention: Q = Q.sql(
    "q_kmv_retention",
    """WITH du AS (SELECT DISTINCT date_trunc('day', ts) AS dy,
      |    md5(CAST(user_id AS VARCHAR)) AS h FROM events),
      |sk AS (SELECT dy, h FROM (
      |  SELECT dy, h, row_number() OVER (PARTITION BY dy ORDER BY h) AS rn FROM du) t
      |  WHERE rn <= 64),
      |pu AS (SELECT dy, h, max(ia) AS ia, max(ib) AS ib FROM (
      |  SELECT dy, h, 1 AS ia, 0 AS ib FROM sk
      |  UNION ALL SELECT dy + INTERVAL 1 DAY AS dy, h, 0 AS ia, 1 AS ib FROM sk) u
      |  GROUP BY dy, h),
      |us AS (SELECT dy, h, ia, ib FROM (
      |  SELECT dy, h, ia, ib, row_number() OVER (PARTITION BY dy ORDER BY h) AS rn FROM pu) t
      |  WHERE rn <= 64),
      |ag AS (SELECT dy, CAST(count(*) AS BIGINT) AS union_k, max(h) AS kth,
      |  CAST(sum(CASE WHEN ia = 1 AND ib = 1 THEN 1 ELSE 0 END) AS BIGINT) AS inter_k
      |  FROM us GROUP BY dy),
      |tr AS (SELECT dy, CAST(count(*) AS BIGINT) AS true_inter FROM (
      |  SELECT dy, h, max(ia) AS ia, max(ib) AS ib FROM (
      |    SELECT dy, h, 1 AS ia, 0 AS ib FROM du
      |    UNION ALL SELECT dy + INTERVAL 1 DAY AS dy, h, 0 AS ia, 1 AS ib FROM du) u
      |    GROUP BY dy, h) m
      |  WHERE ia = 1 AND ib = 1 GROUP BY dy),
      |vd AS (SELECT dy FROM (SELECT DISTINCT dy FROM du) d
      |  WHERE dy > (SELECT min(dy) FROM du))
      |SELECT a.dy, coalesce(t.true_inter, 0) AS true_inter, a.union_k, a.inter_k,
      |  CASE WHEN a.union_k < 64 THEN CAST(a.inter_k AS DOUBLE)
      |    ELSE CAST(a.inter_k AS DOUBLE) / a.union_k *
      |      (63.0 / (CAST(('0x' || substr(a.kth, 1, 12)) AS BIGINT) / 281474976710656.0))
      |  END AS est_inter
      |FROM ag a JOIN vd ON vd.dy = a.dy LEFT JOIN tr t ON t.dy = a.dy
      |ORDER BY a.dy""".stripMargin,
    doc = "KMV sketch intersection: day-over-day returning users from daily sketches") {
    (s, d) =>
      val du = graft.ScratchCache.tracked(
        events(s, d)
          .select(
            date_trunc("day", col("ts")).as("dy"),
            md5(col("user_id").cast("string")).as("h"))
          .distinct())
      du.count() // four consumers (sketch, truth, day domain, min day)
      val oneDay = expr("INTERVAL 1 DAY")
      val wd = Window.partitionBy(col("dy")).orderBy(col("h"))
      val sk = du.withColumn("rn", row_number().over(wd)).filter(col("rn") <= 64)
        .select("dy", "h")
      def shifted(src: org.apache.spark.sql.DataFrame) = src
        .select(col("dy"), col("h"), lit(1).as("ia"), lit(0).as("ib"))
        .unionByName(src.select((col("dy") + oneDay).as("dy"), col("h"),
          lit(0).as("ia"), lit(1).as("ib")))
        .groupBy(col("dy"), col("h"))
        .agg(max(col("ia")).as("ia"), max(col("ib")).as("ib"))
      val us = shifted(sk).withColumn("rn", row_number().over(wd)).filter(col("rn") <= 64)
      val ag = us.groupBy(col("dy")).agg(
        count(lit(1)).cast("long").as("union_k"),
        max(col("h")).as("kth"),
        sum(when(col("ia") === 1 && col("ib") === 1, 1L).otherwise(0L)).cast("long")
          .as("inter_k"))
      val tr = shifted(du).filter(col("ia") === 1 && col("ib") === 1)
        .groupBy(col("dy")).agg(count(lit(1)).cast("long").as("true_inter"))
      val minDay = du.agg(min(col("dy")).as("mn"))
      val vd = du.select("dy").distinct().crossJoin(broadcast(minDay))
        .filter(col("dy") > col("mn")).select("dy")
      val uK = conv(substring(col("kth"), 1, 12), 16, 10).cast("double") / 281474976710656.0
      ag.join(broadcast(vd), "dy")
        .join(tr, Seq("dy"), "left")
        .select(
          col("dy"),
          coalesce(col("true_inter"), lit(0L)).as("true_inter"),
          col("union_k"), col("inter_k"),
          when(col("union_k") < 64, col("inter_k").cast("double"))
            .otherwise(col("inter_k").cast("double") / col("union_k") * (lit(63.0) / uK))
            .as("est_inter"))
        .orderBy("dy")
  }

  /** Mergeable HISTOGRAM rollup — the quantile counterpart of
    * [[qKmvRollup]]'s distinct-count rollup: per-day equi-width
    * histograms of event values (64 fixed bins from one broadcast global
    * extent) are merged into weekly histograms by plain count addition
    * (fixed shared edges make the sketch a monoid), and weekly
    * p50/p90 are read off the merged counts with in-bin linear
    * interpolation — the pre-aggregation that answers quantile-over-time
    * at fact scale from 64·days rows. Exact weekly medians ride along to
    * expose the binning error. Integer counts + one shared extent make
    * the whole sketch deterministic, so the oracle replays it
    * bit-for-bit. */
  val qHistRollup: Q = Q.sql(
    "q_hist_rollup",
    """WITH ext AS (SELECT min(value) AS mn, max(value) AS mx FROM events),
      |b AS (SELECT date_trunc('week', ts) AS wk, date_trunc('day', ts) AS dy,
      |    CAST(least(floor((value - mn) / ((mx - mn) / 64.0)), 63) AS BIGINT) AS bin
      |  FROM events, ext),
      |daily AS (SELECT wk, dy, bin, CAST(count(*) AS BIGINT) AS cnt FROM b GROUP BY 1, 2, 3),
      |weekly AS (SELECT wk, bin, CAST(sum(cnt) AS BIGINT) AS cnt FROM daily GROUP BY 1, 2),
      |cum AS (SELECT wk, bin, cnt,
      |    sum(cnt) OVER (PARTITION BY wk ORDER BY bin) AS cum,
      |    coalesce(sum(cnt) OVER (PARTITION BY wk ORDER BY bin
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cb
      |  FROM weekly),
      |nn AS (SELECT wk, CAST(sum(cnt) AS BIGINT) AS n FROM weekly GROUP BY 1),
      |qual AS (SELECT c.wk, pr.p, c.bin, c.cnt, c.cb, nn.n
      |  FROM cum c JOIN nn ON nn.wk = c.wk
      |  CROSS JOIN (SELECT unnest([0.5, 0.9]) AS p) pr
      |  WHERE c.cum >= pr.p * nn.n),
      |pick AS (SELECT wk, p, min(bin) AS bin FROM qual GROUP BY 1, 2),
      |est AS (SELECT q.wk, q.p,
      |    mn + ((mx - mn) / 64.0) * q.bin
      |       + ((mx - mn) / 64.0) * ((q.p * q.n - q.cb) / q.cnt) AS e
      |  FROM qual q JOIN pick k ON k.wk = q.wk AND k.p = q.p AND k.bin = q.bin, ext),
      |wide AS (SELECT wk,
      |    max(CASE WHEN p = 0.5 THEN e END) AS est_p50,
      |    max(CASE WHEN p = 0.9 THEN e END) AS est_p90
      |  FROM est GROUP BY 1),
      |tru AS (SELECT date_trunc('week', ts) AS wk,
      |    round(quantile_cont(value, 0.5), 6) AS true_p50 FROM events GROUP BY 1)
      |SELECT w.wk, nn.n, w.est_p50, w.est_p90, t.true_p50
      |FROM wide w JOIN nn ON nn.wk = w.wk JOIN tru t ON t.wk = w.wk
      |ORDER BY w.wk""".stripMargin,
    doc = "mergeable histogram rollup: daily 64-bin sketches merged to weekly p50/p90") {
    (s, d) =>
      val ev = events(s, d).select(
        date_trunc("week", col("ts")).as("wk"),
        date_trunc("day", col("ts")).as("dy"),
        col("value"))
      val ext = ev.agg(min(col("value")).as("mn"), max(col("value")).as("mx"))
      def w0 = (col("mx") - col("mn")) / 64.0
      val daily = ev.crossJoin(broadcast(ext))
        .withColumn("bin",
          least(floor((col("value") - col("mn")) / w0), lit(63)).cast("long"))
        .groupBy(col("wk"), col("dy"), col("bin"))
        .agg(count(lit(1)).cast("long").as("cnt"))
      val weekly = graft.ScratchCache.tracked(
        daily.groupBy(col("wk"), col("bin")).agg(sum(col("cnt")).cast("long").as("cnt")))
      weekly.count() // two consumers: cumulative scan + per-week totals
      val wcum = Window.partitionBy(col("wk")).orderBy(col("bin"))
      val cum = weekly
        .withColumn("cum", sum(col("cnt")).over(wcum))
        .withColumn("cb", coalesce(
          sum(col("cnt")).over(wcum.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      val nn = weekly.groupBy(col("wk")).agg(sum(col("cnt")).cast("long").as("n"))
      val qual = cum.join(nn, "wk")
        .crossJoin(broadcast(s.range(1).select(
          explode(array(lit(0.5), lit(0.9))).as("p"))))
        .filter(col("cum") >= col("p") * col("n"))
      val pick = qual.groupBy(col("wk"), col("p")).agg(min(col("bin")).as("bin"))
      val est = qual.join(pick, Seq("wk", "p", "bin")).crossJoin(broadcast(ext))
        .select(col("wk"), col("p"),
          (col("mn") + w0 * col("bin") +
            w0 * ((col("p") * col("n") - col("cb")) / col("cnt"))).as("e"))
      val wide = est.groupBy(col("wk")).agg(
        max(when(col("p") === 0.5, col("e"))).as("est_p50"),
        max(when(col("p") === 0.9, col("e"))).as("est_p90"))
      val tru = graft.operators.Quantiles
        .exact(events(s, d).select(date_trunc("week", col("ts")).as("wk"), col("value")),
          "wk", "value", Seq(0.5), Seq("true_p50"))
        .select(col("wk"), round(col("true_p50"), 6).as("true_p50"))
      wide.join(nn, "wk").join(tru, "wk")
        .select(col("wk"), col("n"), col("est_p50"), col("est_p90"), col("true_p50"))
        .orderBy("wk")
  }

  /** A/B experiment readout: users hash into two arms (replayable md5
    * assignment — the [[PrepQueries]] hash-split move applied to
    * experimentation) and each event family gets the Welch z-statistic
    * for the arm difference in event value. Everything reduces to SIX
    * integer aggregates per (family, arm) — n, Σcents, Σcents² — so the
    * statistic is one-pass, partial-aggregation-order exact, and
    * bit-identical across engines (the only doubles appear after the
    * integer sums are final; Σ² is squared in double to dodge BIGINT
    * overflow at fact scale). The shape every metrics platform runs
    * nightly over billions of exposure rows. */
  val qAbTest: Q = Q.sql(
    "q_ab_test",
    """WITH a AS (SELECT event_type,
      |    CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 4)) AS BIGINT) % 2 AS arm,
      |    CAST(round(value * 100) AS BIGINT) AS vc
      |  FROM events),
      |g AS (SELECT event_type, arm, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(vc) AS BIGINT) AS s, CAST(sum(vc * vc) AS BIGINT) AS ss
      |  FROM a GROUP BY event_type, arm),
      |w AS (SELECT a0.event_type,
      |    a0.n AS n_a, a1.n AS n_b,
      |    CAST(a0.s AS DOUBLE) / 100.0 / a0.n AS mean_a,
      |    CAST(a1.s AS DOUBLE) / 100.0 / a1.n AS mean_b,
      |    (CAST(a0.ss AS DOUBLE) - CAST(a0.s AS DOUBLE) * a0.s / a0.n) / (a0.n - 1)
      |      / 10000.0 AS v_a,
      |    (CAST(a1.ss AS DOUBLE) - CAST(a1.s AS DOUBLE) * a1.s / a1.n) / (a1.n - 1)
      |      / 10000.0 AS v_b
      |  FROM g a0 JOIN g a1 ON a1.event_type = a0.event_type
      |    AND a0.arm = 0 AND a1.arm = 1)
      |SELECT event_type, n_a, n_b, mean_a, mean_b,
      |  (mean_a - mean_b) / sqrt(v_a / n_a + v_b / n_b) AS welch_z
      |FROM w ORDER BY event_type""".stripMargin,
    doc = "A/B readout: hash-armed users, Welch z from one-pass integer aggregates") {
    (s, d) =>
      val a = events(s, d).select(
        col("event_type"),
        (conv(substring(md5(col("user_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % 2).as("arm"),
        round(col("value") * 100).cast("long").as("vc"))
      val g = a.groupBy(col("event_type"), col("arm"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(col("vc")).cast("long").as("s"),
          sum(col("vc") * col("vc")).cast("long").as("ss"))
      def arm(i: Int, sfx: String) = g.filter(col("arm") === i).select(
        col("event_type"),
        col("n").as(s"n$sfx"), col("s").as(s"s$sfx"), col("ss").as(s"ss$sfx"))
      def meanOf(sc: String, nc: String) =
        col(sc).cast("double") / 100.0 / col(nc)
      def varOf(ssc: String, sc: String, nc: String) =
        (col(ssc).cast("double") - col(sc).cast("double") * col(sc) / col(nc)) /
          (col(nc) - 1) / 10000.0
      arm(0, "a").join(arm(1, "b"), "event_type")
        .select(
          col("event_type"), col("na").as("n_a"), col("nb").as("n_b"),
          meanOf("sa", "na").as("mean_a"), meanOf("sb", "nb").as("mean_b"),
          varOf("ssa", "sa", "na").as("v_a"), varOf("ssb", "sb", "nb").as("v_b"))
        .select(
          col("event_type"), col("n_a"), col("n_b"), col("mean_a"), col("mean_b"),
          ((col("mean_a") - col("mean_b")) /
            sqrt(col("v_a") / col("n_a") + col("v_b") / col("n_b"))).as("welch_z"))
        .orderBy("event_type")
  }

  /** Weighted quantiles of document length per language, weighted by
    * character mass: "the median CHARACTER lives in a document of length
    * p50_w" — the token-centric view a training-data budget needs (a
    * plain doc-count median over-weights tiny documents; what a trainer
    * consumes is mass, not documents). p90_w is the length below which
    * 90% of all character mass sits.
    *
    * PURE integer arithmetic end to end: the cumulative weight runs over
    * the DISTINCT (lang, length) value frame (value-domain-bounded, like
    * [[graft.queries.InferenceQueries.qMannWhitney]]'s rank frame), the
    * quantile picks are integer comparisons (2·cumw ≥ W, 10·cumw ≥ 9·W)
    * — no doubles anywhere, so no cross-engine float discipline needed.
    *
    * Scale: one map-side-combined fact groupBy to the value frame; the
    * window and the conditional-min aggregate run over ≤ |distinct
    * lengths| rows per language. */
  val qWeightedQuantile: Q = Q.sql(
    "q_weighted_quantile",
    """WITH v AS (
      |  SELECT lang, n_chars AS v,
      |    CAST(sum(n_chars) AS BIGINT) AS w
      |  FROM documents GROUP BY 1, 2),
      |c AS (
      |  SELECT lang, v, w,
      |    CAST(sum(w) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumw,
      |    CAST(sum(w) OVER (PARTITION BY lang) AS BIGINT) AS tw
      |  FROM v)
      |SELECT lang, max(tw) AS w_total,
      |  min(CASE WHEN 2 * cumw >= tw THEN v END) AS p50_w,
      |  min(CASE WHEN 10 * cumw >= 9 * tw THEN v END) AS p90_w
      |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    doc = "char-mass-weighted p50/p90 doc length per language (pure integer order statistics)") {
    (s, d) =>
      val v = documents(s, d)
        .groupBy(col("lang"), col("n_chars").as("v"))
        .agg(sum(col("n_chars")).cast("long").as("w"))
      val wc = Window.partitionBy(col("lang")).orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy(col("lang"))
      v.withColumn("cumw", sum(col("w")).over(wc).cast("long"))
        .withColumn("tw", sum(col("w")).over(wt).cast("long"))
        .groupBy(col("lang"))
        .agg(
          max(col("tw")).as("w_total"),
          min(when(lit(2) * col("cumw") >= col("tw"), col("v"))).as("p50_w"),
          min(when(lit(10) * col("cumw") >= lit(9) * col("tw"), col("v"))).as("p90_w"))
        .orderBy("lang")
  }

  /** The five co-moment sums of two doubled-rank columns (`g`, `rx2`,
    * `ry2`), exact at any scale: the operands are cast to DECIMAL(19,0)
    * BEFORE the products so the per-row product and the running sum
    * genuinely fold in DECIMAL(38,0) — a BIGINT rx·ry sum would wrap
    * once ranks reach ~3·10⁹ (a ~1.5·10⁹-row group, i.e. exactly the
    * 100 TB case). Factored out so OverflowBoundarySpec can drive the
    * production fold with ranks past the 2⁶³ product boundary. */
  private[queries] def rankMoments(j: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val dec = "decimal(38,0)"
    val rx = col("rx2").cast("decimal(19,0)")
    val ry = col("ry2").cast("decimal(19,0)")
    j.groupBy("g").agg(
      count(lit(1)).cast(dec).as("n"),
      sum(rx).cast(dec).as("sx"), sum(ry).cast(dec).as("sy"),
      sum(rx * rx).cast(dec).as("sxx"),
      sum(ry * ry).cast(dec).as("syy"),
      sum(rx * ry).cast(dec).as("sxy"))
  }

  /** Spearman rank correlation of quantity vs extended price per return
    * flag — the robust (monotone-invariant) complement to [[qCorrStats]]'s
    * Pearson, with EXACT tie handling via average ranks.
    *
    * Scale design — never rank at row grain: both rank maps are built at
    * the DISTINCT-VALUE grain (the [[InferenceQueries.qMannWhitney]]
    * move), where the tie-averaged rank of value v is
    * 2·rank = 2·(#less) + (#eq) + 1 — one grouped count plus a cumulative
    * window over |distinct values| rows, never |rows|. The fact table
    * then picks its two ranks up with two value-keyed equi-joins (the
    * rank maps are value-grain and dwarfed by the fact side — Catalyst
    * broadcasts them at bench SF) and ONE hash aggregate folds the five
    * Pearson sums. Doubled ranks keep everything integral; the rank
    * operands are cast to DECIMAL(19,0) BEFORE the products so both the
    * per-row product and the running sum genuinely fold in
    * DECIMAL(38,0) (DuckDB: HUGEINT) — a BIGINT product sum would wrap
    * at ~1.3M rows/group, far below the documented bound. The decimal
    * fold bounds per-group n at ~10⁸ rows before n·Σ(2rx·2ry) ~ 4n⁴
    * nears 10³⁸ — beyond that, center ranks first. Final ρ is three exact decimal →
    * double casts, two correctly-rounded sqrts, one division — identical
    * IEEE trees, rounded to 9. */
  val qSpearman: Q = Q.sql(
    "q_spearman",
    """WITH b AS (
      |  SELECT l_returnflag AS g, l_quantity AS x, l_extendedprice AS y FROM lineitem
      |), rx AS (
      |  SELECT g, x, 2 * (sum(c) OVER (PARTITION BY g ORDER BY x) - c) + c + 1 AS r2
      |  FROM (SELECT g, x, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2) _x
      |), ry AS (
      |  SELECT g, y, 2 * (sum(c) OVER (PARTITION BY g ORDER BY y) - c) + c + 1 AS r2
      |  FROM (SELECT g, y, CAST(count(*) AS BIGINT) AS c FROM b GROUP BY 1, 2) _y
      |), j AS (
      |  SELECT b.g, rx.r2 AS rx2, ry.r2 AS ry2
      |  FROM b JOIN rx ON b.g = rx.g AND b.x = rx.x
      |         JOIN ry ON b.g = ry.g AND b.y = ry.y
      |), a AS (
      |  SELECT g, CAST(count(*) AS HUGEINT) AS n,
      |    CAST(sum(rx2) AS HUGEINT) AS sx, CAST(sum(ry2) AS HUGEINT) AS sy,
      |    CAST(sum(rx2 * rx2) AS HUGEINT) AS sxx,
      |    CAST(sum(ry2 * ry2) AS HUGEINT) AS syy,
      |    CAST(sum(rx2 * ry2) AS HUGEINT) AS sxy
      |  FROM j GROUP BY g)
      |SELECT g AS l_returnflag, CAST(n AS BIGINT) AS n,
      |  round(CAST(n * sxy - sx * sy AS DOUBLE)
      |    / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
      |       * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 9) AS spearman_rho
      |FROM a ORDER BY l_returnflag""".stripMargin,
    doc = "Spearman rank correlation per return flag (distinct-grain tie-averaged ranks)") {
    (s, d) =>
      val b = lineitem(s, d).select(
        col("l_returnflag").as("g"), col("l_quantity").as("x"), col("l_extendedprice").as("y"))
      def rankMap(v: String): org.apache.spark.sql.DataFrame = {
        val w = Window.partitionBy(col("g")).orderBy(col(v))
        b.groupBy(col("g"), col(v))
          .agg(count(lit(1)).as("c"))
          .select(col("g").as(s"g_$v"), col(v).as(s"v_$v"),
            (lit(2) * (sum(col("c")).over(w) - col("c")) + col("c") + 1).as(s"r2_$v"))
      }
      val j = b
        .join(rankMap("x"), col("g") === col("g_x") && col("x") === col("v_x"))
        .join(rankMap("y"), col("g") === col("g_y") && col("y") === col("v_y"))
        .select(col("g"), col("r2_x").as("rx2"), col("r2_y").as("ry2"))
      val a = rankMoments(j)
      a.select(
          col("g").as("l_returnflag"), col("n").cast("long").as("n"),
          round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double")
            / (sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double"))
               * sqrt((col("n") * col("syy") - col("sy") * col("sy")).cast("double"))), 9)
            .as("spearman_rho"))
        .orderBy("l_returnflag")
  }

  /** Kendall rank correlation (tau-b, Kendall 1938) of quantity vs
    * discount per return flag — the pairwise-concordance complement to
    * [[qSpearman]]'s rank-Pearson, with exact tie correction (tau-b's
    * denominator discounts both marginal tie counts).
    *
    * Scale design — never pair fact rows: both variables have BOUNDED
    * domains (50 quantities × 11 discounts), so the corpus collapses to
    * a ≤550-cell contingency grid per group in ONE map-side-combined
    * aggregate, and all pair algebra runs on the grid — concordant /
    * discordant sums are Σ c_i·c_j over cell pairs with x_i<x_j (a
    * domain-bounded self-join, ≤550²/2 pairs per group regardless of
    * corpus size; the same value-domain move as [[qLenHist]] and
    * [[InferenceQueries.qMannWhitney]]). Every count is exact BIGINT,
    * every product folds in DECIMAL(38,0) (DuckDB: HUGEINT), and tau-b
    * is one division over two correctly-rounded sqrts of exact-integer
    * casts — identical IEEE trees, rounded to 9. */
  val qKendallTau: Q = Q.sql(
    "q_kendall_tau",
    """WITH cells AS (
      |  SELECT l_returnflag AS g, l_quantity AS x, l_discount AS y,
      |    CAST(count(*) AS BIGINT) AS c
      |  FROM lineitem GROUP BY 1, 2, 3
      |), cd AS (
      |  SELECT a.g,
      |    CAST(sum(CASE WHEN a.y < b.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT) AS conc,
      |    CAST(sum(CASE WHEN a.y > b.y THEN CAST(a.c AS HUGEINT) * b.c ELSE 0 END) AS HUGEINT) AS disc
      |  FROM cells a JOIN cells b ON a.g = b.g AND a.x < b.x
      |  GROUP BY 1
      |), marg AS (
      |  SELECT g, CAST(sum(cx) AS HUGEINT) AS n,
      |    CAST(sum(cx * (cx - 1)) AS HUGEINT) AS tx2
      |  FROM (SELECT g, x, CAST(sum(c) AS HUGEINT) AS cx FROM cells GROUP BY 1, 2) _m
      |  GROUP BY 1
      |), margy AS (
      |  SELECT g, CAST(sum(cy * (cy - 1)) AS HUGEINT) AS ty2
      |  FROM (SELECT g, y, CAST(sum(c) AS HUGEINT) AS cy FROM cells GROUP BY 1, 2) _m
      |  GROUP BY 1
      |)
      |SELECT m.g AS l_returnflag, CAST(m.n AS BIGINT) AS n,
      |  CAST(cd.conc AS BIGINT) AS concordant, CAST(cd.disc AS BIGINT) AS discordant,
      |  round(CAST(cd.conc - cd.disc AS DOUBLE)
      |    / (sqrt(CAST(m.n * (m.n - 1) - m.tx2 AS DOUBLE) / 2.0)
      |       * sqrt(CAST(m.n * (m.n - 1) - my.ty2 AS DOUBLE) / 2.0)), 9) AS kendall_tau_b
      |FROM marg m JOIN margy my ON m.g = my.g JOIN cd ON cd.g = m.g
      |ORDER BY l_returnflag""".stripMargin,
    doc = "Kendall tau-b per return flag on the domain-bounded quantity x discount grid") {
    (s, d) =>
      val dec = "decimal(38,0)"
      val cells = lineitem(s, d)
        .groupBy(col("l_returnflag").as("g"), col("l_quantity").as("x"),
          col("l_discount").as("y"))
        .agg(count(lit(1)).as("c"))
      val cd = cells.as("a")
        .join(cells.as("b"), col("a.g") === col("b.g") && col("a.x") < col("b.x"))
        .groupBy(col("a.g").as("g"))
        .agg(
          sum(when(col("a.y") < col("b.y"),
            col("a.c").cast("decimal(19,0)") * col("b.c").cast("decimal(19,0)"))
            .otherwise(lit(0).cast("decimal(19,0)"))).cast(dec).as("conc"),
          sum(when(col("a.y") > col("b.y"),
            col("a.c").cast("decimal(19,0)") * col("b.c").cast("decimal(19,0)"))
            .otherwise(lit(0).cast("decimal(19,0)"))).cast(dec).as("disc"))
      def tieSum(v: String, out: String) = cells
        .groupBy(col("g"), col(v))
        .agg(sum(col("c")).cast("decimal(19,0)").as("cv"))
        .groupBy(col("g").as(s"g_$out"))
        .agg(sum(col("cv") * (col("cv") - 1)).cast(dec).as(out))
      val n = cells.groupBy(col("g").as("g_n"))
        .agg(sum(col("c")).cast(dec).as("n"))
      cd
        .join(n, col("g") === col("g_n"))
        .join(tieSum("x", "tx2"), col("g") === col("g_tx2"))
        .join(tieSum("y", "ty2"), col("g") === col("g_ty2"))
        .select(
          col("g").as("l_returnflag"),
          col("n").cast("long").as("n"),
          col("conc").cast("long").as("concordant"),
          col("disc").cast("long").as("discordant"),
          round((col("conc") - col("disc")).cast("double")
            / (sqrt((col("n") * (col("n") - 1) - col("tx2")).cast("double") / 2.0)
               * sqrt((col("n") * (col("n") - 1) - col("ty2")).cast("double") / 2.0)), 9)
            .as("kendall_tau_b"))
        .orderBy("l_returnflag")
  }

  /** HyperLogLog register width: 2^[[HllP]] registers. */
  val HllP = 8
  private val HllM = 1 << HllP // 256
  /** 48-bit md5 prefix splits as top-8 register index / low-40 rho field. */
  private val HllLow = 1L << 40

  /** HyperLogLog distinct-part estimate per return-flag slice — the
    * fixed-size streaming counterpart to [[qKmvDistinct]] (Flajolet 2007),
    * fully DETERMINISTIC and oracle-replayed: md5-derived 48-bit hashes
    * of the part key, register = top [[HllP]] bits, and rho = (trailing
    * zeros of the low 40 bits) + 1 — the Flajolet–Martin
    * least-significant-bit variant, chosen because trailing zeros are
    * pure integer ops in BOTH engines (bit_count((r & -r) − 1), no
    * transcendental and no lookup join). Keyed on l_partkey (20k distinct
    * at sf0.1) rather than the corpus vocabulary, whose fixed 31-token
    * synthetic dictionary never leaves the small-range regime.
    *
    * Exactness: every register term 2^−m is a power of two ≥ 2^−41, so
    * the 256-term denominator sum spans < 53 significand bits and is
    * EXACT in double regardless of partial-aggregation order; the final
    * estimate is literal-constant α·m² over that sum — one multiply, one
    * divide, floor(x+0.5) — identical IEEE trees, no libm. (The ln-based
    * small-range correction is deliberately left out of the gate: ln is
    * not cross-engine bit-stable. The raw estimator is the gate; callers
    * below 2.5·m distinct should use [[qKmvDistinct]].)
    *
    * Scale shape: explode → (lang, hash) distinct → 256-register groupBy
    * (bounded state, mergeable monoid — the streaming-friendly property
    * HLL exists for) → one tiny per-lang fold. */
  val qHllDistinct: Q = Q.sql(
    "q_hll_distinct",
    s"""WITH th AS (
       |  SELECT DISTINCT l_returnflag AS g,
       |    CAST(('0x' || substr(md5(CAST(l_partkey AS VARCHAR)), 1, 12)) AS BIGINT) AS h
       |  FROM lineitem
       |), reg AS (
       |  SELECT g, h // $HllLow AS b,
       |    max(CASE WHEN h % $HllLow = 0 THEN 41
       |        ELSE CAST(bit_count(((h % $HllLow) & -(h % $HllLow)) - 1) + 1 AS BIGINT) END) AS m
       |  FROM th GROUP BY 1, 2
       |), sk AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS regs,
       |    sum(1.0 / CAST(CAST(1 AS BIGINT) << m AS DOUBLE)) AS sp
       |  FROM reg GROUP BY 1
       |), nd AS (SELECT g, CAST(count(*) AS BIGINT) AS n_distinct FROM th GROUP BY 1)
       |SELECT nd.g AS l_returnflag, nd.n_distinct, sk.regs,
       |  round(sk.sp + ($HllM - sk.regs), 9) AS denom,
       |  CAST(floor((0.7213 / (1.0 + 1.079 / $HllM.0)) * ${HllM * HllM}.0
       |      / (sk.sp + ($HllM - sk.regs)) + 0.5) AS BIGINT) AS hll_est
       |FROM nd JOIN sk USING (g) ORDER BY l_returnflag""".stripMargin,
    doc = s"HyperLogLog (m=$HllM) distinct parts per return flag, deterministic replay") {
    (s, d) =>
      val th = lineitem(s, d)
        .select(col("l_returnflag").as("g"),
          conv(substring(md5(col("l_partkey").cast("string")), 1, 12), 16, 10)
            .cast("long").as("h"))
        .distinct()
      val r = col("h") % HllLow
      val rho = when(r === 0, lit(41L))
        .otherwise((bit_count(r.bitwiseAND(-r) - 1) + 1).cast("long"))
      val reg = th
        .groupBy(col("g"), expr(s"h DIV $HllLow").as("b"))
        .agg(max(rho).as("m"))
      val sk = reg.groupBy(col("g").as("skg")).agg(
        count(lit(1)).cast("long").as("regs"),
        sum(lit(1.0) / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(m AS INT)) AS DOUBLE)")).as("sp"))
      val nd = th.groupBy("g").agg(count(lit(1)).cast("long").as("n_distinct"))
      val denom = col("sp") + (lit(HllM) - col("regs"))
      nd.join(sk, col("g") === col("skg"))
        .select(
          col("g").as("l_returnflag"), col("n_distinct"), col("regs"),
          round(denom, 9).as("denom"),
          floor(lit(0.7213 / (1.0 + 1.079 / HllM)) * lit(HllM.toDouble * HllM) / denom + 0.5)
            .cast("long").as("hll_est"))
        .orderBy("l_returnflag")
  }

  val all: Seq[Q] =
    Seq(qPercentiles, qCorrStats, qFeatureScale, qLenHist, qKmvDistinct, qRegrTrend, qDqAudit,
      qKsDrift, qSourceOverlap, qMadOutliers, qPsiDrift, qCmsTopk, qWinsorize, qKmvRollup,
      qKmvRetention, qHistRollup, qAbTest, qWeightedQuantile, qSpearman, qHllDistinct,
      qKendallTau)
}
