package graft.queries

import graft.Tables._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Statistical-inference operators — the hypothesis-testing battery a data
  * platform runs when two slices of a corpus must be compared defensibly:
  * Benford first-digit conformance (fraud/entry-error screening), Gini
  * concentration (inequality of spend across a dimension), delete-a-group
  * jackknife confidence intervals (error bars on any per-slice mean
  * without distributional assumptions), and the Mann-Whitney rank-sum
  * test (nonparametric drift between two groups, the robust companion to
  * [[StatsQueries.qKsDrift]]'s KS distance and [[StatsQueries.qAbTest]]'s
  * Welch z).
  *
  * Cross-engine float discipline (NOTES lessons 7/11): every statistic
  * here reduces to exact integer/decimal aggregates first — digit counts,
  * cent sums, rank products, doubled midranks, cubed tie counts,
  * micro-quantized leave-one-out means — and doubles appear only in a
  * FIXED post-aggregation expression tree (single divisions, sqrt of
  * exact sums), so partial-aggregation order can never flip a bit and
  * the DuckDB oracle replays every value exactly. No round() on outputs:
  * raw doubles of deterministic inputs are bit-identical, a final
  * round() is where engines diverge (lesson 11).
  */
object InferenceQueries {

  /** Benford expected first-digit mass log10(1 + 1/d), printed once from
    * Scala so BOTH engines parse the identical decimal literal — neither
    * engine's own log10 is ever called (libm last-ulp drift). */
  private val benford: IndexedSeq[Double] =
    (1 to 9).map(d => math.log10(1 + 1.0 / d))

  private def benfordLit(d: Int): String = {
    val s = benford(d - 1).toString
    if (s.contains('.') || s.contains('E')) s else s + ".0"
  }

  /** Benford first-digit audit of order totals per priority class.
    *
    * First significant digit extracted in INTEGER space — `c //
    * 10^(len(str(c))-1)` — because integer→string is exact on both
    * engines while `floor(log10(x))` is one libm ulp from flipping a
    * 999999.99→1000000 boundary. Per (priority, digit): observed count,
    * observed fraction, Benford expectation (shared literal), and the
    * chi-square contribution (obs − n·p)²/(n·p) — all single IEEE ops on
    * exact integers and shared literals, so raw doubles match.
    *
    * Scale: one groupBy over orders (map-side combined, 5×9 output
    * rows), one broadcast join of the per-priority totals. The shape of
    * every accounting-forensics scan ever run. */
  val qBenford: Q = Q.sql(
    "q_benford",
    s"""WITH d AS (
       |  SELECT o_orderpriority,
       |    CAST(CAST(floor(o_totalprice) AS BIGINT)
       |      // CAST(power(10, length(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR)) - 1) AS BIGINT)
       |      AS BIGINT) AS digit
       |  FROM orders),
       |g AS (
       |  SELECT o_orderpriority, digit, CAST(count(*) AS BIGINT) AS n_d
       |  FROM d GROUP BY 1, 2),
       |t AS (
       |  SELECT o_orderpriority, CAST(sum(n_d) AS BIGINT) AS n FROM g GROUP BY 1),
       |e AS (
       |  SELECT g.o_orderpriority, g.digit, g.n_d, t.n,
       |    CASE g.digit ${(1 to 9).map(d => s"WHEN $d THEN ${benfordLit(d)}").mkString(" ")} END AS expected
       |  FROM g JOIN t ON g.o_orderpriority = t.o_orderpriority)
       |SELECT o_orderpriority, digit, n_d,
       |  CAST(n_d AS DOUBLE) / n AS frac,
       |  expected,
       |  ((CAST(n_d AS DOUBLE) - n * expected) * (CAST(n_d AS DOUBLE) - n * expected))
       |    / (n * expected) AS chi_term
       |FROM e
       |ORDER BY o_orderpriority, digit""".stripMargin,
    doc = "Benford first-digit audit per order priority (integer digit extraction)") { (s, d) =>
    val c = floor(col("o_totalprice")).cast("long")
    val digit = (c / pow(lit(10), length(c.cast("string")) - 1).cast("long")).cast("long")
    val g = orders(s, d)
      .select(col("o_orderpriority"), digit.as("digit"))
      .groupBy(col("o_orderpriority"), col("digit"))
      .agg(count(lit(1)).cast("long").as("n_d"))
    val t = g.groupBy(col("o_orderpriority")).agg(sum(col("n_d")).cast("long").as("n"))
    val expected = element_at(typedLit(benford), col("digit").cast("int"))
    val obs = col("n_d").cast("double")
    g.join(broadcast(t), "o_orderpriority")
      .select(
        col("o_orderpriority"), col("digit"), col("n_d"),
        (obs / col("n")).as("frac"),
        expected.as("expected"),
        (((obs - col("n") * expected) * (obs - col("n") * expected)) /
          (col("n") * expected)).as("chi_term"))
      .orderBy("o_orderpriority", "digit")
  }

  /** Gini coefficient of customer spend per nation — how concentrated is
    * revenue across a nation's customers (0 = equal, →1 = one whale).
    *
    * G = (2·Σᵢ i·xᵢ − (n+1)·Σx) / (n·Σx) over per-customer cent totals
    * ranked ascending (ties broken by custkey so the rank is total).
    * Every term is exact: cent sums are BIGINT, the rank-weighted sum
    * accumulates as DECIMAL(38,0), and the one division happens on
    * doubles that are exact images of those integers.
    *
    * Scale: orders collapse to customer grain FIRST (fact-scale groupBy,
    * map-side combined), so the ranked frame is |customer| rows — the
    * per-nation row_number sorts a dimension, not the fact table. If one
    * nation's customer count ever outgrew a task, the drop-in is a
    * distributed range sort with per-partition rank offsets (same
    * decomposition, no per-key sort). */
  val qGini: Q = Q.sql(
    "q_gini",
    """WITH rev AS (
      |  SELECT o_custkey, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM orders GROUP BY 1),
      |r AS (
      |  SELECT c.c_nationkey AS nk, rev.cents,
      |    CAST(row_number() OVER (PARTITION BY c.c_nationkey
      |      ORDER BY rev.cents, rev.o_custkey) AS BIGINT) AS rk
      |  FROM rev JOIN customer c ON c.c_custkey = rev.o_custkey),
      |g AS (
      |  SELECT nk, CAST(count(*) AS BIGINT) AS n_customers,
      |    CAST(sum(cents) AS BIGINT) AS sx,
      |    CAST(sum(CAST(rk AS DECIMAL(18,0)) * CAST(cents AS DECIMAL(18,0))) AS DECIMAL(38,0)) AS sixi
      |  FROM r GROUP BY nk)
      |SELECT nat.n_name, g.n_customers,
      |  (2.0 * CAST(g.sixi AS DOUBLE) - (g.n_customers + 1) * CAST(g.sx AS DOUBLE))
      |    / (CAST(g.n_customers AS DOUBLE) * CAST(g.sx AS DOUBLE)) AS gini
      |FROM g JOIN nation nat ON nat.n_nationkey = g.nk
      |ORDER BY nat.n_name""".stripMargin,
    doc = "per-nation Gini concentration of customer spend (exact integer ranks)") { (s, d) =>
    val rev = orders(s, d)
      .groupBy(col("o_custkey"))
      .agg(sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("cents"))
    val w = Window.partitionBy(col("nk")).orderBy(col("cents"), col("o_custkey"))
    val r = rev
      .join(broadcast(customer(s, d)), col("c_custkey") === col("o_custkey"))
      .select(col("c_nationkey").as("nk"), col("cents"), col("o_custkey"))
      .withColumn("rk", row_number().over(w).cast("long"))
    val g = r.groupBy(col("nk"))
      .agg(
        count(lit(1)).cast("long").as("n_customers"),
        sum(col("cents")).cast("long").as("sx"),
        sum(col("rk").cast("decimal(18,0)") * col("cents").cast("decimal(18,0)"))
          .cast("decimal(38,0)").as("sixi"))
    g.join(broadcast(nation(s, d)), col("n_nationkey") === col("nk"))
      .select(
        col("n_name"), col("n_customers"),
        ((lit(2.0) * col("sixi").cast("double") -
          (col("n_customers") + 1) * col("sx").cast("double")) /
          (col("n_customers").cast("double") * col("sx").cast("double"))).as("gini"))
      .orderBy("n_name")
  }

  /** Jackknife bucket count — 32 delete-a-group replicates. */
  val JkBuckets = 32

  /** Delete-a-group jackknife CI for mean document length per language —
    * the assumption-free error bar every corpus dashboard should carry.
    *
    * Docs hash into [[JkBuckets]] replayable md5 buckets; each replicate
    * mean m_b = (S − s_b)/(N − n_b) is a single division of exact BIGINT
    * sums, micro-quantized to 0.001 chars in pure integer half-up
    * arithmetic (m_q = (2000·(S−s_b) + (N−n_b)) DIV (2·(N−n_b)) — never
    * a round() of a double quotient, whose ties diverge cross-engine) so the
    * across-replicate moments fold as exact integers: dev_b = B·m_q_b −
    * Σm_q is integer, Σdev² accumulates as DECIMAL(38,0), and
    * SE = sqrt((B−1)/B · Σdev²/B²)/1000 is a fixed expression over exact
    * values. The 1.96·SE interval ships raw.
    *
    * Scale: two groupBys (fact→bucket grain, bucket→lang grain) and a
    * broadcast join — the per-lang state is 32 rows regardless of corpus
    * size, the delete-a-group trick's whole point (vs delete-ONE, whose
    * replicate count is the corpus). */
  val qJackknifeCi: Q = Q.sql(
    "q_jackknife_ci",
    s"""WITH b AS (
       |  SELECT lang,
       |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT) % $JkBuckets AS bkt,
       |    n_chars FROM documents),
       |g AS (
       |  SELECT lang, bkt, CAST(count(*) AS BIGINT) AS nb, CAST(sum(n_chars) AS BIGINT) AS sb
       |  FROM b GROUP BY 1, 2),
       |t AS (
       |  SELECT lang, CAST(sum(nb) AS BIGINT) AS n, CAST(sum(sb) AS BIGINT) AS s
       |  FROM g GROUP BY 1),
       |m AS (
       |  SELECT g.lang,
       |    CAST((2000 * (t.s - g.sb) + (t.n - g.nb)) // (2 * (t.n - g.nb)) AS BIGINT) AS mq
       |  FROM g JOIN t ON g.lang = t.lang WHERE t.n > g.nb),
       |a AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS bc, CAST(sum(mq) AS BIGINT) AS sq
       |  FROM m GROUP BY 1),
       |v AS (
       |  SELECT m.lang,
       |    CAST(sum(CAST(a.bc * m.mq - a.sq AS DECIMAL(19,0))
       |      * CAST(a.bc * m.mq - a.sq AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS ssd
       |  FROM m JOIN a ON m.lang = a.lang GROUP BY 1)
       |SELECT t.lang, t.n,
       |  CAST(t.s AS DOUBLE) / t.n AS mean_chars,
       |  sqrt(((CAST(a.bc AS DOUBLE) - 1.0) / a.bc)
       |    * (CAST(v.ssd AS DOUBLE) / (CAST(a.bc AS DOUBLE) * a.bc))) / 1000.0 AS se_jack,
       |  CAST(t.s AS DOUBLE) / t.n - 1.96 * (sqrt(((CAST(a.bc AS DOUBLE) - 1.0) / a.bc)
       |    * (CAST(v.ssd AS DOUBLE) / (CAST(a.bc AS DOUBLE) * a.bc))) / 1000.0) AS ci_lo,
       |  CAST(t.s AS DOUBLE) / t.n + 1.96 * (sqrt(((CAST(a.bc AS DOUBLE) - 1.0) / a.bc)
       |    * (CAST(v.ssd AS DOUBLE) / (CAST(a.bc AS DOUBLE) * a.bc))) / 1000.0) AS ci_hi
       |FROM t JOIN a ON t.lang = a.lang JOIN v ON t.lang = v.lang
       |ORDER BY t.lang""".stripMargin,
    doc = s"delete-a-group jackknife CI for mean doc length per lang ($JkBuckets buckets)") {
    (s, d) =>
      val b = documents(s, d).select(
        col("lang"),
        (conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long") % JkBuckets).as("bkt"),
        col("n_chars"))
      val g = b.groupBy(col("lang"), col("bkt"))
        .agg(count(lit(1)).cast("long").as("nb"), sum(col("n_chars")).cast("long").as("sb"))
      val t = g.groupBy(col("lang"))
        .agg(sum(col("nb")).cast("long").as("n"), sum(col("sb")).cast("long").as("s"))
      val m = g.join(broadcast(t), "lang")
        .filter(col("n") > col("nb"))
        .select(
          col("lang"),
          // half-up in PURE integer space (the q_changepoint convention):
          // round() on a double quotient is one tie away from the
          // cross-engine HALF_UP-vs-binary divergence of NOTES lesson 11
          expr("(2000 * (s - sb) + (n - nb)) DIV (2 * (n - nb))")
            .cast("long").as("mq"))
      val a = m.groupBy(col("lang"))
        .agg(count(lit(1)).cast("long").as("bc"), sum(col("mq")).cast("long").as("sq"))
      val dev = (col("bc") * col("mq") - col("sq")).cast("decimal(19,0)")
      val v = m.join(broadcast(a), "lang")
        .groupBy(col("lang"))
        .agg(sum(dev * dev).cast("decimal(38,0)").as("ssd"))
      val se = sqrt(((col("bc").cast("double") - 1.0) / col("bc")) *
        (col("ssd").cast("double") / (col("bc").cast("double") * col("bc")))) / 1000.0
      val mean = col("s").cast("double") / col("n")
      t.join(broadcast(a), "lang").join(broadcast(v), "lang")
        .select(
          col("lang"), col("n"),
          mean.as("mean_chars"),
          se.as("se_jack"),
          (mean - lit(1.96) * se).as("ci_lo"),
          (mean + lit(1.96) * se).as("ci_hi"))
        .orderBy("lang")
  }

  /** Mann-Whitney U rank-sum test per language: document lengths from
    * sources src1-src10 (group A) vs src11-src20 (group B) — the
    * nonparametric "did the length distribution drift between source
    * halves" answer that stays valid when lengths are skewed.
    *
    * Tie-exact in INTEGER space end to end: ranks live on the distinct
    * VALUE frame (midrank·2 = 2·cum_before + t + 1 is always integer),
    * R₁ accumulates doubled, the tie correction Σ(t³−t) accumulates as
    * DECIMAL(38,0), and U/z are fixed expression trees over those exact
    * integers — Var(U) = n₁n₂·((n+1)·n·(n−1) − Σ(t³−t)) / (12·n·(n−1)).
    *
    * Scale: the window runs over DISTINCT lengths per lang — a
    * value-domain-bounded frame (≤ max doc length rows), not the corpus;
    * the fact table is touched by exactly one map-side-combined groupBy. */
  val qMannWhitney: Q = Q.sql(
    "q_mann_whitney",
    """WITH b AS (
      |  SELECT lang,
      |    CASE WHEN CAST(substr(source, 4) AS INT) <= 10 THEN 1 ELSE 0 END AS ga,
      |    n_chars AS v
      |  FROM documents),
      |dv AS (
      |  SELECT lang, v,
      |    CAST(sum(ga) AS BIGINT) AS n1v,
      |    CAST(count(*) AS BIGINT) AS cv
      |  FROM b GROUP BY 1, 2),
      |w AS (
      |  SELECT lang, v, n1v, cv,
      |    CAST(sum(cv) OVER (PARTITION BY lang ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cv AS BIGINT) AS cb
      |  FROM dv),
      |g AS (
      |  SELECT lang,
      |    CAST(sum(n1v) AS BIGINT) AS n1,
      |    CAST(sum(cv - n1v) AS BIGINT) AS n2,
      |    CAST(sum(n1v * (2 * cb + cv + 1)) AS BIGINT) AS r1x2,
      |    CAST(sum(CAST(cv AS DECIMAL(19,0)) * CAST(cv AS DECIMAL(19,0)) * CAST(cv AS DECIMAL(19,0))
      |      - CAST(cv AS DECIMAL(19,0))) AS DECIMAL(38,0)) AS tt
      |  FROM w GROUP BY 1
      |  HAVING sum(n1v) > 0 AND sum(cv - n1v) > 0 AND sum(cv) > 1)
      |SELECT lang, n1, n2,
      |  (2.0 * n1 * n2 + CAST(n1 AS DOUBLE) * (n1 + 1) - r1x2) / 2.0 AS u1,
      |  ((CAST(n1 AS DOUBLE) * n2 + CAST(n1 AS DOUBLE) * (n1 + 1) - r1x2) / 2.0)
      |    / sqrt((CAST(n1 AS DOUBLE) * n2
      |        * ((CAST(n1 + n2 AS DOUBLE) + 1.0) * (n1 + n2) * (CAST(n1 + n2 AS DOUBLE) - 1.0)
      |           - CAST(tt AS DOUBLE)))
      |      / (12.0 * (n1 + n2) * (CAST(n1 + n2 AS DOUBLE) - 1.0))) AS z
      |FROM g ORDER BY lang""".stripMargin,
    doc = "Mann-Whitney U rank-sum drift per lang (tie-exact integer midranks)") { (s, d) =>
    val b = documents(s, d).select(
      col("lang"),
      when(substring(col("source"), 4, 10).cast("int") <= 10, 1).otherwise(0).as("ga"),
      col("n_chars").as("v"))
    val dv = b.groupBy(col("lang"), col("v"))
      .agg(sum(col("ga")).cast("long").as("n1v"), count(lit(1)).cast("long").as("cv"))
    val ww = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val w = dv.withColumn("cb", (sum(col("cv")).over(ww) - col("cv")).cast("long"))
    val cvd = col("cv").cast("decimal(19,0)")
    val g = w.groupBy(col("lang"))
      .agg(
        sum(col("n1v")).cast("long").as("n1"),
        sum(col("cv") - col("n1v")).cast("long").as("n2"),
        sum(col("n1v") * (lit(2) * col("cb") + col("cv") + 1)).cast("long").as("r1x2"),
        sum(cvd * cvd * cvd - cvd).cast("decimal(38,0)").as("tt"))
      .filter(col("n1") > 0 && col("n2") > 0 && (col("n1") + col("n2")) > 1)
    val n1d = col("n1").cast("double")
    val nTot = col("n1") + col("n2")
    val nTotD = nTot.cast("double")
    val varU = (n1d * col("n2") *
      ((nTotD + 1.0) * nTot * (nTotD - 1.0) - col("tt").cast("double"))) /
      (lit(12.0) * nTot * (nTotD - 1.0))
    g.select(
      col("lang"), col("n1"), col("n2"),
      ((lit(2.0) * col("n1") * col("n2") + n1d * (col("n1") + 1) - col("r1x2")) / 2.0).as("u1"),
      (((n1d * col("n2") + n1d * (col("n1") + 1) - col("r1x2")) / 2.0) / sqrt(varU)).as("z"))
      .orderBy("lang")
  }

  /** Chi-square test of independence between order priority and order
    * status — the categorical-association screen (is fulfilment status
    * independent of priority class?) every segmentation analysis starts
    * with, emitted per contingency cell: observed count, expected count
    * as an exact half-up ppm integer, and the cell's chi-square term.
    *
    * Exactness: with row total r, column total c, grand total n, the
    * cell term (O − E)²/E rewrites as (n·O − r·c)² / (n·r·c) — numerator
    * and denominator are exact integer products (DECIMAL(38,0); DuckDB
    * HUGEINT — (n·O)² clears BIGINT at bench SF already), and the
    * statistic is ONE division of their double casts, no round-order
    * dependence. The ppm expectation is the [[RankQueries.qPrCurve]]
    * half-up integer convention: (2·10⁶·r·c + n) // (2n).
    *
    * Scale: one map-side-combined groupBy over orders to the cell grain
    * (|priorities| × |statuses| rows), then the margins are two
    * aggregates OF THE CELL FRAME — the fact table is scanned once; the
    * margin joins move ~15 rows. */
  val qChi2: Q = Q.sql(
    "q_chi2",
    """WITH c AS (
      |  SELECT o_orderpriority AS pri, o_orderstatus AS st, CAST(count(*) AS BIGINT) AS o
      |  FROM orders GROUP BY 1, 2
      |), r AS (SELECT pri, CAST(sum(o) AS HUGEINT) AS rt FROM c GROUP BY 1),
      |cl AS (SELECT st, CAST(sum(o) AS HUGEINT) AS ct FROM c GROUP BY 1),
      |n AS (SELECT CAST(sum(o) AS HUGEINT) AS n FROM c)
      |SELECT c.pri, c.st, c.o,
      |  CAST((2000000 * rt * ct + n.n) // (2 * n.n) AS BIGINT) AS exp_ppm,
      |  CAST((n.n * c.o - rt * ct) * (n.n * c.o - rt * ct) AS DOUBLE)
      |    / CAST(n.n * rt * ct AS DOUBLE) AS chi2_term
      |FROM c JOIN r USING (pri) JOIN cl USING (st) CROSS JOIN n
      |ORDER BY pri, st""".stripMargin,
    doc = "chi-square independence test, priority x status, exact per-cell terms") { (s, d) =>
    val dec = "decimal(38,0)"
    val c = orders(s, d)
      .groupBy(col("o_orderpriority").as("pri"), col("o_orderstatus").as("st"))
      .agg(count(lit(1)).as("o"))
    val r = c.groupBy(col("pri").as("rpri")).agg(sum(col("o")).cast(dec).as("rt"))
    val cl = c.groupBy(col("st").as("cst")).agg(sum(col("o")).cast(dec).as("ct"))
    val n = c.agg(sum(col("o")).cast(dec).as("n"))
    c.join(broadcast(r), col("pri") === col("rpri"))
      .join(broadcast(cl), col("st") === col("cst"))
      .crossJoin(broadcast(n))
      .select(
        col("pri"), col("st"), col("o"),
        expr("CAST((2000000 * rt * ct + n) DIV (2 * n) AS BIGINT)").as("exp_ppm"),
        ((col("n") * col("o") - col("rt") * col("ct"))
          * (col("n") * col("o") - col("rt") * col("ct"))).cast("double")
          ./((col("n") * col("rt") * col("ct")).cast("double")).as("chi2_term"))
      .orderBy("pri", "st")
  }

  /** Kaplan-Meier survival estimate (Kaplan & Meier 1958) of
    * time-to-first-purchase per user, right-censored at study end — the
    * product-limit curve behind every retention / conversion-lag report:
    * S(t) = Π_{uᵢ ≤ t} (1 − dᵢ/nᵢ) over event times, where users who
    * never purchase are censored at the last observed day.
    *
    * Scale design: the corpus collapses to user grain in ONE aggregate
    * (min day, min purchase day), then to the DAY-BOUNDED event-time
    * frame (≤ study-days rows) where risk sets are a suffix sum and the
    * product-limit fold is a cumulative window — no window ever touches
    * fact or user grain. Exactness: dᵢ/nᵢ ratios divide exact BIGINTs;
    * the product folds as exp(Σ ln(·)) in EVENT-TIME ORDER (cumulative
    * frame, not an unordered float sum) with an explicit integer guard
    * that pins S = 0 exactly once a risk set is exhausted (ln(0) is an
    * error in DuckDB, an −Inf in Spark); round(6) absorbs the libm
    * ln/exp last ulp, the [[TextQueries.qPmi]] convention. */
  val qKaplanMeier: Q = Q.sql(
    "q_kaplan_meier",
    """WITH u AS (
      |  SELECT user_id,
      |    CAST(floor(epoch(min(ts)) / 86400) AS BIGINT) AS d0,
      |    CAST(floor(epoch(min(CASE WHEN event_type = 'purchase' THEN ts END)) / 86400) AS BIGINT) AS dp,
      |    (SELECT CAST(floor(epoch(max(ts)) / 86400) AS BIGINT) FROM events) AS dend
      |  FROM events GROUP BY user_id
      |), tt AS (
      |  SELECT CASE WHEN dp IS NOT NULL THEN dp - d0 ELSE dend - d0 END AS t,
      |    (dp IS NOT NULL) AS observed
      |  FROM u
      |), dtab AS (
      |  SELECT t, CAST(count(*) FILTER (WHERE observed) AS BIGINT) AS d,
      |    CAST(count(*) FILTER (WHERE NOT observed) AS BIGINT) AS c
      |  FROM tt GROUP BY t
      |), r AS (
      |  SELECT t, d, c, sum(d + c) OVER (ORDER BY t DESC) AS n_risk FROM dtab
      |), s AS (
      |  SELECT t, d, c, n_risk,
      |    sum(CASE WHEN d < n_risk THEN ln(CAST(n_risk - d AS DOUBLE) / n_risk) ELSE 0.0 END)
      |      OVER (ORDER BY t) AS lnsum,
      |    sum(CASE WHEN d >= n_risk THEN 1 ELSE 0 END) OVER (ORDER BY t) AS zeros
      |  FROM r
      |)
      |SELECT t, CAST(n_risk AS BIGINT) AS n_risk, d, c,
      |  CASE WHEN zeros > 0 THEN 0.0 ELSE round(exp(lnsum), 6) END AS survival
      |FROM s WHERE d > 0 ORDER BY t""".stripMargin,
    doc = "Kaplan-Meier survival of time-to-first-purchase, censored at study end") { (s, d) =>
    val ev = events(s, d).select(
      col("user_id"), col("event_type"),
      floor(unix_timestamp(col("ts")) / 86400).cast("long").as("day"))
    val dend = ev.agg(max(col("day")).as("dend"))
    val u = ev.groupBy("user_id")
      .agg(
        min(col("day")).as("d0"),
        min(when(col("event_type") === "purchase", col("day"))).as("dp"))
      .crossJoin(broadcast(dend))
    val tt = u.select(
      when(col("dp").isNotNull, col("dp") - col("d0"))
        .otherwise(col("dend") - col("d0")).as("t"),
      col("dp").isNotNull.as("observed"))
    val dtab = tt.groupBy("t").agg(
      sum(when(col("observed"), 1L).otherwise(0L)).as("d"),
      sum(when(!col("observed"), 1L).otherwise(0L)).as("c"))
    // suffix/prefix windows run over the day-bounded event-time frame
    // (≤ study days), never user or fact grain
    val wDesc = Window.orderBy(col("t").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAsc = Window.orderBy(col("t"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = dtab.withColumn("n_risk", sum(col("d") + col("c")).over(wDesc))
    val sCum = r
      .withColumn("lnsum",
        sum(when(col("d") < col("n_risk"),
          log((col("n_risk") - col("d")).cast("double") / col("n_risk")))
          .otherwise(lit(0.0))).over(wAsc))
      .withColumn("zeros",
        sum(when(col("d") >= col("n_risk"), 1L).otherwise(0L)).over(wAsc))
    sCum
      .filter(col("d") > 0)
      .select(col("t"), col("n_risk").cast("long").as("n_risk"), col("d"), col("c"),
        when(col("zeros") > 0, lit(0.0)).otherwise(round(exp(col("lnsum")), 6))
          .as("survival"))
      .orderBy("t")
  }

  val all: Seq[Q] = Seq(qBenford, qGini, qJackknifeCi, qMannWhitney, qChi2, qKaplanMeier)
}
