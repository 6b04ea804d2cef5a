package graft.queries

import graft.Tables._
import graft.operators.AsOfJoin
import org.apache.spark.sql.functions._

/** Additional engine surface: as-of join, hierarchical aggregation
  * (ROLLUP), and approximate aggregates.
  */
object ExtraQueries {

  /** As-of join: each purchase picks up the user's latest click value
    * at-or-before it. Right side deduped to unique (user, ts) so the
    * tie-break is well-defined in both engines. DuckDB replays with its
    * native ASOF LEFT JOIN. */
  val qAsofJoin: Q = Q.sql(
    "q_asof_join",
    """WITH clicks AS (
      |  SELECT user_id, ts, value FROM (
      |    SELECT user_id, ts, value,
      |      row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) AS rn
      |    FROM events WHERE event_type = 'click') t
      |  WHERE rn = 1
      |), purchases AS (
      |  SELECT event_id, user_id, ts, value FROM events WHERE event_type = 'purchase'
      |)
      |SELECT p.event_id, p.user_id, p.value, c.value AS asof_value
      |FROM purchases p
      |ASOF LEFT JOIN clicks c ON p.user_id = c.user_id AND p.ts >= c.ts
      |ORDER BY p.event_id""".stripMargin,
    doc = "as-of join via union+window (one shuffle, no range nested-loop)") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val ev = events(s, d)
    val clicks = ev
      .filter(col("event_type") === "click")
      .withColumn(
        "rn",
        row_number().over(
          Window.partitionBy(col("user_id"), col("ts")).orderBy(col("event_id").desc)))
      .filter(col("rn") === 1)
      .select(col("user_id"), col("ts"), col("value"), col("event_id"))
    val purchases = ev
      .filter(col("event_type") === "purchase")
      .select("event_id", "user_id", "ts", "value")
    AsOfJoin
      .asOf(purchases, clicks, key = "user_id", time = "ts",
        valueCols = Seq("value"), tieBreak = "event_id")
      .select(
        col("event_id"), col("user_id"), col("value"), col("asof_value"))
      .orderBy("event_id")
  }

  /** Hierarchical aggregation: ROLLUP over returnflag/linestatus with
    * exact decimal sums; NULL ordering pinned explicitly (Spark defaults
    * NULLS FIRST, DuckDB NULLS LAST). */
  val qRollup: Q = Q.sql(
    "q_rollup",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY ROLLUP(l_returnflag, l_linestatus)
      |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    doc = "ROLLUP hierarchical aggregation (grouping sets)") { (s, d) =>
    lineitem(s, d)
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("decimal(27,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .orderBy(col("l_returnflag").asc_nulls_first, col("l_linestatus").asc_nulls_first)
  }

  /** Approximate aggregates: HLL++ distinct counts and quantile sketches.
    * Sketch implementations differ across engines, so there is no value
    * oracle — the driver records a rows-only check and ApproxSpec bounds
    * the error against exact values. */
  val qApprox: Q = Q.rowsOnly(
    "q_approx_aggs",
    doc = "approx_count_distinct (HLL++) + approx_percentile sketches") { (s, d) =>
    // exact countDistinct deliberately NOT mixed in: a distinct aggregate
    // beside regular ones makes Catalyst plan an Expand (row duplication)
    // that drags every sketch buffer through 2x the rows — measured 111 s
    // vs ~2 s at sf0.1. ApproxSpec checks the error bound separately.
    // spread first: two sketch updates per row is CPU the single-file
    // scan would otherwise run on one core (cpu_ratio was 1.15); no-op
    // once the input has real partition counts at scale
    lineitem(s, d)
      .transform(graft.Tables.spread(s, _))
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_orderkey"), rsd = 0.01).as("approx_orders"),
        percentile_approx(col("l_extendedprice"), lit(0.5), lit(1000)).as("p50_price"),
        percentile_approx(col("l_extendedprice"), lit(0.99), lit(1000)).as("p99_price"))
      .orderBy("l_returnflag")
  }

  /** Explicit GROUPING SETS — the asymmetric combination neither ROLLUP
    * nor CUBE expresses: per (flag, status), per status alone, and the
    * grand total, in ONE pass (Catalyst plans a single Expand + hash
    * aggregate, not three scans). Uses Spark 4's Dataset.groupingSets
    * API; `grouping_id` disambiguates the (NULL, NULL) rows. */
  val qGroupingSets: Q = Q.sql(
    "q_grouping_sets",
    """SELECT l_returnflag, l_linestatus,
      |  CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT) AS gid,
      |  CAST(sum(CAST(l_quantity AS DECIMAL(27,2))) AS DOUBLE) AS sum_qty,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM lineitem
      |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_linestatus), ())
      |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    doc = "explicit GROUPING SETS (asymmetric sets, one Expand pass, grouping_id)") { (s, d) =>
    val (flag, status) = (col("l_returnflag"), col("l_linestatus"))
    lineitem(s, d)
      .groupingSets(Seq(Seq(flag, status), Seq(status), Seq()), flag, status)
      .agg(
        (grouping(flag) * 2 + grouping(status)).cast("long").as("gid"),
        sum(col("l_quantity").cast("decimal(27,2)")).cast("double").as("sum_qty"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("sum_qty"), col("n"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
        col("l_linestatus").asc_nulls_first)
  }

  /** CUBE: all 2^k grouping combinations (ROLLUP's sibling — completes
    * the grouping-sets family). */
  val qCube: Q = Q.sql(
    "q_cube",
    """SELECT o_orderstatus, o_orderpriority,
      |  CAST(sum(CAST(o_totalprice AS DECIMAL(27,2))) AS DOUBLE) AS revenue,
      |  CAST(count(*) AS BIGINT) AS n
      |FROM orders
      |GROUP BY CUBE(o_orderstatus, o_orderpriority)
      |ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""".stripMargin,
    doc = "CUBE grouping sets over order status × priority") { (s, d) =>
    orders(s, d)
      .cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(
        sum(col("o_totalprice").cast("decimal(27,2)")).cast("double").as("revenue"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus").asc_nulls_first, col("o_orderpriority").asc_nulls_first)
  }

  /** Exact distinct aggregation — kept OUT of q_approx_aggs because a
    * distinct aggregate beside sketch buffers forces an Expand plan that
    * doubles rows through every buffer (NOTES.md lesson 4); standalone,
    * Catalyst plans the standard two-phase distinct aggregation. */
  val qCountDistinct: Q = Q.sql(
    "q_count_distinct",
    """SELECT l_returnflag,
      |  CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders,
      |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
      |  CAST(count(*) AS BIGINT) AS n_rows
      |FROM lineitem
      |GROUP BY l_returnflag
      |ORDER BY l_returnflag""".stripMargin,
    doc = "exact COUNT(DISTINCT) — two-phase distinct aggregation") { (s, d) =>
    lineitem(s, d)
      .groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("n_orders"),
        countDistinct(col("l_suppkey")).as("n_suppliers"),
        count(lit(1)).as("n_rows"))
      .orderBy("l_returnflag")
  }

  /** The maintenance windows `q_range_join` scores events against —
    * fixed literals (some overlapping, one empty) so the DuckDB oracle
    * replays them verbatim as a VALUES list. */
  val RangeWindows: Seq[(Long, String, String)] = Seq(
    (1L, "2024-01-02 00:00:00", "2024-01-04 12:00:00"),
    (2L, "2024-01-04 00:00:00", "2024-01-05 00:00:00"), // overlaps 1
    (3L, "2024-01-10 06:00:00", "2024-01-17 18:30:00"),
    (4L, "2024-01-25 00:00:00", "2024-01-25 00:00:00"), // empty: start==stop
    (5L, "2024-01-28 12:00:00", "2024-02-02 00:00:00")) // runs past the data

  /** Point-in-interval range join via [[graft.operators.RangeJoin]] —
    * bucketized equi-join, never a nested loop (RangeJoinSpec pins both
    * the plan shape and random-data equivalence to the naive theta join).
    * The global interval envelope is pushed into the events scan
    * ([[graft.Tables.eventsRange]] nanos pushdown), so at 100 TB only the
    * covered slice of the fact table is read at all. */
  val qRangeJoin: Q = Q.sql(
    "q_range_join", {
      val values = RangeWindows
        .map { case (id, a, b) => s"($id, TIMESTAMP '$a', TIMESTAMP '$b')" }
        .mkString(",\n    ")
      s"""WITH iv(iv_id, start, stop) AS (
         |  VALUES
         |    $values
         |)
         |SELECT iv_id,
         |  CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
         |  CAST(sum(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS sum_value
         |FROM iv JOIN events e ON e.ts >= iv.start AND e.ts < iv.stop
         |GROUP BY iv_id
         |ORDER BY iv_id""".stripMargin
    },
    doc = "point-in-interval range join (bucketized equi-join, no nested loop)") { (s, d) =>
    import s.implicits._
    val iv = RangeWindows
      .map { case (id, a, b) =>
        (id, java.sql.Timestamp.valueOf(a), java.sql.Timestamp.valueOf(b)) }
      .toDF("iv_id", "start", "stop")
    // push the interval envelope into the parquet scan before the join
    val envLo = RangeWindows.map(_._2).min
    val envHi = RangeWindows.map(_._3).max
    val pts = graft.Tables.eventsRange(
      s, d, java.sql.Timestamp.valueOf(envLo), java.sql.Timestamp.valueOf(envHi))
    graft.operators.RangeJoin
      .pointInInterval(pts, iv, "ts", "start", "stop")
      .groupBy(col("iv_id"))
      .agg(
        count(lit(1)).as("n_events"),
        countDistinct(col("user_id")).as("n_users"),
        sum(col("value").cast("decimal(30,6)")).cast("double").as("sum_value"))
      .orderBy("iv_id")
  }

  /** JSONL (newline-delimited JSON) sink + source roundtrip — the
    * interchange format LLM training corpora actually ship in. The query
    * WRITES the documents table as partitioned JSONL, READS it back with
    * an explicit schema (no inference pass — at 100 TB schema inference
    * is a full extra scan), and aggregates a per-language fidelity
    * report whose content checksum is an order-independent integer sum
    * over md5(doc_id:text) — row loss, duplication, or any
    * escaping/unicode corruption in the JSON encode/decode flips it.
    * The oracle computes the same report straight from the parquet
    * source, so the gate proves the roundtrip byte-faithful.
    *
    * Scale shape: write and read are both partition-parallel (one JSONL
    * part-file per task, no coalesce); the report is one hash
    * aggregation with map-side combine. */
  val qJsonlRoundtrip: Q = Q.sql(
    "q_jsonl_roundtrip",
    """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
      |  CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  CAST(sum(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' || text), 1, 12))::BIGINT)
      |    AS BIGINT) AS content_sig
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    doc = "JSONL sink+source roundtrip with order-independent fidelity checksum") { (s, d) =>
    import org.apache.spark.sql.types._
    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_${Integer.toHexString(d.hashCode)}"
    documents(s, d).write.mode("overwrite").json(tmp)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    s.read.schema(schema).json(tmp)
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_chars")).cast("long").as("total_chars"),
        sum(conv(
          substring(md5(concat(col("doc_id").cast("string"), lit(":"), col("text"))), 1, 12),
          16, 10).cast("long")).cast("long").as("content_sig"))
      .orderBy("lang")
  }

  /** SCD type-2 interval build: treat `events` as a change log of each
    * user's `event_type` attribute and emit the versioned dimension — one
    * row per attribute RUN with [valid_from, valid_to) validity and a
    * current flag. The warehouse operator every dimension load needs;
    * pairs with [[qAsofJoin]] (SCD2 builds the intervals, as-of reads
    * them) and with `q_merge_upsert` (which folds a batch INTO such a
    * dimension).
    *
    * Plan shape: two passes of per-user windows (lag to find change
    * points, lead over the filtered change rows for interval ends) — both
    * partition by user_id, so one shuffle, no self-join; state per task
    * is one row (lag/lead), never a user's history. Ties on ts break by
    * event_id in BOTH window orders, making runs engine-independent. */
  val qScd2: Q = Q.sql(
    "q_scd2",
    """WITH o AS (
      |  SELECT user_id, ts, event_id, event_type,
      |    lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
      |  FROM events
      |), ch AS (
      |  SELECT user_id, ts, event_id, event_type FROM o
      |  WHERE prev IS NULL OR prev <> event_type
      |), v AS (
      |  SELECT user_id, event_type, ts AS valid_from,
      |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS BIGINT)
      |      AS version
      |  FROM ch
      |)
      |SELECT user_id, version, event_type, valid_from, valid_to,
      |  CAST(CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS BIGINT) AS is_current
      |FROM v ORDER BY user_id, version""".stripMargin,
    doc = "SCD type-2 intervals from a change log (two per-key windows, one shuffle)") { (s, d) =>
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(s, d)
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .select(
        col("user_id"), col("event_type"), col("ts").as("valid_from"),
        lead(col("ts"), 1).over(w).as("valid_to"),
        row_number().over(w).cast("long").as("version"))
      .select(
        col("user_id"), col("version"), col("event_type"), col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, 1L).otherwise(0L).as("is_current"))
      .orderBy("user_id", "version")
  }

  /** 2D skyline (Pareto frontier): parts no other part dominates on
    * (lower price, larger size) — the classic multi-criteria OLAP
    * operator (Börzsönyi 2001) that plain GROUP BY cannot express.
    *
    * Scale design — two phases, no self-join anywhere:
    *  1. BUCKET PRUNE: price is hashed into ≤1024 equi-width buckets
    *     (extents from one broadcast min/max aggregate); per-bucket max
    *     size is a map-side-combined aggregate, its strict-prefix max a
    *     window over ≤1024 rows. A row survives only if no strictly
    *     cheaper bucket holds an equal-or-larger size. Dominance is
    *     transitive, so pruned rows can neither be skyline nor change it
    *     (any dominator they'd provide is itself dominated by a
    *     surviving row) — the filter is lossless and removes all but
    *     O(frontier) rows with one scan + one broadcast.
    *  2. EXACT: among survivors, per-price max size and its
    *     strict-prefix running max (both tiny) decide dominance exactly;
    *     same-price ties keep every max-size row.
    * The oracle replays the exact phase over ALL rows, hash-proving the
    * prune lossless. */
  val qSkyline: Q = Q.sql(
    "q_skyline",
    """WITH pm AS (SELECT p_retailprice AS pr, max(p_size) AS ms FROM part GROUP BY 1),
      |pf AS (SELECT pr, ms,
      |  max(ms) OVER (ORDER BY pr ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS sm
      |FROM pm)
      |SELECT p.p_partkey, p.p_name, p.p_retailprice, CAST(p.p_size AS BIGINT) AS p_size
      |FROM part p JOIN pf ON pf.pr = p.p_retailprice
      |WHERE p.p_size = pf.ms AND (pf.sm IS NULL OR pf.sm < p.p_size)
      |ORDER BY p.p_retailprice, p.p_partkey""".stripMargin,
    doc = "2D Pareto skyline: lossless bucket prune + exact frontier on survivors") { (s, d) =>
    import org.apache.spark.sql.expressions.Window
    val p = part(s, d).select(col("p_partkey"), col("p_name"),
      col("p_retailprice").as("pr"), col("p_size"))
    val ext = p.agg(min(col("pr")).as("mn"), max(col("pr")).as("mx"))
    val withB = p.crossJoin(broadcast(ext))
      .withColumn("bkt",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("pr") - col("mn")) / ((col("mx") - col("mn")) / 1024.0)),
            lit(1023L))))
      .drop("mn", "mx")
    val bm = withB.groupBy(col("bkt")).agg(max(col("p_size")).as("bms"))
    val wb = Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)
    val bpf = bm.withColumn("bsm", max(col("bms")).over(wb)).select("bkt", "bsm")
    val cand = withB.join(broadcast(bpf), "bkt")
      .filter(col("bsm").isNull || col("bsm") < col("p_size"))
    val pm = cand.groupBy(col("pr")).agg(max(col("p_size")).as("ms"))
    val wp = Window.orderBy(col("pr")).rowsBetween(Window.unboundedPreceding, -1)
    val pf = pm.withColumn("sm", max(col("ms")).over(wp))
    cand.join(broadcast(pf), "pr")
      .filter(col("p_size") === col("ms") && (col("sm").isNull || col("sm") < col("p_size")))
      .select(col("p_partkey"), col("p_name"), col("pr").as("p_retailprice"),
        col("p_size").cast("long").as("p_size"))
      .orderBy("p_retailprice", "p_partkey")
  }

  /** Incremental materialized-view maintenance: a per-customer
    * (count, sum) aggregate state kept current by folding in a delta
    * batch — the pattern that turns an O(base) nightly rebuild into an
    * O(delta) merge. Orders before the cutoff stand in for the persisted
    * MV state (in production it IS a stored table of partial states);
    * orders after it are the arriving batch. Because count/sum are
    * monoids, merged state = base state ⊕ delta partials — one equi-join
    * on the affected keys, the base FACTS are never rescanned, and the
    * output is exactly the touched groups (what an upsert into the MV
    * would write). Sums accumulate in exact integer cents so the merged
    * average is partial-aggregation-order invariant. */
  val qMvIncremental: Q = Q.sql(
    "q_mv_incremental",
    """WITH base AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders WHERE o_orderdate < TIMESTAMP '2001-01-01' GROUP BY 1),
      |delta AS (
      |  SELECT o_custkey, CAST(count(*) AS BIGINT) AS n,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS c
      |  FROM orders WHERE o_orderdate >= TIMESTAMP '2001-01-01' GROUP BY 1)
      |SELECT d.o_custkey, coalesce(b.n, 0) AS n_base, d.n AS n_delta,
      |  coalesce(b.n, 0) + d.n AS n_total,
      |  CAST(coalesce(b.c, 0) + d.c AS DOUBLE) / 100.0 AS sum_total,
      |  CAST(coalesce(b.c, 0) + d.c AS DOUBLE) / (100.0 * (coalesce(b.n, 0) + d.n)) AS avg_total
      |FROM delta d LEFT JOIN base b ON b.o_custkey = d.o_custkey
      |ORDER BY d.o_custkey""".stripMargin,
    doc = "incremental MV maintenance: delta partials merged into base state, O(delta) not O(base)") {
    (s, d) =>
      val cutoff = lit("2001-01-01").cast("timestamp")
      def partials(df: org.apache.spark.sql.DataFrame) = df
        .groupBy(col("o_custkey"))
        .agg(
          count(lit(1)).cast("long").as("n"),
          sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("c"))
      val base = partials(orders(s, d).filter(col("o_orderdate") < cutoff))
        .select(col("o_custkey"), col("n").as("bn"), col("c").as("bc"))
      val delta = partials(orders(s, d).filter(col("o_orderdate") >= cutoff))
      delta
        .join(base, Seq("o_custkey"), "left")
        .select(
          col("o_custkey"),
          coalesce(col("bn"), lit(0L)).as("n_base"),
          col("n").as("n_delta"),
          (coalesce(col("bn"), lit(0L)) + col("n")).as("n_total"),
          ((coalesce(col("bc"), lit(0L)) + col("c")).cast("double") / 100.0).as("sum_total"),
          ((coalesce(col("bc"), lit(0L)) + col("c")).cast("double") /
            (lit(100.0) * (coalesce(col("bn"), lit(0L)) + col("n")))).as("avg_total"))
        .orderBy("o_custkey")
  }

  /** Association rules (market basket): for brand pairs co-occurring in
    * at least 5 orders, the classic support / confidence / lift triple,
    * top-20 rules by lift — the recommendation primitive GROUP BY alone
    * doesn't give (a rule is DIRECTED: a→b and b→a share support but
    * differ in confidence).
    *
    * Scale design: per-order brand sets come from one map-side-combined
    * groupBy (the [[graft.queries.GraphQueries]] co-occurrence
    * distillation — no fact self-join); ordered pairs generate in-row
    * and both directions of a pair come from one canonical pair count
    * union'd with its swap. Brand marginals and the order total are two
    * more aggregates of the SAME distinct (order, brand) frame; the
    * total joins in as a broadcast scalar. Lift/confidence are single
    * divisions on integer counts, so the ranking is engine-exact. */
  val qAssocRules: Q = Q.sql(
    "q_assoc_rules",
    """WITH ob AS (SELECT DISTINCT l.l_orderkey AS o, p.p_brand AS b
      |  FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey),
      |nn AS (SELECT CAST(count(DISTINCT o) AS BIGINT) AS n FROM ob),
      |m AS (SELECT b, CAST(count(*) AS BIGINT) AS cnt FROM ob GROUP BY b),
      |pr AS (SELECT x.b AS a, y.b AS b, CAST(count(*) AS BIGINT) AS cab
      |  FROM ob x JOIN ob y ON y.o = x.o AND x.b <> y.b GROUP BY x.b, y.b)
      |SELECT pr.a, pr.b, pr.cab AS n_both,
      |  CAST(pr.cab AS DOUBLE) / nn.n AS support,
      |  CAST(pr.cab AS DOUBLE) / ma.cnt AS confidence,
      |  CAST(pr.cab AS DOUBLE) * nn.n / ma.cnt / mb.cnt AS lift
      |FROM pr JOIN m ma ON ma.b = pr.a JOIN m mb ON mb.b = pr.b, nn
      |WHERE pr.cab >= 5
      |ORDER BY lift DESC, pr.a, pr.b LIMIT 20""".stripMargin,
    doc = "association rules: support/confidence/lift over order brand baskets, top-20 by lift") {
    (s, d) =>
      val ob = graft.ScratchCache.tracked(
        lineitem(s, d)
          .join(broadcast(part(s, d).select(col("p_partkey"), col("p_brand"))),
            col("p_partkey") === col("l_partkey"))
          .select(col("l_orderkey").as("o"), col("p_brand").as("b"))
          .distinct())
      ob.count() // three consumers: pair distillation, marginals, total
      val canon = ob.groupBy(col("o")).agg(sort_array(collect_set(col("b"))).as("bs"))
        .select(explode(flatten(transform(col("bs"), (x, i) =>
          transform(slice(col("bs"), i + lit(2), size(col("bs"))),
            y => struct(x.as("a"), y.as("b")))))).as("p"))
        .select(col("p.a").as("a"), col("p.b").as("b"))
        .groupBy(col("a"), col("b"))
        .agg(count(lit(1)).cast("long").as("cab"))
      val pr = canon.unionByName(
        canon.select(col("b").as("a"), col("a").as("b"), col("cab")))
      val m = ob.groupBy(col("b")).agg(count(lit(1)).cast("long").as("cnt"))
      val nn = ob.agg(countDistinct(col("o")).cast("long").as("n"))
      pr.filter(col("cab") >= 5)
        .join(broadcast(m.select(col("b").as("a"), col("cnt").as("ca"))), "a")
        .join(broadcast(m.select(col("b"), col("cnt").as("cb"))), "b")
        .crossJoin(broadcast(nn))
        .select(col("a"), col("b"), col("cab").as("n_both"),
          (col("cab").cast("double") / col("n")).as("support"),
          (col("cab").cast("double") / col("ca")).as("confidence"),
          (col("cab").cast("double") * col("n") / col("ca") / col("cb")).as("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(20)
  }

  /** RFM customer segmentation — the classic warehouse scoring of every
    * customer by Recency / Frequency / Monetary quintiles, rolled up to
    * named segments. Scores come from GLOBAL quintile cut points
    * computed by the distributed order-statistics operator and broadcast
    * into comparison-only binning (the [[graft.queries.TimeSeriesQueries]]
    * equi-depth pattern applied three times) — NEVER an ntile window
    * over all customers, which would sort the whole dimension in one
    * task. Money sums are exact cents, day gaps exact integers, so every
    * score and rollup is engine-identical. */
  val qRfm: Q = Q.sql(
    "q_rfm",
    """WITH cust AS (
      |  SELECT o_custkey,
      |    date_diff('day', max(o_orderdate), (SELECT max(o_orderdate) FROM orders))
      |      AS rec,
      |    CAST(count(*) AS BIGINT) AS freq,
      |    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS mon
      |  FROM orders GROUP BY o_custkey),
      |c AS (SELECT
      |    quantile_cont(rec, 0.2) AS r1, quantile_cont(rec, 0.4) AS r2,
      |    quantile_cont(rec, 0.6) AS r3, quantile_cont(rec, 0.8) AS r4,
      |    quantile_cont(freq, 0.2) AS f1, quantile_cont(freq, 0.4) AS f2,
      |    quantile_cont(freq, 0.6) AS f3, quantile_cont(freq, 0.8) AS f4,
      |    quantile_cont(mon, 0.2) AS m1, quantile_cont(mon, 0.4) AS m2,
      |    quantile_cont(mon, 0.6) AS m3, quantile_cont(mon, 0.8) AS m4
      |  FROM cust),
      |s AS (SELECT cust.rec, cust.freq, cust.mon,
      |    6 - (1 + CAST(rec > c.r1 AS INT) + CAST(rec > c.r2 AS INT)
      |           + CAST(rec > c.r3 AS INT) + CAST(rec > c.r4 AS INT)) AS r_score,
      |    1 + CAST(freq > c.f1 AS INT) + CAST(freq > c.f2 AS INT)
      |      + CAST(freq > c.f3 AS INT) + CAST(freq > c.f4 AS INT) AS f_score,
      |    1 + CAST(mon > c.m1 AS INT) + CAST(mon > c.m2 AS INT)
      |      + CAST(mon > c.m3 AS INT) + CAST(mon > c.m4 AS INT) AS m_score
      |  FROM cust, c),
      |seg AS (SELECT rec, freq, mon,
      |    CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
      |         WHEN r_score >= 4 THEN 'recent'
      |         WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
      |         WHEN m_score = 5 THEN 'big_spender'
      |         ELSE 'regular' END AS segment
      |  FROM s)
      |SELECT segment, CAST(count(*) AS BIGINT) AS n_customers,
      |  CAST(sum(mon) AS DOUBLE) / 100.0 / count(*) AS avg_monetary,
      |  CAST(sum(rec) AS DOUBLE) / count(*) AS avg_recency_days,
      |  CAST(sum(freq) AS DOUBLE) / count(*) AS avg_orders
      |FROM seg GROUP BY segment ORDER BY segment""".stripMargin,
    doc = "RFM segmentation: global quintile cuts broadcast into comparison-only scoring") {
    (s, d) =>
      val mx = orders(s, d).agg(max(col("o_orderdate")).as("mxd"))
      val cust = graft.ScratchCache.tracked(
        orders(s, d)
          .groupBy(col("o_custkey"))
          .agg(
            max(col("o_orderdate")).as("lastd"),
            count(lit(1)).cast("long").as("freq"),
            sum(round(col("o_totalprice") * 100).cast("long")).cast("long").as("mon"))
          .crossJoin(broadcast(mx))
          .select(
            datediff(col("mxd"), col("lastd")).cast("long").as("rec"),
            col("freq"), col("mon"))
          .select(col("rec"), col("freq"), col("mon")))
      cust.count() // two consumers: the melted quantile pass + scoring
      // ONE order-statistics pass for all three dimensions: melt to
      // (dim, value) and let the operator's group key separate them
      val melted = cust.select(explode(array(
        struct(lit("rec").as("dim"), col("rec").as("v")),
        struct(lit("freq").as("dim"), col("freq").as("v")),
        struct(lit("mon").as("dim"), col("mon").as("v")))).as("x"))
        .select(col("x.dim").as("dim"), col("x.v").as("v"))
      val q = graft.operators.Quantiles
        .exact(melted, "dim", "v", Seq(0.2, 0.4, 0.6, 0.8), Seq("c1", "c2", "c3", "c4"))
      // all twelve cuts in ONE broadcast row, so q has a single consumer
      val cutCols = Seq("rec" -> "r", "freq" -> "f", "mon" -> "m").flatMap { case (dim, p) =>
        (1 to 4).map(i => max(when(col("dim") === dim, col(s"c$i"))).as(s"$p$i"))
      }
      val cuts = broadcast(q.agg(cutCols.head, cutCols.tail: _*))
      def score(dim: String, cs: Seq[String]) = cs.map(c =>
        (col(dim) > col(c)).cast("int")).reduce(_ + _) + 1
      val seg = cust.crossJoin(cuts)
        .withColumn("r_score", lit(6) - score("rec", Seq("r1", "r2", "r3", "r4")))
        .withColumn("f_score", score("freq", Seq("f1", "f2", "f3", "f4")))
        .withColumn("m_score", score("mon", Seq("m1", "m2", "m3", "m4")))
        .withColumn("segment",
          when(col("r_score") >= 4 && col("f_score") >= 4, "champion")
            .when(col("r_score") >= 4, "recent")
            .when(col("r_score") <= 2 && col("f_score") >= 4, "at_risk")
            .when(col("m_score") === 5, "big_spender")
            .otherwise("regular"))
      seg.groupBy(col("segment"))
        .agg(
          count(lit(1)).cast("long").as("n_customers"),
          (sum(col("mon")).cast("double") / 100.0 / count(lit(1))).as("avg_monetary"),
          (sum(col("rec")).cast("double") / count(lit(1))).as("avg_recency_days"),
          (sum(col("freq")).cast("double") / count(lit(1))).as("avg_orders"))
        .orderBy("segment")
  }

  val all: Seq[Q] =
    Seq(qAsofJoin, qRollup, qGroupingSets, qCube, qApprox, qCountDistinct, qRangeJoin,
      qJsonlRoundtrip, qScd2, qSkyline, qMvIncremental, qAssocRules, qRfm)
}
