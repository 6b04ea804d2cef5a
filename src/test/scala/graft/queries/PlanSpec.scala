package graft.queries

import graft.GraftSession
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan assertions: the scale properties claimed in the query
  * Scaladocs must actually appear in the executed plan — predicate
  * pushdown into parquet, broadcast joins for dims, TakeOrderedAndProject
  * for top-k, partial (map-side) aggregation, and live whole-stage
  * codegen on the hot decode path.
  */
class PlanSpec extends AnyFunSuite {
  lazy val spark = GraftSession.get("local[4]")
  private val sf = "/root/testdata/sf0.001"

  private def plan(q: Q): String =
    q.run(spark, sf).queryExecution.executedPlan.toString

  // the NTILE window function, not the substring: `percentile_approx`
  // (the exact-quantile operator's bracket) contains "ntile"
  private val ntileCall = """\bntile\(""".r

  test("q1_agg: shipdate predicate reaches the parquet scan; partial agg") {
    val p = plan(CoreQueries.q1Agg)
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
    assert(p.contains("HashAggregate") && p.contains("partial_"))
  }

  test("q_join_agg: dimension joins are broadcast") {
    val p = plan(CoreQueries.qJoinAgg)
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("BroadcastExchange"))
  }

  test("q_topk: plans as TakeOrderedAndProject, not a global sort") {
    val p = plan(CoreQueries.qTopK)
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_semi_join: pushed totalprice filter + semi join") {
    val p = plan(CoreQueries.qSemiJoin)
    assert(p.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice"))
    assert(p.contains("LeftSemi"))
  }

  test("solar decode: needed columns only + whole-stage codegen alive") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val raw = Seq((graft.solar.Topics.FxData,
      graft.solar.SolarSynth.encodeFx(1700000000L, 5),
      java.sql.Timestamp.valueOf("2024-01-01 00:00:00"))).toDF("topic", "payload", "arrival")
    val pts = graft.solar.SolarIngest.points(raw)
    // "*(n)" node prefixes mark live whole-stage-codegen stages
    val p = pts.queryExecution.executedPlan.toString
    assert(p.contains("*("))
    // decode must not fall back: evaluate and check a value end-to-end
    val row = pts.filter(col("field") === "battery_voltage").head()
    assert(row.getDouble(3) === (5 % 5000) / 10.0)
  }

  test("q_status_gate: no Window — no task sorts a device's history") {
    val p = plan(SolarQueries.qStatusGate)
    assert(!p.contains("Window"), p)
  }

  test("q_range_scan: time bound reaches the parquet scan (raw nanos filter)") {
    val p = plan(TimeSeriesQueries.qRangeScan)
    assert(p.contains("PushedFilters: [IsNotNull(ts), GreaterThanOrEqual(ts"))
    assert(p.contains("LessThan(ts"))
  }

  test("solar decode: single pass — no union, one scan for all packet types") {
    val p = plan(SolarQueries.qSolarIngest)
    assert(!p.contains("Union"), "decode should dispatch in one projection, not a 3-way union")
    assert(p.contains("decode_dc") && p.contains("decode_fx") && p.contains("decode_mx"))
    // exactly one events scan in the whole pipeline
    assert("FileScan parquet".r.findAllIn(p).size === 1)
  }

  test("q_embed_topk: dot product present and stage codegen'd (final AQE plan)") {
    val df = SimilarityQueries.qEmbedTopk.run(spark, sf)
    df.collect() // finalize the adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("dot_product"))
    assert(p.contains("*("))
  }

  test("q_embed_neardup: LSH candidates via equi-join — no cartesian anywhere") {
    val df = SimilarityQueries.qEmbedNearDup.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"), "near-dup default must not cross-join the corpus")
    assert(!p.contains("BroadcastNestedLoopJoin"), "near-dup default must not nested-loop join")
    // bucket equi-join on the packed int key is the candidate generator
    assert(p.contains("bucket"))
  }

  test("q1_agg: each distinct sum aggregated once (deduped decimal work)") {
    val p = plan(CoreQueries.q1Agg)
    // 5 sums + 1 count in the partial aggregate — not one per output column
    val partials = "partial_sum".r.findAllIn(p).size
    assert(partials <= 5, s"expected <=5 partial sums after dedup, saw $partials")
  }

  test("new text queries prune the documents scan to the needed columns") {
    val topTerms = plan(TextQueries.qTopTerms)
    assert(topTerms.contains("ReadSchema: struct<text:string>"),
      "q_top_terms must read only `text`")
    val strat = plan(TextQueries.qStratifiedSample)
    assert(strat.contains("ReadSchema: struct<doc_id:bigint,lang:string>")
      || strat.contains("ReadSchema: struct<lang:string,doc_id:bigint>"),
      s"q_stratified_sample must read only (doc_id, lang)")
  }

  test("q_chunk: narrow generate — no shuffle before the output sort") {
    val p = plan(PrepQueries.qChunk)
    // exactly one exchange: the deterministic ORDER BY of the gate output
    assert("Exchange".r.findAllIn(p).size === 1, s"chunking itself must not shuffle")
    assert(p.contains("Generate"))
  }

  test("q_decontaminate: eval grams broadcast; corpus side never shuffled for the join") {
    val p = plan(PrepQueries.qDecontaminate)
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"), "corpus×eval gram join must broadcast the eval side")
  }

  test("q_bloom_prune: might_contain filter sits on the fact scan") {
    val p = plan(LayoutQueries.qBloomPrune)
    assert(p.contains("might_contain"))
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_pack: running sum windows per shard, never a global-order window") {
    val p = plan(PrepQueries.qPack)
    assert(p.contains("Window"))
    assert(p.contains("hashpartitioning(shard"),
      "pack window must partition by shard, not run globally")
  }

  test("q_sample_k: per-group top-k plans as WindowGroupLimit, no full group sort") {
    val p = plan(PrepQueries.qSampleK)
    assert(p.contains("WindowGroupLimit"),
      "rank<=k filter must push a group limit below the window")
  }

  test("q_bin_equidepth: no fact-grain window, no per-flag sort — cut points broadcast") {
    val p = plan(TimeSeriesQueries.qBinEquidepth)
    assert(ntileCall.findFirstIn(p).isEmpty, "scale-safe binning must not plan an NTILE window")
    val ntileWindow = spark.range(4).selectExpr("ntile(2) OVER (ORDER BY id)")
    assert(ntileCall.findFirstIn(ntileWindow.queryExecution.executedPlan.toString).nonEmpty,
      "the NTILE pin must match a planned ntile window")
    assert(!p.contains("Window"), s"unexpected window in the plan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      "cut-point table must broadcast — the fact side never shuffles for the join")
  }

  test("q_bigram_lm: LM table broadcasts; the NLL fold is a codegen sum, no per-doc buffers") {
    val p = plan(RankQueries.qBigramLm)
    assert(p.contains("BroadcastHashJoin"),
      "the vocabulary-bounded log-prob table must broadcast onto the occurrence stream")
    assert(!p.contains("collect_list") && !p.contains("ObjectHashAggregate"),
      "fixed-point NLL accumulation must plan as a plain hash aggregate — " +
        "a collect_list fold buffers whole documents per group")
  }

  test("q_kmeans: centroids broadcast, argmin is an aggregate, means are codegen sums") {
    val p = plan(SimilarityQueries.qKmeans)
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the K-row centroid table must broadcast-cross onto the vector stream")
    assert(!p.contains("CartesianProduct"), "no unbroadcast cross product")
    assert(!p.contains("Window"),
      "cluster assignment must be min(struct(dist, cid)) — a streaming aggregate, " +
        "not a row_number window (which would sort every vector per round)")
    assert(p.contains("HashAggregate"),
      "the 64 per-dimension fixed-point sums must plan as codegen hash aggregates")
  }

  test("q_source_overlap: incidence self-join is an equi-join, totals broadcast") {
    val p = plan(StatsQueries.qSourceOverlap)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "the source-pair fan-out must come from the gram equi-join, never a cross product")
    assert(p.contains("BroadcastHashJoin"), "per-source totals must broadcast")
  }

  test("q_ppl_bucket: per-language binning has no window over the scored docs") {
    val p = plan(RankQueries.qPplBucket)
    assert(ntileCall.findFirstIn(p).isEmpty, "tertile binning must not plan an NTILE window")
    assert(p.contains("BroadcastHashJoin"),
      "cut-point table must broadcast back onto the scored frame")
  }

  test("q_min_cost_supplier: correlated subquery decorrelates to aggregate + join") {
    val p = plan(CoreQueries.qMinCostSupplier)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("HashAggregate"),
      "the per-part min must run as an aggregate, not a per-row re-execution")
  }

  test("q_pq_search: LUT broadcast onto codes; top-k pushes a group limit") {
    val p = plan(SimilarityQueries.qPqSearch)
    assert(p.contains("BroadcastHashJoin"),
      "the query LUT must broadcast — the codes side never shuffles for the join")
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must cap partitions before the per-query merge")
  }

  test("q_dhash_neardup: banded equi-join, never a cross product") {
    val p = plan(TextQueries.qDhashNearDup)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "candidate generation must be a keyed band join")
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
      || p.contains("BroadcastHashJoin"), "band join must be an equi-join")
  }

  test("q_range_frame: window partitions by (series, day), never series alone") {
    val p = plan(TimeSeriesQueries.qRangeFrame)
    assert(p.contains("hashpartitioning(event_type"),
      "range-frame window must shuffle on the segmented key")
    assert(p.replaceAll("\\s+", " ").matches("(?s).*hashpartitioning\\(event_type[^)]*day.*"),
      "day must be part of the window partition key — a per-series sort would be unbounded")
  }

  test("q_kmv_distinct: k-smallest per group plans as WindowGroupLimit") {
    val p = plan(StatsQueries.qKmvDistinct)
    assert(p.contains("WindowGroupLimit"),
      "rank<=k must push a group limit below the window — no full per-group hash sort")
  }

  test("q_shuffle_shard: head sample plans as WindowGroupLimit; stats agg is partial") {
    val p = plan(PrepQueries.qShuffleShard)
    assert(p.contains("WindowGroupLimit"),
      "rn<=5 head sample must push a group limit below the window")
    assert(p.contains("partial_"), "per-shard stats must map-side combine")
  }

  test("q_funnel / q_cohort_retention: no Window over raw events") {
    for (q <- Seq(TimeSeriesQueries.qFunnel, TimeSeriesQueries.qCohortRetention)) {
      val p = plan(q)
      assert(!p.contains("WindowExec") && !"\\bWindow\\b".r.findFirstIn(p).isDefined,
        s"${q.name}: event analytics must stay aggregate-only, never window the raw stream")
    }
  }

  test("q_integral: lag window partitions by (series, day) — segment-bounded sorts") {
    val p = plan(TimeSeriesQueries.qIntegral)
    assert(p.contains("hashpartitioning(event_type") && p.contains("day"),
      "integral window must key on (event_type, day), never a whole series in one task")
  }

  test("q_gopher_filter / q_bpe_pairs read only the text column") {
    val g = plan(TextQueries.qGopherFilter)
    assert(g.contains("ReadSchema: struct<doc_id:bigint,text:string>")
      || g.contains("ReadSchema: struct<text:string,doc_id:bigint>"),
      "gopher filter must read only (doc_id, text)")
    val b = plan(TextQueries.qBpePairs)
    assert(b.contains("ReadSchema: struct<text:string>"), "bpe pairs must read only `text`")
  }

  test("q_semdedup: pair search is a keyed equi-join on cell — never cartesian") {
    val df = SimilarityQueries.qSemDedup.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"),
      "within-cluster pair join must equi-join on the cell id")
    // the only nested-loop is the 8-row centroid broadcast (assignment);
    // the corpus-sized pair join must be hash/merge on cell
    assert(p.contains("cell"))
  }

  test("q_ewma: one Window pass for all taps, keyed by series") {
    val p = plan(TimeSeriesQueries.qEwma)
    assert("\\bWindow\\b".r.findAllIn(p).size === 1,
      s"all ${TimeSeriesQueries.EwmaTaps} lag taps must evaluate in ONE window pass")
    assert(p.contains("hashpartitioning(event_type"),
      "EWMA window must partition by the series key")
  }

  test("q_postings: reads only (doc_id, text); posting assembly after rank cap") {
    val p = plan(RankQueries.qPostings)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>")
      || p.contains("ReadSchema: struct<text:string,doc_id:bigint>"),
      "postings must read only (doc_id, text)")
    assert(p.contains("collect_list"))
  }

  test("q_pagerank: dims broadcast; fact join keyed — no cartesian fact work") {
    val df = GraphQueries.qPagerank.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), "customer/supplier/nation dims must broadcast")
    assert(!p.contains("CartesianProduct"),
      "only the 1-row |V| stat may nested-loop; fact joins must stay keyed")
  }

  test("q_ship_priority: broadcast segment dim, pushed dates, top-10 never global-sorts") {
    val p = plan(CoreQueries.qShipPriority)
    assert(p.contains("BroadcastHashJoin"), "filtered customer dim must broadcast")
    assert(p.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate")
      || p.contains("LessThan(o_orderdate"), "order-date bound must reach the orders scan")
    assert(p.contains("GreaterThan(l_shipdate"), "ship-date bound must reach the lineitem scan")
    assert(p.contains("TakeOrderedAndProject"), "top-10 must not global-sort")
  }

  test("q_local_volume: all dims broadcast; order-date band pushed to the scan") {
    val p = plan(CoreQueries.qLocalVolume)
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("GreaterThanOrEqual(o_orderdate") && p.contains("LessThan(o_orderdate"),
      "order-date band must reach the orders scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_winnow: narrow per-row selection — reads only (doc_id, text), no joins") {
    val p = plan(TextQueries.qWinnow)
    assert(p.contains("ReadSchema: struct<doc_id:bigint,text:string>")
      || p.contains("ReadSchema: struct<text:string,doc_id:bigint>"),
      "winnowing must read only (doc_id, text)")
    assert(!p.contains("Join"), "fingerprint selection never leaves the row")
  }

  test("q_cooccurrence: top-k plans as TakeOrderedAndProject; N broadcast") {
    val p = plan(RankQueries.qCooccurrence)
    assert(p.contains("TakeOrderedAndProject"), "PMI top-k must not global-sort")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      "the single-row N must ride a broadcast")
  }

  test("q_random_projection: narrow per-row map — no joins, no pre-sort shuffle") {
    val p = plan(SimilarityQueries.qRandomProjection)
    assert(!p.contains("Join"), "projection never leaves the row")
    assert(p.contains("dot_product"), "projections must use the codegen dot loop")
  }

  test("minhash_hex: generated code, not interpreted fallback") {
    import org.apache.spark.sql.functions._
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), graft.text.TextFunctions.tokens(col("text")).as("w"))
      .select(col("doc_id"), graft.text.TextFunctions.shinglesOf(col("w")).as("sh"))
      .select(col("doc_id"), graft.expressions.MinHashHex.minhashHex(col("sh"), 0).as("h0"))
    val p = docs.queryExecution.executedPlan.toString
    assert(p.contains("*("), "minhash stage fell out of whole-stage codegen")
    assert(docs.filter(col("h0").isNotNull).count() > 0)
  }

  test("q_fault_supplier: EXISTS/NOT EXISTS decorrelate to semi + anti joins") {
    val p = plan(CoreQueries.qFaultSupplier)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "correlated EXISTS must plan a left-semi join")
    assert(p.contains("LeftAnti"), "correlated NOT EXISTS must plan a left-anti join")
    assert(p.contains("TakeOrderedAndProject"), "ORDER BY + LIMIT 20 must plan top-k")
  }

  test("q_dominant_supplier: IN + correlated HAVING decorrelate to aggregate + semi join") {
    val p = plan(CoreQueries.qDominantSupplier)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftSemi"), "the IN must plan a left-semi join")
    assert(p.contains("HashAggregate"),
      "the per-part total must run as an aggregate, not per-row re-execution")
  }

  test("q_nation_volume: both nation roles broadcast; no cartesian") {
    val p = plan(CoreQueries.qNationVolume)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "dual-role nation dims must broadcast")
  }

  test("q_product_profit: star join broadcasts dims; partial agg on profit") {
    val p = plan(CoreQueries.qProductProfit)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("partial_"), "profit sum must combine map-side")
  }

  test("q_top_supplier: scalar max subquery plans once, not per row") {
    val p = plan(CoreQueries.qTopSupplier)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("Subquery") || p.contains("ReusedSubquery"),
      "the max(total_revenue) must plan as a one-row subquery, re-executed never")
    assert(p.contains("HashAggregate"), "revenue view must aggregate with partials")
  }

  test("q_global_opportunity: NOT EXISTS decorrelates to an anti join") {
    val p = plan(CoreQueries.qGlobalOpportunity)
    assert(!p.contains("CartesianProduct"))
    assert(p.contains("LeftAnti"), "correlated NOT EXISTS must plan a left-anti join")
  }

  test("q_sparse_cosine: pair generation is an equi-join on the gram key") {
    val p = plan(DedupQueries.qSparseCosine)
    graft.ScratchCache.releaseAll()
    assert(!p.contains("CartesianProduct"))
    // the pair join must be HASH-keyed on the gram — a nested-loop pair
    // join would mean the a.t = b.t key fell out of the condition. (The
    // plan's one BroadcastNestedLoopJoin is the intentional single-ROW
    // corpus-count crossJoin feeding the df cap, not the pair join.)
    val pairJoin = p.linesIterator.exists(l =>
      l.contains("HashJoin [t#") && l.contains("doc_id") && l.contains("<"))
    assert(pairJoin, "inverted-index pair join must be a hash equi-join on t " +
      "with the doc_id < doc_id tie-break as residual")
  }

  test("q_cms_topk: sketch broadcasts; exact top-k caps with a group limit") {
    val p = plan(StatsQueries.qCmsTopk)
    assert(p.contains("BroadcastHashJoin"), "the 1 Ki-cell sketch must broadcast")
    // LimitPushDownThroughWindow rewrites rk<=k over the global
    // row_number into TakeOrderedAndProject(limit=k) — per-partition
    // top-k then a single 20-row merge, even stronger than the
    // WindowGroupLimit fallback
    assert(p.contains("TakeOrderedAndProject") || p.contains("WindowGroupLimit"),
      "rk<=k must cap the vocabulary sort before the global merge")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_returned_customers: pushed filters + broadcast dims + top-k, no global sort") {
    val p = plan(StarQueries.qReturnedCustomers)
    assert(p.contains("EqualTo(l_returnflag,R)"), "returnflag must reach the lineitem scan")
    assert(p.contains("GreaterThanOrEqual(o_orderdate"), "date slice must reach the orders scan")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("TakeOrderedAndProject"), "LIMIT over the aggregate must be per-partition top-k")
  }

  test("q_market_share: part filter pushed; every dim broadcast; no cartesian") {
    val p = plan(StarQueries.qMarketShare)
    assert(p.contains("EqualTo(p_type,STANDARD)"), "p_type filter must reach the part scan")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("CartesianProduct"))
  }

  test("q_big_orders: HAVING-IN plans a semi join against the aggregated fact") {
    val p = plan(StarQueries.qBigOrders)
    assert(p.contains("LeftSemi"), "o_orderkey IN (...HAVING...) must be a left-semi join")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_part_variety: NOT IN plans an anti join, sizes pushed to the part scan") {
    val p = plan(StarQueries.qPartVariety)
    assert(p.contains("LeftAnti"), "NOT IN over non-null keys must plan an anti join")
    assert(p.contains("In(p_size"), "size set must reach the part scan")
  }

  test("q_concurrency: the boundary sweep windows by day — only the tiny day-carry is global") {
    val df = TimeSeriesQueries.qConcurrency.run(spark, sf)
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // every Window over the boundary stream must carry the day partition
    // key; exactly one unpartitioned window is allowed (the #days-row
    // carry cumsum) plus the per-user sessionize windows
    val windows = p.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
    assert(windows.nonEmpty)
    val unpartitioned = windows.count(l => !l.contains("user_id") && !l.contains("day"))
    assert(unpartitioned == 0,
      s"every sweep window must partition on user_id or day:\n${windows.mkString("\n")}")
  }

  test("q_ann_refine: coarse rank caps per query; quantized dot stays codegen'd") {
    val df = SimilarityQueries.qAnnRefine.run(spark, sf)
    df.collect()
    graft.ScratchCache.releaseAll()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "rn_c <= C must push a group limit below the per-query rank sort")
    assert(p.contains("dot_product"), "coarse scores must use the codegen dot kernel")
    assert(!p.contains("CartesianProduct"))
  }

  // the default plan toString elides long PushedFilters lists; the
  // formatted mode prints them in full
  private def formattedPlan(q: Q): String =
    q.run(spark, sf).queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)

  test("q_revenue_scan: every predicate reaches the parquet scan; no shuffle join") {
    val p = formattedPlan(StarQueries.qRevenueScan)
    assert(p.contains("GreaterThanOrEqual(l_shipdate"), "date lower bound must push")
    assert(p.contains("LessThan(l_shipdate"), "date upper bound must push")
    assert(p.contains("GreaterThanOrEqual(l_discount,0.05)"), "discount band must push")
    assert(p.contains("LessThan(l_quantity,24.0)"), "quantity cap must push")
    assert(!p.contains("Join"), "Q6 is a scan + aggregate — no join belongs in this plan")
  }

  test("q_brand_revenue: disjunction's common factors still push to the scans") {
    val p = formattedPlan(StarQueries.qBrandRevenue)
    // Catalyst must extract the implied per-table predicates from the OR
    // of ANDs: the brand/size disjunction pushes whole to the part scan,
    // the quantity disjunction whole to the lineitem scan — even though
    // the cross-table disjunction re-evaluates at the join
    assert(p.contains("Or(Or(And(EqualTo(p_brand,Brand#1)"),
      "per-part disjunction must push to the part scan")
    assert(p.contains("And(GreaterThanOrEqual(l_quantity,1.0),LessThanOrEqual(l_quantity,20.0))"),
      "per-lineitem quantity disjunction must push to the lineitem scan")
    assert(p.contains("BroadcastHashJoin"))
  }

  test("q_random_walk: transition choice is an aggregate, not a per-walk window") {
    val df = GraphQueries.qRandomWalk.run(spark, sf)
    df.collect()
    graft.ScratchCache.releaseAll()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("windowspecdefinition"),
      "argmin per node must be min(struct) aggregation — no window over the edge list")
    assert(p.contains("BroadcastHashJoin"), "walks chain broadcast joins on the current node")
  }

  test("q_skyline: no sort-merge join and no cartesian — prune is broadcast-only") {
    val p = plan(ExtraQueries.qSkyline)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"))
    assert(p.contains("BroadcastHashJoin"), "bucket/price threshold joins must broadcast")
  }

  test("q_link_pred: per-node top-k caps as a group limit; final top-20 avoids a global sort") {
    val df = GraphQueries.qLinkPred.run(spark, sf)
    df.collect()
    graft.ScratchCache.releaseAll()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("WindowGroupLimit"),
      "kNN rank filter must plan as WindowGroupLimit, not a full per-node sort")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_seq_mining: precedence self-join is keyed on (user, session), not a theta join") {
    val df = TimeSeriesQueries.qSeqMining.run(spark, sf)
    df.collect()
    graft.ScratchCache.releaseAll()
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct"))
    // the range/type predicates ride the equi-join as a residual condition
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_hist_rollup: daily binning is a partial aggregate; extents broadcast") {
    val df = StatsQueries.qHistRollup.run(spark, sf)
    df.collect()
    graft.ScratchCache.releaseAll()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("partial_"), "daily histogram must map-side combine")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastExchange"),
      "the single-row extent frame must broadcast")
  }

  test("q_ab_test: one pass — no window, no shuffle beyond the (family, arm) aggregate") {
    val p = plan(StatsQueries.qAbTest)
    assert(!p.contains("windowspecdefinition"), "welch z must come from plain aggregates")
    assert(p.contains("partial_"), "the six sums must map-side combine")
  }

  test("q_gram_matrix: one map-side-combined fold into 4096 cells, no join on the corpus") {
    val p = plan(SimilarityQueries.qGramMatrix)
    assert(p.contains("partial_"), "the outer-product fold must map-side combine")
    assert(p.contains("gram_fold"), "the fold must be the imperative GramFold aggregate")
    assert(!p.contains("SortMergeJoin"), "the only join is the broadcast count")
    assert(!p.contains("windowspecdefinition"))
  }

  test("q_ivf_index_search: candidates scan the PERSISTED index, probes broadcast") {
    val p = plan(SimilarityQueries.qIvfIndexSearch)
    assert(p.contains("graft_store"), "the corpus side must be the persisted index parquet")
    assert(p.contains("BroadcastHashJoin"), "probe cells join the index as a broadcast hash")
    // query-time cell scoring runs on the 16 query vectors only — the
    // corpus-wide assignment window must not appear (it lives in the build)
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_pq_index_search: the corpus side is the stored code table, LUT broadcast") {
    val p = plan(SimilarityQueries.qPqIndexSearch)
    assert(p.contains("graft_store"), "codes must come from the persisted index parquet")
    assert(p.contains("BroadcastHashJoin"), "the query LUT must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_ivfpq_index_search: codes scan the persisted cell-bucketed index, probes+LUT broadcast") {
    val p = plan(SimilarityQueries.qIvfPqIndexSearch)
    assert(p.contains("graft_store"), "codes must come from the persisted index parquet")
    assert(p.contains("BroadcastHashJoin"), "the probe list and query LUT must broadcast")
    assert(!p.contains("SortMergeJoin"))
  }

  test("q_compaction_exec: the rollup reads the compacted files, map-side combined") {
    val p = plan(LayoutQueries.qCompactionExec)
    assert(p.contains("graft_store"), "the rollup must scan the rewritten layout")
    assert(p.contains("partial_"), "per-group totals must map-side combine")
  }

  test("q_cdc_dedup: per-row chunking — no joins, no windows, chunk fold map-side combined") {
    val p = plan(DedupQueries.qCdcDedup)
    assert(!p.contains("Join"), "chunking is narrow per-row work")
    assert(!p.contains("windowspecdefinition"))
    assert(p.contains("partial_"))
  }

  test("q_weighted_quantile: windows run on the distinct-value frame, fact agg map-side") {
    val p = plan(StatsQueries.qWeightedQuantile)
    assert(p.contains("partial_"), "the fact groupBy must map-side combine")
    assert(p.contains("windowspecdefinition"), "cumulative mass is a value-frame window")
  }

  test("q_gini: the rank window partitions by nation on the customer-grain frame") {
    val p = plan(InferenceQueries.qGini)
    assert(p.contains("windowspecdefinition(nk"), "row_number must partition by nation key")
    assert(p.contains("BroadcastHashJoin"), "customer and nation stay broadcast dims")
  }

  test("q_xcorr_leadlag: moments are plain aggregates over the day-grain join") {
    val p = plan(TimeSeriesQueries.qXcorrLeadlag)
    assert(p.contains("partial_"), "the daily cent sums must map-side combine")
    assert(!p.contains("CartesianProduct"), "the lag fan-out joins on day index")
  }

  test("q_spearman: rank maps join back as broadcast hashes; sums map-side combine") {
    val p = plan(StatsQueries.qSpearman)
    assert(p.contains("BroadcastHashJoin"), "value-grain rank maps must broadcast")
    assert(p.contains("partial_"), "the five moment sums must map-side combine")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_hll_distinct: register fold is a partial aggregate, no window, no sort join") {
    val p = plan(StatsQueries.qHllDistinct)
    assert(p.contains("partial_"), "register max must map-side combine")
    assert(!p.contains("Window"), "HLL is windowless — pure monoid folds")
  }

  test("q_dbscan_grid: adjacency is an equi hash join, never BNL/cartesian") {
    val p = plan(SimilarityQueries.qDbscanGrid)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      "9-offset explode must keep the neighbor join an equi-join")
    assert(!p.contains("CartesianProduct"))
  }

  test("q_kneser_ney: LM statistics broadcast against the bigram frame; top-k avoids global sort") {
    val p = plan(RankQueries.qKneserNey)
    assert(p.contains("BroadcastHashJoin"), "ctx/pre stat maps must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "top-50 must not globally sort")
  }

  test("q_audio_fingerprint: fingerprint count map-side combines; top-40 is TakeOrdered") {
    val p = plan(TextQueries.qAudioFingerprint)
    assert(p.contains("partial_"), "landmark counts must map-side combine")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("q_assortativity: degree pickup broadcasts; edge sums are one partial aggregate") {
    val p = plan(GraphQueries.qAssortativity)
    assert(p.contains("BroadcastHashJoin"), "vertex-grain degree map must broadcast")
    assert(p.contains("partial_"))
    assert(!p.contains("CartesianProduct") || p.contains("BroadcastNestedLoopJoin"),
      "only the 1-row nv/tot extent may cross")
  }

  test("q_qb_top: the top-3 rank window plans as WindowGroupLimit") {
    val p = plan(SolarQueries.qQbTop)
    assert(p.contains("WindowGroupLimit"),
      "rn<=3 must push a per-series group limit below the window (no full per-series rank)")
  }

  test("q_qb_histogram: bin counts are ONE map-side-combined aggregate, no explode") {
    val p = plan(SolarQueries.qQbHistogram)
    assert(p.contains("partial_"), "per-bin conditional sums must map-side combine")
    assert(!p.contains("Generate explode(") || p.contains("posexplode"),
      "fact rows must not explode; only the 5-cell partial unpivots")
  }
}
