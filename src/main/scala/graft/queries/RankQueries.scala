package graft.queries

import graft.Tables._
import graft.text.TextFunctions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Relevance / language-model scoring operators over `documents` — the
  * ranking and model-based-quality half of a training-data pipeline:
  * TF-IDF term weighting, BM25 retrieval scoring, bigram-LM perplexity
  * scoring, within-document repetition measurement, and deterministic
  * train/val/test splitting.
  *
  * Scale design: every operator is explode → hash-shuffle aggregate →
  * (small) join, the classic inverted-index shape. Corpus-level statistics
  * (document count, vocabulary size, average doc length) are single-row
  * aggregates crossed in via broadcast — never a driver collect. Float
  * parity with the DuckDB oracle: products/logs are computed with the
  * same association order on both sides and only rounded at the output
  * edge; per-document log-prob sums accumulate in fixed-point integers
  * (order-independent, so a plain codegen sum is bit-deterministic — see
  * [[qBigramLm]]).
  */
object RankQueries {

  /** Word bigrams from a materialized token array (guarded like
    * [[graft.text.TextFunctions.shinglesOf]]: <2 tokens → empty, matching
    * DuckDB's empty generate_series(1, 0)). */
  private def bigramsOf(w: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(
      size(w) >= 2,
      transform(
        sequence(lit(1), size(w) - 1),
        i => concat_ws(" ", element_at(w, i), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))

  private val bigramsSql =
    s"list_transform(generate_series(1, len($tokensSql) - 1), i -> $tokensSql[i] || ' ' || $tokensSql[i+1])"

  /** TF-IDF: top-3 terms per document, idf = ln((N+1)/(df+1)).
    *
    * One shuffle on (doc_id, term) for tf, one on term for df, a term-key
    * join (1:N fan-out — no quadratic bucket even on stop-words), and a
    * per-document window for the top-k. N arrives via a broadcast
    * single-row aggregate, not a driver collect. */
  val qTfidf: Q = Q.sql(
    "q_tfidf",
    s"""WITH toks AS (
       |  SELECT doc_id, unnest($tokensSql) AS term FROM documents
       |), tf AS (
       |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks GROUP BY 1, 2
       |), df AS (
       |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
       |), n AS (SELECT count(*) AS n FROM documents),
       |scored AS (
       |  SELECT tf.doc_id, tf.term, tf.tf, df.df,
       |    tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) AS s,
       |    row_number() OVER (PARTITION BY tf.doc_id
       |      ORDER BY tf.tf * ln((n.n + 1.0) / (df.df + 1.0)) DESC, tf.term) AS rk
       |  FROM tf JOIN df USING (term) CROSS JOIN n
       |)
       |SELECT doc_id, term, tf, df, CAST(rk AS BIGINT) AS rk, round(s, 6) AS tfidf
       |FROM scored WHERE rk <= 3
       |ORDER BY doc_id, rk""".stripMargin,
    doc = "TF-IDF top-3 terms per doc (inverted-index shuffles + top-k window)") { (s, d) =>
    val docs = documents(s, d).transform(graft.Tables.spread(s, _))
    val toks = docs.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n"))
    val score = col("tf") * log((col("n") + 1.0) / (col("df") + 1.0))
    val w = Window.partitionBy(col("doc_id")).orderBy(score.desc, col("term"))
    tf.join(dfT, "term")
      .crossJoin(broadcast(n))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rk"),
        round(score, 6).as("tfidf"))
      .orderBy("doc_id", "rk")
  }

  /** BM25 (k1 = 1.2, b = 0.75) of a fixed 3-term query, top-50 documents.
    *
    * idf = ln(1 + (N - df + 0.5)/(df + 0.5)); per-term scores are summed
    * in FIXED term order (s1 + s2 + s3 via conditional aggregation, not a
    * float sum over an unordered group) so both engines add identically.
    * avgdl / N / df are broadcast single-row aggregates. */
  val qBm25: Q = {
    val terms = Seq("spark", "join", "window")
    val k1 = "1.2"; val b = "0.75"
    def sqlTermScore(t: String) =
      s"""coalesce(max(CASE WHEN term = '$t' THEN
         |    ln(1 + (n - df + 0.5) / (df + 0.5)) * tf * (1 + $k1)
         |      / (tf + $k1 * (1 - $b + $b * dl / avgdl)) END), 0.0)""".stripMargin
    Q.sql(
      "q_bm25",
      s"""WITH docs AS (
         |  SELECT doc_id, CAST(len($tokensSql) AS BIGINT) AS dl FROM documents
         |), stats AS (
         |  SELECT count(*) AS n, CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM docs
         |), toks AS (
         |  SELECT doc_id, unnest($tokensSql) AS term FROM documents
         |), tf AS (
         |  SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf FROM toks
         |  WHERE term IN (${terms.map(t => s"'$t'").mkString(",")}) GROUP BY 1, 2
         |), df AS (
         |  SELECT term, CAST(count(*) AS BIGINT) AS df FROM tf GROUP BY 1
         |), parts AS (
         |  SELECT tf.doc_id,
         |    ${terms.map(t => s"${sqlTermScore(t)} AS s_$t").mkString(",\n    ")}
         |  FROM tf JOIN df USING (term) JOIN docs ON tf.doc_id = docs.doc_id
         |  CROSS JOIN stats
         |  GROUP BY tf.doc_id
         |)
         |SELECT doc_id, round(${terms.map(t => s"s_$t").mkString(" + ")}, 6) AS bm25
         |FROM parts
         |ORDER BY ${terms.map(t => s"s_$t").mkString(" + ")} DESC, doc_id
         |LIMIT 50""".stripMargin,
      doc = "BM25 top-50 docs for a fixed 3-term query (broadcast corpus stats)") { (s, d) =>
      val docsAll = documents(s, d).transform(graft.Tables.spread(s, _))
      val docs = docsAll.select(col("doc_id"), size(tokens(col("text"))).cast("long").as("dl"))
      val stats = docs.agg(
        count(lit(1)).as("n"),
        (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
      val toks = docsAll.select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      val tf = toks
        .filter(col("term").isInCollection(terms))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfT = tf.groupBy("term").agg(count(lit(1)).as("df"))
      val termScore = log(lit(1) + (col("n") - col("df") + 0.5) / (col("df") + 0.5)) *
        col("tf") * (lit(1) + lit(1.2)) /
        (col("tf") + lit(1.2) * (lit(1) - lit(0.75) + lit(0.75) * col("dl") / col("avgdl")))
      val termCols = terms.map(t =>
        coalesce(max(when(col("term") === t, termScore)), lit(0.0)).as(s"s_$t"))
      val parts = tf.join(dfT, "term")
        .join(docs, "doc_id")
        .crossJoin(broadcast(stats))
        .groupBy("doc_id")
        .agg(termCols.head, termCols.tail: _*)
      val total = terms.map(t => col(s"s_$t")).reduce(_ + _)
      parts
        .select(col("doc_id"), round(total, 6).as("bm25"), total.as("raw"))
        .orderBy(col("raw").desc, col("doc_id"))
        .limit(50)
        .select(col("doc_id"), col("bm25"))
    }
  }

  /** Bigram language-model scoring — the model-based quality filter: train
    * add-one-smoothed bigram probabilities on the corpus itself, then score
    * every document by its average negative log-likelihood (≈ log
    * perplexity). p(w2|w1) = (c(w1 w2) + 1) / (c(w1·) + V).
    *
    * The per-document Σ ln p accumulates in FIXED-POINT: each bigram's
    * ln p (identical double bits in both engines — same integer counts,
    * same expression tree) is quantized to [[NllQuantum]] nats as a
    * 64-bit integer, and the document score is the integer sum rescaled.
    * Integer addition is associative, so the sum is bit-deterministic
    * under ANY partial-aggregation order — the fold runs as a plain
    * codegen `sum(long)` with map-side combine: no per-document array,
    * no ordering requirement, bounded memory at any document length.
    * (The previous design — a position-ordered sort_array+aggregate fold
    * — was deterministic too, but buffered whole documents inside one
    * ObjectHashAggregate group and cost 2 extra aggregation passes.)
    * The quantization error (≤ 5e-10 · n_bigrams, i.e. ≤ 5e-10 after the
    * ÷ n_bigrams) sits three orders below the round-6 output edge; both
    * engines compute the same quantized definition, so parity is exact
    * regardless. Sums ride in decimal/hugeint (no overflow for any
    * document parquet can hold). */
  val NllQuantum = 1e9

  /** Shared DuckDB CTE chain for the bigram-LM: per-document
    * (doc_id, lang, n_bigrams, s = ordered Σ ln p). `lang` rides along
    * (functionally dependent on doc_id) so [[qPplBucket]] can group by it. */
  private val nllCtesSql =
    s"""bg AS (
       |  SELECT doc_id, lang, unnest($bigramsSql) AS g FROM documents
       |), c2 AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS c2 FROM bg GROUP BY 1
       |), c1 AS (
       |  SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c2) AS BIGINT) AS c1
       |  FROM c2 GROUP BY 1
       |), v AS (
       |  SELECT count(DISTINCT t) AS v FROM (
       |    SELECT unnest($tokensSql) AS t FROM documents)
       |), scored AS (
       |  SELECT bg.doc_id, bg.lang,
       |    CAST(round(ln((c2.c2 + 1.0) / (c1.c1 + v.v)) * $NllQuantum, 0) AS BIGINT) AS li
       |  FROM bg JOIN c2 USING (g)
       |    JOIN c1 ON split_part(bg.g, ' ', 1) = c1.w1
       |    CROSS JOIN v
       |), folded AS (
       |  SELECT doc_id, lang, CAST(count(*) AS BIGINT) AS n_bigrams,
       |    CAST(sum(li) AS DOUBLE) / $NllQuantum AS s
       |  FROM scored GROUP BY doc_id, lang
       |)""".stripMargin

  /** Spark side of [[nllCtesSql]]: doc-level (doc_id, lang, n_bigrams, s),
    * with the position-ordered log-prob fold documented on [[qBigramLm]].
    *
    * Join shape: the log-prob is attached per DISTINCT bigram first
    * (c2 ⋈ c1 ⨯ v — a vocabulary²-bounded frame), and the per-occurrence
    * stream joins that table ONCE on `g`, with the vocabulary side
    * BROADCAST explicitly. The hint matters twice over: the gram table is
    * the trained LM — vocabulary-bounded, orders of magnitude under the
    * corpus — so it is the correct build side at any scale, and without
    * the hint Catalyst's static size estimate (which cannot see through
    * posexplode) picked the OCCURRENCE stream as the build side — a
    * driver-side broadcast of the whole exploded corpus (measured: the
    * entire GC churn of this query, and a flat OOM at real scale).
    *
    * The per-document accumulation is the fixed-point integer sum
    * documented on [[qBigramLm]] — a codegen HashAggregate with map-side
    * partials; no aggregation buffer ever holds a document. */
  /** The TRAINED bigram LM table: one row per distinct gram with its
    * fixed-point log-prob `li` (add-one smoothing over the corpus) —
    * the artifact [[qBigramLm]] consumes inline and [[qLmIndexScore]]
    * persists. Vocabulary²-bounded (Heaps-sublinear in corpus size). */
  private[queries] def lmGrams(docs: DataFrame): DataFrame = {
    val bg = docs
      .select(tokens(col("text")).as("w"))
      .select(explode(bigramsOf(col("w"))).as("g"))
    val c2 = bg.groupBy("g").agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(split(col("g"), " ").getItem(0).as("w1")).agg(sum(col("c2")).as("c1"))
    val v = docs
      .select(explode(tokens(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val lp = log((col("c2") + 1.0) / (col("c1") + col("v")))
    c2
      .join(c1, split(col("g"), " ").getItem(0) === col("w1"))
      .crossJoin(broadcast(v))
      .select(col("g"), round(lp * NllQuantum, 0).cast("long").as("li"))
  }

  /** Per-doc NLL scoring of a (g, li) gram table against the per-
    * occurrence bigram stream — shared by the inline and persisted-LM
    * gates so their outputs are identical by construction. `hintLm`
    * broadcasts the LM side explicitly (needed when it derives from
    * posexplode and Catalyst's static estimate would pick the corpus
    * side — see [[nllPerDoc]]); the store-read path passes false and
    * lets AQE decide from the REAL file size, the scale-safe default. */
  private[graft] def nllScore(docs: DataFrame, lm: DataFrame, hintLm: Boolean): DataFrame = {
    val bg = docs
      .select(col("doc_id"), col("lang"), tokens(col("text")).as("w"))
      .select(col("doc_id"), col("lang"), explode(bigramsOf(col("w"))).as("g"))
    bg
      .join(if (hintLm) broadcast(lm) else lm, "g")
      .groupBy("doc_id", "lang")
      .agg(
        count(lit(1)).as("n_bigrams"),
        (sum(col("li").cast("decimal(20,0)")).cast("double") / NllQuantum).as("s"))
  }

  private[queries] def nllPerDoc(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).transform(graft.Tables.spread(s, _))
    // decimal(20,0) sum inside nllScore: exact at any document length (a
    // long sum could wrap past ~2e8 bigrams in one doc); DuckDB's BIGINT
    // sum is hugeint, also exact — both convert the same integer to
    // double at the end
    nllScore(docs, lmGrams(docs), hintLm = true)
  }

  val qBigramLm: Q = Q.sql(
    "q_bigram_lm",
    s"""WITH $nllCtesSql
       |SELECT doc_id, n_bigrams, round(-s / n_bigrams, 6) AS avg_nll
       |FROM folded
       |ORDER BY doc_id""".stripMargin,
    doc = "bigram-LM perplexity scoring (add-one smoothing, ordered log-prob fold)") { (s, d) =>
    nllPerDoc(s, d)
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** The bigram LM PERSISTED — the language-model member of the
    * store-backed artifact family (ANN indexes, BPE tokenizer, dedup
    * bands): CCNet-style pipelines train the scoring LM ONCE (on
    * Wikipedia, in the paper) and score crawls with it for months, so
    * the trained gram table must live on disk, not be re-derived inline
    * per scoring run. Build: [[lmGrams]] (one row per distinct gram,
    * fixed-point log-prob — vocabulary²-bounded) published under the
    * usual stamp/meta freshness bracket. Serve: the per-occurrence
    * bigram stream joins the STORED table — read from parquet, so AQE
    * sees the REAL size and picks the join side itself (the inline path
    * must hint because Catalyst cannot size a posexplode subtree; from
    * disk the hint would just be a scale hazard). Output row-identical
    * to [[qBigramLm]] by shared oracle and construction (`li` is stored
    * as an exact LONG); identity + artifact layout pinned in
    * Round12OpsSpec. */
  val qLmIndexScore: Q = Q.sql(
    "q_lm_index_score",
    s"""WITH $nllCtesSql
       |SELECT doc_id, n_bigrams, round(-s / n_bigrams, 6) AS avg_nll
       |FROM folded
       |ORDER BY doc_id""".stripMargin,
    doc = "bigram-LM scoring served from the PERSISTED trained gram table") { (s, d) =>
    import graft.operators.IndexStore
    val dir = IndexStore.dirFor(d, "lm")
    val stamp = IndexStore.sourceStamp(s"$d/documents.parquet")
    val docs = documents(s, d).transform(graft.Tables.spread(s, _))
    if (!IndexStore.isFresh(s, dir, stamp)) {
      val n = documents(s, d).count()
      IndexStore.publish(s, dir, n, Seq(("grams", lmGrams(docs), Nil)), stamp)
    }
    val lm = IndexStore.read(s, dir, "grams", "g STRING, li LONG")
    nllScore(docs, lm, hintLm = false)
      .select(col("doc_id"), col("n_bigrams"),
        round(-col("s") / col("n_bigrams"), 6).as("avg_nll"))
      .orderBy("doc_id")
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, "CCNet:
    * Extracting High Quality Monolingual Datasets from Web Crawl Data"):
    * score every document with the corpus bigram LM, then split EACH
    * LANGUAGE at its own NLL tertiles into head/middle/tail — the
    * language-balanced quality partition a crawl pipeline trains from.
    *
    * Scale design: tertile cut points come from
    * [[graft.operators.Quantiles.exact]] (an approximate bracket, then an
    * exact pick from a per-language band of ~6m/A of its m values)
    * broadcast back for a comparison-only bin assignment — a
    * per-language Window sort over every doc (the q_ntile hazard) never
    * exists in the plan. Parity: bucketing compares the ROUNDED score,
    * i.e. exactly the bits the q_bigram_lm gate hash-pins; min/max per
    * bucket are order-independent. */
  val qPplBucket: Q = Q.sql(
    "q_ppl_bucket",
    s"""WITH $nllCtesSql,
       |nll AS (
       |  SELECT doc_id, lang, round(-s / n_bigrams, 6) AS nll FROM folded
       |), c AS (
       |  SELECT lang, quantile_cont(nll, 1.0/3) AS c1, quantile_cont(nll, 2.0/3) AS c2
       |  FROM nll GROUP BY 1
       |), b AS (
       |  SELECT nll.lang,
       |    1 + CAST(nll.nll > c.c1 AS INT) + CAST(nll.nll > c.c2 AS INT) AS bin,
       |    nll.nll AS nll
       |  FROM nll JOIN c ON nll.lang = c.lang
       |)
       |SELECT lang,
       |  CASE WHEN bin = 1 THEN 'head' WHEN bin = 2 THEN 'middle' ELSE 'tail' END AS bucket,
       |  CAST(count(*) AS BIGINT) AS n_docs,
       |  min(nll) AS lo, max(nll) AS hi
       |FROM b GROUP BY lang, bin
       |ORDER BY lang, bucket""".stripMargin,
    doc = "CCNet perplexity buckets: per-language head/middle/tail at NLL tertiles") { (s, d) =>
    // the scored frame feeds BOTH the cut-point computation and the bin
    // assignment — scratch-cached so the LM pipeline runs once, not twice
    val nll = nllPerDoc(s, d)
      .select(col("doc_id"), col("lang"), round(-col("s") / col("n_bigrams"), 6).as("nll"))
      .transform(graft.ScratchCache.tracked)
    val cuts = graft.operators.Quantiles
      .exact(nll, "lang", "nll", Seq(1.0 / 3, 2.0 / 3), Seq("c1", "c2"))
      .select(col("lang").as("ck"), col("c1"), col("c2"))
    val bin = (lit(1)
      + (col("nll") > col("c1")).cast("int")
      + (col("nll") > col("c2")).cast("int")).cast("int")
    nll
      .join(broadcast(cuts), col("lang") === col("ck"))
      .select(col("lang"), bin.as("bin"), col("nll"))
      .groupBy(col("lang"), col("bin"))
      .agg(count(lit(1)).as("n_docs"), min(col("nll")).as("lo"), max(col("nll")).as("hi"))
      .select(
        col("lang"),
        when(col("bin") === 1, "head")
          .when(col("bin") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"), col("lo"), col("hi"))
      .orderBy("lang", "bucket")
  }

  val ClsBuckets = 512L
  val ClsMod = 97L

  /** Hashed linear classifier inference — the fastText-shaped quality gate
    * (Joulin et al. 2016, "Bag of Tricks for Efficient Text
    * Classification"): every token hashes into one of [[ClsBuckets]]
    * feature buckets, a fixed per-bucket weight table scores the document
    * by its mean token weight, and the sign decides keep/drop. The weight
    * table here is the deterministic surrogate w(b) = b mod [[ClsMod]] − 48
    * standing in for trained weights — a real deployment broadcasts the
    * learned vector; the dataflow is identical.
    *
    * Scale design: one narrow explode + ONE doc_id hash-aggregate, no
    * joins (the weight is a pure function of the bucket, so the
    * "broadcast" costs zero bytes). Parity: scores accumulate as exact
    * BIGINTs (order-independent by construction) with a single double
    * division at the output edge — no `round()` needed anywhere. */
  val qQualityClassifier: Q = Q.sql(
    "q_quality_classifier",
    s"""WITH tok AS (SELECT doc_id, unnest($tokensSql) AS t FROM documents),
       |f AS (
       |  SELECT doc_id,
       |    (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % $ClsBuckets) % $ClsMod - 48 AS w
       |  FROM tok
       |), sc AS (
       |  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       |    CAST(sum(w) AS BIGINT) AS score_int
       |  FROM f GROUP BY doc_id
       |)
       |SELECT doc_id, n_tokens, score_int,
       |  CAST(score_int AS DOUBLE) / n_tokens AS margin,
       |  CASE WHEN score_int > 0 THEN 'keep' ELSE 'drop' END AS label
       |FROM sc ORDER BY doc_id""".stripMargin,
    doc = "fastText-shaped hashed linear classifier (integer-exact scoring, zero joins)") {
    (s, d) =>
      val w = conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long") % ClsBuckets % ClsMod - 48
      documents(s, d)
        .transform(graft.Tables.spread(s, _))
        .select(col("doc_id"), explode(tokens(col("text"))).as("t"))
        .select(col("doc_id"), w.as("w"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum(col("w")).cast("long").as("score_int"))
        .select(
          col("doc_id"), col("n_tokens"), col("score_int"),
          (col("score_int").cast("double") / col("n_tokens")).as("margin"),
          when(col("score_int") > 0, "keep").otherwise("drop").as("label"))
        .orderBy("doc_id")
  }

  /** Linear-probe feature dimension (hashed buckets; +1 bias). */
  val ProbeDim = 8
  /** Gradient-descent step size (full-batch, squared loss). */
  val ProbeEta = 0.0003
  /** Weight fixed-point scale: w = wq / 1e6. */
  val ProbeScale = 1000000L

  /** Distributed linear-probe TRAINING — the companion to
    * [[qQualityClassifier]]'s inference: learn the weight vector itself
    * with 3 full-batch gradient-descent iterations of a least-squares
    * probe (x = [[ProbeDim]] hashed token-count buckets + bias,
    * y = the doc's language-is-'en' label). Linear probes over cheap
    * features are the standard first quality classifier a data team
    * trains (fastText-style); squared loss keeps every quantity
    * polynomial, which is what makes distributed training bit-exact.
    *
    * Scale design: one explode + ONE conditional aggregation builds the
    * n×9 feature frame; each GD iteration is ONE crossJoin(broadcast)
    * of the 1-row weight frame plus ONE aggregation producing 9 gradient
    * sums — weights never touch the driver, and nothing scales with
    * vocabulary. Parity: margins mq = Σ wq·x, residuals r = mq − S·y,
    * gradients Σ x·r and losses Σ r² are ALL exact integers (weights
    * live in 1e-6 fixed point), so partial-aggregation order cannot
    * matter; the single rounding per weight per iteration —
    * round(η·G/n) — is the same correctly-rounded double expression on
    * both engines. Gradient/loss sums accumulate as DECIMAL(38,0) so
    * the arithmetic is overflow-free at any corpus size. */
  val qLinearProbe: Q = {
    val D = ProbeDim
    val xsSql = (0 until D)
      .map(i => s"CAST(sum(CASE WHEN d = $i THEN 1 ELSE 0 END) AS BIGINT) AS x$i")
      .mkString(",\n      ")
    def mqSql = (0 until D).map(i => s"x$i * w$i").mkString(" + ") + s" + x$D * w$D"
    val gradSql = (0 to D)
      .map(i => s"CAST(sum(CAST(x$i * r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS g$i")
      .mkString(",\n    ")
    def stepSql(t: Int) =
      s"""m$t AS (
         |  SELECT doc_id, y, ${(0 to D).map(i => s"x$i").mkString(", ")},
         |    ($mqSql) - $ProbeScale * y AS r
         |  FROM xy CROSS JOIN w${t - 1}
         |), g$t AS (
         |  SELECT $gradSql,
         |    CAST(sum(CAST(r * r AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS lq,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM m$t
         |), w$t AS (
         |  SELECT ${(0 to D).map(i =>
             s"w$i - CAST(round(CAST(g$i AS DOUBLE) * $ProbeEta / n, 0) AS BIGINT) AS w$i")
             .mkString(",\n    ")}
         |  FROM g$t CROSS JOIN w${t - 1}
         |)""".stripMargin
    val sql =
      s"""WITH tok AS (SELECT doc_id, lang, unnest($tokensSql) AS t FROM documents),
         |b AS (
         |  SELECT doc_id, lang,
         |    CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % $D AS d
         |  FROM tok
         |), xy AS (
         |  SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS y,
         |      $xsSql,
         |    CAST(1 AS BIGINT) AS x$D
         |  FROM b GROUP BY doc_id, lang
         |), w0 AS (SELECT ${(0 to D).map(i => s"CAST(0 AS BIGINT) AS w$i").mkString(", ")}),
         |${stepSql(1)},
         |${stepSql(2)},
         |${stepSql(3)},
         |fin AS (
         |  SELECT xy.y, ($mqSql) AS mq FROM xy CROSS JOIN w3
         |), score AS (
         |  SELECT
         |    CAST(sum(CAST((mq - $ProbeScale * y) * (mq - $ProbeScale * y) AS DECIMAL(38,0)))
         |      AS DECIMAL(38,0)) AS lq,
         |    CAST(sum(CASE WHEN (CASE WHEN 2 * mq > $ProbeScale THEN 1 ELSE 0 END) = y
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_correct,
         |    CAST(count(*) AS BIGINT) AS n
         |  FROM fin
         |)
         |SELECT s.n, s.n_correct,
         |  round(CAST(g1.lq AS DOUBLE) / (2e12 * s.n), 9) AS mse0,
         |  round(CAST(g2.lq AS DOUBLE) / (2e12 * s.n), 9) AS mse1,
         |  round(CAST(g3.lq AS DOUBLE) / (2e12 * s.n), 9) AS mse2,
         |  round(CAST(s.lq AS DOUBLE) / (2e12 * s.n), 9) AS mse3,
         |  ${(0 to D).map(i => s"w3.w$i AS w$i").mkString(", ")}
         |FROM score s CROSS JOIN g1 CROSS JOIN g2 CROSS JOIN g3 CROSS JOIN w3""".stripMargin
    Q.sql(
      "q_linear_probe",
      sql,
      doc = "distributed linear-probe training: 3 exact fixed-point GD iterations") { (s, d) =>
      val bucket = conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long") % D
      val xs = (0 until D).map(i =>
        sum(when(col("d") === i, 1L).otherwise(0L)).cast("long").as(s"x$i"))
      val xy = graft.ScratchCache.tracked(
        documents(s, d)
          .transform(graft.Tables.spread(s, _))
          .select(col("doc_id"), col("lang"), explode(tokens(col("text"))).as("t"))
          .select(col("doc_id"), col("lang"), bucket.as("d"))
          .groupBy(col("doc_id"), col("lang"))
          .agg(xs.head, xs.tail: _*)
          .select(
            (when(col("lang") === "en", 1L).otherwise(0L)).as("y") +:
              (0 until D).map(i => col(s"x$i")) :+ lit(1L).as(s"x$D"): _*))
      val mq = (0 to D).map(i => col(s"x$i") * col(s"w$i")).reduce(_ + _)
      // one GD step: returns (newWeights 1-row frame, quantized loss frame)
      def step(w: DataFrame): (DataFrame, DataFrame) = {
        val m = xy.crossJoin(broadcast(w))
          .select(col("y") +: (0 to D).map(i => col(s"x$i")) :+
            (mq - lit(ProbeScale) * col("y")).as("r"): _*)
        val g = m.agg(
          sum((col("x0") * col("r")).cast("decimal(38,0)")).cast("decimal(38,0)").as("g0"),
          (1 to D).map(i =>
            sum((col(s"x$i") * col("r")).cast("decimal(38,0)")).cast("decimal(38,0)").as(s"g$i")) ++
            Seq(
              sum((col("r") * col("r")).cast("decimal(38,0)")).cast("decimal(38,0)").as("lq"),
              count(lit(1)).as("n")): _*)
        val w2 = g.crossJoin(broadcast(w)).select((0 to D).map(i =>
          (col(s"w$i") -
            round(col(s"g$i").cast("double") * ProbeEta / col("n"), 0).cast("long")).as(s"w$i")): _*)
        (w2, g.select(col("lq"), col("n")))
      }
      val w0 = s.range(1).select((0 to D).map(i => lit(0L).as(s"w$i")): _*)
      val (w1, l1) = step(w0)
      val (w2, l2) = step(w1)
      val (w3, l3) = step(w2)
      val fin = xy.crossJoin(broadcast(w3)).select(col("y"), mq.as("mq"))
      val score = fin.agg(
        sum(((col("mq") - lit(ProbeScale) * col("y")) *
          (col("mq") - lit(ProbeScale) * col("y"))).cast("decimal(38,0)"))
          .cast("decimal(38,0)").as("lq"),
        sum(when((lit(2) * col("mq") > ProbeScale).cast("long") === col("y"), 1L)
          .otherwise(0L)).cast("long").as("n_correct"),
        count(lit(1)).as("n"))
      def mse(lq: Column, n: Column) = round(lq.cast("double") / (lit(2e12) * n), 9)
      score
        .crossJoin(broadcast(l1.select(col("lq").as("lq1"))))
        .crossJoin(broadcast(l2.select(col("lq").as("lq2"))))
        .crossJoin(broadcast(l3.select(col("lq").as("lq3"))))
        .crossJoin(broadcast(w3))
        .select(
          Seq(col("n"), col("n_correct"),
            mse(col("lq1"), col("n")).as("mse0"),
            mse(col("lq2"), col("n")).as("mse1"),
            mse(col("lq3"), col("n")).as("mse2"),
            mse(col("lq"), col("n")).as("mse3")) ++
            (0 to D).map(i => col(s"w$i")): _*)
    }
  }

  /** Within-document repetition — the Gopher-style repetition filter:
    * duplicate-bigram fraction and the hottest bigram's count per doc.
    * Integer counts and one exact division; explode + two hash shuffles. */
  val qRepNgram: Q = Q.sql(
    "q_rep_ngram",
    s"""WITH bg AS (
       |  SELECT doc_id, unnest($bigramsSql) AS g FROM documents
       |), cnt AS (
       |  SELECT doc_id, g, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1, 2
       |), per_doc AS (
       |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
       |    CAST(count(*) AS BIGINT) AS n_distinct, CAST(max(c) AS BIGINT) AS top_rep
       |  FROM cnt GROUP BY 1
       |)
       |SELECT d.doc_id,
       |  coalesce(p.n_bigrams, 0) AS n_bigrams,
       |  coalesce(p.n_distinct, 0) AS n_distinct,
       |  CASE WHEN p.n_bigrams > 0
       |    THEN round(CAST(p.n_bigrams - p.n_distinct AS DOUBLE) / p.n_bigrams, 6) END AS dup_frac,
       |  coalesce(p.top_rep, 0) AS top_rep
       |FROM documents d LEFT JOIN per_doc p ON d.doc_id = p.doc_id
       |ORDER BY d.doc_id""".stripMargin,
    doc = "repetition filter: duplicate-bigram fraction per doc") { (s, d) =>
    val docs = documents(s, d).transform(graft.Tables.spread(s, _))
    val cnt = docs
      .select(col("doc_id"), tokens(col("text")).as("w"))
      .select(col("doc_id"), explode(bigramsOf(col("w"))).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
    val perDoc = cnt.groupBy("doc_id").agg(
      sum(col("c")).as("n_bigrams"),
      count(lit(1)).as("n_distinct"),
      max(col("c")).as("top_rep"))
    docs.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_distinct"), lit(0L)).as("n_distinct"),
        when(col("n_bigrams") > 0,
          round((col("n_bigrams") - col("n_distinct")).cast("double") / col("n_bigrams"), 6))
          .as("dup_frac"),
        coalesce(col("top_rep"), lit(0L)).as("top_rep"))
      .orderBy("doc_id")
  }

  /** Deterministic train/val/test split — reproducible-data-mix parity
    * with [[graft.operators.Sampling]]: the bucket is a pure function of
    * the CONTENT fingerprint (first md5 byte, decoded portably via hex
    * char positions), so membership survives re-partitioning, re-runs,
    * and engine changes, and moves with the document if ids are
    * reassigned. 80/10/10 by bucket mod 10. Narrow per-row map. */
  val qHashSplit: Q = Q.sql(
    "q_hash_split",
    """WITH h AS (
      |  SELECT doc_id, md5(text) AS fp FROM documents
      |), b AS (
      |  SELECT doc_id,
      |    CAST(((strpos('0123456789abcdef', substr(fp, 1, 1)) - 1) * 16
      |      + (strpos('0123456789abcdef', substr(fp, 2, 1)) - 1)) % 10 AS BIGINT) AS bucket
      |  FROM h
      |)
      |SELECT doc_id, bucket,
      |  CASE WHEN bucket < 8 THEN 'train' WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split
      |FROM b
      |ORDER BY doc_id""".stripMargin,
    doc = "deterministic train/val/test split from the content fingerprint") { (s, d) =>
    documents(s, d)
      .select(col("doc_id"), md5(col("text")).as("fp"))
      .select(
        col("doc_id"),
        // first fingerprint byte, decoded from its 2 hex chars (the oracle
        // spells the same decode with strpos arithmetic — DuckDB has no conv)
        (conv(substring(col("fp"), 1, 2), 16, 10).cast("long") % 10).as("bucket"))
      .select(
        col("doc_id"),
        col("bucket"),
        when(col("bucket") < 8, "train").when(col("bucket") === 8, "val").otherwise("test")
          .as("split"))
      .orderBy("doc_id")
  }

  val PostingCap = 100

  /** Inverted-index construction as a materialized artifact: per term, the
    * document frequency and the first [[PostingCap]] doc ids of its sorted
    * posting list (comma-joined — a portable, hashable surrogate for the
    * binary posting format a real index writes).
    *
    * Scale design: the classic index-build shape — explode to (term,
    * doc_id), distinct (one hash shuffle), then per-term assembly. The
    * posting CAP is the important part at 100 TB: `collect_list` over an
    * unbounded posting (a stopword's list is the corpus) would OOM a
    * task, so rows are rank-limited per term BEFORE collection while df
    * still counts the full posting via a same-partition window. Real
    * deployments shard long postings into fixed-size blocks; the cap is
    * that block boundary. */
  val qPostings: Q = Q.sql(
    "q_postings",
    s"""WITH td AS (
       |  SELECT DISTINCT term, doc_id
       |  FROM (SELECT doc_id, unnest($tokensSql) AS term FROM documents) _t
       |), r AS (
       |  SELECT term, doc_id,
       |    row_number() OVER (PARTITION BY term ORDER BY doc_id) AS rn,
       |    count(*) OVER (PARTITION BY term) AS df
       |  FROM td)
       |SELECT term, CAST(max(df) AS BIGINT) AS df,
       |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS postings
       |FROM r WHERE rn <= $PostingCap
       |GROUP BY term
       |ORDER BY term""".stripMargin,
    doc = s"inverted index: per-term df + first-$PostingCap posting block") { (s, d) =>
    val toks = documents(s, d)
      .transform(graft.Tables.spread(s, _))
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .distinct()
    val wRank = Window.partitionBy(col("term")).orderBy(col("doc_id"))
    val wAll = Window.partitionBy(col("term"))
    toks
      .withColumn("rn", row_number().over(wRank))
      .withColumn("df", count(lit(1)).over(wAll))
      .filter(col("rn") <= PostingCap)
      .groupBy(col("term"))
      .agg(
        max(col("df")).cast("long").as("df"),
        array_join(transform(sort_array(collect_list(col("doc_id"))), _.cast("string")), ",")
          .as("postings"))
      .orderBy("term")
  }

  val CoocMinCount = 5
  val CoocTopK = 50

  /** PMI collocation mining — the classic distributional-semantics measure
    * (Church & Hanks 1990): for adjacent token pairs,
    * pmi = ln(c_xy · N / (cL_x · cR_y)), where cL/cR are the pair-stream
    * marginals. High-PMI pairs are collocations ("new york"-style units) —
    * the signal tokenizer-merge and phrase-mining stages rank on.
    *
    * Scale design: one explode → pair-count shuffle (vocab²-bounded, in
    * practice vocab-sized); both marginals derive from the PAIR COUNTS
    * (vocab-sized aggregates, not a second corpus pass); N is a broadcast
    * single-row aggregate; the top-k plans as TakeOrderedAndProject. The
    * pair-count frame feeds four consumers, so it is scratch-cached and
    * released per the [[graft.ScratchCache]] lifecycle. Float parity: the
    * ln argument is an identical left-associated double chain on both
    * sides, rounded at the output edge. */
  val qCooccurrence: Q = Q.sql(
    "q_cooccurrence",
    s"""WITH bg AS (SELECT unnest($bigramsSql) AS pair FROM documents),
       |pc AS (SELECT pair, CAST(count(*) AS BIGINT) AS cnt FROM bg GROUP BY pair),
       |lc AS (SELECT split_part(pair, ' ', 1) AS l, CAST(sum(cnt) AS BIGINT) AS cl FROM pc GROUP BY 1),
       |rc AS (SELECT split_part(pair, ' ', 2) AS r, CAST(sum(cnt) AS BIGINT) AS cr FROM pc GROUP BY 1),
       |nt AS (SELECT CAST(sum(cnt) AS DOUBLE) AS n FROM pc)
       |SELECT pair, cnt,
       |  round(ln(CAST(cnt AS DOUBLE) * n / CAST(cl AS DOUBLE) / CAST(cr AS DOUBLE)), 6) AS pmi
       |FROM pc JOIN lc ON split_part(pair, ' ', 1) = l
       |JOIN rc ON split_part(pair, ' ', 2) = r CROSS JOIN nt
       |WHERE cnt >= $CoocMinCount
       |ORDER BY pmi DESC, pair LIMIT $CoocTopK""".stripMargin,
    doc = s"PMI collocations: top-$CoocTopK adjacent pairs (count >= $CoocMinCount)") { (s, d) =>
    // stage tokens() in its own select: inlined into bigramsOf's lambda
    // the regex split re-evaluates per array ELEMENT (the q_lang_id
    // lesson — O(tokens²) splits per doc; here measured as the bimodal
    // 1.4/6.0 s passes)
    val pc = documents(s, d)
      .transform(graft.Tables.spread(s, _))
      .select(tokens(col("text")).as("w"))
      .select(explode(bigramsOf(col("w"))).as("pair"))
      .groupBy(col("pair"))
      .agg(count(lit(1)).as("cnt"))
      .transform(graft.ScratchCache.tracked)
    // no materializing count() before the fan-out here: with tokens
    // staged the explode+count subtree is cheap enough that a worst-case
    // concurrent duplicate costs less than the extra job (measured
    // min 1.38 s without vs 1.79 s with at sf0.1)
    val left = substring_index(col("pair"), " ", 1)
    val right = element_at(split(col("pair"), " "), 2)
    val lc = pc.groupBy(left.as("l")).agg(sum(col("cnt")).as("cl"))
    val rc = pc.groupBy(right.as("r")).agg(sum(col("cnt")).as("cr"))
    val nt = pc.agg(sum(col("cnt")).cast("double").as("n"))
    pc
      .join(lc, left === col("l"))
      .join(rc, right === col("r"))
      .crossJoin(broadcast(nt))
      .filter(col("cnt") >= CoocMinCount)
      .select(
        col("pair"), col("cnt").cast("long").as("cnt"),
        round(
          log(col("cnt").cast("double") * col("n")
            / col("cl").cast("double") / col("cr").cast("double")), 6).as("pmi"))
      .orderBy(col("pmi").desc, col("pair"))
      .limit(CoocTopK)
  }

  /** Exact PHRASE search over positional postings — the search-engine
    * operator the df-only inverted index ([[qPostings]]) cannot answer:
    * "the exact words, adjacent, in order". The phrase here is
    * self-selected for determinism — the corpus's most frequent adjacent
    * bigram (ties broken lexicographically) — and matching is the
    * classic positional-adjacency join: occurrences of w1 equi-joined to
    * occurrences of w2 on (doc, pos+1).
    *
    * Scale design: the postings frame (doc, pos, term) is built once
    * (posexplode, no shuffle) and cached for its three consumers; the
    * bigram count that picks the phrase is one (doc,pos)-keyed self-join
    * + vocab²-bounded aggregation, the top-1 plans as
    * TakeOrderedAndProject, and each phrase leg is an equi-join against
    * the BROADCAST single-row phrase — so the match never shuffles the
    * corpus on anything finer than (doc_id, pos). A longer phrase chains
    * one more broadcast-filtered leg per word, same shape. */
  val qPhraseSearch: Q = Q.sql(
    "q_phrase_search",
    s"""WITH tok AS (
       |  SELECT doc_id, $tokensSql AS ts FROM documents
       |), p AS (
       |  SELECT doc_id, pt.pos AS pos, pt.term AS term FROM (
       |    SELECT doc_id, unnest(list_transform(generate_series(1, len(ts)),
       |      i -> struct_pack(pos := i, term := ts[i]))) AS pt
       |    FROM tok) _e
       |), big AS (
       |  SELECT a.term AS w1, b.term AS w2, count(*) AS c
       |  FROM p a JOIN p b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
       |  GROUP BY 1, 2
       |), top1 AS (
       |  SELECT w1, w2, w1 || ' ' || w2 AS phrase
       |  FROM big ORDER BY c DESC, phrase LIMIT 1
       |), hits AS (
       |  SELECT p1.doc_id, p1.pos, top1.phrase
       |  FROM p p1 JOIN top1 ON p1.term = top1.w1
       |  JOIN p p2 ON p2.doc_id = p1.doc_id AND p2.pos = p1.pos + 1 AND p2.term = top1.w2
       |)
       |SELECT doc_id, phrase, CAST(count(*) AS BIGINT) AS n_hits,
       |  CAST(min(pos) AS BIGINT) AS first_pos
       |FROM hits GROUP BY doc_id, phrase
       |ORDER BY doc_id""".stripMargin,
    doc = "positional-postings phrase search (top corpus bigram, adjacency equi-join)") {
    (s, d) =>
      val p = graft.ScratchCache.tracked(
        documents(s, d)
          .transform(graft.Tables.spread(s, _))
          .select(col("doc_id"), posexplode(tokens(col("text"))))
          .select(col("doc_id"), (col("pos") + 1).as("pos"), col("col").as("term")))
      // p fans out to the bigram self-join (both sides) and both phrase
      // legs — materialize before the consumers race (NOTES lesson 11b)
      p.count()
      val big = p.as("a")
        .join(p.as("b"),
          col("b.doc_id") === col("a.doc_id") && col("b.pos") === col("a.pos") + 1)
        .groupBy(col("a.term").as("w1"), col("b.term").as("w2"))
        .agg(count(lit(1)).as("c"))
      val top1 = big
        .select(col("w1"), col("w2"), concat_ws(" ", col("w1"), col("w2")).as("phrase"),
          col("c"))
        .orderBy(col("c").desc, col("phrase"))
        .limit(1)
        .select(col("w1"), col("w2"), col("phrase"))
      val m1 = p.join(broadcast(top1), col("term") === col("w1"))
        .select(col("doc_id"), col("pos"), col("phrase"), col("w2"))
      val m2 = p.select(col("doc_id").as("d2"), col("pos").as("p2"), col("term").as("t2"))
      m1.join(m2,
          col("d2") === col("doc_id") && col("p2") === col("pos") + 1 && col("t2") === col("w2"))
        .groupBy(col("doc_id"), col("phrase"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).cast("long").as("first_pos"))
        .orderBy("doc_id")
  }

  /** Truth-label bound for the classifier-eval gates: documents of at
    * least this many chars are the "positive" class the classifier score
    * is evaluated against — a deterministic, engine-replayable proxy
    * label (real pipelines join human/model labels; the EVAL operators
    * are what is under test here, not the model). */
  val EvalPosChars = 300L

  /** Shared eval base: per-distinct-SCORE class counts. Grouping to the
    * score grain FIRST is the scale move (same trick as
    * [[graft.queries.InferenceQueries]]' Mann-Whitney): every cumulative
    * statistic below runs over |distinct scores| rows, never |docs|, so
    * the only doc-scale work is the classifier aggregate itself. */
  private val evalBaseSql =
    s"""WITH tok AS (SELECT doc_id, n_chars, unnest($tokensSql) AS t FROM documents),
       |f AS (
       |  SELECT doc_id, n_chars,
       |    (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % $ClsBuckets) % $ClsMod - 48 AS w
       |  FROM tok
       |), sc AS (
       |  SELECT doc_id, CAST(sum(w) AS BIGINT) AS s,
       |    CASE WHEN max(n_chars) >= $EvalPosChars THEN 1 ELSE 0 END AS y
       |  FROM f GROUP BY doc_id
       |), g AS (
       |  SELECT s, CAST(sum(y) AS BIGINT) AS pos,
       |    CAST(count(*) - sum(y) AS BIGINT) AS neg, CAST(count(*) AS BIGINT) AS cnt
       |  FROM sc GROUP BY s
       |), tot AS (SELECT CAST(sum(pos) AS BIGINT) AS p, CAST(sum(neg) AS BIGINT) AS nn FROM g)""".stripMargin

  private def evalBase(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val w = conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long") % ClsBuckets % ClsMod - 48
    val sc = documents(s, d)
      .transform(graft.Tables.spread(s, _))
      .select(col("doc_id"), col("n_chars"), explode(tokens(col("text"))).as("t"))
      .select(col("doc_id"), col("n_chars"), w.as("w"))
      .groupBy("doc_id")
      .agg(sum(col("w")).cast("long").as("s"),
        when(max(col("n_chars")) >= EvalPosChars, 1L).otherwise(0L).as("y"))
    val g = sc.groupBy("s").agg(
      sum(col("y")).cast("long").as("pos"),
      (count(lit(1)) - sum(col("y"))).cast("long").as("neg"),
      count(lit(1)).cast("long").as("cnt"))
    val tot = g.agg(sum(col("pos")).cast("long").as("p"), sum(col("neg")).cast("long").as("nn"))
    (g, tot)
  }

  /** Precision/recall curve of the hashed classifier against the length
    * proxy label — one point per DISTINCT score threshold ("predict
    * positive at score ≥ t"), precision/recall as EXACT parts-per-million
    * integers (half-up in pure integer space, NOTES lesson 11). The
    * curve frame is |distinct scores| rows; the cumulative window runs
    * there, never at doc grain. */
  val qPrCurve: Q = Q.sql(
    "q_pr_curve",
    s"""$evalBaseSql
       |SELECT s AS threshold, tp, fp, tot.p - tp AS fn,
       |  (2000000 * tp + (tp + fp)) // (2 * (tp + fp)) AS precision_ppm,
       |  (2000000 * tp + tot.p) // (2 * tot.p) AS recall_ppm
       |FROM (
       |  SELECT s,
       |    CAST(sum(pos) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS tp,
       |    CAST(sum(neg) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fp
       |  FROM g) _c, tot
       |WHERE tot.p > 0
       |ORDER BY threshold DESC""".stripMargin,
    doc = "exact PR curve per distinct classifier-score threshold (ppm integers)") { (s, d) =>
    val (g, tot) = evalBase(s, d)
    val wC = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    g.select(col("s"),
        sum(col("pos")).over(wC).cast("long").as("tp"),
        sum(col("neg")).over(wC).cast("long").as("fp"))
      .crossJoin(broadcast(tot))
      // one-class degradation guard: with zero positives recall's
      // denominator is 0 — Spark DIV yields NULL where DuckDB's //
      // raises; drop the rows in BOTH engines so they degrade alike
      .where(col("p") > 0)
      .select(
        col("s").as("threshold"), col("tp"), col("fp"),
        (col("p") - col("tp")).as("fn"),
        expr("(2000000 * tp + (tp + fp)) DIV (2 * (tp + fp))").as("precision_ppm"),
        expr("(2000000 * tp + p) DIV (2 * p)").as("recall_ppm"))
      .orderBy(col("threshold").desc)
  }

  /** Exact ROC AUC of the classifier score vs the length proxy label via
    * the Mann-Whitney identity AUC = (Σ midranks(positives) − P(P+1)/2)
    * / (P·N) — tie-exact on the distinct-score frame (midrank·2 stays
    * integer), wide products so a 10⁹-doc corpus cannot wrap (Spark:
    * DECIMAL(38,0), whose `DIV` is integral; DuckDB: HUGEINT, because
    * DuckDB's `//` on DECIMAL operands is FLOAT division — measured
    * 7//2 = 3.5, a one-ulp ppm divergence), and the final ratio emitted
    * as a half-up ppm integer. One row. */
  val qRocAuc: Q = Q.sql(
    "q_roc_auc",
    s"""$evalBaseSql,
       |r AS (
       |  SELECT pos,
       |    2 * (CAST(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt)
       |      + cnt + 1 AS r2
       |  FROM g),
       |s2 AS (SELECT CAST(sum(CAST(pos AS HUGEINT) * r2) AS HUGEINT) AS s2 FROM r)
       |SELECT tot.p, tot.nn,
       |  CAST((2000000 * (s2.s2 - CAST(tot.p AS HUGEINT) * (tot.p + 1))
       |      + 2 * CAST(tot.p AS HUGEINT) * tot.nn)
       |    // (4 * CAST(tot.p AS HUGEINT) * tot.nn) AS BIGINT) AS auc_ppm
       |FROM s2, tot
       |WHERE tot.p > 0 AND tot.nn > 0""".stripMargin,
    doc = "exact ROC AUC (midrank Mann-Whitney identity, ppm integer)") { (s, d) =>
    val (g, tot) = evalBase(s, d)
    val wA = Window.orderBy(col("s"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val r = g.select(col("pos"),
      (lit(2) * (sum(col("cnt")).over(wA) - col("cnt")) + col("cnt") + 1).as("r2"))
    val s2 = r.agg(sum(col("pos").cast("decimal(19,0)") * col("r2"))
      .cast("decimal(38,0)").as("s2"))
    s2.crossJoin(broadcast(tot))
      // AUC is undefined with an empty class (denominator p·nn = 0);
      // emit zero rows in both engines instead of NULL-vs-error skew
      .where(col("p") > 0 && col("nn") > 0)
      .select(col("p"), col("nn"),
        expr("CAST((2000000 * (s2 - CAST(p AS DECIMAL(38,0)) * (p + 1))" +
          " + 2 * CAST(p AS DECIMAL(38,0)) * nn)" +
          " DIV (4 * CAST(p AS DECIMAL(38,0)) * nn) AS BIGINT)").as("auc_ppm"))
  }

  /** Interpolated Kneser-Ney bigram probabilities (Kneser & Ney 1995;
    * Chen & Goodman 1999 — the smoothing every production n-gram LM
    * ships) for the corpus's top-50 bigrams:
    *
    *   P_KN(w2|w1) = (c(w1w2) − d)/c(w1·) + d·N1+(w1·)/c(w1·) · N1+(·w2)/N1+(··)
    *
    * with the standard discount d = 0.75. The continuation counts
    * N1+(·w2) (distinct left contexts) are what distinguish KN from
    * [[qBigramLm]]'s add-one smoothing. Only observed bigrams are
    * emitted, so the max(c−d, 0) clamp is vacuous (c ≥ 1 > d).
    *
    * Cross-engine float discipline: every count is an exact integer;
    * c − 0.75 and 0.75·N1+ are exact doubles; the probability is three
    * correctly-rounded IEEE divisions and one multiply-add in a
    * parenthesization pinned identically in both engines, then round(9).
    *
    * Scale shape: one shuffle to the distinct-bigram grain, then ALL
    * statistics (context totals, follow/precede type counts, the global
    * continuation denominator) are aggregates OF THAT vocabulary²-bounded
    * frame — the corpus is scanned once; the stat joins are broadcast
    * (the trained LM is orders of magnitude under the corpus, the
    * [[nllPerDoc]] hint argument). */
  val qKneserNey: Q = Q.sql(
    "q_kneser_ney",
    s"""WITH bg AS (
       |  SELECT unnest($bigramsSql) AS g FROM documents
       |), c2 AS (
       |  SELECT g, CAST(count(*) AS BIGINT) AS c FROM bg GROUP BY 1
       |), ctx AS (
       |  SELECT split_part(g, ' ', 1) AS w1, CAST(sum(c) AS BIGINT) AS c1,
       |    CAST(count(*) AS BIGINT) AS n_follow
       |  FROM c2 GROUP BY 1
       |), pre AS (
       |  SELECT split_part(g, ' ', 2) AS w2, CAST(count(*) AS BIGINT) AS n_precede
       |  FROM c2 GROUP BY 1
       |), nb AS (SELECT CAST(count(*) AS BIGINT) AS nb FROM c2)
       |SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2,
       |  c, c1, n_follow, n_precede,
       |  round((c - 0.75) / c1
       |    + ((0.75 * n_follow) / c1) * (CAST(n_precede AS DOUBLE) / nb), 9) AS p_kn
       |FROM c2
       |  JOIN ctx ON split_part(g, ' ', 1) = ctx.w1
       |  JOIN pre ON split_part(g, ' ', 2) = pre.w2
       |  CROSS JOIN nb
       |ORDER BY c DESC, w1, w2 LIMIT 50""".stripMargin,
    doc = "Kneser-Ney smoothed bigram LM, top-50 bigrams (continuation-count smoothing)") {
    (s, d) =>
      val docs = documents(s, d).transform(graft.Tables.spread(s, _))
      // tokens() staged in its own select — inlined into the bigram
      // lambda it re-splits per element (O(tokens²) per doc: measured
      // ~100 CPU-seconds per pass at sf0.1, ~25× the staged form)
      val bg = docs.select(tokens(col("text")).as("w"))
        .select(explode(bigramsOf(col("w"))).as("g"))
      // c2 fans out to FOUR consumers (ctx, pre, nb, the final join):
      // scratch-cache + materialize so the corpus explode runs once
      // (NOTES lesson 11b)
      val c2 = graft.ScratchCache.tracked(
        bg.groupBy("g").agg(count(lit(1)).as("c")))
      c2.count()
      val w1of = split(col("g"), " ").getItem(0)
      val w2of = split(col("g"), " ").getItem(1)
      val ctx = c2.groupBy(w1of.as("cw1"))
        .agg(sum(col("c")).as("c1"), count(lit(1)).as("n_follow"))
      val pre = c2.groupBy(w2of.as("pw2")).agg(count(lit(1)).as("n_precede"))
      val nb = c2.agg(count(lit(1)).as("nb"))
      // no broadcast hints on ctx/pre: they are VOCAB-sized (one row per
      // distinct w1/w2) — fine to hint at test SF, an OOM at a 100×
      // vocabulary. AQE's size threshold picks broadcast when they fit
      // and falls back to a shuffle join when they don't; only the
      // single-row grand total keeps an explicit hint.
      c2.join(ctx, w1of === col("cw1"))
        .join(pre, w2of === col("pw2"))
        .crossJoin(broadcast(nb))
        .select(
          w1of.as("w1"), w2of.as("w2"), col("c"), col("c1"),
          col("n_follow"), col("n_precede"),
          round((col("c") - 0.75) / col("c1")
            + ((lit(0.75) * col("n_follow")) / col("c1"))
              * (col("n_precede").cast("double") / col("nb")), 9).as("p_kn"))
        .orderBy(col("c").desc, col("w1"), col("w2"))
        .limit(50)
  }

  /** Classifier calibration (reliability table): min-max-normalize the
    * classifier score to a ppm "predicted probability", split the corpus
    * into 10 equal-frequency score deciles, and compare the mean
    * predicted ppm against the observed positive rate per decile — the
    * standard is-the-score-a-probability diagnostic next to
    * [[qPrCurve]]/[[qRocAuc]].
    *
    * All integer: normalization and rates are half-up ppm divisions
    * ([[qPrCurve]] convention); decile of a score group is
    * (10·docs_below) // n — whole groups assign to one bin (documented
    * tie policy, deterministic in both engines). A constant-score corpus
    * pins the normalized score to the 500000 center via an integer CASE,
    * not a 0/0 float. Cumulative windows run on the distinct-score frame
    * ([[evalBase]]), never at doc grain. */
  val qCalibration: Q = Q.sql(
    "q_calibration",
    s"""$evalBaseSql,
       |ext AS (SELECT min(s) AS mn, max(s) AS mx FROM g),
       |b AS (
       |  SELECT s, pos, cnt,
       |    CASE WHEN ext.mx = ext.mn THEN 500000
       |      ELSE (2000000 * (s - ext.mn) + (ext.mx - ext.mn)) // (2 * (ext.mx - ext.mn))
       |    END AS phat_ppm,
       |    (10 * (CAST(sum(cnt) OVER (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt))
       |      // (tot.p + tot.nn) AS bin
       |  FROM g, tot, ext)
       |SELECT CAST(bin AS BIGINT) AS bin, CAST(sum(cnt) AS BIGINT) AS n_docs,
       |  CAST(sum(pos) AS BIGINT) AS pos,
       |  CAST(sum(cnt * phat_ppm) // sum(cnt) AS BIGINT) AS pred_ppm,
       |  CAST((2000000 * sum(pos) + sum(cnt)) // (2 * sum(cnt)) AS BIGINT) AS obs_ppm
       |FROM b GROUP BY bin ORDER BY bin""".stripMargin,
    doc = "classifier reliability table: predicted vs observed ppm per score decile") {
    (s, d) =>
      val (g, tot) = evalBase(s, d)
      val ext = g.agg(min(col("s")).as("mn"), max(col("s")).as("mx"))
      val wC = Window.orderBy(col("s"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val b2 = g
        .crossJoin(broadcast(tot)).crossJoin(broadcast(ext))
        .withColumn("__cum", sum(col("cnt")).over(wC).cast("long"))
        .select(col("s"), col("pos"), col("cnt"),
          when(col("mx") === col("mn"), lit(500000L))
            .otherwise(expr("(2000000 * (s - mn) + (mx - mn)) DIV (2 * (mx - mn))"))
            .as("phat_ppm"),
          expr("(10 * (__cum - cnt)) DIV (p + nn)").as("bin"))
      b2.groupBy(col("bin").cast("long").as("bin"))
        .agg(
          sum(col("cnt")).cast("long").as("n_docs"),
          sum(col("pos")).cast("long").as("pos"),
          expr("CAST(sum(cnt * phat_ppm) DIV sum(cnt) AS BIGINT)").as("pred_ppm"),
          expr("CAST((2000000 * sum(pos) + sum(cnt)) DIV (2 * sum(cnt)) AS BIGINT)").as("obs_ppm"))
        .orderBy("bin")
  }

  /** Cumulative gains / lift curve: rank the corpus by classifier score
    * DESCENDING, cut into 10 equal-frequency deciles, and report per
    * decile the cumulative share of all positives captured (gain) and
    * its ratio to random targeting (lift) — the campaign-targeting
    * readout of the same eval family.
    *
    * Exactness: decile assignment and cumulative counts are integer
    * windows on the distinct-score frame; gain/lift are half-up ppm with
    * DECIMAL(38,0)/HUGEINT products (cum_pos·n clears BIGINT well before
    * the corpus does). Zero-positive corpora degrade to zero rows (the
    * [[qPrCurve]] guard). */
  val qGainCurve: Q = Q.sql(
    "q_gain_curve",
    s"""$evalBaseSql,
       |b AS (
       |  SELECT pos, cnt,
       |    (10 * (CAST(sum(cnt) OVER (ORDER BY s DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - cnt))
       |      // (tot.p + tot.nn) AS bin
       |  FROM g, tot),
       |d AS (
       |  SELECT bin, CAST(sum(cnt) AS BIGINT) AS n_docs, CAST(sum(pos) AS BIGINT) AS pos
       |  FROM b GROUP BY bin),
       |c AS (
       |  SELECT bin, n_docs, pos,
       |    CAST(sum(n_docs) OVER wb AS HUGEINT) AS cum_docs,
       |    CAST(sum(pos) OVER wb AS HUGEINT) AS cum_pos
       |  FROM d WINDOW wb AS (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
       |SELECT bin, n_docs, pos, CAST(cum_pos AS BIGINT) AS cum_pos,
       |  CAST((2000000 * cum_pos + tot.p) // (2 * tot.p) AS BIGINT) AS gain_ppm,
       |  CAST((2000000 * cum_pos * (tot.p + tot.nn) + tot.p * cum_docs)
       |    // (2 * tot.p * cum_docs) AS BIGINT) AS lift_ppm
       |FROM c, tot WHERE tot.p > 0
       |ORDER BY bin""".stripMargin,
    doc = "cumulative gains + lift per score decile (ppm integers)") { (s, d) =>
    val (g, tot) = evalBase(s, d)
    val wC = Window.orderBy(col("s").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val b = g.crossJoin(broadcast(tot))
      .withColumn("__cum", sum(col("cnt")).over(wC).cast("long"))
      .select(col("pos"), col("cnt"),
        expr("(10 * (__cum - cnt)) DIV (p + nn)").as("bin"))
    val dd = b.groupBy("bin")
      .agg(sum(col("cnt")).cast("long").as("n_docs"), sum(col("pos")).cast("long").as("pos"))
    val wb = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dec = "decimal(38,0)"
    dd
      .select(col("bin"), col("n_docs"), col("pos"),
        sum(col("n_docs")).over(wb).cast(dec).as("cum_docs"),
        sum(col("pos")).over(wb).cast(dec).as("cum_pos"))
      .crossJoin(broadcast(tot))
      .where(col("p") > 0)
      .select(col("bin"), col("n_docs"), col("pos"),
        col("cum_pos").cast("long").as("cum_pos"),
        expr("CAST((2000000 * cum_pos + p) DIV (2 * p) AS BIGINT)").as("gain_ppm"),
        expr("CAST((2000000 * cum_pos * (CAST(p AS DECIMAL(38,0)) + nn) + p * cum_docs)" +
          " DIV (2 * p * cum_docs) AS BIGINT)").as("lift_ppm"))
      .orderBy("bin")
  }

  /** 1/log2(r+1) DCG discounts for ranks 1..10, printed once from Scala
    * so BOTH engines parse identical decimal literals — neither engine's
    * log2 is called (the [[InferenceQueries]] Benford-literal move). */
  private val dcgW: IndexedSeq[Double] =
    (1 to 10).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  private def dcgLit(r: Int): String = {
    val s = dcgW(r - 1).toString
    if (s.contains('.') || s.contains('E')) s else s + ".0"
  }

  /** NDCG@10 per language of the hashed-classifier ranking against
    * graded length relevance (rel = min(n_chars/150, 4), gain = 2^rel−1)
    * — the graded-relevance eval completing the family next to
    * [[qPrCurve]]/[[qRocAuc]]/[[qGainCurve]].
    *
    * Exactness: discounts are shared literals; each of the ≤10 DCG terms
    * quantizes to 1e-9 (floor of identical doubles) so the fold is an
    * exact integer sum in ANY order; NDCG is one division of two exact
    * sums, round(9). Rankings tie-break on doc_id, pinned identically.
    *
    * Scale: two per-language row_number windows over the doc-grain
    * scored frame, both consumed at rank ≤ 10 — the per-language sort is
    * the cost, the standard eval-slice shape. */
  val qNdcg: Q = Q.sql(
    "q_ndcg",
    s"""WITH tok AS (SELECT doc_id, lang, n_chars, unnest($tokensSql) AS t FROM documents),
       |f AS (
       |  SELECT doc_id, lang, n_chars,
       |    (CAST(('0x' || substr(md5(t), 1, 6)) AS BIGINT) % $ClsBuckets) % $ClsMod - 48 AS w
       |  FROM tok
       |), sc AS (
       |  SELECT doc_id, max(lang) AS lang, CAST(sum(w) AS BIGINT) AS s,
       |    CAST((CASE WHEN max(n_chars) // 150 > 4 THEN 4 ELSE max(n_chars) // 150 END) AS BIGINT) AS rel
       |  FROM f GROUP BY doc_id
       |), rk AS (
       |  SELECT lang, rel,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY s DESC, doc_id) AS BIGINT) AS r,
       |    CAST(row_number() OVER (PARTITION BY lang ORDER BY rel DESC, doc_id) AS BIGINT) AS ir
       |  FROM sc
       |), terms AS (
       |  SELECT lang,
       |    CASE WHEN r <= 10 THEN CAST(floor(((CAST(1 AS BIGINT) << rel) - 1) *
       |      (CASE ${(1 to 10).map(i => s"WHEN r = $i THEN ${dcgLit(i)}").mkString(" ")} END)
       |      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS dq,
       |    CASE WHEN ir <= 10 THEN CAST(floor(((CAST(1 AS BIGINT) << rel) - 1) *
       |      (CASE ${(1 to 10).map(i => s"WHEN ir = $i THEN ${dcgLit(i)}").mkString(" ")} END)
       |      * 1000000000.0 + 0.5) AS BIGINT) ELSE 0 END AS iq
       |  FROM rk)
       |SELECT lang, CAST(sum(dq) AS BIGINT) AS dcg_q, CAST(sum(iq) AS BIGINT) AS idcg_q,
       |  CASE WHEN sum(iq) = 0 THEN NULL
       |    ELSE round(CAST(sum(dq) AS DOUBLE) / CAST(sum(iq) AS DOUBLE), 9) END AS ndcg10
       |FROM terms GROUP BY lang ORDER BY lang""".stripMargin,
    doc = "NDCG@10 per language: classifier ranking vs graded length relevance") { (s, d) =>
    val tok = documents(s, d).transform(graft.Tables.spread(s, _))
      .select(col("doc_id"), col("lang"), col("n_chars"), explode(tokens(col("text"))).as("t"))
    val wgt = conv(substring(md5(col("t")), 1, 6), 16, 10).cast("long") % ClsBuckets % ClsMod - 48
    val sc = tok
      .select(col("doc_id"), col("lang"), col("n_chars"), wgt.as("w"))
      .groupBy("doc_id")
      .agg(max(col("lang")).as("lang"), sum(col("w")).cast("long").as("s"),
        least(expr("max(n_chars) DIV 150"), lit(4L)).cast("long").as("rel"))
    val wR = Window.partitionBy(col("lang")).orderBy(col("s").desc, col("doc_id"))
    val wI = Window.partitionBy(col("lang")).orderBy(col("rel").desc, col("doc_id"))
    val rk = sc.select(col("lang"), col("rel"),
      row_number().over(wR).cast("long").as("r"),
      row_number().over(wI).cast("long").as("ir"))
    def disc(rc: org.apache.spark.sql.Column) =
      (1 to 10).foldLeft(lit(null).cast("double")) { (acc, i) =>
        when(rc === i, lit(dcgW(i - 1))).otherwise(acc)
      }
    val gain = expr("shiftleft(CAST(1 AS BIGINT), CAST(rel AS INT))") - 1
    def term(rc: org.apache.spark.sql.Column) =
      when(rc <= 10,
        floor(gain.cast("double") * disc(rc) * 1000000000.0 + 0.5).cast("long"))
        .otherwise(lit(0L))
    rk.select(col("lang"), term(col("r")).as("dq"), term(col("ir")).as("iq"))
      .groupBy("lang")
      .agg(sum(col("dq")).cast("long").as("dcg_q"), sum(col("iq")).cast("long").as("idcg_q"))
      .select(col("lang"), col("dcg_q"), col("idcg_q"),
        when(col("idcg_q") === 0, lit(null).cast("double"))
          .otherwise(round(col("dcg_q").cast("double") / col("idcg_q").cast("double"), 9))
          .as("ndcg10"))
      .orderBy("lang")
  }

  /** Isotonic score calibration by pool-adjacent-violators — the
    * monotone calibration map every production classifier ships with
    * (Zadrozny & Elkan 2002): fit the nondecreasing probability-of-
    * positive over the classifier score that minimizes squared error,
    * by pooling adjacent violating score blocks
    * (`expressions/IsotonicPpm.scala`). The binned reliability table
    * ([[qCalibration]]) DESCRIBES miscalibration; this FIXES it.
    *
    * Scale design: the only doc-scale work is [[evalBase]]'s classifier
    * aggregate — PAVA runs over the DISTINCT-SCORE frame collected into
    * one bounded array (the Mann-Whitney grain move; the pooling is
    * inherently sequential, same contract as the BPE merge fold).
    * ALL-INTEGER: violation tests are BigInt cross-multiplications
    * (block means never become floats), output is half-up ppm; the
    * oracle replays the pooling as a recursive HUGEINT state machine
    * and hash-matches exactly. */
  val qIsotonic: Q = Q.sql(
    "q_isotonic",
    s"""${evalBaseSql.replaceFirst("^WITH ", "WITH RECURSIVE ")},
       |ord AS (SELECT s, pos, cnt, row_number() OVER (ORDER BY s) AS rn FROM g),
       |arrs AS (
       |  SELECT list(pos ORDER BY s) AS ps, list(cnt ORDER BY s) AS cs,
       |    CAST(count(*) AS INT) AS n
       |  FROM ord),
       |pav AS (
       |  SELECT 0 AS i, CAST([] AS STRUCT(p HUGEINT, c HUGEINT, k BIGINT)[]) AS stk,
       |    0 AS step, ps, cs, n
       |  FROM arrs
       |  UNION ALL
       |  SELECT
       |    CASE WHEN viol THEN i ELSE i + 1 END,
       |    CASE WHEN viol THEN list_append(stk[1:len(stk) - 2],
       |        struct_pack(p := stk[-2].p + stk[-1].p, c := stk[-2].c + stk[-1].c,
       |          k := stk[-2].k + stk[-1].k))
       |      ELSE list_append(stk,
       |        struct_pack(p := CAST(ps[i + 1] AS HUGEINT), c := CAST(cs[i + 1] AS HUGEINT),
       |          k := CAST(1 AS BIGINT))) END,
       |    step + 1, ps, cs, n
       |  FROM (SELECT *,
       |      (len(stk) >= 2 AND stk[-2].p * stk[-1].c > stk[-1].p * stk[-2].c) AS viol
       |    FROM pav) _v
       |  WHERE viol OR i < n
       |),
       |fin AS (SELECT stk FROM pav QUALIFY step = max(step) OVER ()),
       |blocks AS (
       |  SELECT unnest(stk) AS b, generate_subscripts(stk, 1) AS bi FROM fin),
       |bnd AS (
       |  SELECT b.p AS p, b.c AS c,
       |    sum(b.k) OVER (ORDER BY bi) AS hi,
       |    sum(b.k) OVER (ORDER BY bi) - b.k AS lo
       |  FROM blocks)
       |SELECT o.s, o.pos, o.cnt,
       |  CAST((2000000 * b.p + b.c) // (2 * b.c) AS BIGINT) AS iso_ppm
       |FROM ord o JOIN bnd b ON o.rn > b.lo AND o.rn <= b.hi
       |ORDER BY o.s""".stripMargin,
    doc = "isotonic (PAVA) score calibration: monotone fitted ppm per distinct score") { (s, d) =>
    val (g, _) = evalBase(s, d)
    val packed = g.agg(
      array_sort(collect_list(struct(col("s"), col("pos"), col("cnt")))).as("a"))
      .select(
        transform(col("a"), x => x.getField("s")).as("ss"),
        transform(col("a"), x => x.getField("pos")).as("ps"),
        transform(col("a"), x => x.getField("cnt")).as("cs"))
      .select(col("ss"), col("ps"), col("cs"),
        graft.expressions.IsotonicPpm.isotonicPpm(col("ps"), col("cs")).as("fit"))
    packed
      .select(posexplode(arrays_zip(col("ss"), col("ps"), col("cs"), col("fit")))
        .as(Seq("i__", "z")))
      .select(
        col("z.ss").as("s"), col("z.ps").as("pos"), col("z.cs").as("cnt"),
        col("z.fit").as("iso_ppm"))
      .orderBy("s")
  }

  val all: Seq[Q] =
    Seq(qTfidf, qBm25, qBigramLm, qPplBucket, qQualityClassifier, qLinearProbe, qRepNgram, qHashSplit,
      qPostings, qCooccurrence, qPhraseSearch, qPrCurve, qRocAuc, qKneserNey, qLmIndexScore,
      qCalibration, qGainCurve, qNdcg, qIsotonic)
}
