package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.expressions.aggregate.ApproximatePercentile
import org.apache.spark.sql.functions._

/** Exact distributed order statistics: per key, the value at rank p·(m−1)
  * among the key's m non-NULL values, linearly interpolated — the
  * definition of Spark's `percentile` and DuckDB's `quantile_cont`, which
  * buffer all m values of a group (6.7 s at sf0.1, OOM at scale). Here:
  *
  *  1. Bracket. One aggregate per key computes n = count(*), m = count(v)
  *     and `percentile_approx` at p ± 2/A for every p (clamped to [0, 1]),
  *     A = Spark's default accuracy (10,000). Its Greenwald–Khanna summary
  *     (SIGMOD 2001) bounds the rank error by m/A, so the exact rank lies
  *     between the two returned sample values lo ≤ hi.
  *  2. Count the band. One aggregate over the data, joined to the
  *     broadcast brackets with a null-safe key match, records per quantile
  *     the counts below lo, equal to lo and equal to hi, the values strictly
  *     inside (lo, hi), and the predecessor max(v < lo) and successor
  *     min(v > hi). The one-rank widening is needed: an uncompressed small-m
  *     summary answers rank ⌈q·m⌉, which can sit one past ⌊p·(m−1)⌋ or one
  *     short of ⌈p·(m−1)⌉.
  *  3. Select. Both target ranks are read from the widened band (inside
  *     values via `array_sort`) and interpolated; a rank outside the band
  *     fails the query through `assert_true`, never returns a wrong value.
  *
  * Scale: each key and quantile buffers up to ~6m/A inside values in one
  * `collect_list` (4m/A between the probes, 2m/A of sketch error): linear
  * in m, so at a very large m per key the memory limit (or the guard) is
  * the failure mode. The brackets (a row per key) must fit a broadcast.
  * NULL values take no rank (all NULL: NULL quantiles); n stays the key's
  * row count. A NULL key is a group of its own. No window, sort or cache.
  */
object Quantiles {

  /** @param df    input frame
    * @param key   grouping column name
    * @param value numeric column name (cast to double)
    * @param ps    quantiles in [0, 1], one output column per entry
    * @param names output column name per entry of `ps`
    * @return one row per key: (key, n, q_<p> ...) with exact interpolated
    *         quantiles, quantile columns named by `names`. */
  def exact(
      df: DataFrame,
      key: String,
      value: String,
      ps: Seq[Double],
      names: Seq[String]): DataFrame = {
    require(ps.nonEmpty && ps.length == names.length)
    val accuracy = ApproximatePercentile.DEFAULT_PERCENTILE_ACCURACY
    val base = df.select(col(key).as("k"), col(value).cast("double").as("v"))
    val v = col("v")
    def c(name: String, i: Int): Column = col(s"$name$i")
    val eps = 2.0 / accuracy
    val probes = ps.flatMap(p => Seq(math.max(0.0, p - eps), math.min(1.0, p + eps)))
    val brackets = base.groupBy(col("k").as("bk"))
      .agg(count(lit(1)).as("n"), count(v).as("m"),
        percentile_approx(v, array(probes.map(lit): _*), lit(accuracy)).as("b"))
      .select(col("bk") +: col("n") +: col("m") +: ps.indices.flatMap(i =>
        Seq(col("b")(2 * i).as(s"lo$i"), col("b")(2 * i + 1).as(s"hi$i"))): _*)

    val band = ps.indices.flatMap { i =>
      val (lo, hi) = (c("lo", i), c("hi", i))
      Seq(
        count(when(v < lo, 1)).as(s"below$i"),
        count(when(v === lo, 1)).as(s"atlo$i"),
        array_sort(collect_list(when(v > lo && v < hi, v))).as(s"inside$i"),
        count(when(v === hi && hi > lo, 1)).as(s"athi$i"),
        max(when(v < lo, v)).as(s"pred$i"),
        min(when(v > hi, v)).as(s"succ$i"))
    }
    val bands = base.join(broadcast(brackets), col("k") <=> col("bk"))
      .groupBy(("k" +: brackets.columns.tail).map(col): _*)
      .agg(band.head, band.tail: _*)

    // the value at 0-based rank r, or NULL when r lies outside the band
    def at(i: Int, r: Column): Column = {
      val below = c("below", i)
      val inStart = below + c("atlo", i)
      val hiStart = inStart + size(c("inside", i))
      val succRank = hiStart + c("athi", i)
      when(r === below - 1, c("pred", i))
        .when(r >= below && r < inStart, c("lo", i))
        .when(r >= inStart && r < hiStart, element_at(c("inside", i), (r - inStart + 1).cast("int")))
        .when(r >= hiStart && r < succRank, c("hi", i))
        .when(r === succRank, c("succ", i))
    }
    val qvs = ps.zip(names).zipWithIndex.map { case ((p, nm), i) =>
      val t = lit(p) * (col("m") - 1)
      val (lo, hi) = (at(i, floor(t)), at(i, ceil(t)))
      val inBand = c("lo", i) <= c("hi", i) && lo.isNotNull && hi.isNotNull
      val msg = concat(lit(s"exact order statistic $nm of key "),
        coalesce(col("k").cast("string"), lit("NULL")),
        lit(" fell outside its percentile_approx band"))
      when(col("m") > 0, coalesce(assert_true(inBand, msg), lo + (hi - lo) * (t - floor(t)))).as(nm)
    }
    bands.select((col("k").as(key) +: col("n") +: qvs): _*)
  }
}
